"""The driver-local query path answers without a Spark job: pyarrow reads
the pruned postings, the kernels score on the driver, and the result is
a driver-held frame whose collect() enters no JVM; any other DataFrame
method runs on the Arrow-backed LocalRelation built from the same rows."""

from __future__ import annotations

import dataclasses
import itertools

import pytest

from beetle_search_engine_spark.config import EngineConfig, IndexConfig
from beetle_search_engine_spark.operators.build import build_index
from beetle_search_engine_spark.plans.query import (
    _RANKED_STRUCT,
    BATCH_RESULT_SCHEMA,
    BATCH_RESULT_STRUCT,
    RESULT_SCHEMA,
    RESULT_STRUCT,
    BM25Index,
)

CFG = EngineConfig(
    analyzer="sql",
    index=IndexConfig(n_buckets=4, bucket_groups=1, chunk_docs=8, encode_partitions=4),
)

_groups = itertools.count()


def _corpus(spark, ids):
    rows = []
    for i in ids:
        toks = ["alpha", f"filler{i}"]
        if i % 2 == 0:
            toks.append("beta gamma")
        rows.append((f"d{i}", " ".join(toks * (1 + i % 3))))
    return spark.createDataFrame(rows, "doc_id string, content string")


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("local_path") / "idx")
    build_index(spark, _corpus(spark, range(20)), d, fields={"body": "content"}, cfg=CFG)
    return BM25Index(spark, d)


@pytest.fixture(scope="module")
def positions_idx(spark, tmp_path_factory):
    """Positions stored (the binary ``pos`` column) and a second epoch."""
    from beetle_search_engine_spark.streaming.incremental import append_epoch

    d = str(tmp_path_factory.mktemp("local_path") / "positions")
    cfg = dataclasses.replace(CFG, index=dataclasses.replace(CFG.index, store_positions=True))
    build_index(spark, _corpus(spark, range(12)), d, fields={"body": "content"}, cfg=cfg)
    append_epoch(spark, d, _corpus(spark, range(12, 20)), fields={"body": "content"}, cfg=cfg)
    return BM25Index(spark, d)


def _counting_jobs(spark, fn):
    """(``fn()``, ids of the Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"local-path-test-{next(_groups)}"
    sc.setJobGroup(group, "call under test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _py4j_commands(monkeypatch, fn):
    """(``fn()``, the py4j commands it sent): the calling thread's
    commands, less memory deletes ("m\nd\n<id>") of JavaObjects ``fn``
    did not create (earlier tests' garbage freed meanwhile)."""
    import threading

    from py4j.clientserver import ClientServerConnection

    sent, created = [], set()
    send = ClientServerConnection.send_command
    caller = threading.get_ident()

    def counting(self, command):
        answer = send(self, command)
        if threading.get_ident() == caller:
            if not command.startswith("m\nd\n") or command.split("\n")[2] in created:
                sent.append(command)
            if answer.startswith("yro"):  # success, a new object reference
                created.add(answer[2:])
        return answer

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        out = fn()
    return out, sent


def _collect_counting_jobs(spark, df):
    """(rows, ids of the Spark jobs that ``df.collect()`` submitted)."""
    return _counting_jobs(spark, df.collect)


def _optimized_root(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def _ddl_schema(spark, ddl: str):
    return spark.createDataFrame([], ddl).schema


def _assert_local(spark, df, ddl: str) -> list:
    assert df.schema == _ddl_schema(spark, ddl)
    assert _optimized_root(df) == "LocalRelation"
    rows, jobs = _collect_counting_jobs(spark, df)
    assert jobs == [], f"collect() of a local result ran Spark jobs {jobs}"
    return rows


def _triples(rows):
    return [(r.doc_id, r.score, r.rank) for r in rows]


def test_job_counting_sees_distributed_jobs(spark, idx):
    """Positive control: the same counter does see the distributed path's
    docid join, so the zero-job assertions below are not vacuous."""
    df = idx.search("alpha", 3, "or", prefer_local=False)
    rows, jobs = _collect_counting_jobs(spark, df)
    assert rows and jobs


@pytest.mark.parametrize(
    "query,mode",
    [("alpha beta", "and"), ("beta gamma filler3", "or"), ("alpha NOT gamma", "parse")],
)
def test_local_search_is_job_free_local_relation(spark, idx, query, mode):
    rows = _assert_local(spark, idx.search(query, 5, mode, prefer_local=True), RESULT_SCHEMA)
    assert rows
    dist = idx.search(query, 5, mode, prefer_local=False).collect()
    assert _triples(rows) == _triples(dist)
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))


@pytest.mark.parametrize("query,mode", [("zzznope alpha", "and"), ("the of", "parse")])
def test_empty_local_result_keeps_schema(spark, idx, query, mode):
    rows = _assert_local(spark, idx.search(query, 5, mode, prefer_local=True), RESULT_SCHEMA)
    assert rows == []


def test_every_or_is_local_relation(spark, idx):
    rows = _assert_local(spark, idx.search("* OR beta", 12, "parse"), RESULT_SCHEMA)
    assert len(rows) == 12
    # the ten beta docs outrank Every's 1.0 floor, the pads follow
    assert all(r.score > 1.0 for r in rows[:10]) and rows[10].score == 1.0


def test_search_many_local_is_job_free_local_relation(spark, idx):
    queries = {"a": "alpha beta", "b": "gamma OR filler4", "c": "zzznope"}
    df = idx.search_many(queries, 4, "parse", prefer_local=True)
    rows = _assert_local(spark, df, BATCH_RESULT_SCHEMA)
    assert {r.query_id for r in rows} == {"a", "b"}
    dist = idx.search_many(queries, 4, "parse", prefer_local=False).collect()
    key = lambda r: (r.query_id, r.doc_id, r.score, r.rank)  # noqa: E731
    assert [key(r) for r in rows] == [key(r) for r in dist]


def test_search_many_empty_is_local_relation(spark, idx):
    for prefer_local in (True, False):
        df = idx.search_many({"x": "the of"}, 4, "parse", prefer_local=prefer_local)
        assert _assert_local(spark, df, BATCH_RESULT_SCHEMA) == []
    df = idx.search_many({"x": "zzznope"}, 4, "parse", prefer_local=True)
    assert _assert_local(spark, df, BATCH_RESULT_SCHEMA) == []


def test_local_and_distributed_frames_union(spark, idx):
    local = idx.search("alpha", 3, "or", prefer_local=True)
    dist = idx.search("beta", 3, "or", prefer_local=False)
    empty = idx.search("zzznope", 3, "and", prefer_local=True)
    both = local.unionByName(dist).unionByName(empty)
    assert both.schema == _ddl_schema(spark, RESULT_SCHEMA)
    assert _triples(both.collect()) == _triples(local.collect()) + _triples(dist.collect())
    batch = idx.search_many({"q": "alpha"}, 3, "parse", prefer_local=True).unionByName(
        idx.search_many({"r": "beta"}, 3, "parse", prefer_local=False)
    )
    assert {r.query_id for r in batch.collect()} == {"q", "r"}


def test_local_search_builds_no_spark_scan(spark, idx, monkeypatch):
    """The local path never builds the Spark posting scan."""
    def no_scan(*_a, **_k):
        raise AssertionError("Spark scan built on the pyarrow path")

    want = _triples(idx.search("alpha beta", 5, "and", prefer_local=True).collect())
    monkeypatch.setattr(idx, "_pruned_scan", no_scan)
    assert _triples(idx.search("alpha beta", 5, "and", prefer_local=True).collect()) == want


@pytest.mark.parametrize("failing", ["postings", "docids"])
@pytest.mark.parametrize("query", ["alpha beta", "filler1* OR gamma"])
def test_failing_arrow_read_raises_without_spark_jobs(spark, idx, monkeypatch, failing, query):
    """The local path has no Spark fallback: when a fresh handle's
    pyarrow read of the postings (buckets or term dictionary) or of the
    docids fails, a local search() raises that error and submits no
    Spark job."""
    fresh = BM25Index(spark, idx.index_dir)
    dataset = fresh._dataset

    def failing_read(name):
        if name == failing:
            raise OSError(f"pyarrow cannot open {name}")
        return dataset(name)

    monkeypatch.setattr(fresh, "_dataset", failing_read)

    def search():
        with pytest.raises(OSError, match=f"cannot open {failing}"):
            fresh.search(query, 5, "parse", prefer_local=True)

    _, jobs = _counting_jobs(spark, search)
    assert jobs == [], f"a failing local read ran Spark jobs {jobs}"


@pytest.fixture(scope="module")
def perfbench_idx(spark, tmp_path_factory):
    """The 4000-document perfbench corpus of seed 601, default layout."""
    from beetle_search_engine_spark.sources import generate_corpus
    from perfbench import inputs

    d = str(tmp_path_factory.mktemp("local_path") / "perfbench")
    build_index(spark, generate_corpus(spark, inputs.CORPUS_DOCS, seed=601), d,
                fields=inputs.FIELDS)
    return BM25Index(spark, d)


def _both_paths(ix, batch: dict[str, str], top_k: int) -> list[list[tuple]]:
    """(query_id, doc_id, score, rank) rows of ``batch`` on the local and
    on the distributed path."""
    return [
        [(r.query_id, r.doc_id, r.score, r.rank)
         for r in ix.search_many(batch, top_k, "parse", prefer_local=local).collect()]
        for local in (True, False)
    ]


def test_paths_agree_bit_for_bit(spark, perfbench_idx):
    """The local and distributed paths return the same ids and ranks and
    equal (==) scores for the 200 queries of the perfbench stream: the
    kernels walk cursors and rows in one canonical order, whatever order
    the pyarrow read and the Spark scan hand the rows over in."""
    from perfbench import inputs

    batch = {f"q{i}": q for i, q in enumerate(inputs.queries(901, 200))}
    local, dist = _both_paths(perfbench_idx, batch, inputs.TOP_K)
    assert len({r[0] for r in local}) > 150  # most stream queries match
    differ = sorted({r[0] for r in set(local) ^ set(dist)})
    assert local == dist, f"{len(differ)} queries differ: {differ[:10]}"


def test_paths_agree_bit_for_bit_across_epochs(spark, positions_idx):
    """The same on an index with positions and a second epoch, whose
    rows share a chunk (docnums 8-15) with the first epoch's."""
    queries = ["alpha", "alpha beta", "gamma OR filler3 OR filler15", '"beta gamma"',
               "alpha NOT gamma", "filler1*", "alpha OR beta OR gamma", '"alpha beta"~3']
    batch = {f"q{i}": q for i, q in enumerate(queries)}
    local, dist = _both_paths(positions_idx, batch, 20)
    assert {r[0] for r in local} == set(batch)
    assert local == dist


def test_repeated_local_query_reads_no_parquet(spark, idx, monkeypatch):
    """A warm handle answers a repeated local query from what it holds
    (posting buckets, docids, term dictionary): with every pyarrow read
    failing, the same answers come back and no Spark fallback runs."""
    queries = [("alpha beta", "and"), ("beta OR filler5", "parse"), ("filler1*", "parse"),
               ("alpha NOT gamma", "parse")]
    batch = {f"q{i}": q for i, (q, _) in enumerate(queries)}

    def answers():
        single = [_triples(idx.search(q, 5, m, prefer_local=True).collect()) for q, m in queries]
        return single, idx.search_many(batch, 5, "parse", prefer_local=True).collect()

    want = answers()
    assert all(want[0]) and len(idx._expand_prefix("filler1")) == 11

    def no_parquet(*_a, **_k):
        raise OSError("parquet read on a warm handle")

    monkeypatch.setattr(idx, "_dataset", no_parquet)
    got, jobs = _counting_jobs(spark, answers)
    assert got == want and jobs == [], jobs


@pytest.mark.parametrize("index", ["idx", "positions_idx"])
def test_warm_local_search_builds_no_pandas_frame(spark, index, request, monkeypatch):
    """A warm local search() or search_many() hands the held Arrow rows
    to the kernels and merges their Arrow tables: with every pandas frame
    construction raising, the same rows come back with 0 Spark jobs.
    ``positions_idx`` has two epochs, so its summed dfs run too."""
    import pandas as pd

    ix = request.getfixturevalue(index)
    queries = [("alpha beta", "and"), ("beta OR filler5", "parse"), ("filler1*", "parse"),
               ("alpha NOT gamma", "parse"), ("gamma OR filler3 OR alpha", "or")]
    batch = {f"q{i}": q for i, (q, _) in enumerate(queries)}

    def answers():
        single = [_triples(ix.search(q, 5, m, prefer_local=True).collect()) for q, m in queries]
        return single, ix.search_many(batch, 5, "parse", prefer_local=True).collect()

    want = answers()
    assert all(want[0]) and len(want[1]) > len(queries)

    def no_frame(*_a, **_k):
        raise AssertionError("a pandas frame on the local search path")

    # pyarrow's to_pandas and pandas' own take build frames with
    # _from_mgr, which does not call __init__
    monkeypatch.setattr(pd.DataFrame, "__init__", no_frame)
    monkeypatch.setattr(pd.DataFrame, "_from_mgr", classmethod(no_frame))
    got, jobs = _counting_jobs(spark, answers)
    assert got == want and jobs == [], jobs


def test_warm_handle_decodes_no_posting_blob(spark, idx, monkeypatch):
    """A warm handle holds each queried term's rows decoded: with the
    column decoder and ``varint_decode`` raising, the same queries (and
    a batch of them) return the same rows with 0 Spark jobs."""
    from beetle_search_engine_spark.operators import codecs, wand
    from beetle_search_engine_spark.plans import query

    queries = [("alpha beta", "and"), ("beta OR filler5", "parse"), ("filler1*", "parse"),
               ("alpha NOT gamma", "parse"), ("gamma OR filler3 OR alpha", "or")]
    batch = {f"q{i}": q for i, (q, _) in enumerate(queries)}

    def answers():
        single = [_triples(idx.search(q, 5, m, prefer_local=True).collect()) for q, m in queries]
        return single, idx.search_many(batch, 5, "parse", prefer_local=True).collect()

    want = answers()
    assert all(want[0])

    def no_decode(*_a, **_k):
        raise AssertionError("a posting blob decoded on a warm handle")

    for module, name in ((codecs, "decode_posting_columns"), (wand, "decode_posting_columns"),
                         (query, "decode_posting_columns"), (codecs, "varint_decode")):
        monkeypatch.setattr(module, name, no_decode)
    got, jobs = _counting_jobs(spark, answers)
    assert got == want and jobs == [], jobs


def test_delete_docs_applies_to_a_warm_handle(spark, tmp_path):
    """Deletions drop documents at once from a handle that already holds
    its buckets and docids, exactly as from a freshly opened one."""
    d = str(tmp_path / "idx")
    build_index(spark, _corpus(spark, range(20)), d, fields={"body": "content"}, cfg=CFG)
    warm = BM25Index(spark, d)
    search = lambda ix: _triples(ix.search("alpha beta", 5, "and", prefer_local=True).collect())  # noqa: E731
    before = search(warm)
    gone = before[0][0]
    assert warm.delete_docs([gone]) == 1
    after = search(warm)
    assert gone not in {doc for doc, _, _ in after}
    assert after == search(BM25Index(spark, d))
    assert [doc for doc, _, _ in after][:4] == [doc for doc, _, _ in before][1:]


def _frame_top_rows(scored, top_k: int) -> list[tuple]:
    """The pandas ordering ``_top_rows`` replaced: sort_values on
    (query_id asc, score desc, docnum asc), then rank within query_id."""
    scored = scored.sort_values(["query_id", "score", "docnum"], ascending=[True, False, True])
    rows, prev, rank = [], None, 0
    for qid, d, s in zip(*(scored[c].tolist() for c in ("query_id", "docnum", "score"))):
        rank = rank + 1 if qid == prev else 1
        prev = qid
        if rank <= top_k:
            rows.append((qid, d, s, rank))
    return rows


def test_top_rows_matches_the_frame_sort():
    """``_top_rows`` over plain tuples ranks exactly as the pandas frame
    sort did, row for row: per-chunk kernel rows of several queries, with
    score ties within and across chunks and queries, cut at random k."""
    for seed in range(100):
        _check_top_rows(seed)


def _check_top_rows(seed: int) -> None:
    import numpy as np
    import pandas as pd

    from beetle_search_engine_spark.plans.query import _top_rows

    rng = np.random.default_rng(seed)
    k = int(rng.integers(1, 8))
    qids = [f"q{i}" for i in rng.choice(12, size=int(rng.integers(1, 5)), replace=False)]
    tied = [1.0, 2.5, 2.5 + 2**-50, 7.25]
    rows = []
    for chunk in range(int(rng.integers(1, 5))):
        for qid in qids:
            n = int(rng.integers(0, k + 1))
            docs = rng.choice(64, size=n, replace=False) + 64 * chunk
            scores = np.where(rng.random(n) < 0.6, rng.choice(tied, size=n), rng.random(n) * 8)
            rows += zip([qid] * n, docs.tolist(), scores.tolist())
    rows = [rows[i] for i in rng.permutation(len(rows))]
    frame = pd.DataFrame(rows, columns=["query_id", "docnum", "score"]).astype(
        {"query_id": object, "docnum": "int64", "score": "float64"}
    )
    want = _frame_top_rows(frame, k)
    got = _top_rows(rows, k)
    assert got == want, seed
    assert [tuple(map(type, r)) for r in got] == [tuple(map(type, r)) for r in want], seed
    assert _top_rows([], k) == []


def test_distributed_batch_answers_every_or_on_the_distributed_path(spark, idx, monkeypatch):
    """A '* OR x' member of a search_many(prefer_local=False) batch takes
    the batch's path: it never reads the driver-local posting rows."""
    queries = {"a": "* OR alpha", "b": "beta"}
    want = idx.search_many(queries, 4, "parse", prefer_local=True).collect()

    def no_local(*_a, **_k):
        raise AssertionError("driver-local posting read on the distributed path")

    monkeypatch.setattr(idx, "_pruned_rows", no_local)
    got = idx.search_many(queries, 4, "parse", prefer_local=False).collect()
    key = lambda r: (r.query_id, r.doc_id, r.score, r.rank)  # noqa: E731
    assert [key(r) for r in got] == [key(r) for r in want]
    assert {r.query_id for r in got} == {"a", "b"}


def test_open_refresh_and_first_local_search_are_job_free(spark, idx):
    """A handle builds its Spark scans on first use: opening it,
    refresh_stats() and a first local search submit no Spark job (each
    scan's schema inference would be one)."""
    def open_refresh_search():
        fresh = BM25Index(spark, idx.index_dir)
        fresh.refresh_stats()
        return fresh, fresh.search("alpha beta", 5, "and", prefer_local=True).collect()

    (fresh, rows), jobs = _counting_jobs(spark, open_refresh_search)
    assert rows and jobs == [], f"open/refresh/local search ran Spark jobs {jobs}"
    postings, docids = fresh.postings, fresh.docids
    assert fresh.postings is postings and fresh.docids is docids
    fresh.refresh_stats()
    assert fresh.postings is not postings and fresh.docids is not docids


@pytest.mark.parametrize("index", ["idx", "positions_idx"])
def test_spark_scans_take_the_footer_schema(spark, index, request):
    """The Spark scans read with the schema pyarrow takes from the same
    files, so a fresh handle's first distributed search runs no
    schema-inference job: it submits as many jobs as the second.  An
    index with stored positions and a second epoch's files reads the
    same way."""
    idx = request.getfixturevalue(index)
    if index == "positions_idx":
        assert idx.stats["store_positions"] and len(idx.epochs) == 2
    inferred = {n: spark.read.parquet(f"{idx.index_dir}/{n}").schema for n in ("postings", "docids")}
    fresh = BM25Index(spark, idx.index_dir)
    scans = lambda: {n: getattr(fresh, n).schema for n in inferred}  # noqa: E731
    assert scans() == inferred
    fresh.refresh_stats()
    search = lambda: fresh.search("alpha beta", 5, "and", prefer_local=False).collect()  # noqa: E731
    (first_rows, first), (rows, second) = _counting_jobs(spark, search), _counting_jobs(spark, search)
    assert first_rows == rows and len(first) == len(second), (first, second)


def test_warm_local_search_makes_no_py4j_round_trip(spark, idx, monkeypatch):
    """A warm local search() and its collect() stay on the driver: no py4j
    command at all (the JVM LocalRelation is never built)."""
    search = lambda: idx.search("alpha beta", 5, "and", prefer_local=True).collect()  # noqa: E731
    want = search()
    rows, sent = _py4j_commands(monkeypatch, search)
    assert rows == want and sent == [], sent


def test_held_frame_is_a_dataframe(spark, idx, monkeypatch):
    """A held frame is a pyspark DataFrame: schema and columns cost no
    round trip, and the DataFrame API over its lazily built JVM frame
    answers as a plain frame on that JVM frame does."""
    from pandas.testing import assert_frame_equal
    from pyspark.sql import DataFrame

    held = lambda: idx.search("alpha beta", 5, "and", prefer_local=True)  # noqa: E731
    df = held()
    assert isinstance(df, DataFrame)
    (schema, columns), sent = _py4j_commands(monkeypatch, lambda: (df.schema, df.columns))
    assert sent == [] and schema == RESULT_STRUCT and columns == RESULT_STRUCT.fieldNames()
    plain = DataFrame(held()._jdf, spark)
    assert type(plain) is not type(df)
    assert held().select("doc_id", "rank").collect() == plain.select("doc_id", "rank").collect()
    assert held().unionByName(plain).collect() == plain.unionByName(plain).collect()
    assert_frame_equal(held().toPandas(), plain.toPandas())
    assert held().count() == plain.count() == 5
    # each frame owns its schema: mutating one leaves later frames whole
    names, rows = list(RESULT_STRUCT.fieldNames()), df.collect()
    df.schema.add("extra", "string")
    later = held()
    assert later.schema.fieldNames() == names == RESULT_STRUCT.fieldNames()
    assert later.collect() == rows and all(r.__fields__ == names for r in later.collect())
    assert DataFrame(later._jdf, spark).collect() == rows


# column values of the frame parity rows: a non-ASCII doc_id, a docnum
# past 2**32, a negative zero score
_FRAME_COLUMNS = {
    "query_id": ["q0", "q0", "q1"],
    "doc_id": ["d1", "dé-\u4e2d\U0001f600", "d3"],
    "docnum": [3, 1, 2**40],
    "score": [2.5, 1.25, -0.0],
    "rank": [1, 2, 1],
}
_FRAME_CONFS = {
    "default": {},
    "large-var-types": {"spark.sql.execution.arrow.useLargeVarTypes": "true"},
    "rdd-backed": {"spark.sql.execution.arrow.localRelationThreshold": "0"},
}


def _jvm_schema(df):
    import json

    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(df._jdf.schema().json()))


@pytest.mark.parametrize("conf", list(_FRAME_CONFS))
@pytest.mark.parametrize("n", [0, 3], ids=["empty", "3rows"])
@pytest.mark.parametrize(
    "schema", [RESULT_STRUCT, BATCH_RESULT_STRUCT, _RANKED_STRUCT],
    ids=["result", "batch", "ranked"],
)
def test_local_frame_matches_create_data_frame(spark, idx, schema, n, conf):
    """The handle's held frame and the JVM frame built from it hold the
    rows and schema PySpark's own Arrow-table createDataFrame gives, with
    32- or 64-bit string offsets and above the LocalRelation threshold (an
    RDD-backed frame): the same values, Python types and field names."""
    import pyarrow as pa
    from pyspark.sql import DataFrame
    from pyspark.sql.pandas.types import to_arrow_schema

    columns = [_FRAME_COLUMNS[f][:n] for f in schema.fieldNames()]
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    saved = {k: spark.conf.get(k, None) for k in _FRAME_CONFS[conf]}
    try:
        for k, v in _FRAME_CONFS[conf].items():
            spark.conf.set(k, v)
        got = idx._local_frame(columns, schema)
        want = spark.createDataFrame(table, schema)
        assert got.schema == want.schema == schema
        assert _jvm_schema(got) == _jvm_schema(want) == schema
        rows = got.collect()
        assert len(rows) == n
        shape = lambda rs: [(r.__fields__, [type(v) for v in r]) for r in rs]  # noqa: E731
        for other in (DataFrame(got._jdf, spark).collect(), want.collect()):
            assert rows == other and shape(rows) == shape(other)
        if conf != "rdd-backed":
            assert _optimized_root(got) == "LocalRelation"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_warm_local_frame_round_trips(spark, idx, monkeypatch):
    """Making a frame enters no JVM.  Its JVM build, on the first ``_jdf``
    use of a warm frame, crosses in only to read one conf and hand over
    the Arrow stream: a handful of py4j round trips, where PySpark's
    createDataFrame(pa.Table) takes over 20."""
    columns = [_FRAME_COLUMNS[f] for f in RESULT_STRUCT.fieldNames()]
    idx._local_frame(columns, RESULT_STRUCT)._jdf  # resolves the handle's JVM classes
    df, made = _py4j_commands(monkeypatch, lambda: idx._local_frame(columns, RESULT_STRUCT))
    assert made == [], made
    _, sent = _py4j_commands(monkeypatch, lambda: df._jdf)
    assert len(sent) <= 10, sent
    assert len(df.collect()) == 3
