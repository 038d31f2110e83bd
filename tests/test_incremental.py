"""Incremental epochs: build(A) + append(B) must score exactly like a
from-scratch build over A∪B (same formula, same true stats), for both
query modes — this is the multi-epoch df-override + bound-rescale path.
Plus a Structured Streaming foreachBatch smoke (each micro-batch -> epoch).
"""

import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from beetle_search_engine_spark.config import BM25Params, EngineConfig, IndexConfig
from beetle_search_engine_spark.operators.build import build_index
from beetle_search_engine_spark.plans.query import BM25Index
from beetle_search_engine_spark.sources.corpus import generate_corpus
from beetle_search_engine_spark.streaming.incremental import append_epoch, stream_refresh

from .oracle import assert_rank_identical
from .test_local_path import _counting_jobs

FIELDS = {"title": "path", "body": "content"}
CFG = EngineConfig(
    bm25=BM25Params(),
    index=IndexConfig(
        n_buckets=8, block_size=16, blocks_per_row=4, chunk_docs=64,
        hot_df_threshold=60, hot_salts=4, encode_partitions=8, bucket_groups=1,
    ),
)
QUERIES = ["transformer models", "spark partition shuffle", "query", "def class return value"]


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    full_dir = str(tmp_path_factory.mktemp("full"))
    inc_dir = str(tmp_path_factory.mktemp("inc"))
    a = generate_corpus(spark, 200, seed=21)
    b = generate_corpus(spark, 120, seed=22).withColumn(
        "path", F.concat(F.lit("b/"), F.col("path"))
    ).withColumn("doc_id", F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256))
    both = a.unionByName(b)
    build_index(spark, both, full_dir, fields=FIELDS, cfg=CFG)
    build_index(spark, a, inc_dir, fields=FIELDS, cfg=CFG)
    info = append_epoch(spark, inc_dir, b, fields=FIELDS, cfg=CFG)
    assert info["epoch"] == 1 and info["n_total"] == 320
    return full_dir, inc_dir


@pytest.mark.parametrize("mode", ["and", "or"])
@pytest.mark.parametrize("local", [True, False], ids=["local", "distributed"])
def test_epoch_append_matches_full_rebuild(spark, indexes, mode, local):
    full_dir, inc_dir = indexes
    full = BM25Index(spark, full_dir)
    inc = BM25Index(spark, inc_dir)
    assert len(inc.stats["epochs"]) == 2
    for q in QUERIES:
        want = [(r["doc_id"], r["score"]) for r in full.search(q, 10, mode, prefer_local=local).collect()]
        got = [(r["doc_id"], r["score"]) for r in inc.search(q, 10, mode, prefer_local=local).collect()]
        assert_rank_identical(got, want, rel_tol=1e-9)


def test_summed_dfs_match_the_spark_aggregation(spark):
    """The local path's Arrow ``_summed_dfs`` equals ``_summed_dfs_spark``
    on the same posting rows: two epochs, several rows (chunks) per
    (field, term, epoch), a term in two fields, a term in one epoch."""
    import pyarrow as pa

    # (field, term, epoch, df, chunk): each (field, term, epoch) keeps
    # its epoch's df on every one of its rows
    raw = [
        ("body", "spark", 0, 7, 0), ("body", "spark", 0, 7, 1), ("body", "spark", 0, 7, 2),
        ("body", "spark", 1, 3, 2), ("body", "spark", 1, 3, 3),
        ("title", "spark", 0, 2, 0), ("title", "spark", 1, 5, 3), ("title", "spark", 1, 5, 4),
        ("body", "query", 0, 4, 1), ("body", "query", 0, 4, 0),
        ("body", "shuffle", 1, 6, 3), ("body", "shuffle", 1, 6, 4),
    ]
    names = ["field", "term", "epoch", "df", "chunk"]
    rows = pa.table({n: [r[i] for r in raw] for i, n in enumerate(names)})
    want = {("body", "spark"): 10, ("title", "spark"): 7, ("body", "query"): 4,
            ("body", "shuffle"): 6}
    scan = spark.createDataFrame(raw, "field string, term string, epoch int, df int, chunk int")
    assert BM25Index._summed_dfs(rows) == BM25Index._summed_dfs_spark(scan) == want


def test_stream_refresh_foreachbatch(spark, indexes, tmp_path):
    _, inc_dir = indexes
    # stream a third batch of docs from a parquet dir -> epoch 2
    src = str(tmp_path / "stream_src")
    c = generate_corpus(spark, 50, seed=23).withColumn(
        "path", F.concat(F.lit("c/"), F.col("path"))
    ).withColumn("doc_id", F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256))
    c.write.parquet(src)
    stream = spark.readStream.schema(c.schema).parquet(src)
    q = stream_refresh(
        stream, inc_dir, fields=FIELDS, cfg=CFG,
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(120)
    idx = BM25Index(spark, inc_dir)
    assert idx.stats["n_docs"] == 370
    assert len(idx.stats["epochs"]) == 3
    res = idx.search("transformer models", 5, "or")
    assert res.count() == 5


def test_epoch_avgdl_ignores_empty_field_placeholder(spark, tmp_path):
    """A field empty in the base corpus stores the 1.0 avgdl placeholder;
    the epoch merge must not count placeholder*offset as real token mass
    — merged avgdl must equal a from-scratch rebuild's (dl_totals path)."""
    import json

    base = spark.createDataFrame(
        [(f"d{i}", "alpha beta gamma", "") for i in range(8)],
        "doc_id string, content string, title string",
    )
    extra = spark.createDataFrame(
        [(f"n{i}", "alpha new", "real title words") for i in range(4)],
        "doc_id string, content string, title string",
    )
    fields = {"body": "content", "head": "title"}
    cfg = EngineConfig(
        analyzer="sql",
        index=IndexConfig(n_buckets=4, bucket_groups=1, chunk_docs=8, encode_partitions=4),
    )
    inc = str(tmp_path / "inc")
    build_index(spark, base, inc, fields=fields, cfg=cfg)
    with open(f"{inc}/stats.json") as f:
        st0 = json.load(f)
    assert st0["avgdl"]["head"] == 1.0 and st0["dl_totals"]["head"] == 0.0
    append_epoch(spark, inc, extra, fields=fields, cfg=cfg)
    full = str(tmp_path / "full")
    build_index(spark, base.unionByName(extra), full, fields=fields, cfg=cfg)
    with open(f"{inc}/stats.json") as f:
        got = json.load(f)["avgdl"]
    with open(f"{full}/stats.json") as f:
        want = json.load(f)["avgdl"]
    for fname in want:
        assert abs(got[fname] - want[fname]) < 1e-12, (fname, got, want)


def test_conf_bytes_parses_unit_suffixes(spark):
    from beetle_search_engine_spark.operators.docnums import _conf_bytes

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        for raw, want in [
            ("512m", 512 << 20), ("1g", 1 << 30), ("128k", 128 << 10),
            ("134217728b", 134217728), ("134217728", 134217728), ("2G", 2 << 30),
        ]:
            spark.conf.set(key, raw)
            assert _conf_bytes(spark, key, 0) == want, raw
    finally:
        spark.conf.set(key, old)


def test_uncommitted_epoch_is_not_served(spark, tmp_path):
    """A crash between append_epoch's postings/docids writes and its
    stats.json commit leaves orphan epoch partitions; queries must not
    serve them (the stats write IS the commit point)."""
    import shutil

    fields = {"body": "content"}
    cfg = EngineConfig(index=IndexConfig(n_buckets=4, bucket_groups=1, chunk_docs=32))
    idx_dir = str(tmp_path / "idx")
    a = generate_corpus(spark, 120, seed=31)
    build_index(spark, a, idx_dir, fields=fields, cfg=cfg)
    # a handle that has already searched, before the crash
    warm = BM25Index(spark, idx_dir)
    before = [(r.doc_id, r.score) for r in warm.search("spark", 10, "or").collect()]
    # simulate the crash: append a real epoch, then roll back ONLY the
    # stats commit
    with open(f"{idx_dir}/stats.json") as f:
        stats_before = f.read()
    b = generate_corpus(spark, 60, seed=32).withColumn(
        "path", F.concat(F.lit("b/"), F.col("path"))
    ).withColumn("doc_id", F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256))
    append_epoch(spark, idx_dir, b, fields=fields, cfg=cfg)
    with open(f"{idx_dir}/stats.json", "w") as f:
        f.write(stats_before)  # the commit never happened
    after = [
        (r.doc_id, r.score)
        for r in BM25Index(spark, idx_dir).search("spark", 10, "or").collect()
    ]
    assert after == before  # orphan group=1001/epoch=1 pruned
    # ...and a local fast-path search agrees
    local = [
        (r.doc_id, r.score)
        for r in BM25Index(spark, idx_dir).search("spark", 10, "or", prefer_local=True).collect()
    ]
    assert local == before
    # ...and so does the Spark scan's committed-epoch filter (120 docs
    # resolve prefer_local=None to the local path)
    dist = [
        (r.doc_id, r.score)
        for r in BM25Index(spark, idx_dir).search("spark", 10, "or", prefer_local=False).collect()
    ]
    assert dist == before
    # ...and the warm handle, before and after a refresh: the orphan's
    # rows never enter what it holds, posting buckets and decoded term
    # rows alike
    for refresh in (False, True):
        if refresh:
            warm.refresh_stats()
        assert [(r.doc_id, r.score) for r in warm.search("spark", 10, "or").collect()] == before
        # a held term is (its decoded table, its runs in that table)
        held = {
            key: t if key[0] == "postings" else t[0]
            for key, t in warm._datasets.items() if isinstance(key, tuple)
        }
        assert {kind for kind, _ in held} == {"postings", "term"}
        assert warm._datasets[("term", "spark")][1]
        assert all(t.num_rows == 0 or pc.max(t["group"]).as_py() < 1000 for t in held.values())


def test_warm_handle_serves_an_append_after_refresh(spark, tmp_path):
    """One warm handle across an append: it keeps answering from the index
    as it was until refresh_stats(), and afterwards its local search,
    prefix expansion and docid lookups hold the epoch's documents and
    terms, equal to a freshly opened handle's answers."""
    import pyarrow.dataset as ds

    fields = {"body": "content"}
    cfg = EngineConfig(index=IndexConfig(n_buckets=4, bucket_groups=1, chunk_docs=32))
    idx_dir = str(tmp_path / "idx")
    build_index(spark, generate_corpus(spark, 120, seed=31), idx_dir, fields=fields, cfg=cfg)
    queries = [("spark", "or"), ("spark partition", "and"), ("spa* OR quer*", "parse")]

    def answers(ix):
        return [
            [(r.doc_id, r.score, r.rank) for r in ix.search(q, 500, m, prefer_local=True).collect()]
            for q, m in queries
        ]

    warm = BM25Index(spark, idx_dir)
    before, dictionary = answers(warm), warm._expand_term_range(None, None)
    b = generate_corpus(spark, 60, seed=32).withColumn(
        "path", F.concat(F.lit("b/"), F.col("path"))
    ).withColumn("doc_id", F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256))
    append_epoch(spark, idx_dir, b, fields=fields, cfg=cfg)
    # point in time: the held view is the index as of the last refresh
    assert answers(warm) == before and warm._expand_term_range(None, None) == dictionary
    warm.refresh_stats()
    fresh = BM25Index(spark, idx_dir)
    after = answers(warm)
    assert after == answers(fresh) and after != before
    epoch_docs = {r.doc_id for r in b.select("doc_id").collect()}
    assert all(epoch_docs & {d for d, _, _ in rows} for rows in after)
    t = ds.dataset(f"{idx_dir}/postings", format="parquet", partitioning="hive").to_table(
        columns=["term"], filter=ds.field("group") == 1001
    )
    epoch_only = set(t.column("term").to_pylist()) - set(dictionary)
    assert epoch_only
    grown = warm._expand_term_range(None, None)
    assert grown == fresh._expand_term_range(None, None) and epoch_only <= set(grown)
    for p in ("s", "qu", "zz"):
        assert warm._expand_prefix(p) == fresh._expand_prefix(p)
    docnums = [0, 119, 120, 179]  # first/last of the base and of the epoch
    ids = warm._doc_ids(docnums)
    assert ids == fresh._doc_ids(docnums) and sorted(ids) == docnums
    assert {ids[120], ids[179]} <= epoch_docs


def test_refresh_stats_rebuilds_the_distributed_scans(spark, tmp_path):
    """A handle whose Spark scans were built before an append serves the
    new epoch after refresh_stats(), exactly like a freshly opened one."""
    fields = {"body": "content"}
    cfg = EngineConfig(index=IndexConfig(n_buckets=4, bucket_groups=1, chunk_docs=32))
    idx_dir = str(tmp_path / "idx")
    build_index(spark, generate_corpus(spark, 120, seed=31), idx_dir, fields=fields, cfg=cfg)

    def ranked(ix):
        rows = ix.search("spark", 500, "or", prefer_local=False).collect()
        return [(r.doc_id, r.score, r.rank) for r in rows]

    ix = BM25Index(spark, idx_dir)
    before = ranked(ix)  # builds the handle's postings/docids scans
    b = generate_corpus(spark, 60, seed=32).withColumn(
        "path", F.concat(F.lit("b/"), F.col("path"))
    ).withColumn("doc_id", F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256))
    append_epoch(spark, idx_dir, b, fields=fields, cfg=cfg)
    ix.refresh_stats()
    after = ranked(ix)
    assert after == ranked(BM25Index(spark, idx_dir))
    epoch_docs = {r.doc_id for r in b.select("doc_id").collect()}
    assert epoch_docs & {d for d, _, _ in after}
    assert not epoch_docs & {d for d, _, _ in before}


def test_term_expansion_reads_only_committed_epochs(spark, tmp_path, monkeypatch):
    """The term-dictionary walk behind prefix/range/wildcard expansion
    skips an uncommitted epoch's orphan postings, also in a handle that
    expanded before the crash and is refreshed after it: terms that
    exist only there neither count toward MAX_EXPANSION nor widen the
    scan.  A failing read of the dictionary raises, and runs no Spark
    job in its place."""
    import pyarrow.dataset as ds

    fields = {"body": "content"}
    cfg = EngineConfig(index=IndexConfig(n_buckets=4, bucket_groups=1, chunk_docs=32))
    idx_dir = str(tmp_path / "idx")
    build_index(spark, generate_corpus(spark, 120, seed=31), idx_dir, fields=fields, cfg=cfg)
    with open(f"{idx_dir}/stats.json") as f:
        stats_before = f.read()
    b = generate_corpus(spark, 60, seed=32).withColumn(
        "path", F.concat(F.lit("b/"), F.col("path"))
    ).withColumn("doc_id", F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256))
    # a handle that has already searched and expanded, before the crash
    warm = BM25Index(spark, idx_dir)
    assert warm.search("spa* OR quer*", 5, "parse", prefer_local=True).collect()
    committed = warm._expand_term_range(None, None)
    append_epoch(spark, idx_dir, b, fields=fields, cfg=cfg)
    with open(f"{idx_dir}/stats.json", "w") as f:
        f.write(stats_before)  # roll back the commit: group=1001 is an orphan

    def terms(group_filter):
        t = ds.dataset(f"{idx_dir}/postings", format="parquet", partitioning="hive").to_table(
            columns=["term"], filter=group_filter
        )
        return set(t.column("term").to_pylist())

    orphan_only = terms(ds.field("group") == 1001) - terms(ds.field("group") < 1000)
    assert orphan_only  # the setup does leave terms only the orphan holds
    idx = BM25Index(spark, idx_dir)
    arrow = idx._expand_term_range(None, None)
    assert not orphan_only & set(arrow)
    # the warm handle's dictionary, rebuilt over the orphan's files
    warm.refresh_stats()
    assert warm._expand_term_range(None, None) == arrow == committed

    def no_arrow(*_a, **_k):
        raise OSError("pyarrow cannot open this filesystem")

    # refresh_stats drops the dictionary the handle holds, so the
    # expansion reads it again, and that read fails
    monkeypatch.setattr(idx, "_dataset", no_arrow)
    idx.refresh_stats()

    def expand():
        with pytest.raises(OSError, match="cannot open"):
            idx._expand_term_range(None, None)

    _, jobs = _counting_jobs(spark, expand)
    assert jobs == []


def test_append_epoch_rejects_mismatched_fields(spark, tmp_path):
    fields = {"title": "path", "body": "content"}
    cfg = EngineConfig(index=IndexConfig(n_buckets=4, bucket_groups=1, chunk_docs=32))
    idx_dir = str(tmp_path / "idx2")
    build_index(spark, generate_corpus(spark, 60, seed=33), idx_dir, fields=fields, cfg=cfg)
    extra = generate_corpus(spark, 10, seed=34)
    with pytest.raises(ValueError, match="index fields"):
        append_epoch(spark, idx_dir, extra, fields={"body": "content"}, cfg=cfg)


def test_stream_dedup_exact_first_seen_only(spark, tmp_path):
    """A replayed document (same content_sha in a later micro-batch)
    must survive exactly once; distinct docs all pass."""
    import os
    import time as _t

    import pyarrow as pa
    import pyarrow.parquet as pq

    from beetle_search_engine_spark.streaming.incremental import stream_dedup_exact

    src = tmp_path / "in"
    src.mkdir()
    now = _t.time()

    def write(name, rows, mtime):
        pq.write_table(
            pa.table(
                {
                    "content_sha": pa.array([r[0] for r in rows]),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
                    "text": pa.array([r[2] for r in rows]),
                }
            ),
            str(src / name),
        )
        os.utime(str(src / name), (mtime, mtime))

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    write("a.parquet", [("s1", t0, "one"), ("s2", t0, "two")], now - 20)
    # batch B replays s1 (same sha) and adds s3
    write("b.parquet", [("s1", t0, "one"), ("s3", t0, "three")], now - 10)

    stream = (
        spark.readStream.schema("content_sha string, ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream_dedup_exact(stream, ("content_sha",), ts_col="ts", watermark="1 hour")
        .writeStream.format("memory").queryName("dedup_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = [r.content_sha for r in spark.sql("SELECT content_sha FROM dedup_out").collect()]
    assert sorted(got) == ["s1", "s2", "s3"]  # s1 exactly once


def test_stream_dedup_to_epoch_to_search_end_to_end(spark, tmp_path):
    """The full streaming loop (VERDICT r05 task 5): an at-least-once
    source that replays documents -> stream_dedup_exact -> stream_refresh
    epochs -> optimize, and the final index scores EXACTLY like a clean
    from-scratch build over the deduped corpus.  The replayed docs arrive
    in a LATER micro-batch (maxFilesPerTrigger=1), so the dedup is doing
    real cross-batch state work, not a within-batch distinct."""
    from beetle_search_engine_spark.operators.build import optimize_index
    from beetle_search_engine_spark.streaming.incremental import stream_dedup_exact

    src = tmp_path / "src"
    src.mkdir()
    a = generate_corpus(spark, 150, seed=31)
    fresh = generate_corpus(spark, 210, seed=31).filter(F.col("id") >= 150).withColumn(
        "path", F.concat(F.lit("b/"), F.col("path"))
    ).withColumn("doc_id", F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256))
    # batch B = 40 replays of A (identical rows, same content_sha) + 60 new
    replay = a.filter(F.col("id") < 40)
    b = replay.unionByName(fresh)
    ts = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    import os as _os
    import time as _t

    import shutil as _sh

    stage = tmp_path / "stage"
    a.withColumn("ts", ts).coalesce(1).write.parquet(str(stage / "batch_a"))
    b.withColumn("ts", ts).coalesce(1).write.parquet(str(stage / "batch_b"))
    now = _t.time()
    for i, d in enumerate(("batch_a", "batch_b")):
        part = next(
            f for f in _os.listdir(stage / d) if f.endswith(".parquet")
        )
        dst = str(src / f"{d}.parquet")
        _sh.copyfile(str(stage / d / part), dst)
        _os.utime(dst, (now - 20 + i * 10, now - 20 + i * 10))

    idx_dir = str(tmp_path / "idx")
    schema = spark.read.parquet(str(src / "batch_a.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    deduped = stream_dedup_exact(stream, ("content_sha",), ts_col="ts", watermark="1 hour").drop("ts")
    q = stream_refresh(
        deduped, idx_dir, fields=FIELDS, cfg=CFG,
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(180)

    idx = BM25Index(spark, idx_dir)
    assert idx.stats["n_docs"] == 210, idx.stats["n_docs"]  # 150 + 60 new, never 250
    assert len(idx.stats["epochs"]) == 2
    optimize_index(spark, idx_dir, cfg=CFG)

    clean_dir = str(tmp_path / "clean")
    build_index(spark, a.unionByName(fresh), clean_dir, fields=FIELDS, cfg=CFG)
    opt = BM25Index(spark, idx_dir)
    clean = BM25Index(spark, clean_dir)
    assert opt.stats["n_docs"] == 210
    for query in QUERIES:
        for mode in ("and", "or"):
            got = [(r["doc_id"], r["score"]) for r in opt.search(query, 10, mode).collect()]
            want = [(r["doc_id"], r["score"]) for r in clean.search(query, 10, mode).collect()]
            assert_rank_identical(got, want, rel_tol=1e-9)


def test_stream_bootstrap_redelivery_is_idempotent(spark, tmp_path):
    """Crash window in stream_refresh's cold start: build_index committed
    its stats.json but the batch-tag write was lost.  Redelivery of the
    bootstrap batch must be detected by the fingerprint guard and commit
    the tag instead of appending the same docs as a duplicate epoch."""
    import json
    import os as _os

    src = tmp_path / "src"
    src.mkdir()
    a = generate_corpus(spark, 80, seed=41)
    stage = str(tmp_path / "stage")
    a.coalesce(1).write.parquet(stage)
    import shutil as _sh

    part = next(f for f in _os.listdir(stage) if f.endswith(".parquet"))
    _sh.copyfile(f"{stage}/{part}", str(src / "a.parquet"))

    idx_dir = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(a.schema).parquet(str(src))
        q = stream_refresh(
            stream, idx_dir, fields=FIELDS, cfg=CFG,
            checkpoint_dir=ckpt, available_now=True,
        )
        q.awaitTermination(120)

    run()
    assert not _os.path.exists(f"{idx_dir}/_stream_bootstrap.json")
    with open(f"{idx_dir}/stats.json") as f:
        stats = json.load(f)
    assert len(stats["applied_batches"]) == 1
    tag = stats["applied_batches"][0]
    # simulate the crash between build_index's stats commit and the tag
    # write: the sentinel is still on disk, the tag is not, and the
    # wiped checkpoint redelivers the batch with the same tag (scope is
    # the checkpoint identity; batch ids restart at 0)
    stats["applied_batches"] = []
    with open(f"{idx_dir}/stats.json", "w") as f:
        json.dump(stats, f)
    with open(f"{idx_dir}/_stream_bootstrap.json", "w") as f:
        json.dump({"tag": tag}, f)
    _sh.rmtree(ckpt)
    run()
    with open(f"{idx_dir}/stats.json") as f:
        after = json.load(f)
    assert after["n_docs"] == 80 and len(after["epochs"]) == 1
    assert after["applied_batches"] == [tag]
    assert not _os.path.exists(f"{idx_dir}/_stream_bootstrap.json")


def test_stream_refresh_prebuilt_index_same_ids_still_appends(spark, tmp_path):
    """Regression for the content-blind bootstrap guard: an index
    PRE-BUILT over doc_ids D, then fed a stream whose first batch
    carries the SAME doc_ids (a re-crawl refresh), must APPEND that
    batch as an epoch — never swallow it as an 'uncommitted
    bootstrap' (no sentinel exists, so the guard cannot fire)."""
    import json
    import os as _os
    import shutil as _sh

    a = generate_corpus(spark, 60, seed=51)
    idx_dir = str(tmp_path / "idx")
    build_index(spark, a, idx_dir, fields=FIELDS, cfg=CFG)

    refreshed = a.withColumn("content", F.concat(F.col("content"), F.lit(" refreshed")))
    src = tmp_path / "src"
    src.mkdir()
    stage = str(tmp_path / "stage")
    refreshed.coalesce(1).write.parquet(stage)
    part = next(f for f in _os.listdir(stage) if f.endswith(".parquet"))
    _sh.copyfile(f"{stage}/{part}", str(src / "r.parquet"))

    stream = spark.readStream.schema(refreshed.schema).parquet(str(src))
    q = stream_refresh(
        stream, idx_dir, fields=FIELDS, cfg=CFG,
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(120)
    with open(f"{idx_dir}/stats.json") as f:
        stats = json.load(f)
    assert stats["n_docs"] == 120 and len(stats["epochs"]) == 2
    assert len(stats["applied_batches"]) == 1
