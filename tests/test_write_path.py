"""The shared index-write path (operators/build.py): build_index,
optimize_index and append_epoch compute their statistics with one helper
(``_term_stats``) and encode with one plan (``_encode_write``).

(a) The statistics each caller hands the encode equal a pure-Python count
    over the analyzed token rows: avgdl, dl_totals, vocab size and the
    hot set, including late stemming's exact-df override.
(b) Posting rows do not depend on the Arrow batch size the encode kernel
    is fed, which is what makes the plan's scoped 64k batch safe for
    every caller.
"""

from __future__ import annotations

import json
import random
from collections import Counter

import pyarrow.dataset as ds
import pytest

import beetle_search_engine_spark.operators.build as B
import beetle_search_engine_spark.streaming.incremental as INC
from beetle_search_engine_spark.config import EngineConfig, IndexConfig
from beetle_search_engine_spark.functions.analyzer import analyze
from beetle_search_engine_spark.operators.build import build_index, optimize_index
from beetle_search_engine_spark.plans.query import BM25Index
from beetle_search_engine_spark.sources.corpus import generate_corpus
from beetle_search_engine_spark.streaming.incremental import append_epoch

FIELDS = {"title": "path", "body": "content"}
THR = 5
SCHEMA = "doc_id string, path string, content string"


def _cfg(tokenizer: str, positions: bool = False, thr: int = THR) -> EngineConfig:
    return EngineConfig(
        tokenizer=tokenizer,
        index=IndexConfig(
            n_buckets=8, bucket_groups=2, chunk_docs=16, block_size=4, blocks_per_row=2,
            hot_df_threshold=thr, hot_salts=3, encode_partitions=3, store_positions=positions,
        ),
    )


def _docs(prefix: str, n: int, seed: int) -> list[dict]:
    """Docs whose stems collide inside one doc.  In 40 docs, "indexes
    indexing" (10 docs) stems to a hot term whose pre-stem row count (20)
    doubles its true df, and "connection connected" (5 docs) to one whose
    row count (10) crosses THR although its true df (5) does not."""
    rng = random.Random(seed)
    filler = ["data", "table", "query", "scan", "merge", "value", "alpha", "beta"]
    docs = []
    for i in range(n):
        words = rng.sample(filler, 3)
        if i % 4 == 0:
            words += ["indexes", "indexing"]
        if i % 8 == 1:
            words += ["connection", "connected"]
        path = "" if i % 5 == 0 else f"src/{rng.choice(filler)}/mod{i % 3}.py"
        docs.append({"doc_id": f"{prefix}{i}", "path": path, "content": " ".join(words)})
    return docs


def _frame(spark, docs):
    return spark.createDataFrame([(d["doc_id"], d["path"], d["content"]) for d in docs], SCHEMA)


def _expected(docs, n_docs: int, thr: int):
    """(avgdl, dl_totals, vocab_size, hot_df) counted in Python."""
    df, total = Counter(), Counter()
    for d in docs:
        for fname, col in FIELDS.items():
            tf = Counter(analyze(d[col]))
            df.update((fname, t) for t in tf)
            total[fname] += sum(tf.values())
    avgdl = {f: total[f] / n_docs if total[f] else 1.0 for f in FIELDS}
    dl_totals = {f: float(total[f]) for f in FIELDS}
    return avgdl, dl_totals, len(df), {k: v for k, v in df.items() if v > thr}


@pytest.fixture
def stats_calls(monkeypatch):
    """Every ``_term_stats`` call, from build.py and from append_epoch."""
    calls = []

    def spy(real):
        def wrapped(dfs, fields, n_docs, thr, exact_df=None):
            out = real(dfs, fields, n_docs, thr, exact_df)
            calls.append({"n_docs": n_docs, "thr": thr, "exact_df": dict(exact_df or {}), "out": out})
            return out

        return wrapped

    monkeypatch.setattr(B, "_term_stats", spy(B._term_stats))
    monkeypatch.setattr(INC, "_term_stats", spy(INC._term_stats))
    return calls


@pytest.mark.parametrize("tokenizer", ["python", "jvm"])
def test_build_stats_equal_a_python_count(spark, tmp_path, stats_calls, tokenizer):
    docs = _docs("d", 40, seed=1)
    build_index(spark, _frame(spark, docs), str(tmp_path / "idx"), fields=FIELDS, cfg=_cfg(tokenizer))
    (call,) = stats_calls
    assert call["out"] == _expected(docs, 40, THR)
    if tokenizer == "jvm":
        # late stemming: the stage holds pre-stem rows, so both colliding
        # stems got an exact recount; "connect" falls out of the hot set
        assert call["exact_df"] == {("body", "index"): 10, ("body", "connect"): 5}
        assert ("body", "connect") not in call["out"][3]
    else:
        assert call["exact_df"] == {}


def test_optimize_after_deletes_recounts_the_survivors(spark, tmp_path, stats_calls):
    docs = _docs("d", 40, seed=2)
    d = str(tmp_path / "idx")
    build_index(spark, _frame(spark, docs), d, fields=FIELDS, cfg=_cfg("python"))
    gone = {"d0", "d3", "d8", "d9"}
    BM25Index(spark, d).delete_docs(sorted(gone))
    optimize_index(spark, d)
    survivors = [x for x in docs if x["doc_id"] not in gone]
    assert stats_calls[-1]["n_docs"] == len(survivors)
    assert stats_calls[-1]["out"] == _expected(survivors, len(survivors), THR)


@pytest.mark.parametrize("tokenizer", ["python", "jvm"])
def test_append_counts_the_epoch_and_merges_avgdl(spark, tmp_path, stats_calls, tokenizer):
    base, new = _docs("d", 40, seed=3), _docs("n", 24, seed=4)
    d = str(tmp_path / "idx")
    cfg = _cfg(tokenizer)
    build_index(spark, _frame(spark, base), d, fields=FIELDS, cfg=cfg)
    append_epoch(spark, d, _frame(spark, new), fields=FIELDS, cfg=cfg)
    assert stats_calls[-1]["n_docs"] == 24
    assert stats_calls[-1]["out"] == _expected(new, 24, THR)
    with open(f"{d}/stats.json") as f:
        stats = json.load(f)
    both = _expected(base + new, 64, THR)
    assert stats["dl_totals"] == both[1]
    assert stats["avgdl"] == pytest.approx(both[0], rel=1e-12)


def _posting_rows(path: str) -> list[tuple]:
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = sorted(t.column_names)
    return sorted(tuple(r[c] for c in cols) for r in t.select(cols).to_pylist())


def _build_and_append(spark, d: str, cfg: EngineConfig):
    corpus = generate_corpus(spark, 300, seed=21)
    build_index(spark, corpus, d, fields=FIELDS, cfg=cfg)
    built = _posting_rows(f"{d}/postings")
    append_epoch(spark, d, generate_corpus(spark, 60, seed=22), fields=FIELDS, cfg=cfg)
    return built, _posting_rows(f"{d}/postings/group=1001")


@pytest.mark.parametrize("positions", [False, True])
def test_posting_rows_do_not_depend_on_the_arrow_batch_size(spark, tmp_path, monkeypatch, positions):
    cfg = _cfg("python", positions, thr=40)
    ref = _build_and_append(spark, str(tmp_path / "ref"), cfg)

    # 7-row batches everywhere: the session setting reaches the
    # tokenizer, and the encode kernel is fed 7-row slices of whatever
    # batches its scoped 64k setting delivers
    real = B._make_encode_kernel

    def seven_row_kernel(*a, **k):
        kernel = real(*a, **k)

        def run(batches):
            yield from kernel(
                rb.slice(i, 7) for rb in batches for i in range(0, rb.num_rows, 7)
            )

        return run

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    monkeypatch.setattr(B, "_make_encode_kernel", seven_row_kernel)
    spark.conf.set(key, "7")
    try:
        tiny = _build_and_append(spark, str(tmp_path / "tiny"), cfg)
    finally:
        spark.conf.set(key, old)
    assert ref[0] and ref[1]
    assert tiny == ref


def test_encode_kernel_merges_same_doc_rows_with_their_positions():
    """Two adjacent rows of one (fid, term, docnum) — two source tokens
    of one doc that share a stem — become one posting: tf summed,
    positions interleaved in ascending order."""
    import pyarrow as pa

    from beetle_search_engine_spark.operators.codecs import (
        decode_docgaps,
        decode_positions,
        varint_decode,
    )

    cfg = _cfg("jvm", positions=True, thr=100)
    stats = {"n_docs": 10, "avgdl": {"body": 3.0}, "fields": ["body"]}
    kernel = B._make_encode_kernel(cfg, stats, {})
    rb = pa.RecordBatch.from_pydict(
        {
            "bucket": pa.array([1, 1], pa.int32()),
            "fid": pa.array([0, 0], pa.int8()),
            "term": ["index", "index"],
            "docnum": pa.array([3, 3], pa.int64()),
            "tf": pa.array([2, 1], pa.int32()),
            "dl": pa.array([5, 5], pa.int32()),
            "pos": pa.array([[0, 4], [2]], pa.list_(pa.int32())),
        }
    )
    (out,) = list(kernel(iter([rb])))
    (row,) = out.to_pylist()
    assert (row["term"], row["n"], row["df"]) == ("index", 1, 1)
    assert list(decode_docgaps(row["docs"])) == [3]
    assert list(varint_decode(row["tfs"])) == [3]
    assert list(decode_positions(row["pos"], [3])[0]) == [0, 2, 4]
