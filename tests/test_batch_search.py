"""search_many: batch multi-query search — one scan + one kernel pass
for Q queries, results identical to per-query search()."""

from __future__ import annotations

import pytest

from beetle_search_engine_spark.config import EngineConfig, IndexConfig
from beetle_search_engine_spark.operators.build import build_index
from beetle_search_engine_spark.plans.query import BM25Index

CFG = EngineConfig(
    analyzer="sql",
    index=IndexConfig(
        n_buckets=4, bucket_groups=1, chunk_docs=8, encode_partitions=4,
        store_positions=True,
    ),
)

QUERIES = {
    "plain": "alpha beta",
    "boosted": "alpha^3 beta",
    "negated": "alpha NOT gamma",
    "group": "beta OR gamma alpha",
    "phrase": '"beta gamma"',
    "require": "alpha REQUIRE beta",
    "prefix": "fille* beta",  # dictionary expansion inside a batch
    "fielded": "body:alpha beta",
    "wildcard": "fill?r1*",
    "range": "[filler1 TO filler3] alpha",
    "tree": "(alpha beta) OR (gamma filler3)",
    "slop_phrase": '"alpha gamma"~3',
    "andmaybe": "alpha ANDMAYBE gamma",
}


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("batch") / "idx")
    rows = []
    for i in range(20):
        toks = ["alpha", f"filler{i}"]
        if i % 2 == 0:
            toks.append("beta gamma")
        rows.append((f"d{i}", " ".join(toks * (1 + i % 3))))
    corpus = spark.createDataFrame(rows, "doc_id string, content string")
    build_index(spark, corpus, d, fields={"body": "content"}, cfg=CFG)
    return BM25Index(spark, d)


@pytest.mark.parametrize("prefer_local", [True, False])
def test_batch_matches_per_query_search(idx, prefer_local):
    batch = idx.search_many(QUERIES, 5, "parse", prefer_local=prefer_local)
    got: dict = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.rank, r.doc_id, round(r.score, 9)))
    assert set(got) == set(QUERIES)
    for qid, qs in QUERIES.items():
        solo = [
            (i + 1, r.doc_id, round(r.score, 9))
            for i, r in enumerate(
                idx.search(qs, 5, "parse", prefer_local=prefer_local).collect()
            )
        ]
        assert sorted(got[qid]) == solo, qid


def test_batch_list_input_and_empty_queries(idx):
    out = idx.search_many(["alpha", "the of and", "zzznope"], 3, "parse")
    got = {r.query_id for r in out.collect()}
    assert got == {"q0"}  # stopword-only and unmatched queries vanish


def test_batch_all_empty_returns_empty_frame(idx):
    out = idx.search_many({"a": "the of"}, 3, "parse")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "doc_id", "score", "rank"]


def test_batch_respects_deletions(idx):
    top = [r.doc_id for r in idx.search("alpha", 3, "or").collect()]
    idx.delete_docs([top[0]])
    try:
        out = idx.search_many({"q": "alpha"}, 3, "parse")
        assert top[0] not in {r.doc_id for r in out.collect()}
    finally:
        import shutil

        shutil.rmtree(f"{idx.index_dir}/tombstones", ignore_errors=True)
        idx._load_tombstones()


def test_batch_with_star_keeps_global_ordering(idx):
    """A '*' (or '* OR x') member must not break the output contract:
    rows grouped by query_id with rank ascending inside each group."""
    res = idx.search_many({"a": "*", "b": "alpha beta", "c": "* OR alpha"}, 5, "parse").collect()
    keys = [(r.query_id, r.rank) for r in res]
    assert keys == sorted(keys), keys
    # the every_or member matches every doc and boosts alpha's
    per_q = {}
    for r in res:
        per_q.setdefault(r.query_id, []).append(r)
    assert len(per_q["a"]) == 5 and all(r.score == 1.0 for r in per_q["a"])
    want_c = [(r.doc_id, r.score) for r in idx.search("* OR alpha", 5, "parse").collect()]
    assert [(r.doc_id, r.score) for r in per_q["c"]] == want_c
