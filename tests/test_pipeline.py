"""search_and_rerank lifecycle: dispatch, doc fetch, rerank hook."""

import pytest

from beetle_search_engine_spark.config import EngineConfig, IndexConfig
from beetle_search_engine_spark.operators.build import build_index
from beetle_search_engine_spark.plans.pipeline import search_and_rerank
from beetle_search_engine_spark.plans.query import BM25Index
from beetle_search_engine_spark.sources.corpus import generate_corpus

CFG = EngineConfig(index=IndexConfig(n_buckets=8, bucket_groups=1, chunk_docs=128, encode_partitions=4))


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("pidx"))
    corpus = generate_corpus(spark, 250, seed=41)
    build_index(spark, corpus, idx_dir, fields={"body": "content"}, cfg=CFG)
    docs = corpus.selectExpr("doc_id", "content as text")
    return BM25Index(spark, idx_dir), docs


def test_bm25_no_rerank(spark, setup):
    idx, docs = setup
    rows = search_and_rerank(spark, idx, docs, "transformer models", "bm25", 10, 5).collect()
    assert len(rows) == 5
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]


def test_bm25_candidates_keep_the_result_schema(spark, setup):
    """The BM25 leg joins the search rows with rank an int, as the search
    result has it, and a query without hits returns the empty search
    frame itself."""
    from beetle_search_engine_spark.plans.query import RESULT_STRUCT

    idx, docs = setup
    hits = search_and_rerank(spark, idx, docs, "transformer models", "bm25", 10, 5)
    assert hits.schema == RESULT_STRUCT
    assert [r["rank"] for r in hits.collect()] == [1, 2, 3, 4, 5]
    empty = search_and_rerank(spark, idx, docs, "zzznope transformer", "bm25", 10, 5)
    assert empty.schema == RESULT_STRUCT and empty.collect() == []


def test_bm25_with_rerank(spark, setup):
    idx, docs = setup
    rows = search_and_rerank(spark, idx, docs, "transformer models", "bm25", 10, 5, rerank=True).collect()
    assert len(rows) == 5
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(0.0 <= s <= 1.0 for s in scores)  # overlap ratio


def test_unknown_method(spark, setup):
    idx, docs = setup
    with pytest.raises(ValueError):
        search_and_rerank(spark, idx, docs, "q", "nope")


def test_splade_method_matches_direct_operator(spark, setup):
    idx, docs = setup
    from beetle_search_engine_spark.functions.analyzer import sql_tokenize
    from beetle_search_engine_spark.plans.sqlbm25 import splade_like_topk

    q = "transformer models"
    rows = search_and_rerank(spark, idx, docs, q, "splade", 10, 5).collect()
    assert len(rows) == 5
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    direct = splade_like_topk(docs, sql_tokenize(q), 10).collect()
    want = [(r["doc_id"], float(r["score"])) for r in direct[:5]]
    assert [(r["doc_id"], r["score"]) for r in rows] == want


def test_splade_all_stopword_query_is_empty(spark, setup):
    idx, docs = setup
    assert search_and_rerank(spark, idx, docs, "the of and", "splade").count() == 0


def test_faiss_aliases_knn(spark, setup):
    idx, docs = setup
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    docs_v = emb.selectExpr("cast(vec_id as string) as doc_id", "cast(vec_id as string) as text")
    a = search_and_rerank(spark, idx, docs_v, "q", "faiss", 10, 5,
                          embeddings=emb, query_vec_id=0).collect()
    b = search_and_rerank(spark, idx, docs_v, "q", "knn", 10, 5,
                          embeddings=emb, query_vec_id=0).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [(r["doc_id"], r["score"]) for r in b]
    assert len(a) == 5
