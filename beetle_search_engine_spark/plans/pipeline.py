"""End-to-end search pipeline — the reference's ``search_and_rerank``
lifecycle (reference: main.py:30-93) rebuilt on the engine:

    method dispatch ("bm25" | "knn"/"faiss" | "splade" | "hybrid" —
      the reference's available_methods set, app.py:96)
      -> candidate retrieval (top_k)
      -> doc fetch (broadcast semi join — replaces the reference's
         early-exit JSON scan, main.py:13-28 / SURVEY S17)
      -> optional reranker (pluggable Arrow-batched scorer — the
         reference's CrossEncoder, src/models/reranker.py:8-34; model
         downloads are unavailable here, so the default reranker is a
         deterministic lexical-overlap scorer with the same signature)
      -> top rerank_k by (rerank_score desc, doc_id asc)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .fusion import rrf_fuse, with_rank
from .knn import knn_cosine
from .query import RESULT_STRUCT, BM25Index


def overlap_reranker(query: str, analyzer_name: str = "whoosh") -> Callable:
    """Default rerank scorer: query-term overlap ratio — a deterministic
    stand-in with the CrossEncoder's exact plumbing (mapInPandas over
    (doc_id, text) batches -> rerank_score).  Tokenizes with the SAME
    analyzer preset the index was built with (search_and_rerank passes
    the index's), so overlap is computed in the engine's own term space —
    and, for the stem-free preset, is ANSI-SQL-expressible."""
    from ..functions.analyzer import get_analyzer

    analyzer = get_analyzer(analyzer_name)
    qterms = set(analyzer.analyze_query(query))

    def score(batches):
        for pdf in batches:
            scores = []
            for text in pdf["text"]:
                terms = analyzer.analyze(text or "")
                hit = sum(1 for t in terms if t in qterms)
                scores.append(hit / (len(terms) + 1.0))
            out = pdf[["doc_id"]].copy()
            out["rerank_score"] = scores
            yield out

    return score


def search_and_rerank(
    spark: SparkSession,
    index: BM25Index,
    documents: DataFrame,
    query: str,
    method: str = "bm25",
    top_k: int = 10,
    rerank_k: int = 10,
    rerank: bool = False,
    embeddings: DataFrame | None = None,
    query_vec_id: int | None = None,
    reranker_factory: Callable | None = None,
    or_fallback: bool = False,
    query_vec: list[float] | None = None,
) -> DataFrame:
    """documents: (doc_id string, text string [, ...display cols]).

    Vector methods (knn/faiss, hybrid) accept the query vector two ways,
    matching the reference's two entry points: ``query_vec_id`` looks it
    up inside ``embeddings`` (the benchmark shape — query is a corpus
    row), ``query_vec`` passes an encoded literal (the service shape —
    the reference re-encodes the query text at search time,
    search_faiss.py:37-43).  ``embeddings`` may be keyed by ``vec_id``
    or directly by ``doc_id``.

    ``or_fallback=False`` (default) keeps reference parity: the
    reference's MultifieldParser is AND-only (search_bm25.py:32-33), so a
    query whose conjunction matches nothing returns an empty set.  Opt in
    to ``or_fallback=True`` to retry disjunctively on zero hits — a
    deliberate, documented deviation that costs a second search on every
    zero-hit AND query."""

    def _vec_cands(k: int) -> DataFrame:
        id_col = "vec_id" if "vec_id" in embeddings.columns else "doc_id"
        if query_vec is not None:
            from ..operators.ml import _cosine_topk

            hits = _cosine_topk(embeddings, query_vec, k, id_col, "embedding")
        else:
            # match the id literal's type to the column: comparing a
            # string id column to an int literal throws under Spark 4
            # ANSI casts (and silently nulls under legacy mode)
            qid = query_vec_id
            if dict(embeddings.dtypes)[id_col] == "string":
                qid = str(qid)
            hits = knn_cosine(embeddings, qid, k, id_col=id_col)
        return hits.select(F.col(id_col).cast("string").alias("doc_id"), "score")
    if method == "bm25":
        # the reference hands the RAW user string to Whoosh's
        # MultifieldParser (search_bm25.py:32-33) — mode='parse' is our
        # grammar analog (AndGroup default, explicit OR, quoted phrases);
        # a plain term query parses to exactly the conjunctive semantics.
        # collect the tiny top-k once: probing emptiness lazily would
        # re-execute the whole retrieval for every downstream action
        found = index.search(query, top_k, mode="parse")
        rows = found.collect()
        if not rows and or_fallback:
            found = index.search(query, top_k, mode="or")
            rows = found.collect()
        if not rows:
            return found
        # the collected rows as a driver-held frame (a JVM LocalRelation
        # at the join): a distributed search frame is a lazy docid join
        # that every downstream action would run again
        cands = index._local_frame(list(zip(*rows)), RESULT_STRUCT)
    elif method in ("knn", "faiss"):  # "faiss" is the reference's name
        if embeddings is None or (query_vec_id is None and query_vec is None):
            raise ValueError(f"{method} method needs embeddings + a query vector")
        cands = with_rank(_vec_cands(top_k), "score", "doc_id")
    elif method == "splade":
        # the reference routes "splade" to its weighted-posting index
        # (hybrid_search.py dispatch); query terms come from the reduced
        # SQL-parity analyzer — the same chain splade_like_topk applies
        # to documents, so query and doc land in one term space
        from ..functions.analyzer import sql_tokenize
        from .sqlbm25 import splade_like_topk

        qterms = sql_tokenize(query)
        if not qterms:
            return spark.createDataFrame([], "doc_id string, score double, rank int")
        cands = with_rank(
            splade_like_topk(documents, qterms, top_k).select(
                "doc_id", F.col("score").cast("double").alias("score")
            ),
            "score",
            "doc_id",
        )
    elif method == "hybrid":
        if embeddings is None or (query_vec_id is None and query_vec is None):
            raise ValueError("hybrid method needs embeddings + a query vector")
        # reference parity (hybrid_search.py:49-60): BOTH legs are
        # top_k deep and the BM25 leg goes through the same parser as
        # the bm25 method (MultifieldParser conjunctive default) — an
        # earlier OR/2x-deep leg changed the fused set on essentially
        # every multi-term query (round-6 review finding)
        b = with_rank(index.search(query, top_k, mode="parse").select("doc_id", "score"), "score", "doc_id")
        k = with_rank(_vec_cands(top_k), "score", "doc_id")
        fused = rrf_fuse({"bm25": b, "knn": k}, "doc_id", 60, top_k)
        cands = with_rank(fused.select("doc_id", F.col("rrf_score").alias("score")), "score", "doc_id")
    else:
        raise ValueError(f"unknown method {method!r}")

    # doc fetch: broadcast semi-equi join (SURVEY S17)
    hits = documents.join(F.broadcast(cands), "doc_id", "inner")
    if not rerank:
        return (
            hits.select("doc_id", "score", "rank")
            .orderBy(F.asc("rank"))
            .limit(rerank_k)
        )
    if reranker_factory is None:
        reranker_factory = lambda q: overlap_reranker(  # noqa: E731
            q, index.stats.get("analyzer", "whoosh")
        )
    scorer = reranker_factory(query)
    scored = hits.select("doc_id", "text").mapInPandas(scorer, "doc_id string, rerank_score double")
    # no join back to hits: the final columns come entirely from the
    # scorer's output, and a re-join would execute the whole
    # retrieval+fetch lineage a second time (and duplicate rows if the
    # documents frame carries duplicate doc_ids)
    return (
        scored.orderBy(F.desc("rerank_score"), F.asc("doc_id"))
        .limit(rerank_k)
        .withColumn("rank", F.row_number().over(Window.orderBy(F.desc("rerank_score"), F.asc("doc_id"))))
        .select("doc_id", F.col("rerank_score").alias("score"), "rank")
    )
