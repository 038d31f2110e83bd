"""ML sidecars: weak->strong classifier shape and the embedding readers."""

from beetle_search_engine_spark.operators.ml import train_weak_to_strong
from beetle_search_engine_spark.operators.textops import heuristic_label
from beetle_search_engine_spark.sources.corpus import load_documents

SF = "/root/testdata/sf0.01"


def test_weak_to_strong_classifier(spark):
    docs = load_documents(spark, SF)
    weak = heuristic_label(docs).select("doc_id", "label")
    data = docs.join(weak, "doc_id")
    _, preds, metrics = train_weak_to_strong(data)
    rows = preds.collect()
    assert len(rows) == docs.count()
    # classifier should mostly reproduce its training labels
    agree = sum(1 for r in rows if float(r["strong_label"]) == float(r["weak_label"]))
    assert agree / len(rows) > 0.9
    # held-out report exists (reference prints classification_report on a
    # stratified 20% split, train_tfidf.py:57,68-69) and is non-degenerate
    assert metrics["n_train"] > 0 and metrics["n_test"] > 0
    assert metrics["precision"] > 0.5 and metrics["recall"] > 0.5 and metrics["f1"] > 0.5
    # both classes actually predicted (not a constant classifier)
    predicted = {float(r["strong_label"]) for r in rows}
    assert predicted == {0.0, 1.0}


def test_weak_to_strong_hash_split(spark):
    """shuffle=False scale path: split membership from hash(doc_id) — no
    global orderBy(rand) sort, deterministic under re-evaluation, and the
    two splits partition the input exactly."""
    docs = load_documents(spark, "/root/testdata/sf0.001")
    weak = heuristic_label(docs).select("doc_id", "label")
    data = docs.join(weak, "doc_id")
    _, preds, metrics = train_weak_to_strong(data, shuffle=False)
    n = data.count()
    assert metrics["n_train"] + metrics["n_test"] == n
    assert 0.6 < metrics["n_train"] / n < 0.95  # ~80/20
    assert preds.count() == n
    # deterministic: the same call yields the same split sizes
    _, _, m2 = train_weak_to_strong(data, shuffle=False)
    assert (m2["n_train"], m2["n_test"]) == (metrics["n_train"], metrics["n_test"])


def test_read_embeddings_bounded_sample(tmp_path):
    """_read_embeddings_np(limit=) returns exactly the limit LOWEST
    vec_ids — both on 0-based ids (pushdown path) and on ids starting
    far from 0 (cutoff-fallback path) — and never the whole table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from beetle_search_engine_spark.operators.ml import _read_embeddings_np, _read_query_vec_np

    rng = np.random.default_rng(3)
    for base, name in ((0, "zero"), (10_000, "offset")):
        ids = np.arange(base, base + 100, dtype=np.int64)
        rng.shuffle(ids)
        vecs = rng.normal(size=(100, 4))
        path = str(tmp_path / f"emb_{name}.parquet")
        pq.write_table(
            pa.table({"vec_id": ids, "embedding": [list(map(float, v)) for v in vecs]}),
            path,
        )
        got_ids, got_X = _read_embeddings_np(path, limit=10)
        assert list(got_ids) == list(range(base, base + 10))
        assert got_X.shape == (10, 4)
        # query fetch by pushed-down id filter
        q = _read_query_vec_np(path, base + 5)
        expect = vecs[list(ids).index(base + 5)]
        assert np.allclose(q, expect)


def test_hash_split_is_complementary(spark):
    """shuffle=False: train and test partition df exactly (no overlap,
    no loss) via the complementary hash filter — no anti-join shuffle."""
    from beetle_search_engine_spark.operators.ml import split_bucket
    from pyspark.sql import functions as F

    df = load_documents(spark, SF).select("doc_id")
    tr = df.filter(split_bucket(F.col("doc_id"), 42) < 800)
    te = df.filter(split_bucket(F.col("doc_id"), 42) >= 800)
    assert tr.count() + te.count() == df.count()
    assert tr.join(te, "doc_id", "inner").count() == 0
