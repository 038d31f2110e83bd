"""Product quantization (FAISS IndexPQ analog; reference stores raw
IndexFlatL2 vectors, build_faiss.py:30 — PQ is the compressed scale
path for the same search).  Contracts pinned here:

* Spark's JVM code assignment == numpy per-subspace argmin, exactly.
* Spark's ADC over stored codes == numpy LUT sum, to float noise.
* The stored-codes path (pq_search_stored) returns the identical
  result as the inline path (pq_search_deterministic).
* With the default shortlist, the refined top-k equals brute-force
  cosine top-k on the test corpus (recall documentation, not a
  general guarantee).
* Plan shapes: shortlist is TakeOrderedAndProject (never a global
  sort); the stored ADC scan reads only (vec_id, codes).
"""

import numpy as np
import pytest

from beetle_search_engine_spark.operators.ml import (
    _pq_luts_np,
    fit_pq_codebooks_np,
    pq_adc_col,
    pq_encode,
    pq_search_deterministic,
    pq_search_stored,
    write_pq_index,
)
from beetle_search_engine_spark.plans.knn import knn_cosine

SF = "/root/testdata/sf0.001"
EMB = f"{SF}/embeddings.parquet"


@pytest.fixture(scope="module")
def xnp():
    import pyarrow.dataset as ds

    t = ds.dataset(EMB, format="parquet").to_table(columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    X = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], X[order]


@pytest.fixture(scope="module")
def cbs(xnp):
    return fit_pq_codebooks_np(xnp[1][:1024], m=8, ksub=16, seed=42, iters=20)


def _np_codes(X, cbs):
    m, dsub = len(cbs), cbs[0].shape[1]
    out = np.empty((X.shape[0], m), dtype=np.int64)
    for j, cb in enumerate(cbs):
        sl = X[:, j * dsub : (j + 1) * dsub]
        D = ((sl[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
        out[:, j] = np.argmin(D, axis=1)  # ties -> lowest id
    return out


def test_codes_match_numpy(spark, xnp, cbs):
    ids, X = xnp
    want = _np_codes(X, cbs)
    got = {
        r.vec_id: list(r.codes)
        for r in pq_encode(spark.read.parquet(EMB), cbs).collect()
    }
    assert len(got) == len(ids)
    for i, vid in enumerate(ids):
        assert got[int(vid)] == list(want[i]), int(vid)


def test_adc_matches_numpy(spark, xnp, cbs):
    ids, X = xnp
    q = X[0]
    luts = _pq_luts_np(q, cbs)
    codes = _np_codes(X, cbs)
    lut_m = np.asarray(luts)
    want = {
        int(vid): float(sum(lut_m[j, codes[i, j]] for j in range(len(cbs))))
        for i, vid in enumerate(ids)
    }
    got = {
        r.vec_id: r.adc
        for r in pq_encode(spark.read.parquet(EMB), cbs)
        .withColumn("adc", pq_adc_col("codes", luts))
        .collect()
    }
    for vid, w in want.items():
        assert abs(got[vid] - w) <= 1e-9 * max(1.0, abs(w)), vid


def test_stored_equals_inline_and_bruteforce(spark, cbs, tmp_path):
    emb = spark.read.parquet(EMB)
    write_pq_index(emb, cbs, str(tmp_path / "pq"))
    inline = pq_search_deterministic(spark, EMB, query_id=0, top_k=10).collect()
    stored = pq_search_stored(
        spark, str(tmp_path / "pq"), EMB, query_id=0, top_k=10
    ).collect()
    assert [(r.vec_id, r.score) for r in inline] == [
        (r.vec_id, r.score) for r in stored
    ]
    # recall documentation on this near-random synthetic corpus (cosine
    # scores ~0.3, so ADC is noisy — the worst case for PQ): the default
    # shortlist=100 (20% of 500) recovers 6/10 of brute force here;
    # widening to 250 recovers it exactly.  Correctness of the entry
    # does NOT ride on recall — its oracle replicates the full PQ
    # pipeline, so approximation error cancels on both sides.
    brute = [(r.vec_id, r.score) for r in knn_cosine(emb, 0, 10).collect()]
    assert len({v for v, _ in inline} & {v for v, _ in brute}) >= 6
    wide = pq_search_deterministic(
        spark, EMB, query_id=0, top_k=10, shortlist=250
    ).collect()
    assert [(r.vec_id, r.score) for r in wide] == brute


def test_plan_shapes(spark, cbs, tmp_path):
    # inline shortlist: bounded top-k operator, not a global sort
    df = pq_search_deterministic(spark, EMB, query_id=0, top_k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global Exchange+Sort for the limit
    # stored scan reads only the compressed columns
    emb = spark.read.parquet(EMB)
    write_pq_index(emb, cbs, str(tmp_path / "pq2"))
    codes = spark.read.parquet(str(tmp_path / "pq2") + "/codes")
    luts = _pq_luts_np(np.zeros(64), cbs)
    scan = (
        codes.withColumn("adc", pq_adc_col("codes", luts))
        .orderBy("adc", "vec_id")
        .limit(5)
    )
    splan = scan._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<vec_id:bigint,codes:array<smallint>>" in splan
    # codes payload really is m small ints
    row = codes.first()
    assert len(row.codes) == 8 and all(0 <= c < 16 for c in row.codes)

