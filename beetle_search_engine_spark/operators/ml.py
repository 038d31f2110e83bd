"""ML sidecars (SURVEY.md §2.10 M4/M5 + the IVF scale path for ANN).

The reference trains a TF-IDF (max_features=5000, 1-2 grams) + logistic
regression (balanced class weights, seed 42) blog classifier on weak
heuristic labels and uses it to produce strong labels
(reference: src/models/train_tfidf.py:24-84).  Here the same shape runs on
Spark ML: lemmatizing tokenizer (Arrow pandas UDF; rule-based WordNet
stand-in with a real-model seam) -> unigram+bigram CountVectorizers
(vocab 5000) -> IDF -> LogisticRegression with a balanced weight column.
sklearn and
Spark ML differ in solver details and tf-idf normalization, so outputs are
model-equivalent, not bit-identical (documented; SURVEY K2/K3 notes).

IVF ANN: a deterministic numpy k-means coarse quantizer over a bounded
sample of the embedding table (``fit_centroids_np``); queries probe the
nprobe nearest centroids and scan only those clusters — the classic FAISS
IVF layout (reference uses IndexFlatL2, build_faiss.py:30) re-expressed
as cluster-pruned DataFrame scans.
"""

from __future__ import annotations

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_bucket(id_col, seed: int = 42) -> F.Column:
    """Deterministic split bucket in [0, 1000): first 8 hex chars of
    md5('<id>#<seed>') as an int, mod 1000.  Shared by
    train_weak_to_strong(shuffle=False) and the oracle-checked split
    entry — md5 is bit-identical in Spark and DuckDB, so the exact split
    membership the trainer uses is ANSI-SQL-checkable."""
    s = F.concat(id_col.cast("string"), F.lit("#"), F.lit(str(seed)))
    return F.pmod(F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"), F.lit(1000))


def train_weak_to_strong(
    docs_with_labels: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    vocab_size: int = 5000,
    seed: int = 42,
    test_fraction: float = 0.2,
    lemmatizer_factory=None,
    shuffle: bool = True,
):
    """Train the TF-IDF + LR classifier on weak labels.  Input needs
    (text_col, label_col in {'keep','drop'}).

    Mirrors the reference's full protocol (train_tfidf.py:48,57,66-74):
    seeded row shuffle (K2), stratified train/test split (K3 —
    ``sampleBy`` per class, seed fixed), fit on the train split only,
    report precision/recall/F1 on the held-out split, then predict
    strong labels for ALL rows.  Spark's sampleBy is approximate where
    sklearn's split is exact; documented model-equivalence, not
    bit-identity.

    Feature preprocessing mirrors the reference's (train_tfidf.py:24-34):
    lowercase -> strip punctuation -> drop stopwords -> LEMMATIZE (the
    stopword check applies to the SURFACE token, before lemmatization —
    reference: ``lemmatizer.lemmatize(word) for word in ... if word not
    in stop_words``, train_tfidf.py:33).  The stop list is the Whoosh
    list shared with the index chain, a documented substitution for the
    reference's NLTK english list (which can't download here); both are
    ~the same frequent-function-word set.  The lemmatizer is the
    rule-based stand-in in functions/lemmatizer.py;
    ``lemmatizer_factory`` is the model-injection seam — pass one
    returning NLTK's WordNetLemmatizer().lemmatize for reference-exact
    lemmas.

    ``shuffle=True`` (default) keeps reference parity: a global seeded
    row shuffle (K2, ``df.sample(frac=1, random_state=42)``) before the
    split.  At scale that is a full corpus sort feeding nothing else —
    ``shuffle=False`` is the documented fast path: the split membership
    is derived from a hash of doc_id instead (per-row, shuffle-free, and
    deterministic under any input order or AQE re-plan).

    Returns (model, predictions DataFrame, metrics dict with
    precision/recall/f1/accuracy + split sizes).
    """
    import re

    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.feature import IDF, CountVectorizer, NGram, VectorAssembler
    from pyspark.sql.functions import pandas_udf

    from ..functions.analyzer import STOP_WORDS
    from ..functions.lemmatizer import lemmatize

    factory = lemmatizer_factory or (lambda: lemmatize)
    word_re = re.compile(r"[a-z0-9_]+")

    @pandas_udf("array<string>")
    def lemma_tokens(texts: pd.Series) -> pd.Series:
        lem = factory()  # once per task: executor-side lazy model init
        out = []
        for t in texts:
            toks = word_re.findall((t or "").lower())
            # reference order: stopword check on the SURFACE token, then
            # lemmatize the survivors (train_tfidf.py:33)
            out.append([lem(x) for x in toks if x not in STOP_WORDS])
        return pd.Series(out)

    df = docs_with_labels.withColumn("y", (F.col(label_col) == "keep").cast("double"))
    df = df.withColumn("toks", lemma_tokens(F.col(text_col)))
    # the lemmatizer UDF is the expensive stage and EVERY downstream
    # action re-derives from df (two CountVectorizer fits, IDF, LR,
    # split counts, four evaluator passes, the final predict-all) —
    # without this persist the Python lemmatizer re-tokenizes the corpus
    # ~8x.  (This is the driver-bound ML sidecar, not a query hot path;
    # the repo's parquet-staging-over-persist rule targets the
    # high-concurrency kernels.)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if shuffle:
        # K2: deterministic shuffle (reference: df.sample(frac=1,
        # random_state=42)), then K3: stratified 80/20 sampleBy split
        # (reference: train_test_split(stratify=y))
        df = df.orderBy(F.rand(seed))
        fractions = {0.0: 1.0 - test_fraction, 1.0: 1.0 - test_fraction}
        train = df.sampleBy("y", fractions, seed=seed)
        # freeze the sampled membership: sampleBy over a shuffled frame is
        # lazily re-evaluated per action, so without materialization the
        # fit / anti-join / counts could each see a different split
        train = train.persist(StorageLevel.MEMORY_AND_DISK)
        train.count()
    else:
        # scale path: split membership = hash(doc_id) — per-row, no sort,
        # no persist needed (every re-evaluation computes the same bit).
        # Per-class Bernoulli(0.8) is what sampleBy does too, so the
        # split is stratified in expectation exactly like the default.
        train = df.filter(split_bucket(F.col("doc_id"), seed) < int((1.0 - test_fraction) * 1000))
    if shuffle:
        test = df.join(train.select("doc_id"), "doc_id", "left_anti")
    else:
        # complementary per-row filter, not an anti-join: the hash split's
        # whole point is no shuffle, and a left_anti would reintroduce one
        test = df.filter(split_bucket(F.col("doc_id"), seed) >= int((1.0 - test_fraction) * 1000))

    # balanced class weights on the TRAIN split (sklearn class_weight="balanced")
    counts = {r["y"]: r["c"] for r in train.groupBy("y").agg(F.count(F.lit(1)).alias("c")).collect()}
    total = sum(counts.values())
    w = {y: total / (2.0 * c) for y, c in counts.items()}
    weighted = train.withColumn(
        "w", F.when(F.col("y") == 1.0, F.lit(w.get(1.0, 1.0))).otherwise(F.lit(w.get(0.0, 1.0)))
    )

    stages = [
        NGram(n=2, inputCol="toks", outputCol="bigrams"),
        CountVectorizer(inputCol="toks", outputCol="tf1", vocabSize=vocab_size),
        CountVectorizer(inputCol="bigrams", outputCol="tf2", vocabSize=vocab_size),
        VectorAssembler(inputCols=["tf1", "tf2"], outputCol="tf"),
        IDF(inputCol="tf", outputCol="features"),
        LogisticRegression(featuresCol="features", labelCol="y", weightCol="w", maxIter=50),
    ]
    model = Pipeline(stages=stages).fit(weighted)

    # held-out evaluation (reference prints classification_report); the
    # four evaluator passes each re-run model.transform(test) without
    # this persist
    test_pred = model.transform(test).select("y", "prediction").persist(StorageLevel.MEMORY_AND_DISK)
    metrics = {"n_train": train.count(), "n_test": test.count()}
    if metrics["n_test"]:
        ev = MulticlassClassificationEvaluator(labelCol="y", predictionCol="prediction")
        for mname, key in (
            ("weightedPrecision", "precision"),
            ("weightedRecall", "recall"),
            ("f1", "f1"),
            ("accuracy", "accuracy"),
        ):
            metrics[key] = round(ev.setMetricName(mname).evaluate(test_pred), 6)
    test_pred.unpersist()

    if shuffle:
        train.unpersist()
    # strong labels for every row (reference: predict-all, train_tfidf.py:72-74)
    preds = model.transform(df).select(
        "doc_id",
        F.col("y").alias("weak_label"),
        F.col("prediction").alias("strong_label"),
    )
    df.unpersist()  # lazy: preds' lineage re-derives if re-executed later
    return model, preds, metrics


def fit_centroids_np(X, k: int, seed: int = 42, iters: int = 20):
    """Deterministic Lloyd's k-means in numpy float64: k-means++ init from
    RandomState(seed), a fixed iteration count, argmin ties broken by the
    lowest cluster id.  Training the coarse quantizer on a driver-side
    (bounded) sample is the standard IVF shape — FAISS trains its
    quantizer on ~256*k sampled vectors regardless of corpus size — and a
    deterministic fit means the fitted centroids can be inlined as SQL
    literals, making the whole IVF probe DuckDB-provable."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    n = X.shape[0]
    rng = np.random.RandomState(seed)
    idx = [int(rng.randint(n))]
    d2 = ((X - X[idx[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        s = d2.sum()
        if s <= 0.0:
            # fewer DISTINCT points than k (tiny or duplicate-heavy
            # sample): every point already coincides with a centroid, so
            # d2/s would be 0/0 NaN and rng.choice would crash.  Pad the
            # remaining centroids deterministically with the first pick
            # — duplicate centroids are harmless (argmin ties break to
            # the lowest id) and keep the fit a pure function of input.
            idx.append(idx[0])
            continue
        p = d2 / s
        idx.append(int(rng.choice(n, p=p)))
        d2 = np.minimum(d2, ((X - X[idx[-1]]) ** 2).sum(axis=1))
    C = X[idx].copy()
    # Lloyd assignment in row blocks: identical per-element arithmetic to
    # the full (n, k, d) broadcast, but peak memory is (block, k, d) —
    # the n x k x d tensor never materializes even at the sample cap
    block = 4096
    a = np.empty(n, dtype=np.int64)
    for _ in range(iters):
        for s in range(0, n, block):
            xb = X[s : s + block]
            D = ((xb[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a[s : s + block] = np.argmin(D, axis=1)  # ties -> lowest id
        for j in range(k):
            m = a == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    return C


def _read_embeddings_np(path: str, limit: int | None = None):
    """Driver-side (vec_id-sorted) read of an embeddings parquet.

    ``limit`` caps the read to the ``limit`` LOWEST vec_ids — the
    deterministic bounded sample the numpy quantizer trains on (FAISS
    trains its coarse quantizer on ~256*k vectors regardless of corpus
    size).  The cap is pushed into the parquet scan (``vec_id < limit``
    prunes row groups when ids are 0-based contiguous, the common case);
    when that predicate matches nothing (ids not 0-based), the fallback
    reads ONLY the 8-byte vec_id column to find the limit-th smallest id
    and re-scans with that cutoff pushed down — the embedding vectors
    themselves are never read unbounded."""
    import numpy as np
    import pyarrow.dataset as ds

    dset = ds.dataset(path, format="parquet")
    flt = None
    if limit is not None:
        flt = ds.field("vec_id") < limit
        # the fast-path predicate is the exact lowest-`limit` set ONLY
        # when it matches exactly `limit` unique ids (0-based contiguous
        # layouts).  A PARTIAL match (sparse or offset ids) would train
        # the quantizer on far fewer vectors than asked, so any count
        # other than `limit` takes the id-scan fallback.
        if dset.count_rows(filter=flt) != min(limit, dset.count_rows()):
            all_ids = np.asarray(
                dset.to_table(columns=["vec_id"]).column("vec_id").to_pylist(),
                dtype=np.int64,
            )
            if all_ids.size > limit:
                cutoff = np.partition(all_ids, limit - 1)[limit - 1]
            else:
                cutoff = all_ids.max() if all_ids.size else 0
            flt = ds.field("vec_id") <= int(cutoff)
    t = dset.to_table(columns=["vec_id", "embedding"], filter=flt)
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    X = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], X[order]


def _read_query_vec_np(path: str, query_id: int):
    """Fetch ONE embedding by id with the predicate pushed into the scan
    — the query vector never rides the quantizer's training sample."""
    import numpy as np
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet").to_table(
        columns=["embedding"], filter=ds.field("vec_id") == query_id
    )
    if t.num_rows == 0:
        raise KeyError(f"vec_id {query_id} not found in {path}")
    return np.asarray(t.column("embedding").to_pylist()[0], dtype=np.float64)


def ivf_search_deterministic(
    spark,
    emb_path: str,
    query_id: int = 0,
    top_k: int = 10,
    nprobe: int = 4,
    n_clusters: int = 8,
    seed: int = 42,
    iters: int = 20,
    train_sample: int = 256,
) -> DataFrame:
    """IVF probe whose coarse quantizer is fit_centroids_np — the same
    function the DuckDB oracle calls, so both sides share bit-identical
    centroid literals.  The quantizer trains on a deterministic bounded
    sample (the ``train_sample * n_clusters`` lowest vec_ids, FAISS's
    ~256*k practice) — the driver never reads the embedding table
    unbounded; the query vector is fetched by a pushed-down id filter.
    Assignment is a JVM-side argmin over the k centroid distance
    expressions (no Python in the scan); the probe filters to the nprobe
    clusters nearest the query (driver-computed, same tiebreak) and runs
    exact cosine on the survivors only."""
    import numpy as np

    _ids, X = _read_embeddings_np(emb_path, limit=train_sample * n_clusters)
    C = fit_centroids_np(X, n_clusters, seed, iters)
    q = _read_query_vec_np(emb_path, query_id)
    cd = ((C - q) ** 2).sum(axis=1)
    probe = [int(j) for j in np.lexsort((np.arange(n_clusters), cd))[:nprobe]]

    emb = spark.read.parquet(emb_path)
    v = F.col("embedding").cast("array<double>")
    dists = [
        F.aggregate(
            F.zip_with(v, F.lit([float(x) for x in C[j]]), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for j in range(n_clusters)
    ]
    darr = F.array(*dists)
    cluster = (F.array_position(darr, F.array_min(darr)) - 1).cast("int")  # first
    # occurrence -> lowest cluster id on exact ties, same as the oracle
    cand = emb.withColumn("cluster", cluster).filter(
        F.col("cluster").isin(probe) & (F.col("vec_id") != query_id)
    )
    return _cosine_topk(cand, [float(x) for x in q], top_k, "vec_id", "embedding")


def _nearest_clusters(q, centers: list[tuple[int, list[float]]], nprobe: int) -> list[int]:
    """Driver-side coarse quantization: the nprobe cluster ids nearest
    the query vector (centers: [(cluster_id, center_vec)])."""
    import numpy as np

    qa = np.asarray(list(q), dtype=np.float64)
    dists = sorted((float(np.linalg.norm(qa - np.asarray(c))), int(i)) for i, c in centers)
    return [c for _d, c in dists[:nprobe]]


def _cosine_topk(vecs: DataFrame, q, top_k: int, id_col: str, vec_col: str) -> DataFrame:
    """Exact cosine top-k of a (pre-pruned) vector frame against a
    literal query vector — the refine stage shared by the IVF, PQ and
    IVFPQ probe paths."""
    from ..plans.knn import cosine_col

    qvec = F.lit([float(x) for x in q])
    cos = cosine_col(F.col(vec_col), qvec)
    return (
        vecs.select(F.col(id_col), F.round(cos, 4).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(top_k)
    )


# --- Product quantization (the FAISS IndexPQ analog) ------------------
#
# The reference stores raw float32 vectors (IndexFlatL2,
# build_faiss.py:30) — exact but 4*d bytes per vector.  PQ (Jegou,
# Douze, Schmid 2011, "Product Quantization for Nearest Neighbor
# Search") is the standard compressed scale path: split each vector
# into m subspaces, k-means each subspace to ksub centroids, store only
# the m centroid ids (m bytes at ksub<=256 — a 32x compression of a
# 64-dim float table), and answer queries with an asymmetric-distance
# scan (ADC): per query, precompute an m x ksub lookup table of
# query-slice-to-centroid distances, then each stored code costs m
# table lookups + adds — no float vector is ever read at scan time.
# Exactness is recovered by re-ranking a shortlist against the raw
# vectors (pushed-down id fetch), the FAISS refine pattern.


def fit_pq_codebooks_np(X, m: int = 8, ksub: int = 16, seed: int = 42, iters: int = 20):
    """Per-subspace deterministic k-means (fit_centroids_np, seed+j per
    subspace j) — pure function of (data, m, ksub, seed), so the fitted
    codebooks can be inlined as SQL literals and the whole ADC pipeline
    DuckDB-proved, the same contract as the IVF quantizer above."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return [
        fit_centroids_np(X[:, j * dsub : (j + 1) * dsub], ksub, seed + j, iters)
        for j in range(m)
    ]


def _np_assign_codes(Xb, cbs_np):
    """Vectorized per-subspace argmin over true squared-L2 distances —
    ties break to the lowest centroid id (np.argmin first-occurrence),
    the same tiebreak as the SQL oracle's row_number."""
    import numpy as np

    codes = np.empty((Xb.shape[0], len(cbs_np)), dtype=np.int64)
    off = 0
    for j, cb in enumerate(cbs_np):
        dsub = cb.shape[1]
        for s in range(0, len(Xb), 4096):  # blocked: never (n, ksub, dsub)
            xb = Xb[s : s + 4096, None, off : off + dsub]
            codes[s : s + 4096, j] = ((xb - cb[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        off += dsub
    return codes


def pq_encode(
    emb: DataFrame, codebooks, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Compress the embedding table to (id, codes array<smallint>) —
    0-based centroid ids, m bytes of payload per vector at ksub<=256.
    This is the table an ADC scan reads INSTEAD of the float vectors.

    The assignment is an Arrow-batched numpy kernel (one blocked
    (batch, ksub, dsub) broadcast-subtract per subspace), projected to
    (id, vec) BEFORE the kernel since mapInPandas is opaque to column
    pruning.  Two pure-expression alternatives were measured at sf0.1
    (40k x 64-dim, m=8 ksub=16) and rejected: the per-centroid
    zip_with+aggregate HOF form runs interpreted (7.4 s warm) and even
    the expanded ||c||^2 - 2c.x multiply-add form (128 expressions/row)
    exceeds the codegen threshold — 0 WholeStageCodegen spans in the
    executed plan, 6.5 s warm — while the numpy kernel scans in 0.5 s."""
    import numpy as np
    import pandas as pd

    cbs_np = [np.asarray(cb, dtype=np.float64) for cb in codebooks]

    def kern(it):
        for pdf in it:
            Xb = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
            codes = _np_assign_codes(Xb, cbs_np)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": [list(map(int, r)) for r in codes]}
            )

    id_type = dict(emb.dtypes)[id_col]
    return emb.select(id_col, vec_col).mapInPandas(
        kern, f"{id_col} {id_type}, codes array<smallint>"
    )


def _np_adc(codes, luts_np):
    """Sum the per-subspace LUT rows selected by a codes matrix — the
    shared inner kernel of the kernel ADC scans (inline and IVFPQ
    per-cluster).  Accumulates in codebook order j=0..m-1, matching
    pq_adc_col's expression order so all paths agree bit-for-bit."""
    import numpy as np

    adc = np.zeros(len(codes))
    for j, lut in enumerate(luts_np):
        adc += lut[codes[:, j]]
    return adc


def pq_adc_col(codes_col, luts) -> F.Column:
    """Asymmetric distance from stored codes: sum_j lut[j][code_j].
    luts is the per-query m x ksub table of squared-L2 distances between
    the query's subspace slices and the codebook rows — m element_at
    lookups + adds per row, zero float-vector reads."""
    acc = None
    for j, lut in enumerate(luts):
        term = F.element_at(
            F.lit([float(x) for x in lut]),
            (F.element_at(codes_col, j + 1) + F.lit(1)).cast("int"),
        )
        acc = term if acc is None else acc + term
    return acc


def _pq_luts_np(q, codebooks):
    """The query's ADC lookup table: luts[j][c] = ||q_j - C_j[c]||^2."""
    import numpy as np

    q = np.asarray(q, dtype=np.float64)
    luts, off = [], 0
    for cb in codebooks:
        dsub = cb.shape[1]
        qj = q[off : off + dsub]
        luts.append([float(((c - qj) ** 2).sum()) for c in cb])
        off += dsub
    return luts


def pq_search_deterministic(
    spark,
    emb_path: str,
    query_id: int = 0,
    top_k: int = 10,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    iters: int = 20,
    train_sample: int = 1024,
    shortlist: int = 100,
) -> DataFrame:
    """PQ-ADC search with exact re-rank, sharing ivf_search_deterministic's
    provability contract: codebooks train on the train_sample LOWEST
    vec_ids (pushed-down bounded driver read, _read_embeddings_np) via
    fit_pq_codebooks_np — a pure function of (data, params) — so the
    DuckDB oracle re-fits bit-identical codebook literals.  The scan
    encodes + ADC-scores each row JVM-side (one pass, no Python), takes
    the `shortlist` smallest approximate distances as a
    TakeOrderedAndProject (never a global sort), and re-ranks ONLY the
    shortlist with exact cosine — the FAISS IndexPQ + refine shape.  At
    100 TB the scan half runs over the pq_encode'd codes table (m bytes
    a row) with the raw vectors fetched by pushed-down id for the
    shortlist only; here the inline variant keeps vectors in-row because
    the entry reads the un-encoded test parquet."""
    import numpy as np
    import pandas as pd

    _ids, X = _read_embeddings_np(emb_path, limit=train_sample)
    cbs = fit_pq_codebooks_np(X, m, ksub, seed, iters)
    q = _read_query_vec_np(emb_path, query_id)
    luts = _pq_luts_np(q, cbs)

    # fused encode+ADC Arrow kernel: assign codes and sum the LUT rows
    # in one numpy pass per batch (see pq_encode's docstring for the
    # measured rejection of the pure-expression forms); the lut sum is
    # accumulated in codebook order, matching pq_adc_col's j-order so
    # stored and inline paths agree bit-for-bit.
    cbs_np = [np.asarray(cb, dtype=np.float64) for cb in cbs]
    luts_np = [np.asarray(lut, dtype=np.float64) for lut in luts]

    def kern(it):
        for pdf in it:
            Xb = np.asarray(pdf["embedding"].to_list(), dtype=np.float64)
            codes = _np_assign_codes(Xb, cbs_np)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "adc": _np_adc(codes, luts_np)})

    emb = spark.read.parquet(emb_path)
    short = (
        emb.select("vec_id", "embedding")
        .mapInPandas(kern, "vec_id long, adc double")
        .filter(F.col("vec_id") != query_id)
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(shortlist)
    )
    # refine fetch as a broadcast semi-join so the whole search stays
    # one lazy plan (shortlist ids are tiny by construction)
    vecs = emb.join(F.broadcast(short.select("vec_id")), "vec_id")
    return _cosine_topk(vecs, [float(x) for x in q], top_k, "vec_id", "embedding")


def _write_codebooks(spark, codebooks, path: str) -> None:
    """Persist PQ codebooks as the tiny (j, cid, cvec) dimension parquet
    (the stored quantizer) — shared by the PQ and IVF-PQ layouts."""
    rows = [
        (j, c, [float(x) for x in cb[c]])
        for j, cb in enumerate(codebooks)
        for c in range(len(cb))
    ]
    spark.createDataFrame(
        rows, "j int, cid int, cvec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def _read_codebooks(spark, path: str):
    """Driver read of the m*ksub-row codebook dimension back into the
    list-of-(ksub, dsub)-arrays shape the fit/LUT helpers use."""
    import numpy as np

    rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r.j for r in rows)
    return [
        np.asarray(
            [r.cvec for r in sorted((r for r in rows if r.j == j), key=lambda r: r.cid)],
            dtype=np.float64,
        )
        for j in range(m)
    ]


def write_pq_index(emb: DataFrame, codebooks, path: str, id_col="vec_id", vec_col="embedding") -> None:
    """Persist the PQ layout: the compressed codes table (the ADC scan
    target) plus the codebooks dimension (_write_codebooks)."""
    pq_encode(emb, codebooks, id_col, vec_col).write.mode("overwrite").parquet(
        f"{path}/codes"
    )
    _write_codebooks(emb.sparkSession, codebooks, path)


def pq_search_stored(
    spark,
    pq_path: str,
    emb_path: str,
    query_id: int = 0,
    top_k: int = 10,
    shortlist: int = 100,
) -> DataFrame:
    """The scale-path query: ADC over the STORED codes table — the scan
    reads (vec_id, codes) only, never a float vector — then exact
    re-rank of the shortlist by fetching its raw vectors with a
    PUSHED-DOWN id filter: the ≤shortlist ids are collected and applied
    as a literal ``isin``, which reaches the raw-vector parquet scan as
    ``PushedFilters: In(vec_id, ...)`` and skips row groups by column
    stats.  That pushdown is the point of the stored layout (the raw
    table is the one the codes table exists to avoid scanning); the
    lazy broadcast-semi-join alternative injects no row-level runtime
    filter into a non-partitioned scan, so it would read every row
    group of the raw table to keep ~100 rows.  The inline driver-entry
    twins keep the broadcast-join shape because their input IS the raw
    table (already scanned) and the oracle wants one lazy plan.
    The codebooks come from the tiny stored dimension
    table (driver read of m*ksub rows).  The scan is the pure-expression
    ``pq_adc_col`` (m element_at lookups + adds per row, JVM-side, zero
    Python in the hot path): the round-6 A/B at 2M rows measured it 3.3x
    FASTER than an Arrow numpy kernel scan (BENCH/BASELINE.md "ADC scan
    A/B, round 6" has the numbers) — the round-5 "13x cliff" belongs to the
    inline ENCODE tree, not this small ADC tree; tests/test_pq.py pins
    stored-vs-inline rank identity across the swap."""
    cbs = _read_codebooks(spark, pq_path)
    q = _read_query_vec_np(emb_path, query_id)
    luts = _pq_luts_np(q, cbs)

    codes = spark.read.parquet(f"{pq_path}/codes")
    short = (
        codes.select("vec_id", pq_adc_col(F.col("codes"), luts).alias("adc"))
        .filter(F.col("vec_id") != query_id)
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(shortlist)
    )
    ids = [r.vec_id for r in short.select("vec_id").collect()]
    vecs = spark.read.parquet(emb_path).filter(F.col("vec_id").isin(ids))
    return _cosine_topk(vecs, [float(x) for x in q], top_k, "vec_id", "embedding")


# --- IVF-PQ (the FAISS IndexIVFPQ / IVFADC composition) ---------------
#
# The two halves above compose into the index FAISS actually ships for
# billion-vector search (Jegou et al. 2011 §IV): a coarse quantizer
# routes each vector to an inverted list, and PQ encodes the RESIDUAL
# x - C[cluster] (residuals concentrate near 0, so the same ksub
# centroids quantize them far better than raw vectors).  A query probes
# the nprobe nearest lists and ADC-scans only their codes with a
# PER-CLUSTER lookup table built from the query's residual q - C[c].
# In the Spark layout the inverted lists are cluster partitions of a
# codes-only parquet table: the probe is partition pruning, the scan
# reads m bytes a row, and the raw vectors are touched only to refine
# the shortlist (pushed-down id fetch) — at 100 TB the probed fraction
# is nprobe/n_clusters of an already 32x-compressed table.


def _np_assign_clusters(Xb, C):
    """Blocked nearest-centroid assignment — the same per-element
    arithmetic as the full (n, k, d) broadcast, but peak memory is
    (block, k, d); the n x k x d tensor never materializes (at
    train_sample=200k, d=768, k=256 the full tensor would be ~314 GB)."""
    import numpy as np

    out = np.empty(len(Xb), dtype=np.int64)
    for s in range(0, len(Xb), 4096):
        xb = Xb[s : s + 4096]
        D = ((xb[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        out[s : s + 4096] = D.argmin(axis=1)  # ties -> lowest id
    return out


def fit_ivfpq_np(
    X, n_clusters: int = 8, m: int = 8, ksub: int = 16, seed: int = 42, iters: int = 20
):
    """Coarse centroids on the raw training sample, PQ codebooks on its
    RESIDUALS — both via the deterministic numpy k-means, so the whole
    index is a pure function of (data, params) like the IVF and PQ
    quantizers above.  Returns (coarse_centroids, codebooks)."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    C = fit_centroids_np(X, n_clusters, seed, iters)
    R = X - C[_np_assign_clusters(X, C)]
    return C, fit_pq_codebooks_np(R, m, ksub, seed, iters)


def write_ivfpq_index(
    emb: DataFrame,
    path: str,
    *,
    n_clusters: int = 8,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    iters: int = 20,
    train_sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build the stored IVFADC layout: one Arrow kernel assigns each
    vector's coarse cluster and residual-PQ codes (blocked numpy, same
    rejection of the interpreted expression forms as pq_encode), written
    as a codes-only parquet PARTITIONED BY cluster (the inverted lists),
    plus the two tiny quantizer dimension tables.  The training sample
    is the train_sample lowest ids via a pushed-down bounded driver read
    — the driver never reads the table unbounded."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    # bounded deterministic sample from the frame itself (lowest ids,
    # TakeOrderedAndProject — never an unbounded driver read)
    samp = (
        emb.select(id_col, vec_col)
        .orderBy(F.asc(id_col))
        .limit(train_sample)
        .collect()
    )
    X = np.asarray([list(r[1]) for r in samp], dtype=np.float64)
    C, cbs = fit_ivfpq_np(X, n_clusters, m, ksub, seed, iters)
    cbs_np = [np.asarray(cb, dtype=np.float64) for cb in cbs]

    def kern(it):
        for pdf in it:
            Xb = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
            cl = _np_assign_clusters(Xb, C)  # blocked — never (n, k, d)
            codes = _np_assign_codes(Xb - C[cl], cbs_np)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster": cl.astype("int32"),
                    "codes": [list(map(int, r)) for r in codes],
                }
            )

    id_type = dict(emb.dtypes)[id_col]
    enc = emb.select(id_col, vec_col).mapInPandas(
        kern, f"{id_col} {id_type}, cluster int, codes array<smallint>"
    )
    enc.write.mode("overwrite").partitionBy("cluster").parquet(f"{path}/codes")
    spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(C)],
        "cluster int, center array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    _write_codebooks(spark, cbs, path)


def ivfpq_search_deterministic(
    spark,
    emb_path: str,
    query_id: int = 0,
    top_k: int = 10,
    n_clusters: int = 8,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    iters: int = 20,
    train_sample: int = 1024,
    nprobe: int = 4,
    shortlist: int = 100,
) -> DataFrame:
    """IVFADC search with the provability contract of
    ivf_search_deterministic + pq_search_deterministic COMPOSED (FAISS
    IndexIVFPQ, Jegou et al. 2011 §IV; reference build_faiss.py:30-43 is
    the FAISS surface this completes): coarse centroids AND residual
    codebooks are pure functions of the train_sample LOWEST vec_ids
    (fit_ivfpq_np over a pushed-down bounded driver read), so the DuckDB
    oracle re-fits bit-identical centroid/codebook/LUT literals and
    replays the WHOLE pipeline in SQL — coarse assignment -> probe
    pruning -> residual subspace codes -> per-cluster LUT ADC ->
    shortlist -> exact cosine refine — making the hash check
    recall-independent.

    The scan is ONE fused Arrow numpy kernel per batch: coarse-assign
    (blocked, never (n, k, d)), drop rows outside the probed clusters,
    residual-encode, and per-cluster LUT-sum ADC (_np_adc) — the same
    measured-13x rejection of the interpreted expression forms as
    pq_encode.  Shortlist via TakeOrderedAndProject, refine via a
    broadcast semi-join on the shortlist frame.  At 100 TB the stored
    twin (write_ivfpq_index / ivfpq_search_stored) replaces the inline
    encode with cluster-partition-pruned reads of the codes table; this
    inline variant exists so the DRIVER oracle can prove the composition
    on the un-encoded test parquet."""
    import numpy as np
    import pandas as pd

    _ids, X = _read_embeddings_np(emb_path, limit=train_sample)
    C, cbs = fit_ivfpq_np(X, n_clusters, m, ksub, seed, iters)
    q = np.asarray(_read_query_vec_np(emb_path, query_id), dtype=np.float64)
    probe = _nearest_clusters(q, list(enumerate(C.tolist())), nprobe)
    luts = {
        c: np.asarray(_pq_luts_np(q - C[c], cbs), dtype=np.float64) for c in probe
    }
    cbs_np = [np.asarray(cb, dtype=np.float64) for cb in cbs]
    probe_arr = np.asarray(probe, dtype=np.int64)

    def kern(it):
        for pdf in it:
            Xb = np.asarray(pdf["embedding"].to_list(), dtype=np.float64)
            cl = _np_assign_clusters(Xb, C)
            mask = np.isin(cl, probe_arr)
            ids = pdf["vec_id"].to_numpy()[mask]
            if not mask.any():
                yield pd.DataFrame({"vec_id": ids, "adc": np.zeros(0)})
                continue
            cls = cl[mask]
            codes = _np_assign_codes(Xb[mask] - C[cls], cbs_np)
            adc = np.zeros(len(ids))
            for c in set(cls.tolist()):
                sub = cls == c
                adc[sub] = _np_adc(codes[sub], luts[int(c)])
            yield pd.DataFrame({"vec_id": ids, "adc": adc})

    emb = spark.read.parquet(emb_path)
    short = (
        emb.select("vec_id", "embedding")
        .mapInPandas(kern, "vec_id long, adc double")
        .filter(F.col("vec_id") != query_id)
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(shortlist)
    )
    vecs = emb.join(F.broadcast(short.select("vec_id")), "vec_id")
    return _cosine_topk(vecs, [float(x) for x in q], top_k, "vec_id", "embedding")


def ivfpq_search_stored(
    spark,
    path: str,
    emb_path: str,
    query_id: int = 0,
    top_k: int = 10,
    nprobe: int = 4,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query the stored IVFADC index: rank coarse centroids on the
    driver (k tiny rows), build a PER-PROBED-CLUSTER residual LUT
    (luts[c][j][code] = ||(q - C[c])_j - cb_j[code]||^2), then ADC-scan
    ONLY the probed cluster partitions of the codes table — the plan
    shows PartitionFilters [cluster IN (...)] over a codes-only
    ReadSchema — and refine the shortlist with exact cosine on raw
    vectors fetched by pushed-down id.

    The scan is a JVM when-chain: one ``pq_adc_col`` arm per probed
    cluster, selected by the cluster partition column (CaseWhen
    evaluates only the matched arm, so per-row cost is ~nprobe/2 int
    compares + m lookups regardless of nprobe).  Round-6 A/B at 2M rows
    / nprobe=4: 0.50 s vs 0.62 s for the per-cluster Arrow kernel it
    replaced — same win as pq_search_stored's, smaller margin because
    the kernel amortized Arrow cost over the branchy LUT select (see
    BENCH/BASELINE.md "ADC scan A/B, round 6" for the full record)."""
    import numpy as np

    crows = spark.read.parquet(f"{path}/centroids").collect()
    C = {int(r.cluster): np.asarray(r.center, dtype=np.float64) for r in crows}
    cbs = _read_codebooks(spark, path)
    q = np.asarray(_read_query_vec_np(emb_path, query_id), dtype=np.float64)
    probe = _nearest_clusters(q, [(c, list(v)) for c, v in C.items()], nprobe)
    short = _ivfpq_shortlist(spark, path, q, C, cbs, probe, query_id, shortlist, id_col)
    ids = [r[id_col] for r in short.select(id_col).collect()]
    vecs = spark.read.parquet(emb_path).filter(F.col(id_col).isin(ids))
    return _cosine_topk(vecs, [float(x) for x in q], top_k, id_col, vec_col)


def _ivfpq_shortlist(
    spark, path, q, C, cbs, probe, query_id, shortlist, id_col
) -> DataFrame:
    """The IVFADC shortlist plan (split out so its shape is testable):
    a cluster-partition-pruned codes-only scan with a per-probed-cluster
    `when`-chain of pq_adc_col arms, TakeOrderedAndProject'd to the
    `shortlist` smallest ADC distances."""
    luts = {c: _pq_luts_np(q - C[c], cbs) for c in probe}
    codes = spark.read.parquet(f"{path}/codes").filter(F.col("cluster").isin(probe))
    adc = None
    for c in probe:
        arm = pq_adc_col(F.col("codes"), luts[c])
        adc = (
            F.when(F.col("cluster") == c, arm)
            if adc is None
            else adc.when(F.col("cluster") == c, arm)
        )
    return (
        codes.select(id_col, adc.alias("adc"))
        .filter(F.col(id_col) != query_id)
        .orderBy(F.asc("adc"), F.asc(id_col))
        .limit(shortlist)
    )
