"""Source-format abstraction: the engine builds identical indexes from
parquet, JSON-lines and ORC corpora (EngineConfig.source_format exists
for Iceberg at deploy time; the reader surface is format-agnostic —
reference stores JSON arrays + CSVs, SURVEY S7-S10)."""

from beetle_search_engine_spark.config import EngineConfig, IndexConfig
from beetle_search_engine_spark.operators.build import build_index
from beetle_search_engine_spark.plans.query import BM25Index
from beetle_search_engine_spark.sources.corpus import generate_corpus

CFG = EngineConfig(
    index=IndexConfig(n_buckets=4, bucket_groups=1, chunk_docs=128, encode_partitions=4)
)


def _top(spark, idx_dir, q="transformer models"):
    return [
        (r["doc_id"], round(r["score"], 9))
        for r in BM25Index(spark, idx_dir).search(q, 10, "or").collect()
    ]


def test_same_index_from_json_and_orc(spark, tmp_path):
    corpus = generate_corpus(spark, 300, seed=17)
    base = str(tmp_path)
    corpus.write.mode("overwrite").parquet(f"{base}/c.parquet")
    corpus.write.mode("overwrite").json(f"{base}/c.json")
    corpus.write.mode("overwrite").orc(f"{base}/c.orc")

    tops = {}
    for fmt, path in (("parquet", f"{base}/c.parquet"), ("json", f"{base}/c.json"), ("orc", f"{base}/c.orc")):
        src = spark.read.format(fmt).load(path)
        if fmt == "json":  # JSON reads need the id column type pinned
            src = src.select("repo", "path", "commit", "lang", "content", "doc_id", "content_sha")
        idx_dir = f"{base}/idx_{fmt}"
        m = build_index(spark, src, idx_dir, fields={"body": "content"}, cfg=CFG, resume=False)
        assert m["n_docs"] == 300
        tops[fmt] = _top(spark, idx_dir)
    assert tops["parquet"] == tops["json"] == tops["orc"]
    assert len(tops["parquet"]) == 10


def test_numbered_row_index_parity(spark, tmp_path):
    """The round-7 JVM fast path (offsets[_pid] + _metadata.row_index)
    must reproduce the Python numbering kernel bit-for-bit on BOTH
    staging layouts (rewrite and zero-copy prestaged)."""
    import pyspark.sql.functions as F

    from beetle_search_engine_spark.operators import docnums as D

    corpus = generate_corpus(spark, 600, seed=7)

    def python_numbered(h, offsets, columns):
        # the fallback kernel, forced (bypasses the JVM fast path)
        import numpy as np
        from pyspark.sql import types as T

        h = h.select("_pid", *columns)
        bc = spark.sparkContext.broadcast(offsets)
        out_fields = [f for f in h.schema.fields if f.name != "_pid"]
        out_schema = T.StructType(out_fields + [T.StructField("docnum", T.LongType())])

        def number(it):
            seen = {}
            for pdf in it:
                if len(pdf) == 0:
                    continue
                pids = pdf["_pid"].to_numpy()
                pdf = pdf.drop(columns=["_pid"])
                docnum = np.empty(len(pdf), dtype=np.int64)
                bounds = np.flatnonzero(np.r_[True, pids[1:] != pids[:-1]])
                for s, e in zip(bounds, np.append(bounds[1:], len(pids))):
                    pid = int(pids[s])
                    start = bc.value[pid] + seen.get(pid, 0)
                    docnum[s:e] = np.arange(start, start + (e - s), dtype=np.int64)
                    seen[pid] = seen.get(pid, 0) + (e - s)
                pdf["docnum"] = docnum
                yield pdf

        return h.mapInPandas(number, schema=out_schema)

    # rewrite staging
    h, offsets, fp = D.stage_corpus(corpus, str(tmp_path / "stage"))
    fast = {r["doc_id"]: r["docnum"] for r in D.numbered(h, offsets, ["doc_id"]).collect()}
    slow = {r["doc_id"]: r["docnum"] for r in python_numbered(h, offsets, ["doc_id"]).collect()}
    assert fast == slow and len(fast) == 600

    # zero-copy prestaged staging
    src = str(tmp_path / "pre")
    corpus.repartition(4, F.col("doc_id")).write.mode("overwrite").parquet(src)
    h2, offsets2, fp2 = D.stage_corpus_prestaged(spark, src, columns=["doc_id", "content"])
    fast2 = {r["doc_id"]: r["docnum"] for r in D.numbered(h2, offsets2, ["doc_id"]).collect()}
    slow2 = {r["doc_id"]: r["docnum"] for r in python_numbered(h2, offsets2, ["doc_id"]).collect()}
    assert fast2 == slow2 and len(fast2) == 600
    # and the fast path really is plan-only (no BatchEvalPython/MapInPandas)
    plan = D.numbered(h2, offsets2, ["doc_id"])._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_stage_corpus_numbers_densely_under_max_records_per_file(spark, tmp_path):
    """A small session ``spark.sql.files.maxRecordsPerFile`` must not
    split a staged partition over several files: the row_index fast path
    would restart at 0 in each and hand out duplicate docnums."""
    from beetle_search_engine_spark.operators import docnums as D

    key = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(key, "7")
    try:
        h, offsets, _fp = D.stage_corpus(
            generate_corpus(spark, 200, seed=3), str(tmp_path / "stage"), partitions=4
        )
        dn = sorted(r["docnum"] for r in D.numbered(h, offsets, ["doc_id"]).collect())
    finally:
        spark.conf.unset(key)
    assert len(h.inputFiles()) == len(offsets)
    assert dn == list(range(200))


def test_numbered_checks_one_file_per_pid(spark, tmp_path):
    """A _pid spread over several files is not taken down the row_index
    fast path; numbered() falls back to the Python numbering kernel."""
    from beetle_search_engine_spark.operators import docnums as D

    path = str(tmp_path / "multi")
    (
        spark.range(40).selectExpr("cast(id as string) as doc_id", "0 as _pid")
        .coalesce(1).write.option("maxRecordsPerFile", 10).parquet(path)
    )
    h = spark.read.parquet(path)
    assert len(h.inputFiles()) == 4
    plan = D.numbered(h, {0: 0}, ["doc_id"])._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" in plan
