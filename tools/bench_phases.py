"""Phase-isolation profiler for the index build (guide §1.4 noop-sink
methodology).  NOT part of the frozen bench contract — extra measurement
only, cited in OPTIMIZATION_r07.md.

Breaks the 150k-doc jvm-tokenizer build into sub-plans and times each
with the noop sink so the computation is measured, not the sink:

  regex      staged read + docnum numbering + token-array expressions
  explode    + size/posexplode to the token stream
  stems      + distinct-token stem dimension (mapInPandas) + join
  tokagg     + groupBy(docnum, field, term) tf aggregation
  tokwrite   full tokenize -> parquet stage write (the real build step)
  dfagg      stage read + groupBy(field, term) df/tfsum aggregation
  encshuf    stage read + hot join + repartition + sortWithinPartitions
  enckern    + mapInPandas encode kernel
  encwrite   + partitionBy(bucket) parquet write (the real build step)

Run: python tools/bench_phases.py --cores 4 --docs 150000
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from beetle_search_engine_spark.config import EngineConfig, IndexConfig  # noqa: E402
from beetle_search_engine_spark.operators import build as B  # noqa: E402
from beetle_search_engine_spark.operators.docnums import numbered, stage_corpus_prestaged  # noqa: E402
from beetle_search_engine_spark.operators.tokenize import tokenize_jvm  # noqa: E402
from beetle_search_engine_spark.sources.corpus import generate_corpus  # noqa: E402
from beetle_search_engine_spark.sources.session import get_spark  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--docs", type=int, default=150000)
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()

    layout_parts = 8
    spark = get_spark(
        f"bench-phases-{args.cores}", cores=args.cores, shuffle_partitions=layout_parts
    )
    spark.sparkContext.setLogLevel("ERROR")
    cfg = EngineConfig(
        tokenizer="jvm",
        index=IndexConfig(
            n_buckets=512, bucket_groups=1, chunk_docs=1 << 14,
            encode_partitions=layout_parts,
        ),
    )
    src = f"/tmp/bench_corpus_{args.docs}_{args.seed}_p{layout_parts * 2}"
    if not os.path.exists(src):
        (
            generate_corpus(spark, args.docs, seed=args.seed)
            .repartition(layout_parts * 2, F.col("doc_id"))
            .write.mode("overwrite").parquet(src)
        )

    fields = {"title": "path", "body": "content"}
    staged, offsets, fp = stage_corpus_prestaged(
        spark, src, columns=["doc_id", "content", "path"]
    )
    out: dict[str, float] = {}

    def timed(label, fn):
        spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        fn()
        out[label] = round(time.time() - t0, 2)
        print(f"  {label}: {out[label]}s", flush=True)
        spark.sparkContext.setJobDescription(None)

    tok_input = numbered(staged, offsets, ["content", "path"])

    from beetle_search_engine_spark.functions.analyzer import get_analyzer
    from beetle_search_engine_spark.operators.tokenize import (
        _jvm_token_array,
    )

    analyzer = get_analyzer("whoosh")

    # regex only: token arrays, no explode
    def regex_only():
        proj = tok_input.select(
            "docnum",
            *[
                _jvm_token_array(col, analyzer).alias(f"toks_{fname}")
                for fname, col in sorted(fields.items())
            ],
        )
        noop(proj)

    timed("regex", regex_only)

    def explode_only():
        parts = []
        for fname, col in sorted(fields.items()):
            toks = _jvm_token_array(col, analyzer)
            pre = tok_input.select("docnum", F.lit(fname).alias("field"), toks.alias("toks"))
            parts.append(
                pre.select(
                    "docnum", "field", F.size("toks").alias("dl"),
                    F.explode("toks").alias("token"),
                )
            )
        ex = parts[0]
        for p in parts[1:]:
            ex = ex.unionByName(p)
        return ex

    timed("explode", lambda: noop(explode_only()))

    def with_stems():
        import pandas as pd

        from beetle_search_engine_spark.functions.analyzer import _cached_stem

        ex = explode_only()

        def stem_batch(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    {"token": pdf["token"], "term": [_cached_stem(t) for t in pdf["token"]]}
                )

        stems = ex.select("token").distinct().mapInPandas(stem_batch, "token string, term string")
        return ex.join(F.broadcast(stems), "token")

    timed("stems", lambda: noop(with_stems()))

    def tok_full():
        return tokenize_jvm(tok_input, fields, "whoosh", True, False)

    timed("tokagg", lambda: noop(tok_full()))

    stage_path = "/tmp/bench_phases_tokens"
    shutil.rmtree(stage_path, ignore_errors=True)
    timed("tokwrite", lambda: tok_full().write.mode("overwrite").parquet(stage_path))

    tokens = spark.read.parquet(stage_path)
    timed(
        "dfagg",
        lambda: noop(
            tokens.groupBy("field", "term").agg(
                F.count(F.lit(1)).alias("df"), F.sum("tf").alias("tfsum")
            )
        ),
    )

    # encode phases — replicate _encode_groups' plan
    n_docs = fp["n_docs"]
    stats = {
        "n_docs": n_docs,
        "avgdl": {"title": 5.0, "body": 180.0},
        "fields": sorted(fields),
    }
    # true avgdl for score parity does not matter for timing; use df agg
    rows = tokens.groupBy("field").agg(F.sum("tf").alias("s")).collect()
    stats["avgdl"] = {r["field"]: float(r["s"]) / n_docs for r in rows}
    hot_df = {}
    field_names = sorted(fields)
    base, part_key, enc_cols = B._encode_input(spark, tokens, cfg, hot_df, field_names)
    shuffled = (
        base.repartition(layout_parts, part_key)
        .sortWithinPartitions("fid", "term", "docnum")
        .select(*enc_cols)
    )
    timed("encshuf", lambda: noop(shuffled))

    kernel = B._make_encode_kernel(cfg, stats, hot_df, field_names=field_names)
    enc = shuffled.mapInArrow(kernel, schema=B.POSTINGS_SCHEMA)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    timed("enckern", lambda: noop(enc))
    out_path = "/tmp/bench_phases_postings"
    shutil.rmtree(out_path, ignore_errors=True)
    timed(
        "encwrite",
        lambda: enc.write.mode("overwrite").partitionBy("bucket").parquet(out_path),
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    print(json.dumps({"cores": args.cores, "docs": args.docs, "phases": out}))
    spark.stop()


if __name__ == "__main__":
    main()
