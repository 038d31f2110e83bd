"""Per-stage cost of warm local ``search()`` + ``collect()`` calls.

Usage: python tools/profile_search.py INDEX_DIR [--seed N] [--queries N]
           [--build-docs N]

Runs the perfbench search stream of ``--seed`` (parse mode, top 10, the
default ``prefer_local``) against the index in INDEX_DIR and times the
real ``BM25Index`` stages with wrappers: ``_parse``, ``_pruned_rows``,
every kernel call ``make_wand_kernel`` hands to ``_rank``, ``_doc_ids``,
``_local_frame`` and the result's ``collect()``; the last stage,
``other``, is the call time outside those stages (glue such as the
term masks and the top-k merge).  The first ``WARMUP``
(20) queries are not measured, so every table row is taken after the
same warm-up.  Prints one markdown table row per index (the
ROADMAP local-latency budget table), each stage cell ``mean / p50`` in ms
per query, and a last cell with the MB the handle holds after the run:
posting buckets / decoded term rows / docids / term dictionary.  With ``--build-docs N`` and
no index in INDEX_DIR, it first builds one from the seed's perfbench
corpus of N documents.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from statistics import mean, median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import inputs  # noqa: E402

from beetle_search_engine_spark.plans import query as query_mod  # noqa: E402
from beetle_search_engine_spark.sources import generate_corpus, get_spark  # noqa: E402

WARMUP = 20
TIMED = ("kernel", "_local_frame", "collect()", "_doc_ids", "_pruned_rows", "_parse")
STAGES = (*TIMED, "other")


def build(spark, index_dir: str, n_docs: int, seed: int) -> None:
    from beetle_search_engine_spark.operators.build import build_index

    corpus = generate_corpus(spark, n_docs, seed=seed)
    build_index(spark, corpus, index_dir, fields=inputs.FIELDS)


def held_bytes(ix) -> dict[str, int]:
    """Bytes of what a handle holds in ``_datasets``: the posting
    buckets (``("postings", bucket)`` keys), the decoded rows of every
    queried term (``("term", t)``: a table shared by the terms decoded
    together, counted once, and the term's runs in it), the docids
    (``docnum_ids``) and the term dictionary (``terms``)."""
    out = {"postings": 0, "decoded": 0, "docids": 0, "terms": 0}
    decoded = {}
    for key, held in ix._datasets.items():
        if isinstance(key, tuple) and key[0] == "postings":
            out["postings"] += held.nbytes
        elif isinstance(key, tuple):
            decoded[id(held[0])] = held[0].nbytes
        elif key == "docnum_ids":
            out["docids"] += sum(part.nbytes for part in held)
        elif key == "terms":
            out["terms"] += held.nbytes
    out["decoded"] = sum(decoded.values())
    return out


def profile(spark, index_dir: str, seed: int, n_queries: int):
    """({"total" and each stage: seconds per measured query}, the
    handle's ``held_bytes`` after the run)."""
    ix = query_mod.BM25Index(spark, index_dir)
    spent: dict[str, float] = {}

    def timed(fn, stage: str):
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                spent[stage] = spent.get(stage, 0.0) + time.perf_counter() - t0
        return wrapper

    for name in ("_parse", "_pruned_rows", "_doc_ids", "_local_frame"):
        setattr(ix, name, timed(getattr(ix, name), name))
    make_kernel = query_mod.make_wand_kernel
    query_mod.make_wand_kernel = lambda *a, **k: timed(make_kernel(*a, **k), "kernel")
    try:
        out: dict[str, list[float]] = {s: [] for s in ("total", *STAGES)}
        stream = inputs.query_stream(seed)
        for i in range(WARMUP + n_queries):
            q = next(stream)
            spent.clear()
            t0 = time.perf_counter()
            df = ix.search(q, inputs.TOP_K, "parse")
            timed(df.collect, "collect()")()
            total = time.perf_counter() - t0
            if i >= WARMUP:
                out["total"].append(total)
                for s in TIMED:
                    out[s].append(spent.get(s, 0.0))
                out["other"].append(total - sum(spent.values()))
        return out, held_bytes(ix)
    finally:
        query_mod.make_wand_kernel = make_kernel


def table_row(label: str, times: dict[str, list[float]], held: dict[str, int]) -> str:
    cells = [f"{mean(v) * 1e3:.1f} / {median(v) * 1e3:.1f}" for v in times.values()]
    cells.append(" / ".join(f"{b / 2**20:.1f}" for b in held.values()))
    return f"| {label} | " + " | ".join(cells) + " |"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("index_dir")
    ap.add_argument("--seed", type=int, default=611, help="perfbench seed of the query stream")
    ap.add_argument("--queries", type=int, default=200, help="measured queries")
    ap.add_argument("--build-docs", type=int, default=0,
                    help="build the seed's perfbench corpus of this many docs when INDEX_DIR has no index")
    args = ap.parse_args(argv)

    spark = get_spark("profile_search")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if not os.path.isfile(os.path.join(args.index_dir, "stats.json")):
            if not args.build_docs:
                ap.error(f"no index in {args.index_dir}; pass --build-docs N to build one")
            build(spark, args.index_dir, args.build_docs, args.seed)
        times, held = profile(spark, args.index_dir, args.seed, args.queries)
        n_docs = query_mod.BM25Index(spark, args.index_dir).stats["n_docs"]
    finally:
        spark.stop()
    print(f"{args.queries} warm queries of perfbench stream seed {args.seed} "
          f"after {WARMUP} unmeasured; ms per query, mean / p50")
    print("| index | call | " + " | ".join(f"`{s}`" if s[0] == "_" else s for s in STAGES)
          + " | held MB (postings / decoded / docids / terms) |")
    print("|---" * (len(STAGES) + 3) + "|")
    print(table_row(f"{n_docs // 1000}k", times, held))
    return 0


if __name__ == "__main__":
    sys.exit(main())
