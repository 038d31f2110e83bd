"""The measuring process: one workload, one seed, one Spark session.

Started by run.py, which guards it; writes its result to ``--out``.  Every
call into the engine goes through ``Run.call``, which records a span (in
the traced run) and counts a raised exception as a failed operation
instead of letting it end the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.append(ROOT)  # the engine package and tests/oracle.py, after our modules

import host  # noqa: E402
import inputs  # noqa: E402
from metrics import END_TO_END, LAYERS, PER_LAYER, Ledger, oracle_mismatch, result_line  # noqa: E402
from spans import Tracer, charge_jobs, job_costs, layer_self_times, read_event_log, spark_totals  # noqa: E402

SETUP_REPS = 3       # set-ups per run; setup_s is their median
BUILD_REPS = 2       # timed builds per build run; call_p50_ms is their median
OVERHEAD_PAIRS = 8   # untraced/traced query pairs behind trace.overhead_pct
PROBE_BATCH = 16     # queries of the traced run's search_many batches


class Run:
    def __init__(self, args):
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.trace, self.work = bool(args.trace), args.work
        self.ledger = Ledger()
        self.tracer = Tracer(f"{args.workload}-{args.seed}", enabled=self.trace)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.context: dict = {}
        self.spark = None
        self.corpus = os.path.join(self.work, "corpus")
        self.index = os.path.join(self.work, "index")
        self._docs = None

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)

    def call(self, name: str, fn, *args, attrs: dict | None = None, **kwargs):
        """One guarded, traced call: returns (ok, value, seconds)."""
        with self.tracer.span(name, **(attrs or {})):
            t0 = time.perf_counter()
            ok, value = self.ledger.attempt(name, fn, *args, **kwargs)
            dt = time.perf_counter() - t0
        return ok, value, dt

    def phase(self, name: str):
        return self.tracer.span(f"bench.{name}")

    # -- shared steps ------------------------------------------------------

    def write_corpus(self, path: str, n_docs: int, seed: int) -> float | None:
        from beetle_search_engine_spark.sources import generate_corpus

        def gen():
            generate_corpus(self.spark, n_docs, seed=seed).write.mode("overwrite").parquet(path)

        ok, _, dt = self.call("corpus.generate_corpus", gen)
        return dt if ok else None

    def build(self) -> dict | None:
        """One build of the corpus into a wiped index directory."""
        from beetle_search_engine_spark.operators.build import build_index

        shutil.rmtree(self.index, ignore_errors=True)
        ok, m, dt = self.call(
            "build.build_index", build_index, self.spark, self.spark.read.parquet(self.corpus),
            self.index, fields=inputs.FIELDS, prestaged=self.corpus,
        )
        if not ok:
            return None
        self.log(f"build {m['n_docs']} docs in {dt:.2f}s")
        return {"s": dt, "bytes_per_posting": m["compressed_bytes"] / max(1, m["postings"])}

    def record_build(self, builds: list[dict]) -> None:
        if builds:
            self.e2e["index_bytes_per_posting"] = median([b["bytes_per_posting"] for b in builds])
            self.layer["build.s"] = median([b["s"] for b in builds])
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.index) for f in fs]
        self.layer["build.files"] = len(files)
        self.layer["build.output_mb"] = sum(os.path.getsize(f) for f in files) / 2**20

    def open_index(self):
        from beetle_search_engine_spark.plans.query import BM25Index

        ok, ix, _ = self.call("query.BM25Index", BM25Index, self.spark, self.index)
        return ix if ok else None

    def corpus_docs(self) -> list[dict]:
        import pyarrow.parquet as pq

        if self._docs is None:
            cols = ["doc_id", *sorted(set(inputs.FIELDS.values()))]
            self._docs = pq.read_table(self.corpus, columns=cols).to_pylist()
        return self._docs

    def search(self, ix, query: str, mode: str = "parse"):
        ok, rows, dt = self.call("query.search", lambda: ix.search(query, inputs.TOP_K, mode).collect())
        return (rows if ok else None), dt

    def search_many(self, ix, queries: list[str], prefer_local: bool, label: str):
        """search_many over ``queries`` -> ({query: rows}, seconds); the
        span carries ``label`` so its Spark costs can be told apart."""
        batch = {f"q{i}": q for i, q in enumerate(queries)}
        ok, rows, dt = self.call(
            "query.search_many",
            lambda: ix.search_many(batch, inputs.TOP_K, "parse", prefer_local=prefer_local).collect(),
            attrs={"queries": len(batch), "batch": label},
        )
        if not ok:
            return None, dt
        out = {q: [] for q in queries}
        for r in rows:
            out[batch[r["query_id"]]].append(r)
        return out, dt

    def compare(self, label: str, got, want) -> None:
        """Rank-identity of two engine answers (both break ties by docnum)."""
        from tests.oracle import assert_rank_identical

        if got is None or want is None:
            return  # the failed call is already counted
        try:
            assert_rank_identical([(r["doc_id"], r["score"]) for r in got],
                                  [(r["doc_id"], r["score"]) for r in want])
        except AssertionError as e:
            self.ledger.mismatch(f"{label}: {e}")

    def check_oracle(self, ix, docs: list[dict] | None = None) -> None:
        """The seeded AND/OR sample against tests/oracle.py's BM25 oracle,
        whose full ranking is kept so ties at the top-k cut can be judged."""
        from tests.oracle import bm25_oracle

        docs = docs if docs is not None else self.corpus_docs()
        for q, mode in inputs.oracle_queries(self.seed):
            rows, _ = self.search(ix, q, mode)
            if rows is None:
                continue  # the failed call is already counted
            with self.phase("oracle"):
                ranking = bm25_oracle(docs, q, inputs.FIELDS, mode=mode, top_k=len(docs))
            diff = oracle_mismatch([(r["doc_id"], r["score"]) for r in rows], ranking, inputs.TOP_K)
            if diff:
                self.ledger.mismatch(f"oracle {mode} {q!r}: {diff}")

    def timed_loop(self, step) -> None:
        """Call ``step()`` at least once, and again while a call of the
        median length so far still ends inside the ``seconds`` window."""
        end = time.monotonic() + self.seconds
        took = []
        with self.phase("timed"):
            while True:
                t0 = time.monotonic()
                step()
                took.append(time.monotonic() - t0)
                if time.monotonic() + median(took) > end:
                    break

    def fixture_index(self) -> bool:
        """Corpus + the session's first build: what the search workload
        queries."""
        with self.phase("fixture"):
            gen = self.write_corpus(self.corpus, inputs.CORPUS_DOCS, self.seed)
            built = self.build() if gen is not None else None
        if gen is not None:
            self.layer["corpus.gen_s"] = gen
        if built:
            self.layer["build.cold_s"] = built["s"]
        self.record_build([built] if built else [])
        return built is not None


# ---------------------------------------------------------------------------
# workloads


def wl_build(run: Run) -> object:
    """Index builds of the seeded corpus into a wiped directory.  Set-up
    writes that corpus; the session's first build warms the JVM and is
    reported apart (build.cold_s); BUILD_REPS timed builds follow it, a
    fixed count, so every run's median rests on as many samples."""
    setup = []
    with run.phase("setup"):
        for r in range(SETUP_REPS):
            dt = run.write_corpus(f"{run.corpus}_{r}", inputs.CORPUS_DOCS, run.seed)
            if dt is not None:
                setup.append(dt)
    if setup:
        run.e2e["setup_s"] = run.layer["corpus.gen_s"] = median(setup)
    if not os.path.isdir(f"{run.corpus}_0"):
        return None
    os.rename(f"{run.corpus}_0", run.corpus)
    with run.phase("warmup"):
        cold = run.build()
    if cold is None:
        return None
    run.layer["build.cold_s"] = cold["s"]
    with run.phase("timed"):
        builds = [b for b in (run.build() for _ in range(BUILD_REPS)) if b]
    run.record_build(builds)
    if builds:
        run.e2e["call_p50_ms"] = median([b["s"] for b in builds]) * 1000
    ix = run.open_index()
    if ix is not None:
        with run.phase("check"):
            run.check_oracle(ix)
    return ix


def wl_search(run: Run) -> object:
    """Warm single-query search() calls on the driver-local path; every
    answer is checked against the distributed path."""
    if not run.fixture_index():
        return None
    warm_q = inputs.queries(run.seed + 1, 1)[0]
    setup, ix = [], None
    with run.phase("setup"):
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            ix = run.open_index()
            if ix is not None and run.search(ix, warm_q)[0] is not None:
                setup.append(time.perf_counter() - t0)
    if setup:
        run.e2e["setup_s"] = median(setup)
    if ix is None:
        return None
    stream, answers, lat = inputs.query_stream(run.seed), {}, []

    def step():
        q = next(stream)
        rows, dt = run.search(ix, q)
        if rows is not None:
            lat.append(dt)
            answers.setdefault(q, rows)

    run.timed_loop(step)
    if lat:
        run.e2e["call_p50_ms"] = median(lat) * 1000
    with run.phase("check"):
        dist, _ = run.search_many(ix, list(answers), prefer_local=False, label="check")
        if dist is not None:
            for q, rows in answers.items():
                run.compare(f"local vs dist {q!r}", rows, dist[q])
        run.check_oracle(ix)
    return ix


WORKLOADS = {"build": wl_build, "search": wl_search}


# ---------------------------------------------------------------------------
# traced run: layer probes and the ingest cycle


def probe_layers(run: Run, ix) -> None:
    """Fixed small calls into the layers the workload itself does not
    reach, so every traced run reports every layer."""
    import pyarrow.dataset as ds

    from beetle_search_engine_spark.functions.analyzer import analyze
    from beetle_search_engine_spark.operators import codecs
    from beetle_search_engine_spark.operators.docnums import numbered, stage_corpus_prestaged
    from beetle_search_engine_spark.operators.tokenize import tokenize
    from beetle_search_engine_spark.operators.wand import make_wand_kernel
    from beetle_search_engine_spark.plans.parser import parse_query

    texts = [d["content"] for d in run.corpus_docs()[:2000]]
    passes = []
    for _ in range(3):  # the first pass also fills the stem cache
        ok, _, dt = run.call("analyzer.analyze", lambda: [analyze(t) for t in texts])
        if ok:
            passes.append(len(texts) / dt)
    if passes:
        run.layer["analyzer.docs_per_s"] = median(passes)

    cols = ["doc_id", *sorted(set(inputs.FIELDS.values()))]
    ok, staged, dt = run.call("docnums.stage_corpus_prestaged", stage_corpus_prestaged, run.spark, run.corpus, columns=cols)
    if ok:
        run.layer["docnums.stage_s"] = dt
        staged_df, offsets, _fp = staged
        tok = tokenize(
            numbered(staged_df, offsets, sorted(set(inputs.FIELDS.values()))),
            inputs.FIELDS, "auto", n_docs_hint=inputs.CORPUS_DOCS,
        )
        ok, _, dt = run.call("tokenize.tokenize", lambda: tok.write.format("noop").mode("overwrite").save())
        if ok:
            run.layer["tokenize.s"] = dt
            ok, n, _ = run.call("tokenize.count", tok.count)
            if ok:
                run.layer["tokenize.rows"] = n

    table = ds.dataset(f"{run.index}/postings", format="parquet", partitioning="hive").to_table(columns=["docs", "tfs"])
    blobs = list(zip(table.column("docs").to_pylist(), table.column("tfs").to_pylist()))
    ok, decoded, dt = run.call("codecs.decode", lambda: [(codecs.decode_docgaps(d), codecs.varint_decode(t)) for d, t in blobs])
    if ok:
        n_post = sum(len(d) for d, _ in decoded)
        run.layer["codecs.decode_mpostings_per_s"] = n_post / dt / 1e6
        ok, enc, dt = run.call("codecs.encode", lambda: [(codecs.encode_docgaps(d), codecs.varint_encode(t)) for d, t in decoded])
        if ok:
            run.layer["codecs.encode_mpostings_per_s"] = n_post / dt / 1e6
            bad = sum(1 for (d, t), (d2, t2) in zip(blobs, enc) if d != d2 or t != t2)
            if bad:
                run.ledger.mismatch(f"codec round trip changed {bad} of {len(blobs)} posting rows")

    batch = inputs.queries(run.seed + 4, PROBE_BATCH)
    dist, dt = run.search_many(ix, batch, prefer_local=False, label="probe_dist")
    local, _ = run.search_many(ix, batch, prefer_local=True, label="probe_local")
    if dist is not None and local is not None:
        run.layer["query.dist_ms_per_query"] = dt / len(batch) * 1000
        for q in batch:
            run.compare(f"dist vs local batch {q!r}", dist[q], local[q])

    qs = inputs.queries(run.seed, 200)
    fields = set(ix.stats.get("fields", []))
    ok, _, dt = run.call("parser.parse_query", lambda: [parse_query(q, ix.analyzer, fields=fields) for q in qs])
    if ok:
        run.layer["parser.parse_us"] = dt / len(qs) * 1e6

    from pyspark.sql import functions as F

    kernel_s, post_in, rows_out = 0.0, 0, 0
    for q, mode in inputs.oracle_queries(run.seed + 2, 8):
        terms = ix.analyzer.analyze_query(q)
        ok, pdf, _ = run.call("query.postings", lambda: ix.postings.filter(F.col("term").isin(terms)).toPandas())
        if not ok or len(pdf) == 0:
            continue
        kern = make_wand_kernel(terms, ix.stats, inputs.TOP_K, mode, deleted=ix.deleted)
        ok, out, dt = run.call("wand.kernel", lambda: [kern(g.reset_index(drop=True)) for _, g in pdf.groupby("chunk")])
        if ok:
            kernel_s += dt
            post_in += int(pdf["n"].sum())
            rows_out += sum(len(o) for o in out)
    run.layer["wand.kernel_ms"] = kernel_s * 1000
    run.layer["wand.postings_in"] = post_in
    run.layer["wand.rows_out"] = rows_out
    run.layer["wand.useful_ratio"] = rows_out / post_in if post_in else 0.0


def probe_ingest(run: Run, ix) -> None:
    """Append a batch, delete a few documents, read, optimize; then check
    the merged index against the oracle over the surviving documents."""
    import pyarrow.parquet as pq

    from beetle_search_engine_spark.operators.build import optimize_index
    from beetle_search_engine_spark.plans.query import BM25Index
    from beetle_search_engine_spark.streaming.incremental import append_epoch

    batch = os.path.join(run.work, "append")
    if run.write_corpus(batch, inputs.APPEND_DOCS, inputs.ingest_seed(run.seed)) is None:
        return
    groups_before = set(os.listdir(f"{run.index}/postings"))
    ok, _, dt = run.call("incremental.append_epoch", append_epoch, run.spark, run.index,
                            run.spark.read.parquet(batch), fields=inputs.FIELDS)
    if ok:
        run.layer["incremental.append_ms"] = dt * 1000
        new = set(os.listdir(f"{run.index}/postings")) - groups_before
        run.layer["incremental.files_added"] = sum(
            len(fs) for g in new for _, _, fs in os.walk(f"{run.index}/postings/{g}")
        )
    run.call("query.refresh_stats", ix.refresh_stats)
    base = run.corpus_docs()
    gone = {base[i]["doc_id"] for i in inputs.delete_rows(run.seed)}
    ok, n, dt = run.call("query.delete_docs", ix.delete_docs, sorted(gone))
    if ok:
        run.layer["incremental.delete_ms"] = dt * 1000
        if n != len(gone):
            run.ledger.mismatch(f"delete_docs removed {n} of {len(gone)} documents")
    for q, mode in inputs.oracle_queries(run.seed)[:2]:
        run.search(ix, q, mode)
    ok, _, dt = run.call("build.optimize_index", optimize_index, run.spark, run.index)
    if not ok:
        return
    run.layer["build.optimize_s"] = dt
    post = [os.path.join(d, f) for d, _, fs in os.walk(f"{run.index}/postings") for f in fs]
    run.layer["build.optimize_mb_rewritten"] = sum(os.path.getsize(f) for f in post) / 2**20
    ok, merged, _ = run.call("query.BM25Index", BM25Index, run.spark, run.index)
    if ok:
        cols = ["doc_id", *sorted(set(inputs.FIELDS.values()))]
        survivors = [d for d in base if d["doc_id"] not in gone] + pq.read_table(batch, columns=cols).to_pylist()
        with run.phase("check"):
            run.check_oracle(merged, survivors)


def measure_overhead(run: Run, ix) -> None:
    """Interleaved untraced/traced search() pairs on the same queries."""
    plain, traced = [], []
    for i, q in enumerate(inputs.queries(run.seed + 3, OVERHEAD_PAIRS)):
        for on in ((False, True) if i % 2 == 0 else (True, False)):
            run.tracer.enabled = on
            rows, dt = run.search(ix, q)
            if rows is not None:
                (traced if on else plain).append(dt)
    run.tracer.enabled = True
    if plain and traced:
        run.layer["trace.overhead_pct"] = (median(traced) / median(plain) - 1.0) * 100


def traced_tables(run: Run, event_log: str | None) -> None:
    spans = run.tracer.spans
    if event_log:
        charge_jobs(spans, job_costs(read_event_log(event_log)), run.tracer.run_id)
    builds = spark_totals(spans, "build.build_index")
    if builds["calls"]:
        n = builds["calls"]
        run.layer["build.spark_jobs"] = builds["jobs"] / n
        run.layer["build.spark_tasks"] = builds["tasks"] / n
        run.layer["build.failed_tasks"] = builds["failed_tasks"] / n
        run.layer["build.shuffle_write_mb"] = builds["shuffle_write_bytes"] / n / 2**20
        run.layer["build.shuffle_read_mb"] = builds["shuffle_read_bytes"] / n / 2**20
        run.layer["build.spill_mb"] = builds["spill_bytes"] / n / 2**20
    # single local search() calls, the path the search workload times
    single = spark_totals(spans, "query.search")
    if single["calls"]:
        run.layer["query.spark_jobs_per_query"] = single["jobs"] / single["calls"]
        run.layer["query.spark_tasks_per_query"] = single["tasks"] / single["calls"]
    # the fixed-size distributed batch of the layer probe
    dist = spark_totals(spans, "query.search_many", batch="probe_dist")
    if dist["calls"]:
        run.layer["query.dist_jobs_per_query"] = dist["jobs"] / (dist["calls"] * PROBE_BATCH)
    app = spark_totals(spans, "incremental.append_epoch")
    if app["calls"]:
        run.layer["incremental.spark_jobs_per_append"] = app["jobs"] / app["calls"]
    selfs = layer_self_times(spans)
    for layer in LAYERS:
        run.layer[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    trace_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{run.workload}-seed{run.seed}.json"), "w") as f:
        json.dump({"context": run.context, "layers": run.layer, "spans": spans}, f, indent=1)


# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--event-log", default=None)
    args = ap.parse_args(argv)
    run = Run(args)
    run.context.update(host.box(), workload=run.workload, seed=run.seed, corpus_docs=inputs.CORPUS_DOCS,
                       spark_cores=os.environ.get("SPARK_GRAFT_CPUS"), driver_mem=os.environ.get("SPARK_DRIVER_MEM"))
    from beetle_search_engine_spark.sources import get_spark

    ok, spark, dt = run.call("session.get_spark", get_spark, "perfbench")
    if ok:
        run.spark = spark
        run.layer["session.start_s"] = dt
        run.tracer.attach(spark.sparkContext)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            _, ix = run.ledger.attempt(run.workload, WORKLOADS[run.workload], run)
            if run.trace and ix is not None:
                with run.phase("probe"):
                    run.ledger.attempt("probe.layers", probe_layers, run, ix)
                    run.ledger.attempt("probe.overhead", measure_overhead, run, ix)
                    run.ledger.attempt("probe.ingest", probe_ingest, run, ix)
        finally:
            run.tracer.attach(None)
            spark.stop()
    if run.trace:
        texts = lambda: [d["content"] for d in run.corpus_docs()[:1500]]  # noqa: E731
        ok, ceiling, _ = run.call("bench.ceiling", lambda: host.analyzer_scaling(texts(), run.context["nproc"]))
        if ok:
            run.context["hw_ceiling"] = ceiling
        run.ledger.attempt("bench.tables", traced_tables, run, args.event_log)
    run.layer["error_rate"] = run.ledger.error_rate()
    run.layer["rank_mismatches"] = run.ledger.mismatches
    # peak_rss_mb is sampled from outside this process, by run.py
    names = PER_LAYER if run.trace else {n: u for n, u in END_TO_END.items() if n != "peak_rss_mb"}
    values = run.layer if run.trace else run.e2e
    missing = [n for n in names if n not in values]
    if missing:
        run.ledger.fail("measure", f"no value for {', '.join(missing)}")
    line = result_line(
        correct=run.ledger.failed == 0 and run.ledger.mismatches == 0,
        attempted=max(1, run.ledger.attempted),
        failed=run.ledger.failed,
        metrics={n: (values.get(n, 0.0), u) for n, u in names.items()},
    )
    with open(args.out, "w") as f:
        json.dump({"context": run.context, "failures": run.ledger.failures,
                   "mismatches": run.ledger.mismatch_notes, "result": line}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
