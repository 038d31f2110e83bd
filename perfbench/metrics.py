"""Arithmetic of the benchmark's result: the metric names, failure
accounting and the one-line JSON the command prints last.

Kept free of Spark and of the engine so the unit tests can pin it down.
"""

from __future__ import annotations

import json
import traceback

# The end-to-end metrics every untraced run reports, name -> unit.  Each
# workload measures all of them (see README.md for what each one means on
# each workload); BENCHMARK.json lists the same names.
END_TO_END = {
    "setup_s": "s",
    "call_p50_ms": "ms",
    "index_bytes_per_posting": "B",
    "peak_rss_mb": "MB",
}

# Layers, named after the engine modules the traced run calls into;
# ``bench`` is the benchmark's own work between those calls.
LAYERS = (
    "session", "corpus", "analyzer", "docnums", "tokenize", "build",
    "codecs", "wand", "parser", "query", "incremental", "bench",
)

# The per-layer metrics every traced run reports, name -> unit.
PER_LAYER = {
    "session.start_s": "s",
    "corpus.gen_s": "s",
    "analyzer.docs_per_s": "1/s",
    "docnums.stage_s": "s",
    "tokenize.s": "s",
    "tokenize.rows": "count",
    "build.s": "s",
    "build.cold_s": "s",
    "build.spark_jobs": "count",
    "build.spark_tasks": "count",
    "build.failed_tasks": "count",
    "build.shuffle_write_mb": "MB",
    "build.shuffle_read_mb": "MB",
    "build.spill_mb": "MB",
    "build.output_mb": "MB",
    "build.files": "count",
    "build.optimize_s": "s",
    "build.optimize_mb_rewritten": "MB",
    "codecs.encode_mpostings_per_s": "M/s",
    "codecs.decode_mpostings_per_s": "M/s",
    "parser.parse_us": "us",
    "wand.kernel_ms": "ms",
    "wand.postings_in": "count",
    "wand.rows_out": "count",
    "wand.useful_ratio": "ratio",
    "query.spark_jobs_per_query": "count",
    "query.spark_tasks_per_query": "count",
    "query.dist_ms_per_query": "ms",
    "query.dist_jobs_per_query": "count",
    "incremental.append_ms": "ms",
    "incremental.spark_jobs_per_append": "count",
    "incremental.files_added": "count",
    "incremental.delete_ms": "ms",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.overhead_pct": "%",
    "error_rate": "ratio",
    "rank_mismatches": "count",
}


class Ledger:
    """Counts every guarded operation of a run and keeps the failures.

    ``attempt`` wraps one call: an exception is recorded with its
    traceback tail and swallowed, so one failed call never takes the run
    (or its result line) down with it."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[dict] = []
        self.mismatches = 0
        self.mismatch_notes: list[str] = []

    @property
    def failed(self) -> int:
        return len(self.failures)

    def attempt(self, what: str, fn, *args, **kwargs):
        """Run ``fn``; return (ok, value).  A raised exception counts as a
        failed operation and returns (False, None)."""
        self.attempted += 1
        try:
            return True, fn(*args, **kwargs)
        except Exception as e:  # the run must survive any single call
            self._failed(what, f"{type(e).__name__}: {e}", traceback.format_exc())
            return False, None

    def fail(self, what: str, error: str) -> None:
        """Count an operation that failed without raising."""
        self.attempted += 1
        self._failed(what, error, "")

    def _failed(self, what: str, error: str, detail: str) -> None:
        self.failures.append({"op": what, "error": error[:500], "tail": tail(detail)})

    def mismatch(self, note: str) -> None:
        self.mismatches += 1
        if len(self.mismatch_notes) < 20:
            self.mismatch_notes.append(note[:300])

    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def oracle_mismatch(got: list[tuple[str, float]], ranking: list[tuple[str, float]], k: int,
                    rel_tol: float = 1e-9) -> str | None:
    """Compare an engine top-``k`` with the oracle's full ranking; None when
    they agree, else what differs.  The scores must match rank by rank and
    every returned doc must hold its score in the oracle; which of several
    equally scored docs is returned is free, also where the tie straddles
    the top-k cut (the engine breaks ties by docnum, the oracle by doc_id)."""
    want = ranking[:k]
    if len(got) != len(want):
        return f"{len(got)} results, oracle has {len(want)}"
    score_of = dict(ranking)
    close = lambda a, b: abs(a - b) <= rel_tol * max(1.0, abs(b))  # noqa: E731
    seen = set()
    for i, ((doc, score), (_, want_score)) in enumerate(zip(got, want)):
        if not close(score, want_score):
            return f"rank {i}: score {score} vs oracle {want_score}"
        if doc in seen or doc not in score_of or not close(score_of[doc], score):
            return f"rank {i}: doc {doc} does not score {score} in the oracle"
        seen.add(doc)
    return None


def tail(text: str, lines: int = 12) -> str:
    """Last ``lines`` non-empty lines of ``text`` (stderr / traceback tails)."""
    kept = [ln for ln in (text or "").splitlines() if ln.strip()]
    return "\n".join(kept[-lines:])


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    """The JSON object the command prints as its last line."""
    if attempted < 1:
        raise ValueError("a result needs at least one attempted operation")
    body = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(value), "unit": unit}
            for name, (value, unit) in metrics.items()
        },
    }
    return json.dumps(body, allow_nan=False)


def parse_result(text: str) -> dict:
    """Parse the last non-empty line of ``text`` as a result object;
    raises ValueError on empty or malformed output."""
    lines = [ln for ln in (text or "").splitlines() if ln.strip()]
    if not lines:
        raise ValueError("no output")
    try:
        obj = json.loads(lines[-1])
    except json.JSONDecodeError as e:
        raise ValueError(f"unparsable result line: {e}") from None
    if not isinstance(obj, dict) or set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("result line lacks correct/attempted/failed/metrics")
    return obj


def dead_run_result(names: dict[str, str], attempted: int, failed: int) -> str:
    """Result line for a run whose measurements were lost (a crashed,
    silent or timed-out child): the full metric set, every value 0, and
    the run marked incorrect with all its operations failed."""
    attempted = max(1, attempted)
    return result_line(False, attempted, max(1, failed), {n: (0.0, u) for n, u in names.items()})
