"""Benchmark command for the beetle search engine.

    python3 perfbench/run.py --workload build|search \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Starts one measuring process
(harness.py) with its own Spark session sized to the box, and guards it:
a crash, a silent or unparsable result, or a timeout is recorded as a
failed operation with its stderr tail and the full metric set is still
printed.  The last line of standard output is the result object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
give the box and the failures.  Exits 2 without a result when the engine
or its oracle is not in the checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
from harness import WORKLOADS  # noqa: E402
from metrics import END_TO_END, PER_LAYER, dead_run_result, parse_result, result_line, tail  # noqa: E402

HARNESS = os.path.join(HERE, "harness.py")
CHILD_TIMEOUT_S = 160  # the whole command must end within 180 s


def prerequisites() -> list[str]:
    """What the checkout lacks to run the benchmark at all."""
    missing = []
    if not os.path.isfile(os.path.join(ROOT, "beetle_search_engine_spark", "__init__.py")):
        missing.append("engine package beetle_search_engine_spark/")
    if not os.path.isfile(os.path.join(ROOT, "tests", "oracle.py")):
        missing.append("BM25 oracle tests/oracle.py")
    for mod in ("pyspark", "pyarrow", "pandas", "numpy"):
        if importlib.util.find_spec(mod) is None:
            missing.append(f"python module {mod}")
    return missing


def measure(args, work: str, harness: str = HARNESS) -> tuple[str, dict]:
    """Run the measuring process; return (result line, report)."""
    names = PER_LAYER if args.trace else END_TO_END
    box = host.box()
    event_log = os.path.join(work, "eventlog") if args.trace else None
    env = host.spark_env(ROOT, work, box["nproc"], box["ram_mb"], event_log)
    out, log = os.path.join(work, "result.json"), os.path.join(work, "harness.log")
    cmd = [sys.executable, harness, "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out]
    if event_log:
        cmd += ["--event-log", event_log]
    report: dict = {"box_at_launch": box}
    t0 = time.monotonic()
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT, start_new_session=True)
        # memory is sampled from here, so the sampler takes no CPU or
        # interpreter lock from the process being measured
        try:
            with host.RssSampler(proc.pid) as rss:
                proc.wait(timeout=CHILD_TIMEOUT_S)
            problem = None if proc.returncode == 0 else f"measuring process exited with {proc.returncode}"
        except subprocess.TimeoutExpired:
            problem = f"measuring process timed out after {CHILD_TIMEOUT_S} s"
        finally:
            leftovers = host.kill_session(proc.pid)
            proc.wait()
    report["wall_s"] = round(time.monotonic() - t0, 3)
    if leftovers:
        report["killed_leftover_pids"] = len(leftovers)
    with open(log) as f:
        log_tail = tail(f.read(), 20)
    if problem is None:
        try:
            with open(out) as f:
                child = json.load(f)
            result = parse_result(child["result"])
        except (OSError, ValueError, KeyError) as e:
            problem = f"no usable result: {e}"
    if problem is not None:
        report["failures"] = [{"op": "run", "error": problem, "tail": log_tail}]
        return dead_run_result(names, 1, 1), report
    report.update(context=child["context"])
    if child["failures"] or child["mismatches"]:
        report.update(failures=child["failures"], mismatches=child["mismatches"], tail=log_tail)
    metrics = {n: (m["value"], m["unit"]) for n, m in result["metrics"].items()}
    if not args.trace:
        metrics["peak_rss_mb"] = (rss.peak_mb, END_TO_END["peak_rss_mb"])
    return result_line(result["correct"], result["attempted"], result["failed"], metrics), report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated command still stops the measuring process (see measure)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = prerequisites()
    if missing:
        print("perfbench: cannot run, missing " + "; ".join(missing), file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        line, report = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}), flush=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
