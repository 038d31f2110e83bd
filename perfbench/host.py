"""The box the benchmark runs on: its size, the session settings derived
from it, the memory of the process tree, the cleanup of that tree, and
the bare-analyzer scaling probe that gives the hardware ceiling.
"""

from __future__ import annotations

import os
import shlex
import signal
import threading
import time


def box() -> dict:
    """Cores usable by this process, physical RAM and the load at launch."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": mem_kb // 1024,
        "loadavg_1m": os.getloadavg()[0],
    }


def driver_mem_mb(ram_mb: int) -> int:
    """Driver heap: a quarter of physical RAM, at most 2 GiB — well below
    RAM, since the box's memory is shared with the Python workers and
    others, and ample for the benchmark's corpora."""
    return max(1024, min(2048, ram_mb // 4))


def spark_env(root: str, work: str, nproc: int, ram_mb: int, event_log: str | None) -> dict:
    """Environment for the measuring process.  Sizing goes through the
    variables ``sources.session.get_spark`` already reads; everything Spark
    and Python write lands under ``work`` (inside the checkout)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = driver_mem_mb(ram_mb)
    confs = [
        "spark.ui.showConsoleProgress=false",
        # the heap is touched only as the engine fills it, so the JVM's share
        # of peak_rss_mb follows the engine's memory; a fixed young
        # generation keeps G1's pause-time sizing of it out of that figure.
        # No perf-data file, which the JVM would write under /tmp
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xmn128m -XX:-UsePerfData",
    ]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_log}",
            # one plain JSON-lines file, readable without a codec
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEM=f"{heap}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # two malloc arenas instead of one per thread: memory freed by one of
        # the JVM's many threads is reused rather than kept resident in an
        # arena of its own, which made peak_rss_mb swing by 10-20% run to run
        MALLOC_ARENA_MAX="2",
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # the JVM spark-submit starts first
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH", "")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell",
    )
    return env


def _proc_stat(pid: int) -> tuple[int, int] | None:
    """(ppid, session id) of ``pid``, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[1]), int(fields[3])
    except (OSError, IndexError, ValueError):
        return None


def _pids() -> list[int]:
    return [int(d) for d in os.listdir("/proc") if d.isdigit()]


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants, with each
    shared page divided among the processes sharing it (the sum of PSS).
    Plain RSS would count the pages a forked Python worker shares with its
    parent once per worker, so the sum would swing with how many workers
    happen to be alive."""
    children: dict[int, list[int]] = {}
    for pid in _pids():
        st = _proc_stat(pid)
        if st:
            children.setdefault(st[0], []).append(pid)
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total_kb / 1024


class RssSampler:
    """Samples the process tree's resident memory on a daemon thread and
    keeps the peak that held for two samples in a row.  A process the JVM
    spawns shares the JVM's address space for a moment (vfork), and a
    sample taken then counts the whole heap twice; no real peak is that
    short."""

    def __init__(self, pid: int, period_s: float = 0.25):
        self.pid, self.period_s = pid, period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self):
        prev = 0.0
        while not self._stop.is_set():
            cur = tree_rss_mb(self.pid)
            self.peak_mb = max(self.peak_mb, min(prev, cur))
            prev = cur
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def session_pids(sid: int) -> list[int]:
    return [p for p in _pids() if (_proc_stat(p) or (0, -1))[1] == sid]


def kill_session(sid: int, wait_s: float = 10.0) -> list[int]:
    """SIGKILL every process of session ``sid`` and wait until all are
    gone; returns the pids that were still alive when called."""
    alive = session_pids(sid)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + wait_s
    while session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.05)
    return alive


# ---------------------------------------------------------------------------
# hardware ceiling: the bare analyzer in N separate processes


def _analyze_all(texts: list[str]) -> int:
    from beetle_search_engine_spark.functions.analyzer import analyze

    n = 0
    for t in texts:
        n += len(analyze(t))
    return n


def analyzer_scaling(texts: list[str], workers: int) -> dict:
    """Docs/s of the bare analyzer with 1 process and with ``workers``
    processes, each analyzing all of ``texts``; efficiency is the
    ``workers``-process rate over ``workers`` times the 1-process rate.
    This is what the hardware allows string-heavy Python work to scale to,
    independent of Spark."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    rates = {}
    for n in sorted({1, workers}):
        with ctx.Pool(n) as pool:
            pool.map(_analyze_all, [texts[:50]] * n)  # start + import
            t0 = time.perf_counter()
            pool.map(_analyze_all, [texts] * n, chunksize=1)
            rates[n] = n * len(texts) / (time.perf_counter() - t0)
    return {
        "workers": workers,
        "docs_per_s_1": round(rates[1], 1),
        f"docs_per_s_{workers}": round(rates[workers], 1),
        "efficiency": round(rates[workers] / (workers * rates[1]), 3),
    }
