"""bench.py never goes dark: a build subprocess that crashes or prints no
JSON is recorded with its stderr tail and retried once, never raised."""

from __future__ import annotations

import json
import subprocess

import bench

GOOD = {"docs_per_sec": 1000.0, "postings_per_sec": 5000.0}


def _stub_runs(monkeypatch, outputs):
    """Replace subprocess.run with stubs printing ``outputs`` in turn
    (None = exit 1 with no stdout at all)."""
    calls = []

    def fake_run(cmd, **_kw):
        out = outputs[len(calls)]
        calls.append(cmd)
        if out is None:
            return subprocess.CompletedProcess(cmd, 1, stdout="", stderr="Traceback\nOOM: boom\n")
        return subprocess.CompletedProcess(cmd, 0, stdout="noise\n" + json.dumps(out) + "\n", stderr="")

    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    return calls


def test_silent_subprocess_is_recorded_and_retried_once(monkeypatch):
    calls = _stub_runs(monkeypatch, [None, None])
    r = bench._bench_build(4, 1)
    assert len(calls) == 2
    assert r["failed"] is True and r["docs_per_sec"] == 0.0
    assert [f["returncode"] for f in r["failed_attempts"]] == [1, 1]
    assert r["failed_attempts"][0]["stderr_tail"].endswith("OOM: boom\n")


def test_retry_recovers_a_silent_run(monkeypatch):
    calls = _stub_runs(monkeypatch, [None, GOOD, {**GOOD, "docs_per_sec": 900.0}])
    r = bench._bench_build(4, 2)
    assert len(calls) == 3
    assert r["docs_per_sec"] == 1000.0 and "failed" not in r
    assert len(r["failed_attempts"]) == 1


def test_timeout_is_recorded_not_raised(monkeypatch):
    def timing_out(cmd, **kw):
        raise subprocess.TimeoutExpired(cmd, kw.get("timeout"), stderr=b"stuck\n")

    monkeypatch.setattr(bench.subprocess, "run", timing_out)
    r = bench._bench_build(1, 1)
    assert r["failed"] is True
    assert [f["stderr_tail"] for f in r["failed_attempts"]] == ["stuck\n", "stuck\n"]


def test_scaling_block_survives_a_dark_core_count(monkeypatch):
    # N=1 runs fine, 2N never prints JSON, 4N fine: the block is still
    # emitted, with the 2N failures recorded and its efficiency unknown
    by_cores = {"1": GOOD, "2": None, "4": {**GOOD, "docs_per_sec": 3000.0}}

    def fake_run(cmd, **_kw):
        out = by_cores[cmd[cmd.index("--cores") + 1]]
        if out is None:
            return subprocess.CompletedProcess(cmd, -9, stdout="", stderr="killed\n")
        return subprocess.CompletedProcess(cmd, 0, stdout=json.dumps(out) + "\n", stderr="")

    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    monkeypatch.setattr(bench, "_load_avg", lambda: 0.0)
    block = bench._scaling_attempt(2, 1)
    assert block["runs_docs_per_sec"] == {"1": [1000.0, 1000.0], "2": [], "4": [3000.0, 3000.0]}
    assert len(block["failed_runs"]["2"]) == 4  # 2 repeats x (run + retry)
    assert block["efficiency"] is None
    assert block["scaling_4x"]["efficiency"] == 0.75
    assert bench._weather_flags(block, 0.0) == []


def test_default_cores_follows_cpu_affinity(monkeypatch):
    """Without SPARK_GRAFT_CPUS a session gets the CPUs this process may
    run on, not a fixed count that oversubscribes a small box."""
    import os

    from beetle_search_engine_spark.sources.session import default_cores

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
