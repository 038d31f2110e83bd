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


def _stub_scaling(monkeypatch, tmp_path, probe):
    """One quiet scaling attempt (1/2/4 cores at 1000/1800/3000 docs/s)
    over a two-document suite, with ``probe`` as the analyzer probe."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from perfbench import host

    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.table({"text": ["def main return", "class value"]}), sf / "documents.parquet")
    dps = {"1": 1000.0, "2": 1800.0, "4": 3000.0}

    def fake_run(cmd, **_kw):
        out = {**GOOD, "docs_per_sec": dps[cmd[cmd.index("--cores") + 1]]}
        return subprocess.CompletedProcess(cmd, 0, stdout=json.dumps(out) + "\n", stderr="")

    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    monkeypatch.setattr(bench, "_load_avg", lambda: 0.0)
    monkeypatch.setattr(bench, "SF_DIR", str(sf))
    monkeypatch.setattr(bench, "SCALING_N", 1)
    monkeypatch.setenv("BEETLE_BENCH_REPEATS", "1")
    monkeypatch.setattr(host, "analyzer_scaling", probe)


def test_scaling_4x_ceiling_comes_from_the_analyzer_probe(monkeypatch, tmp_path):
    """The hardware ceiling is measured once per scaling run by
    perfbench's bare-analyzer probe, not a constant from another box."""
    calls = []

    def probe(texts, workers):
        calls.append((texts, workers))
        return {"workers": workers, "efficiency": 0.6}

    _stub_scaling(monkeypatch, tmp_path, probe)
    sc = bench.run_scaling()["scaling_4x"]
    assert calls == [(["def main return", "class value"], 4)]
    assert sc["efficiency"] == 0.75
    assert sc["hw_ceiling_efficiency_at_4"] == 0.6
    assert sc["engine_vs_ceiling"] == round(0.75 / 0.6, 3)


def test_a_failed_ceiling_probe_is_recorded_not_raised(monkeypatch, tmp_path):
    def probe(_texts, _workers):
        raise OSError("no semaphores")

    _stub_scaling(monkeypatch, tmp_path, probe)
    sc = bench.run_scaling()["scaling_4x"]
    assert sc["efficiency"] == 0.75
    assert sc["hw_ceiling_efficiency_at_4"] is None and sc["engine_vs_ceiling"] is None
    assert "no semaphores" in sc["hw_ceiling_error"]


def test_default_cores_follows_cpu_affinity(monkeypatch):
    """Without SPARK_GRAFT_CPUS a session gets the CPUs this process may
    run on, not a fixed count that oversubscribes a small box."""
    import os

    from beetle_search_engine_spark.sources.session import default_cores

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3


def _stub_suite(monkeypatch, tmp_path, raising: str):
    """A fake ``__spark_entry__`` whose suite leaf ``raising`` raises and
    every other leaf (and index build) succeeds, plus a fake session."""
    import sys
    import types

    from beetle_search_engine_spark.sources import session

    class _Frame:
        def count(self):
            return 1

    def ok(_spark, _sf):
        return _Frame()

    def boom(_spark, _sf):
        raise RuntimeError("leaf exploded")

    qs = {n: ok for n in {*bench.HEADLINE, *bench.P50_QUERIES, *bench.AB_QUERIES}}
    qs[raising] = boom
    entry = types.SimpleNamespace(
        queries=lambda: qs, _engine_index=ok, _engine_index_nostem=ok, _engine_index_fielded=ok
    )
    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(setLogLevel=lambda _lvl: None), stop=lambda: None
    )
    monkeypatch.setitem(sys.modules, "__spark_entry__", entry)
    monkeypatch.setattr(session, "get_spark", lambda *_a, **_k: spark)
    # a private index tag, so the suite's index cleanup touches nothing real
    monkeypatch.setattr(bench, "SF_DIR", str(tmp_path / "sf"))


def test_a_raising_suite_leaf_is_recorded_and_the_suite_goes_on(monkeypatch, tmp_path):
    _stub_suite(monkeypatch, tmp_path, raising="simhash16")
    out, p50, suite_ab, failed = bench.run_queries()
    assert set(failed) == {"simhash16", "simhash16:pass2"}
    assert "leaf exploded" in failed["simhash16"]["error"]
    assert failed["simhash16"]["traceback_tail"].rstrip().endswith("RuntimeError: leaf exploded")
    assert out["simhash16"] is None
    assert all(out[n] is not None for n in bench.HEADLINE if n != "simhash16")
    assert all(out[f"engine_index_build{s}"] is not None for s in ("", "_nostem", "_fielded"))
    assert all(v is not None for v in p50.values())
    assert suite_ab["simhash16"] == {"pass1": None, "pass2": None, "min": None}
    assert suite_ab["token_tf"]["min"] is not None


def test_a_failed_flagship_leaf_still_prints_the_json_line(monkeypatch, tmp_path, capsys):
    _stub_suite(monkeypatch, tmp_path, raising="engine_bm25_or")
    monkeypatch.setattr(bench, "RUN_SCALING", False)
    monkeypatch.chdir(tmp_path)
    (tmp_path / "BENCH").mkdir()
    bench.main()
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["queries"]["engine_bm25_or"] is None and line["query_p50"]["engine_bm25_or"] is None
    assert line["failed_leaves"] == ["engine_bm25_or"]
    assert line["value"] == 0.0
