"""The guard around the measuring process: a crashed, silent, garbled or
hung run still yields the full metric set, and nothing it started
survives."""

import argparse
import json
import os
import shutil
import subprocess
import sys
import textwrap
import time

import pytest

import host
import run
from metrics import END_TO_END, PER_LAYER


def fake_harness(tmp_path, body: str) -> str:
    path = tmp_path / "fake_harness.py"
    path.write_text("import sys, os, subprocess, time\n" + textwrap.dedent(body))
    return str(path)


def guarded(tmp_path, body: str, trace: int = 0):
    work = tmp_path / "work"
    work.mkdir()
    args = argparse.Namespace(workload="search", seed=1, seconds=1.0, trace=trace)
    line, report = run.measure(args, str(work), harness=fake_harness(tmp_path, body))
    return json.loads(line), report


def assert_dead(obj, names=END_TO_END):
    assert obj["correct"] is False
    assert obj["failed"] >= 1 and obj["attempted"] >= obj["failed"]
    assert set(obj["metrics"]) == set(names)


def test_crash_is_a_failed_run_with_its_stderr_tail(tmp_path):
    obj, report = guarded(tmp_path, 'print("engine exploded", file=sys.stderr); sys.exit(3)')
    assert_dead(obj)
    (fail,) = report["failures"]
    assert "exited with 3" in fail["error"] and "engine exploded" in fail["tail"]


def test_silent_run_is_a_failed_run(tmp_path):
    obj, report = guarded(tmp_path, "pass", trace=1)
    assert_dead(obj, PER_LAYER)
    assert "no usable result" in report["failures"][0]["error"]


def test_garbled_result_is_a_failed_run(tmp_path):
    body = """
    out = sys.argv[sys.argv.index("--out") + 1]
    open(out, "w").write('{"result": "not json"}')
    """
    obj, _ = guarded(tmp_path, body)
    assert_dead(obj)


def test_hung_run_times_out_and_its_processes_are_stopped(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "CHILD_TIMEOUT_S", 2)
    body = """
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    open(os.environ["TMPDIR"] + "/grandchild", "w").write(str(child.pid))
    time.sleep(60)
    """
    obj, report = guarded(tmp_path, body)
    assert_dead(obj)
    assert "timed out" in report["failures"][0]["error"]
    pid = int((tmp_path / "work" / "tmp" / "grandchild").read_text())
    assert not os.path.exists(f"/proc/{pid}")


def test_good_result_passes_through(tmp_path):
    body = """
    import json
    out = sys.argv[sys.argv.index("--out") + 1]
    line = json.dumps({"correct": True, "attempted": 2, "failed": 0,
                       "metrics": {"setup_s": {"value": 1.0, "unit": "s"}}})
    json.dump({"context": {"k": 1}, "failures": [], "mismatches": [], "result": line}, open(out, "w"))
    """
    obj, report = guarded(tmp_path, body)
    assert obj["correct"] is True and obj["attempted"] == 2
    assert report["context"] == {"k": 1} and "failures" not in report


def test_session_env_is_sized_to_the_box(tmp_path):
    env = host.spark_env("/r", str(tmp_path), 4, 15000, None)
    assert env["SPARK_GRAFT_CPUS"] == "4"
    assert int(env["SPARK_DRIVER_MEM"].rstrip("m")) < 15000
    assert env["SPARK_LOCAL_DIRS"].startswith(str(tmp_path))
    assert "spark.eventLog.enabled" not in env["PYSPARK_SUBMIT_ARGS"]


def test_driver_heap_is_touched_only_as_it_fills(tmp_path):
    # a pre-sized, pre-touched heap would make the JVM's part of
    # peak_rss_mb a constant of the benchmark
    args = host.spark_env("/r", str(tmp_path), 4, 15000, None)["PYSPARK_SUBMIT_ARGS"]
    assert "-Xms" not in args and "AlwaysPreTouch" not in args


def test_bare_directory_exits_nonzero_without_a_result(tmp_path):
    root = os.path.dirname(run.HERE)
    shutil.copytree(run.HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(root, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "search", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
    assert "missing" in p.stderr


@pytest.mark.parametrize("trace", [0, 1])
def test_benchmark_json_matches_the_harness(trace):
    root = os.path.dirname(run.HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    key, names = ("per_layer", PER_LAYER) if trace else ("end_to_end", END_TO_END)
    assert {m["name"]: m["unit"] for m in spec[key]} == names


def test_memory_peak_ignores_one_sample_spikes(monkeypatch):
    samples = [100.0, 5000.0, 100.0, 200.0, 210.0]
    seen = []

    def fake(pid):
        seen.append(pid)
        return samples[len(seen) - 1] if len(seen) <= len(samples) else 50.0

    monkeypatch.setattr(host, "tree_rss_mb", fake)
    with host.RssSampler(1, period_s=0.001) as rss:
        deadline = time.monotonic() + 5
        while len(seen) <= len(samples) and time.monotonic() < deadline:
            time.sleep(0.01)
    assert rss.peak_mb == 200.0
