"""Tracing for the traced run: spans kept in memory around each call into
a layer, Spark job groups named after the span, and the Spark event log
read back after the session stops to charge jobs, tasks, shuffle and
spill to the span that caused them.

A span is ``{id, name, parent, run, start, end, attrs}``; ``name`` is
``<layer>.<call>`` with the layer named after the engine module called
(``build.build_index``, ``query.search``...) or ``bench.*`` for the
benchmark's own phases.  Times are epoch seconds so they line up with the
event log's millisecond timestamps.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when ``enabled``; otherwise every ``span`` is a no-op
    that costs one generator frame."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id, self.enabled = run_id, enabled
        self.sc = None
        self.spans: list[dict] = []  # finished spans
        self._open: dict[int, dict] = {}
        self._stack: list[int] = []

    def attach(self, spark_context) -> None:
        """Label Spark jobs with the active span from now on."""
        self.sc = spark_context

    def _label(self) -> None:
        if self.sc is None:
            return
        if self._stack:
            sid = self._stack[-1]
            self.sc.setJobGroup(f"{self.run_id}/{sid}", self._open[sid]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans) + len(self._open)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "attrs": attrs,
            "start": time.time(),
        }
        self._open[sid] = rec
        self._stack.append(sid)
        self._label()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            del self._open[sid]
            self._label()
            self.spans.append(rec)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part covered by its children."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Layer (the span name's first dotted part) -> summed self time, s."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + st[s["id"]]
    return out


# ---------------------------------------------------------------------------
# Spark event log


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single, uncompressed) application log under
    ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path) or path.endswith(".crc"):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def job_costs(events: list[dict]) -> list[dict]:
    """One record per Spark job: id, group, submission time (epoch s),
    tasks, failed tasks and shuffle/spill bytes of the stages it ran."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            jobs[jid] = {
                "job": jid,
                "group": props.get("spark.jobGroup.id"),
                "submitted": e["Submission Time"] / 1000.0,
                "tasks": 0,
                "failed_tasks": 0,
                "shuffle_write_bytes": 0,
                "shuffle_read_bytes": 0,
                "spill_bytes": 0,
            }
            for sid in e.get("Stage IDs", ()):
                stage_job[sid] = min(stage_job.get(sid, jid), jid)
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        job = jobs.get(stage_job.get(e.get("Stage ID"), -1))
        if job is None:
            continue
        job["tasks"] += 1
        if (e.get("Task End Reason") or {}).get("Reason") != "Success":
            job["failed_tasks"] += 1
        m = e.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j["job"])


def charge_jobs(spans: list[dict], jobs: list[dict], run_id: str) -> None:
    """Add each job's costs to the span that caused it: the span named by
    its job group, or — for jobs submitted from engine helper threads,
    which carry no group — the innermost span open at submission."""
    by_id = {s["id"]: s for s in spans}
    keys = ("tasks", "failed_tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
    for s in spans:
        s["spark"] = {"jobs": 0, **{k: 0 for k in keys}}
    prefix = f"{run_id}/"
    for j in jobs:
        owner = None
        if j["group"] and j["group"].startswith(prefix):
            owner = by_id.get(int(j["group"][len(prefix):]))
        if owner is None:
            open_spans = [s for s in spans if s["start"] <= j["submitted"] <= s["end"]]
            owner = max(open_spans, key=lambda s: s["start"], default=None)
        if owner is None:
            continue
        owner["spark"]["jobs"] += 1
        for k in keys:
            owner["spark"][k] += j[k]


def spark_totals(spans: list[dict], name: str, **attrs) -> dict:
    """Summed Spark costs of the spans called ``name`` (and carrying every
    given attr) and their descendants, with the number of such spans."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    tot = {"calls": 0, "jobs": 0, "tasks": 0, "failed_tasks": 0,
           "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0}
    roots = (s for s in spans
             if s["name"] == name and all(s["attrs"].get(k) == v for k, v in attrs.items()))
    for root in roots:
        tot["calls"] += 1
        todo = [root]
        while todo:
            s = todo.pop()
            todo.extend(kids.get(s["id"], ()))
            for k, v in s.get("spark", {}).items():
                tot[k] += v
    return tot
