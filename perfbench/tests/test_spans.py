import pytest

from spans import Tracer, charge_jobs, job_costs, layer_self_times, self_times, spark_totals


def span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "parent": parent, "run": "r", "attrs": {}, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        span(0, "bench.timed", 0.0, 10.0),
        span(1, "query.search", 1.0, 3.0, parent=0),
        span(2, "query.search", 4.0, 8.0, parent=0),
        span(3, "wand.kernel", 5.0, 6.0, parent=2),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0})
    assert layer_self_times(spans) == pytest.approx({"bench": 4.0, "query": 5.0, "wand": 1.0})


def test_disabled_tracer_records_nothing():
    t = Tracer("r", enabled=False)
    with t.span("query.search") as rec:
        assert rec is None
    assert t.spans == []


def test_tracer_nests_spans():
    t = Tracer("r", enabled=True)
    with t.span("bench.check"):
        with t.span("query.search", queries=1):
            pass
    inner, outer = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["attrs"] == {"queries": 1}
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def _events():
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r/1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5500,
         "Stage IDs": [1, 2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                          "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {"Shuffle Read Metrics": {"Remote Bytes Read": 40, "Local Bytes Read": 60}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {}},
    ]


def test_job_costs_sum_task_metrics_per_job():
    j0, j1 = job_costs(_events())
    assert (j0["tasks"], j0["failed_tasks"]) == (2, 1)
    assert (j0["shuffle_write_bytes"], j0["shuffle_read_bytes"], j0["spill_bytes"]) == (100, 100, 10)
    assert j0["group"] == "r/1" and j0["submitted"] == 1.5
    assert (j1["tasks"], j1["group"]) == (1, None)


def test_jobs_are_charged_by_group_then_by_time():
    spans = [span(0, "bench.fixture", 0.0, 9.0), span(1, "build.build_index", 1.0, 6.0, parent=0)]
    charge_jobs(spans, job_costs(_events()), "r")
    # job 0 names span 1 by group; job 1 has no group and lands in the
    # innermost span open at 5.5 s
    assert spans[1]["spark"]["jobs"] == 2
    tot = spark_totals(spans, "bench.fixture")
    assert (tot["calls"], tot["jobs"], tot["tasks"]) == (1, 2, 3)


def test_spark_totals_filter_on_attrs():
    spans = [span(0, "query.search_many", 0.0, 1.0), span(1, "query.search_many", 2.0, 3.0)]
    spans[0]["attrs"], spans[1]["attrs"] = {"batch": "probe_dist"}, {"batch": "check"}
    spans[0]["spark"] = {"jobs": 3, "tasks": 12}
    spans[1]["spark"] = {"jobs": 5, "tasks": 20}
    tot = spark_totals(spans, "query.search_many", batch="probe_dist")
    assert (tot["calls"], tot["jobs"], tot["tasks"]) == (1, 3, 12)
    assert spark_totals(spans, "query.search_many")["jobs"] == 8
