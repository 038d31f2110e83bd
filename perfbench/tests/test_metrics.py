import json

import pytest

from metrics import END_TO_END, Ledger, dead_run_result, oracle_mismatch, parse_result, result_line


def test_ledger_counts_failures_and_keeps_the_tail():
    led = Ledger()
    assert led.attempt("ok", lambda: 7) == (True, 7)

    def boom():
        raise RuntimeError("engine said no")

    assert led.attempt("bad", boom) == (False, None)
    assert (led.attempted, led.failed) == (2, 1)
    assert led.error_rate() == 0.5
    f = led.failures[0]
    assert f["op"] == "bad" and "engine said no" in f["error"]
    assert "RuntimeError" in f["tail"]


def test_error_rate_of_an_empty_ledger_is_zero():
    assert Ledger().error_rate() == 0.0


def test_a_failure_without_an_exception_is_also_an_attempt():
    led = Ledger()
    led.attempt("ok", lambda: None)
    led.fail("measure", "no value for call_p50_ms")
    assert (led.attempted, led.failed, led.error_rate()) == (2, 1, 0.5)


def test_mismatches_are_counted_and_notes_bounded():
    led = Ledger()
    for i in range(30):
        led.mismatch(f"rank {i}")
    assert led.mismatches == 30 and len(led.mismatch_notes) == 20


def test_result_line_has_exactly_the_four_keys():
    line = result_line(True, 3, 0, {"call_p50_ms": (1.5, "ms")})
    obj = json.loads(line)
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}
    assert obj["metrics"]["call_p50_ms"] == {"value": 1.5, "unit": "ms"}
    assert parse_result("noise\n" + line + "\n") == obj


def test_result_line_needs_an_attempt_and_finite_values():
    with pytest.raises(ValueError):
        result_line(True, 0, 0, {})
    with pytest.raises(ValueError):
        result_line(True, 1, 0, {"x": (float("nan"), "s")})


@pytest.mark.parametrize("text", ["", "\n\n", "not json", '{"correct": true}'])
def test_parse_result_rejects_silent_or_garbled_output(text):
    with pytest.raises(ValueError):
        parse_result(text)


def test_dead_run_still_reports_every_metric():
    obj = json.loads(dead_run_result(END_TO_END, 0, 0))
    assert obj["correct"] is False
    assert obj["attempted"] >= 1 and obj["failed"] >= 1
    assert set(obj["metrics"]) == set(END_TO_END)


RANKING = [("a", 3.0), ("b", 2.0), ("c", 1.0), ("d", 1.0), ("e", 0.5)]


def test_oracle_agreement_allows_ties_across_the_cut():
    assert oracle_mismatch(RANKING[:3], RANKING, 3) is None
    assert oracle_mismatch([("a", 3.0), ("b", 2.0), ("d", 1.0)], RANKING, 3) is None
    assert oracle_mismatch([], [], 10) is None


def test_oracle_disagreement_is_reported():
    assert "score" in oracle_mismatch([("a", 3.0), ("c", 1.0), ("b", 2.0)], RANKING, 3)
    assert "does not score" in oracle_mismatch([("a", 3.0), ("b", 2.0), ("e", 1.0)], RANKING, 3)
    assert "does not score" in oracle_mismatch([("a", 3.0), ("b", 2.0), ("c", 1.0), ("c", 1.0)], RANKING, 4)
    assert "results" in oracle_mismatch(RANKING[:2], RANKING, 3)
