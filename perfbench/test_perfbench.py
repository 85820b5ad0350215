"""Unit tests for the benchmark's own bookkeeping; no Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import metrics as M  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


# ---- tail rule -------------------------------------------------------
def test_tail_keeps_ten_samples_beyond():
    t = M.tail(range(100))
    assert t.value == 89
    assert t.beyond == 10
    assert t.percentile == pytest.approx(100 * 89 / 99)


def test_tail_is_highest_rank_with_ten_beyond():
    for n in range(21, 60):
        t = M.tail(range(n))
        assert t.beyond == 10
        assert t.value == n - 11


def test_tail_never_below_median():
    t = M.tail(range(12))
    assert t.value == 6
    assert t.beyond == 5
    assert M.tail([3.0]).value == 3.0
    assert M.tail([5.0, 1.0]).value == 5.0


def test_tail_ignores_input_order():
    xs = [0.5, 3.0, 0.1, 2.0] * 10
    assert M.tail(xs) == M.tail(sorted(xs))


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        M.tail([])


# ---- metric names ------------------------------------------------------
@pytest.mark.parametrize(
    "name",
    ["setup_s", "op_p50_s", "stream.tumble_dgim_tws.state_mb", "9lives", "a-b.c"],
)
def test_good_names(name):
    assert M.check_name(name) == name


@pytest.mark.parametrize(
    "name", ["", "_x", ".x", "has space", "a/b", "x" * 65, "é"]
)
def test_bad_names(name):
    with pytest.raises(ValueError):
        M.check_name(name)


def test_units():
    for u in ("ms", "s", "1/s", "count", "MB", "%", "ratio"):
        assert M.check_unit(u) == u
    for u in ("", "a b", "x" * 17, "s;"):
        with pytest.raises(ValueError):
            M.check_unit(u)


def test_result_line_rejects_bad_name():
    with pytest.raises(ValueError):
        M.result_line(M.OpLedger(), {"bad name": M.metric(1.0, "s")})


# ---- accounting --------------------------------------------------------
def test_ledger_fractions():
    led = M.OpLedger()
    for _ in range(6):
        led.ok()
    led.fail("boom")
    led.fail("bang")
    for ok in (True, True, True, False):
        led.check(ok, "diff")
    assert (led.attempted, led.failed) == (8, 2)
    assert led.failed_frac == 0.25
    assert led.wrong_frac == 0.25
    assert not led.correct
    assert led.errors == ["boom", "bang", "diff"]


def test_ledger_correct_needs_a_check_and_no_failure():
    led = M.OpLedger()
    led.ok()
    assert not led.correct  # nothing checked
    led.check(True)
    assert led.correct
    assert led.failed_frac == 0.0 and led.wrong_frac == 0.0


def test_empty_ledger_fractions_are_zero():
    led = M.OpLedger()
    assert led.failed_frac == 0.0 and led.wrong_frac == 0.0


def test_result_line_shape():
    led = M.OpLedger()
    led.ok()
    led.check(True)
    line = M.result_line(led, {"wall_s": M.metric(1.5, "s")})
    assert json.loads(line) == {
        "correct": True,
        "attempted": 1,
        "failed": 0,
        "metrics": {"wall_s": {"value": 1.5, "unit": "s"}},
    }


# ---- StreamingQueryProgress ----------------------------------------------
def _progress(batch, rows, trig, state_ops, **dur):
    return {
        "id": "6a1c1f2e-0000-0000-0000-000000000000",
        "runId": "0e0c7f2b-0000-0000-0000-000000000000",
        "batchId": batch,
        "numInputRows": rows,
        "durationMs": {"triggerExecution": trig, **dur},
        "stateOperators": state_ops,
        "sink": {"description": "ForeachBatchSink", "numOutputRows": -1},
    }


CANNED = [
    _progress(
        0, 2990, 1800,
        [{"operatorName": "applyInPandasWithState", "numRowsTotal": 1,
          "numRowsUpdated": 1, "memoryUsedBytes": 2000, "commitTimeMs": 300,
          "numRowsDroppedByWatermark": 0}],
        addBatch=1200, queryPlanning=100, latestOffset=40, walCommit=30,
        commitOffsets=20, getBatch=0,
    ),
    _progress(
        1, 2989, 1500,
        [{"operatorName": "applyInPandasWithState", "numRowsTotal": 2,
          "numRowsUpdated": 2, "memoryUsedBytes": 3000, "commitTimeMs": 250,
          "numRowsDroppedByWatermark": 3}],
        addBatch=1000, queryPlanning=90, latestOffset=35, walCommit=25,
        commitOffsets=15,
    ),
    _progress(
        2, 0, 1200,
        [{"operatorName": "applyInPandasWithState", "numRowsTotal": 1,
          "numRowsUpdated": 0, "memoryUsedBytes": 2500, "commitTimeMs": 200,
          "numRowsDroppedByWatermark": 0}],
        addBatch=900, queryPlanning=80, latestOffset=10, walCommit=20,
        commitOffsets=10,
    ),
]


def test_progress_layers_sums_batches():
    got = M.progress_layers(CANNED)
    assert got == {
        "batches": 3.0,
        "add_batch_ms": 3100.0,
        "planning_ms": 270.0,
        "offsets_ms": 160.0,
        "commit_ms": 45.0,
        "state_rows": 1.0,
        "state_mb": 0.0025,
        "state_commit_ms": 750.0,
        "late_rows": 3.0,
    }


def test_progress_layers_without_state_or_batches():
    assert M.progress_layers([])["batches"] == 0.0
    bare = [_progress(0, 10, 50, [])]
    got = M.progress_layers(bare)
    assert got["state_rows"] == 0.0 and got["state_commit_ms"] == 0.0


def test_trigger_seconds():
    assert M.trigger_seconds(CANNED) == [1.8, 1.5, 1.2]


# ---- BENCHMARK.json ----------------------------------------------------
def test_benchmark_json_names_every_reported_metric():
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    import workloads as W

    assert [w["name"] for w in bench["workloads"]] == list(W.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(
        W.END_TO_END
    )
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(
        W.PER_LAYER
    )
    for m in bench["end_to_end"] + bench["per_layer"]:
        M.check_name(m["name"])
        M.check_unit(m["unit"])
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert set(M.progress_layers(CANNED)) == set(W.STREAM_FIELDS)
