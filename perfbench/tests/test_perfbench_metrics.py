"""The benchmark's metric derivations on synthetic records, without Spark.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``
"""

import json
import math
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import gen  # noqa: E402
from perfbench.metrics import (  # noqa: E402
    backlog,
    driver_gap,
    engine_metrics,
    fingerprint,
    job_group_spans,
    parse_event_log,
    percentile,
    progress_metrics,
    reconcile_error,
    restrict,
    segment_latencies,
    top_percentile,
    union_length,
)


# --- percentile rule ---------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(99)), 0.9) is None
    assert percentile(list(range(100)), 0.9) == pytest.approx(89.1)
    assert percentile(list(range(19)), 0.5) is None
    assert percentile(list(range(20)), 0.5) == pytest.approx(9.5)
    assert percentile([], 0.5) is None


def test_percentile_is_order_free():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0] * 20
    assert percentile(xs, 0.5) == percentile(sorted(xs), 0.5) == 3.0


def test_top_percentile_leaves_exactly_ten_beyond():
    q, v = top_percentile(list(range(40)))
    assert q == pytest.approx(0.75)
    assert v == pytest.approx(29.25)
    assert top_percentile(list(range(19))) == (None, None)


# --- segment latency and backlog ---------------------------------------------


def test_segment_latency_is_last_result_in_any_sink():
    bounds = [0, 2, 5, 6]  # segments: ids 0-1, 2-4, 5
    due = [10.0, 11.0, 12.0]
    sink_a = np.array([10.5, 10.7, 11.2, 11.9, 11.4, 12.1])
    sink_b = np.array([10.6, 10.6, 11.3, 11.3, 13.0, 12.2])
    lat = segment_latencies(due, bounds, [sink_a, sink_b])
    assert lat == pytest.approx([0.7, 2.0, 0.2])


def test_segment_missing_from_a_sink_has_no_latency():
    sink = np.array([1.0, np.nan, 3.0])
    assert segment_latencies([0.0, 2.0], [0, 2, 3], [sink]) == pytest.approx([1.0])


def test_backlog_is_generated_minus_consumed_at_cycle_ends():
    generated = [(1.0, 100), (2.0, 200), (3.0, 300), (4.0, 400)]
    consumed = [(2.5, 150), (3.5, 300), (4.5, 400)]
    assert backlog(generated, consumed) == 50
    assert backlog(generated, [(0.5, 0)]) == 0


# --- driver gap and reconciliation -------------------------------------------


def test_union_merges_overlaps_and_clips():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7)]
    assert union_length(spans) == pytest.approx(4.0)
    assert union_length(spans, 1.5, 5.5) == pytest.approx(2.0)
    assert union_length([]) == 0.0


def test_driver_gap_is_wall_minus_job_union():
    wall = (10.0, 20.0)
    jobs = [(10.5, 12.0), (11.0, 13.0), (15.0, 19.0), (19.5, 21.0)]
    assert driver_gap(wall, jobs) == pytest.approx(10.0 - (2.5 + 4.0 + 0.5))
    assert driver_gap(wall, []) == pytest.approx(10.0)


def test_reconcile_error():
    assert reconcile_error([3.0, 7.0], 10.0) == 0.0
    assert reconcile_error([3.0, 6.0], 10.0) == pytest.approx(0.1)
    assert math.isinf(reconcile_error([1.0], 0.0))


# --- event log ------------------------------------------------------------------


def _task(stage, launch, finish, run_ms, read=0, rows=0, sw=0, sr=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": read, "Records Read": rows},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr, "Fetch Wait Time": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
        },
    }


def _log():
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q1"}},
        _task(0, 1000, 1100, 90, read=500, rows=50, sw=64),
        _task(0, 1000, 1400, 390, read=500, rows=50, sw=64),
        _task(1, 1400, 1500, 100, sr=128),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1800,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "q2"}},
        _task(2, 1800, 2000, 200),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000,
         "Stage IDs": [3], "Properties": {}},
        _task(3, 9000, 9100, 100),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 9100},
    ]


def test_parse_event_log_accepts_json_lines():
    log = parse_event_log(json.dumps(e) for e in _log())
    assert sorted(log["jobs"]) == [0, 1, 2]
    assert log["jobs"][0]["group"] == "q1"
    assert log["stages"][(0, 0)]["tasks"] == 2


def test_engine_metrics_over_measured_window():
    log = restrict(parse_event_log(_log()), 0.9, 2.1)  # drops job 2
    m = engine_metrics(log, [(0.9, 2.1)])
    assert m["spark.jobs"] == 2
    assert m["spark.stages"] == 3
    assert m["spark.tasks"] == 4
    assert m["spark.executor_run_s"] == pytest.approx(0.78)
    assert m["spark.executor_cpu_s"] == pytest.approx(0.78)
    assert m["spark.shuffle_write_bytes"] == 128
    assert m["spark.shuffle_read_bytes"] == 128
    assert m["spark.fetch_wait_s"] == pytest.approx(0.008)
    assert m["sources.scan_bytes"] == 1000
    assert m["sources.scan_rows"] == 100
    assert m["sources.scan_s"] == pytest.approx(0.48)
    # stage 0 tasks took 0.1 s and 0.4 s: max / median = 0.4 / 0.25
    assert m["spark.task_skew"] == pytest.approx(1.6)
    assert m["spark.job_union_s"] == pytest.approx(0.7)
    assert m["spark.driver_gap_s"] == pytest.approx(1.2 - 0.7)
    assert m["spark.reconcile_err"] == pytest.approx(0.0)


def test_job_group_spans():
    spans = job_group_spans(parse_event_log(_log()))
    assert spans == {"q1": [(1.0, 1.5)], "q2": [(1.8, 2.0)]}


# --- streaming progress ---------------------------------------------------------


def _progress(qid, rows, trigger, add, state=None):
    p = {
        "id": qid, "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger, "addBatch": add, "queryPlanning": 5,
                       "latestOffset": 3, "getBatch": 7, "walCommit": 11, "commitOffsets": 13},
    }
    if state:
        p["stateOperators"] = [{"numRowsTotal": state, "memoryUsedBytes": 10 * state}]
    return p


def test_progress_split_between_scan_and_serve():
    progress = [
        _progress("scan", 100, 400, 300, state=7),
        _progress("serve", 100, 300, 250),
        _progress("scan", 50, 200, 150, state=9),
    ]
    m = progress_metrics(progress, {"serve"}, [0.6, 0.5])
    assert m["streaming.rows"] == 150
    assert m["serve.rows"] == 100
    assert m["streaming.add_batch_ms"] == 450
    assert m["serve.add_batch_ms"] == 250
    assert m["streaming.plan_ms"] == 10
    assert m["streaming.offsets_ms"] == 20
    assert m["streaming.commit_ms"] == 48
    assert m["streaming.state_rows"] == 9
    assert m["streaming.state_mem_bytes"] == 90
    assert m["streaming.trigger_s"] == pytest.approx(0.9)
    assert m["streaming.start_overhead_s"] == pytest.approx(1.1 - 0.9)
    assert m["streaming.reconcile_err"] == pytest.approx(0.0)


# --- fingerprints and generated inputs ---------------------------------------------


def test_fingerprint_ignores_row_and_column_order():
    a = fingerprint(["x", "y"], [(1, 0.5), (2, None), (1, 0.5)])
    b = fingerprint(["y", "x"], [(None, 2), (0.5, 1), (0.5, 1)])
    assert a == b
    assert a != fingerprint(["x", "y"], [(1, 0.5), (2, None)])
    assert a != fingerprint(["x", "y"], [(1, 0.5000001), (2, None), (1, 0.5)])


def test_tables_are_a_function_of_the_seed():
    names = {"orders", "lineitem", "documents", "events"}
    one, again, other = (gen.make_tables(s, 0.001, names) for s in (1, 1, 2))
    assert all(one[t].equals(again[t]) for t in names)
    assert not one["lineitem"].equals(other["lineitem"])
    # asking for a subset never changes a table
    assert gen.make_tables(1, 0.001, {"lineitem"})["lineitem"].equals(one["lineitem"])


def test_event_payloads_match_their_columns():
    pool = gen.make_events(3, 500)
    rec = [json.loads(p) for p in pool.payload]
    assert [r["event_id"] for r in rec] == list(range(500))
    assert [r["user_id"] for r in rec] == pool.user.tolist()
    assert [r["value"] for r in rec] == pool.cents.tolist()
    t = pool.table(10, 20, 1_000_000)
    assert t.column("offset").to_pylist() == list(range(10, 20))
    assert t.schema == gen.WIRE
