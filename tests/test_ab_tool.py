"""Unit tests for tools/ab.py's equality gate: no Spark, arm results are
built by hand."""

import importlib.util
import json
import os

import pytest


def _ab():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "ab_under_test", os.path.join(repo, "tools", "ab.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _res(**queries):
    return {q: {"times": list(ts), "fp": fp} for q, (ts, fp) in queries.items()}


def test_fingerprint_mismatch_lists_queries_and_exits_1(capsys):
    ab = _ab()
    runs = [
        ("A", _res(q1=([1.0, 1.1], "aa"), q2=([2.0, 2.2], "bb"))),
        ("B", _res(q1=([0.9, 1.0], "aa"), q2=([1.5, 1.6], "bX"))),
        ("B", _res(q1=([0.9, 1.0], "aa"), q2=([1.5, 1.6], "bX"))),
        ("A", _res(q1=([1.0, 1.1], "aa"), q2=([2.0, 2.2], "bb"))),
    ]
    assert ab.gate(runs) == 1
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 1
    line = json.loads(out[0])
    assert line["runs"] == ["A", "B", "B", "A"]
    assert line["fingerprint_mismatch"] == {"q2": ["bb", "bX", "bX", "bb"]}
    assert "ratio" not in out[0] and "min" not in out[0]


def test_mismatch_between_runs_of_one_arm_fails(capsys):
    ab = _ab()
    runs = [
        ("A", _res(q=([1.0], "aa"))),
        ("B", _res(q=([1.0], "aa"))),
        ("B", _res(q=([1.0], "aa"))),
        ("A", _res(q=([1.0], "zz"))),
    ]
    assert ab.gate(runs) == 1
    assert json.loads(capsys.readouterr().out)["fingerprint_mismatch"] == {
        "q": ["aa", "aa", "aa", "zz"]
    }


def test_equal_fingerprints_print_one_row_per_query(capsys):
    ab = _ab()
    runs = [
        ("A", _res(q1=([1.0, 1.4], "aa"), q2=([2.0, 2.1, 2.2], "bb"))),
        ("B", _res(q1=([0.6, 0.9], "aa"), q2=([1.0, 1.1, 1.3], "bb"))),
        ("B", _res(q1=([0.5, 0.8], "aa"), q2=([1.2, 1.4, 1.5], "bb"))),
        ("A", _res(q1=([1.2, 1.6], "aa"), q2=([2.4, 2.5, 2.6], "bb"))),
    ]
    assert ab.gate(runs) == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert [r["query"] for r in rows] == ["q1", "q2"]
    q1, q2 = rows
    assert q1["A"] == {"min": 1.0, "median": 1.3}
    assert q1["B"] == {"min": 0.5, "median": 0.7}
    assert q1["ratio"] == 0.5 and q1["fp"] == "aa"
    assert q2["A"] == {"min": 2.0, "median": 2.3}
    assert q2["B"] == {"min": 1.0, "median": 1.25}
    assert q2["ratio"] == 0.5 and q2["fp"] == "bb"


def test_conf_without_equals_is_a_usage_error(capsys):
    ab = _ab()
    with pytest.raises(SystemExit) as e:
        ab.main(["--conf", "spark.sql.shuffle.partitions", "q1_pricing_summary"])
    assert e.value.code == 2
    assert "expected K=V" in capsys.readouterr().err


def test_profile_rows_count_sql_executions_per_attempt():
    ab = _ab()
    sql = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"

    def ev(**kw):
        return json.dumps(kw)

    lines = [
        # attempt 1 (10.0-11.0 s): two executions, the first stamped in its
        # first millisecond, and one job
        ev(Event=sql, executionId=0, time=9_999),
        ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 10_100, "Stage IDs": [0]}),
        ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 10_400}),
        ev(Event=sql, executionId=1, time=10_500),
        # an adaptive-plan update mentions executions but starts none
        ev(Event="org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
           executionId=1, physicalPlanDescription="after SQLExecutionStart"),
        # attempt 2 (12.0-13.0 s): one execution, two jobs
        ev(Event=sql, executionId=2, time=12_100),
        ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 12_200, "Stage IDs": [1]}),
        ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 12_300}),
        ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 12_400, "Stage IDs": [2]}),
        ev(Event="SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 12_500}),
        # outside both attempts
        ev(Event=sql, executionId=3, time=14_000),
    ]
    rows = ab.profile_rows(lines, {"q1": [(10.0, 11.0)], "q2": [(12.0, 13.0)]})
    assert [r["spark.sql_executions"] for r in rows["q1"] + rows["q2"]] == [2, 1]
    assert [r["spark.jobs"] for r in rows["q1"] + rows["q2"]] == [1, 2]
    assert set(rows["q1"][0]) == set(ab.PROFILE_KEYS) | {"spark.sql_executions"}
