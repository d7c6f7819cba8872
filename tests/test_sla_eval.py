"""SLA evaluator tests — gap-fill, m-of-n, missing-data policies, state
machine — property-tested against a plain-Python oracle (SURVEY §5 plan #4)."""

import datetime as dt
import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from aws_dataset_ingestion_metrics_collection_framework_spark.operators.sla_eval import (
    LOOKBACK_FACTOR,
    alarm_states,
    build_alerts,
    evaluate_slas,
    gap_fill,
    state_transitions,
)

T0 = dt.datetime(2026, 1, 1)
PERIOD = 3600

SERIES_SCHEMA = "series_id string, ws timestamp, value double"
SLA_SCHEMA = (
    "sla_id string, series_id string, threshold double, comparison_operator string, "
    "datapoints_to_alarm int, evaluation_periods int, treat_missing_data string, period int"
)


def series_df(spark, values):
    """values: list of (slot_index, value) — missing slots simply absent."""
    rows = [("s1", T0 + dt.timedelta(seconds=PERIOD * i), float(v)) for i, v in values]
    return spark.createDataFrame(rows, SERIES_SCHEMA)


def sla_df(spark, threshold=5.0, op="GREATER_THAN_THRESHOLD", m=1, n=1, policy="NOT_BREACHING"):
    return spark.createDataFrame(
        [("sla1", "s1", threshold, op, m, n, policy, PERIOD)], SLA_SCHEMA
    )


def run(spark, values, **sla_kwargs):
    out = evaluate_slas(series_df(spark, values), sla_df(spark, **sla_kwargs))
    return [r["statevalue"] for r in out.orderBy("ws").collect()]


# ---------- Python oracle (independent re-implementation of the model) ----------

def oracle(values_by_slot, n_slots, threshold, op, m, n, policy):
    import operator as _op

    ops = {
        "GREATER_THAN_THRESHOLD": _op.gt,
        "GREATER_THAN_OR_EQUAL_TO_THRESHOLD": _op.ge,
        "LESS_THAN_THRESHOLD": _op.lt,
        "LESS_THAN_OR_EQUAL_TO_THRESHOLD": _op.le,
    }
    cmp = ops[op]
    lookback = max(n * LOOKBACK_FACTOR, 1)
    states = []
    hist = []  # (value or None)
    for slot in range(n_slots):
        hist.append(values_by_slot.get(slot))
        window = hist[-lookback:]
        if policy == "NOT_BREACHING":
            lastn = window[-n:]
            breaches = sum(1 for v in lastn if v is not None and cmp(v, threshold))
            states.append("ALARM" if breaches >= m else "OK")
        elif policy == "BREACHING":
            lastn = window[-n:]
            breaches = sum(1 for v in lastn if v is None or cmp(v, threshold))
            states.append("ALARM" if breaches >= m else "OK")
        else:  # IGNORE / MISSING
            obs = [v for v in window if v is not None][-n:]
            if not obs:
                states.append("INSUFFICIENT_DATA")
            else:
                breaches = sum(1 for v in obs if cmp(v, threshold))
                states.append("ALARM" if breaches >= m else "OK")
    return states


# ------------------------------- direct cases -------------------------------

def test_gap_fill_generates_missing_slots(spark):
    grid = gap_fill(series_df(spark, [(0, 1.0), (3, 2.0)]), sla_df(spark))
    rows = grid.orderBy("ws").collect()
    assert len(rows) == 4
    assert [r["value"] for r in rows] == [1.0, None, None, 2.0]


def test_simple_threshold_alarm(spark):
    assert run(spark, [(0, 1.0), (1, 6.0), (2, 2.0)]) == ["OK", "ALARM", "OK"]


def test_statereason_names_each_operator(spark):
    phrases = {
        "GREATER_THAN_THRESHOLD": "were greater than the threshold",
        "GREATER_THAN_OR_EQUAL_TO_THRESHOLD": "were greater than or equal to the threshold",
        "LESS_THAN_THRESHOLD": "were less than the threshold",
        "LESS_THAN_OR_EQUAL_TO_THRESHOLD": "were less than or equal to the threshold",
    }
    slas = spark.createDataFrame(
        [(op, "s1", 5.0, op, 1, 1, "NOT_BREACHING", PERIOD) for op in phrases], SLA_SCHEMA
    )
    out = evaluate_slas(series_df(spark, [(0, 5.0)]), slas).collect()
    assert {r["sla_id"]: r["statereason"] for r in out}.keys() == phrases.keys()
    for r in out:
        assert phrases[r["sla_id"]] in r["statereason"], r["sla_id"]


def test_alarm_states_breach_per_operator():
    """Each operator's breach at and around the threshold; a missing value
    never breaches, and an unknown operator name raises, naming the SLA."""
    rows = [
        (5.0, "GREATER_THAN_THRESHOLD", 4.0, True),
        (4.0, "GREATER_THAN_THRESHOLD", 4.0, False),
        (4.0, "GREATER_THAN_OR_EQUAL_TO_THRESHOLD", 4.0, True),
        (3.0, "LESS_THAN_THRESHOLD", 4.0, True),
        (4.0, "LESS_THAN_THRESHOLD", 4.0, False),
        (4.0, "LESS_THAN_OR_EQUAL_TO_THRESHOLD", 4.0, True),
        (math.nan, "GREATER_THAN_THRESHOLD", 4.0, False),
    ]
    breach, *_ = alarm_states(
        np.array([f"s{i}" for i in range(len(rows))], object),
        [v for v, *_ in rows],
        [t for _, _, t, _ in rows],
        np.array([op for _, op, *_ in rows], object),
        1,
        1,
        "NOT_BREACHING",
    )
    assert breach.tolist() == [e for *_, e in rows]
    with pytest.raises(ValueError, match="SLA 'b': unknown comparison_operator 'GreaterThanThreshold'"):
        alarm_states(
            np.array(["a", "b"], object),
            [5.0, 5.0],
            4.0,
            np.array(["GREATER_THAN_THRESHOLD", "GreaterThanThreshold"], object),
            1,
            1,
            "NOT_BREACHING",
        )


@pytest.mark.parametrize(
    "bad, match",
    [
        ({"op": "GreaterThanThreshold"}, "SLA 'sla1': unknown comparison_operator 'GreaterThanThreshold'"),
        ({"policy": "notBreaching"}, "SLA 'sla1': unknown treat_missing_data 'notBreaching'"),
    ],
    ids=["operator", "policy"],
)
def test_unknown_operator_or_policy_raises(spark, bad, match):
    with pytest.raises(PythonException, match=match):
        run(spark, [(0, 9.0)], **bad)


def test_nan_datapoint_is_missing(spark):
    """A NaN datapoint is a missing slot, in batch and in streaming."""
    from tests.test_alarm_state_props import run_stream

    out = evaluate_slas(series_df(spark, [(0, 1.0), (1, math.nan)]), sla_df(spark)).orderBy("ws").collect()
    assert [r["statevalue"] for r in out] == ["OK", "OK"]
    assert out[1]["breach"] is None
    params = {"threshold": 5.0, "op": "GREATER_THAN_THRESHOLD", "m": 1, "n": 1, "policy": "NOT_BREACHING"}
    assert run_stream([[(0, 1.0), (1, math.nan)]], params) == {0: "OK", 1: "OK"}


def test_building_evaluate_slas_runs_no_job(spark):
    series, slas = series_df(spark, [(0, 1.0), (2, 9.0)]), sla_df(spark)
    sc = spark.sparkContext
    sc.setJobGroup("evaluate-slas-build", "plan build only")
    try:
        evaluate_slas(series, slas)
        assert sc.statusTracker().getJobIdsForGroup("evaluate-slas-build") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_m_of_n(spark):
    # m=2 of n=3, breach slots 1,3
    got = run(spark, [(0, 9.0), (1, 1.0), (2, 9.0), (3, 9.0)], m=2, n=3)
    #   slot0: [9] → 1 breach < 2 → OK
    #   slot1: [9,1] → 1 → OK
    #   slot2: [9,1,9] → 2 → ALARM
    #   slot3: [1,9,9] → 2 → ALARM
    assert got == ["OK", "OK", "ALARM", "ALARM"]


def test_missing_not_breaching(spark):
    got = run(spark, [(0, 9.0), (3, 9.0)], m=1, n=1)
    assert got == ["ALARM", "OK", "OK", "ALARM"]


def test_missing_breaching(spark):
    got = run(spark, [(0, 1.0), (3, 1.0)], policy="BREACHING")
    assert got == ["OK", "ALARM", "ALARM", "OK"]


def test_missing_ignore_carries_state(spark):
    got = run(spark, [(0, 9.0), (3, 1.0)], policy="IGNORE")
    # slots 1,2 evaluate on last observed datapoint (9.0) → stay ALARM
    assert got == ["ALARM", "ALARM", "ALARM", "OK"]


def test_all_missing_insufficient(spark):
    # MISSING policy + leading gap: first slots have an observed value only at 0
    got = run(spark, [(0, 1.0), (2, 9.0)], policy="MISSING")
    assert got == ["OK", "OK", "ALARM"]


def test_state_transitions(spark):
    out = evaluate_slas(
        series_df(spark, [(0, 1.0), (1, 9.0), (2, 9.0), (3, 1.0)]), sla_df(spark)
    )
    trans = state_transitions(out).orderBy("ws").collect()
    assert [(str(r["ws"]), r["statevalue"]) for r in trans] == [
        ("2026-01-01 00:00:00", "OK"),
        ("2026-01-01 01:00:00", "ALARM"),
        ("2026-01-01 03:00:00", "OK"),
    ]


def test_build_alerts(spark):
    out = evaluate_slas(series_df(spark, [(0, 1.0), (1, 9.0)]), sla_df(spark))
    trans = state_transitions(out)
    meta = spark.createDataFrame(
        [("sla1", "details!", "short", "SEV 5", True, "Invocations", "day", "hello_world", "fn")],
        "sla_id string, details string, short_description string, severity string, "
        "sns_enabled boolean, metric_name string, frequency string, dimension_value string, "
        "reference_id string",
    )
    alerts = build_alerts(trans, meta).collect()
    assert len(alerts) == 1
    import json

    payload = json.loads(alerts[0]["payload"])
    assert payload["impact"] == "SEV 5"
    assert payload["unique_id"] == "hello_world-Invocations-day"
    assert payload["alarm_origin"] == "Data Governance"
    assert "ALARM state" in payload["short_description"]


def test_mixed_n_per_sla_lookback(spark):
    """Two SLAs with different evaluation_periods must each use their OWN
    n × LOOKBACK_FACTOR window for IGNORE/MISSING — not the global max.

    SLA a (n=1, lookback 4) sees no observation after slot 4 and must go
    INSUFFICIENT_DATA; a global-max window (n=3 → 12 slots) would keep the
    slot-0 observation visible through slot 11 and wrongly carry ALARM."""
    series = series_df(spark, [(0, 9.0), (11, 1.0)])
    slas = spark.createDataFrame(
        [
            ("a", "s1", 5.0, "GREATER_THAN_THRESHOLD", 1, 1, "MISSING", PERIOD),
            ("b", "s1", 5.0, "GREATER_THAN_THRESHOLD", 2, 3, "MISSING", PERIOD),
        ],
        SLA_SCHEMA,
    )
    out = evaluate_slas(series, slas)
    got = {
        sla: [r["statevalue"] for r in rows]
        for sla, rows in (
            (sla, sorted((r for r in out.collect() if r["sla_id"] == sla), key=lambda r: r["ws"]))
            for sla in ("a", "b")
        )
    }
    data = {0: 9.0, 11: 1.0}
    for sla, (m, n) in (("a", (1, 1)), ("b", (2, 3))):
        expected = oracle(data, 12, 5.0, "GREATER_THAN_THRESHOLD", m, n, "MISSING")
        assert got[sla] == expected, (sla, got[sla], expected)


# ----------------------------- property testing -----------------------------

@settings(max_examples=15, deadline=None)
@given(
    data=st.dictionaries(st.integers(0, 9), st.floats(0, 10, allow_nan=False), min_size=1),
    threshold=st.sampled_from([2.0, 5.0, 8.0]),
    op=st.sampled_from([
        "GREATER_THAN_THRESHOLD",
        "GREATER_THAN_OR_EQUAL_TO_THRESHOLD",
        "LESS_THAN_THRESHOLD",
        "LESS_THAN_OR_EQUAL_TO_THRESHOLD",
    ]),
    mn=st.sampled_from([(1, 1), (2, 3), (3, 3)]),
    policy=st.sampled_from(["NOT_BREACHING", "BREACHING", "IGNORE", "MISSING"]),
)
def test_property_matches_oracle(spark, data, threshold, op, mn, policy):
    m, n = mn
    values = sorted(data.items())
    n_slots = max(data) - min(data) + 1
    base = min(data)
    shifted = {k - base: v for k, v in data.items()}
    got = run(
        spark,
        [(k - base, v) for k, v in values],
        threshold=threshold,
        op=op,
        m=m,
        n=n,
        policy=policy,
    )
    expected = oracle(shifted, n_slots, threshold, op, m, n, policy)
    assert got == expected, (shifted, threshold, op, m, n, policy)
