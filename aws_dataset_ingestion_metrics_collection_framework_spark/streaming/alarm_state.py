"""Streaming alarm state machine (W4) — ``applyInPandasWithState``.

The reference's one genuinely stateful operator is the CloudWatch Alarm
state machine (OK / ALARM / INSUFFICIENT_DATA with transition publication,
ref:cdk_constructs/cw_alarm.py:32-62; SURVEY §2.5 W4, §2.9). Batch mode
evaluates it with window functions (operators/sla_eval.py); this module is
the incremental version: state per ``sla_id`` persists across micro-batches
in the state store, and each batch emits states only for newly-completed
grid slots.

Semantics contract: replaying any datapoint stream through this operator
yields EXACTLY the per-slot states of the batch evaluator. Both sides read
the same comparison table (functions/comparisons.COMPARISONS) and the same
LOOKBACK_FACTOR; the treat_missing_data policies are written once as Column
expressions (batch) and once as the Python loop in ``evaluate_slots``:
tests/test_streaming.py diffs the two across micro-batch splits, and
tests/test_alarm_state_props.py checks this side against the oracle that
batch is property-tested against. An unknown operator name raises KeyError
here, where batch gives a NULL breach.

Scale: state per SLA is a bounded ring buffer (lookback = n × LOOKBACK_FACTOR
slots, each 16 bytes) — thousands of SLAs fit in one executor's state store;
the stream shuffles once on sla_id and every series has identical grid
length, so no skew.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..functions.comparisons import COMPARISONS
from ..operators.sla_eval import LOOKBACK_FACTOR

# Input rows: SLA-joined datapoints (the caller joins defs upstream, as in
# batch gap_fill). ws is epoch seconds of the window start.
INPUT_SCHEMA = (
    "sla_id string, ws long, value double, threshold double, "
    "comparison_operator string, datapoints_to_alarm int, "
    "evaluation_periods int, treat_missing_data string, period int"
)
OUTPUT_SCHEMA = (
    "sla_id string, ws long, value double, statevalue string, "
    "prev_state string, transition boolean"
)
# State: JSON history of observed [slot_ts, value] pairs + last emitted slot
# + last emitted state (JSON string keeps the state schema primitive).
STATE_SCHEMA = "hist string, last_ws long, last_state string"


def evaluate_slots(
    observed: dict[int, float],
    slots: list[int],
    *,
    threshold: float,
    comparison_operator: str,
    m: int,
    n: int,
    policy: str,
    period: int | None = None,
) -> list[str]:
    """Grid-slot state evaluation — the single-series semantics shared by
    batch and streaming (mirrors operators/sla_eval.evaluate_slas; the
    property-test oracle in tests/test_sla_eval.py is the independent
    check of the same model).

    ``observed``: slot_ts → value.  ``slots``: ascending slot timestamps to
    evaluate (must cover the lookback window before the first emitted slot
    for exact batch parity — callers pass full history). ``period`` is
    ignored: ``slots`` already carries the grid spacing.
    """
    cmp = COMPARISONS[comparison_operator][0]
    lookback = max(n * LOOKBACK_FACTOR, 1)
    states = []
    hist: list[float | None] = []
    for slot in slots:
        hist.append(observed.get(slot))
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


def _alarm_state_fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
    (sla_id,) = key
    rows = pd.concat(list(pdfs), ignore_index=True)
    if rows.empty:
        yield pd.DataFrame(
            columns=["sla_id", "ws", "value", "statevalue", "prev_state", "transition"]
        )
        return

    if state.exists:
        hist_json, last_ws, last_state = state.get
        observed: dict[int, float] = {int(k): v for k, v in json.loads(hist_json).items()}
    else:
        observed, last_ws, last_state = {}, None, None

    params = rows.iloc[0]
    period = int(params["period"])
    n = int(params["evaluation_periods"])
    lookback = max(n * LOOKBACK_FACTOR, 1)

    for _, r in rows.iterrows():
        if not pd.isna(r["value"]):
            observed[int(r["ws"])] = float(r["value"])

    # Grid: every period-aligned slot from the earliest retained observation
    # through the newest arrival; emit only slots newer than last_ws (late
    # rows for already-emitted slots update history but are not re-emitted —
    # the reference likewise never retracts a published alarm state).
    # Bounds must include last_ws (a late-only batch must not shrink the
    # watermark and re-open already-published slots) and the batch's own row
    # timestamps (null-value rows mark grid slots without entering observed).
    batch_min, batch_max = int(rows["ws"].min()), int(rows["ws"].max())
    max_ws = max(batch_max, *observed.keys()) if observed else batch_max
    if last_ws is not None:
        max_ws = max(max_ws, int(last_ws))
    min_ws = min(batch_min, *observed.keys()) if observed else batch_min
    slots = list(range(min_ws, max_ws + 1, period))
    states = evaluate_slots(
        observed,
        slots,
        threshold=float(params["threshold"]),
        comparison_operator=str(params["comparison_operator"]),
        m=int(params["datapoints_to_alarm"]),
        n=n,
        policy=str(params["treat_missing_data"]),
    )

    out = []
    prev = last_state
    for slot, st in zip(slots, states):
        if last_ws is not None and slot <= last_ws:
            continue
        out.append(
            {
                "sla_id": sla_id,
                "ws": slot,
                "value": observed.get(slot),
                "statevalue": st,
                "prev_state": prev,
                "transition": prev is None or prev != st,
            }
        )
        prev = st

    # Retain only the lookback tail of observations (bounded state).
    keep_from = max_ws - (lookback + n) * period
    observed = {k: v for k, v in observed.items() if k >= keep_from}
    state.update((json.dumps(observed), int(max_ws), prev))
    yield pd.DataFrame(out, columns=["sla_id", "ws", "value", "statevalue", "prev_state", "transition"])


def streaming_alarm_states(datapoints: DataFrame) -> DataFrame:
    """Incremental SLA state stream.

    ``datapoints``: stream (or micro-batch) of INPUT_SCHEMA rows — statistic
    engine output joined (broadcast) to sla_defs, ws as epoch seconds.
    Returns an append-mode stream of OUTPUT_SCHEMA rows; ``transition`` rows
    feed the alert sink (S8 — operators/sla_eval.build_alerts).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return datapoints.groupBy("sla_id").applyInPandasWithState(
        _alarm_state_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
