"""Streaming alarm state machine (W4) — ``applyInPandasWithState``.

The reference's one genuinely stateful operator is the CloudWatch Alarm
state machine (OK / ALARM / INSUFFICIENT_DATA with transition publication,
ref:cdk_constructs/cw_alarm.py:32-62; SURVEY §2.5 W4, §2.9). Batch mode
evaluates it over the gap-filled grid (operators/sla_eval.py); this module
is the incremental version: state per ``sla_id`` persists across
micro-batches in the state store, and each batch emits states only for
newly-completed grid slots.

Semantics contract: replaying any in-order datapoint stream through this
operator yields EXACTLY the per-slot states of the batch evaluator, because
both call the same kernel, ``operators/sla_eval.alarm_states``: here over
one SLA's dense slot array, there over the whole grid. A NaN or NULL value
is a missing slot in both, and an unknown operator or policy raises the
kernel's ``ValueError`` in both (here it stops the query).
tests/test_streaming.py diffs the two across micro-batch splits, and
tests/test_alarm_state_props.py checks this side against the oracle that
batch is property-tested against. Late rows for already-published slots
update the history but are never re-emitted (the reference likewise never
retracts a published alarm state).

State: ``(first_ws, values, last_ws, last_state)`` — ``values[k]`` is slot
``first_ws + k × period`` (NaN where missing), ``last_ws`` the newest
published slot. A row inside the retention horizon (the retained
``n × LOOKBACK_FACTOR + n`` slots) extends the array backward if it is
older than ``first_ws``; an older row can reach no unpublished slot's
lookback and is dropped.

Scale: state per SLA is a bounded array of ``n × (LOOKBACK_FACTOR + 1)``
doubles, so thousands of SLAs fit in one executor's state store; each
micro-batch costs one kernel call per SLA that received rows. The stream
shuffles once on sla_id and every series has identical grid length, so no
skew.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..operators.sla_eval import LOOKBACK_FACTOR, alarm_states

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
OUTPUT_COLUMNS = ["sla_id", "ws", "value", "statevalue", "prev_state", "transition"]
STATE_SCHEMA = "first_ws long, values array<double>, last_ws long, last_state string"


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
    """``alarm_states`` over one series: ``observed`` maps slot_ts → value,
    ``slots`` are the ascending slot timestamps to evaluate. ``period`` is
    ignored: ``slots`` already carries the grid spacing."""
    value = [observed.get(slot, np.nan) for slot in slots]
    return alarm_states(None, value, threshold, comparison_operator, m, n, policy)[1].tolist()


def _alarm_state_fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: Any) -> Iterator[pd.DataFrame]:
    (sla_id,) = key
    rows = pd.concat(list(pdfs), ignore_index=True)
    if rows.empty:
        yield pd.DataFrame(columns=OUTPUT_COLUMNS)
        return
    params = rows.iloc[0]
    period, n = int(params["period"]), int(params["evaluation_periods"])
    retained = max(n * LOOKBACK_FACTOR, 1) + n
    ws, value = rows["ws"].to_numpy(np.int64), rows["value"].to_numpy(float)
    if state.exists:
        first_ws, kept, last_ws, last_state = state.get
        live = ws >= last_ws - (retained - 1) * period
        ws, value = ws[live], value[live]
    else:
        first_ws, kept, last_ws, last_state = int(ws.min()), [], None, None
    # The slot array spans the retained slots and every live row; a
    # late-only batch must not shrink it, nor re-open published slots.
    lo = int(np.min(ws, initial=first_ws))
    hi = int(np.max(ws, initial=first_ws + (len(kept) - 1) * period))
    values = np.full((hi - lo) // period + 1, np.nan)
    values[(first_ws - lo) // period :][: len(kept)] = kept
    observed = ~np.isnan(value)
    values[(ws[observed] - lo) // period] = value[observed]

    _, statevalue, _, _ = alarm_states(
        sla_id,
        values,
        params["threshold"],
        params["comparison_operator"],
        params["datapoints_to_alarm"],
        n,
        params["treat_missing_data"],
    )
    emit = 0 if last_ws is None else (last_ws - lo) // period + 1
    chain = np.concatenate((np.array([last_state], object), statevalue[emit:]))
    out = pd.DataFrame(
        {
            "sla_id": sla_id,
            "ws": lo + period * np.arange(emit, len(values)),
            "value": values[emit:],
            "statevalue": chain[1:],
            "prev_state": chain[:-1],
            "transition": chain[1:] != chain[:-1],
        },
        columns=OUTPUT_COLUMNS,
    )
    values = values[-retained:]
    state.update((hi - (len(values) - 1) * period, values.tolist(), hi, chain[-1]))
    yield out


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
