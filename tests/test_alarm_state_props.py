"""Property tests for the streaming alarm state machine's core
(streaming/alarm_state.py) WITHOUT running streaming queries: the pandas
group function is driven directly with a fake GroupState across random
micro-batch splits and compared to the independent Python oracle from
test_sla_eval (same model the batch evaluator is property-tested against).
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st

from aws_dataset_ingestion_metrics_collection_framework_spark.streaming.alarm_state import (
    _alarm_state_fn,
)
from tests.test_sla_eval import oracle

PERIOD = 60
T0 = 1_700_000_000  # any period-aligned epoch


class FakeState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


def run_stream(batches, params):
    """Feed value-batches through the state fn; return {slot: state}."""
    state = FakeState()
    out: dict[int, str] = {}
    for batch in batches:
        if not batch:
            continue
        rows = pd.DataFrame(
            [
                {
                    "sla_id": "s",
                    "ws": T0 + slot * PERIOD,
                    "value": float(v),
                    "threshold": params["threshold"],
                    "comparison_operator": params["op"],
                    "datapoints_to_alarm": params["m"],
                    "evaluation_periods": params["n"],
                    "treat_missing_data": params["policy"],
                    "period": PERIOD,
                }
                for slot, v in batch
            ]
        )
        for pdf in _alarm_state_fn(("s",), iter([rows]), state):
            for _, r in pdf.iterrows():
                out[(int(r["ws"]) - T0) // PERIOD] = r["statevalue"]
    return out


@settings(max_examples=60, deadline=None)
@given(
    data=st.dictionaries(st.integers(0, 24), st.floats(0, 10), min_size=1, max_size=20),
    split=st.integers(0, 24),
    threshold=st.floats(1, 9),
    op=st.sampled_from(
        [
            "GREATER_THAN_THRESHOLD",
            "GREATER_THAN_OR_EQUAL_TO_THRESHOLD",
            "LESS_THAN_THRESHOLD",
            "LESS_THAN_OR_EQUAL_TO_THRESHOLD",
        ]
    ),
    mn=st.tuples(st.integers(1, 3), st.integers(1, 4)),
    policy=st.sampled_from(["NOT_BREACHING", "BREACHING", "IGNORE", "MISSING"]),
)
@example(  # slot 19 is missing; a history pruned to observed slots forgot it
    data={0: 1.0, 20: 1.0, 21: 1.0}, split=20, threshold=5.0, op="GREATER_THAN_THRESHOLD", mn=(1, 3), policy="BREACHING"
)
def test_incremental_states_match_oracle(data, split, threshold, op, mn, policy):
    m, n = min(mn), max(mn)
    params = {"threshold": threshold, "op": op, "m": m, "n": n, "policy": policy}

    # split the datapoints into two micro-batches by slot (in-order arrival,
    # the engine's documented contract — late re-emission is suppressed)
    items = sorted(data.items())
    batches = [
        [(s, v) for s, v in items if s <= split],
        [(s, v) for s, v in items if s > split],
    ]
    got = run_stream(batches, params)

    lo = min(data)
    n_slots = max(data) - lo + 1
    shifted = {k - lo: v for k, v in data.items()}
    want = dict(
        enumerate(oracle(shifted, n_slots, threshold, op, m, n, policy))
    )
    want = {k + lo: v for k, v in want.items()}
    assert got == want


BREACHING_1_OF_3 = {"threshold": 5.0, "op": "GREATER_THAN_THRESHOLD", "m": 1, "n": 3, "policy": "BREACHING"}


def test_late_row_extends_the_slot_array_backward():
    """Slot 8 arrives after slot 10 was published: slot 9 becomes a known
    missing slot inside slot 11's last three, as batch sees the union."""
    got = run_stream([[(10, 1.0)], [(8, 1.0), (11, 1.0)]], BREACHING_1_OF_3)
    assert got == {10: "OK", 11: "ALARM"}


def test_unknown_operator_raises():
    with pytest.raises(ValueError, match="SLA 's': unknown comparison_operator 'GreaterThanThreshold'"):
        run_stream([[(0, 1.0)]], {**BREACHING_1_OF_3, "op": "GreaterThanThreshold"})
