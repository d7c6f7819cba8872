"""Plain-Python reference computations the correctness checks compare the
engine's outputs against. Nothing here imports Spark.
"""

from __future__ import annotations

import operator

import numpy as np

# The engine's documented m-of-n model keeps n * LOOKBACK_FACTOR grid slots
# of history for the IGNORE and MISSING policies (operators/sla_eval.py).
LOOKBACK_FACTOR = 4

_CMP = {
    "GREATER_THAN_THRESHOLD": operator.gt,
    "GREATER_THAN_OR_EQUAL_TO_THRESHOLD": operator.ge,
    "LESS_THAN_THRESHOLD": operator.lt,
    "LESS_THAN_OR_EQUAL_TO_THRESHOLD": operator.le,
}


def sla_states(
    observed: dict[int, float],
    period: int,
    *,
    op: str,
    threshold: float,
    m: int,
    n: int,
    policy: str,
) -> list[tuple[int, str]]:
    """(slot, state) for every grid slot from the first to the last observed
    slot. Missing slots are None; a breach is ``value OP threshold``.

    NOT_BREACHING: missing slots count as not breaching over the last n slots.
    BREACHING: missing slots count as breaching over the last n slots.
    IGNORE / MISSING: the last n observed values within the lookback decide;
    with none observed the state is INSUFFICIENT_DATA.
    """
    if not observed:
        return []
    cmp = _CMP[op]
    lookback = max(n * LOOKBACK_FACTOR, 1)
    slots = range(min(observed), max(observed) + 1, period)
    hist: list[float | None] = []
    out = []
    for slot in slots:
        hist.append(observed.get(slot))
        recent = hist[-lookback:]
        if policy in ("NOT_BREACHING", "BREACHING"):
            missing_breaches = policy == "BREACHING"
            breaches = sum(
                1 for v in recent[-n:] if (v is None and missing_breaches) or (v is not None and cmp(v, threshold))
            )
            state = "ALARM" if breaches >= m else "OK"
        elif policy in ("IGNORE", "MISSING"):
            obs = [v for v in recent if v is not None][-n:]
            if not obs:
                state = "INSUFFICIENT_DATA"
            else:
                state = "ALARM" if sum(1 for v in obs if cmp(v, threshold)) >= m else "OK"
        else:
            raise ValueError(f"unknown missing-data policy {policy!r}")
        out.append((slot, state))
    return out


def transitions(states: list[tuple[int, str]]) -> list[tuple[int, str]]:
    """Slots whose state differs from the previous slot's (the first slot
    always counts)."""
    out, prev = [], None
    for slot, state in states:
        if state != prev:
            out.append((slot, state))
        prev = state
    return out


def shingles(text: str, k: int) -> set[str]:
    toks = text.split()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def count_components(n_vertices: int, edges: list[tuple[int, int]]) -> int:
    """Connected components over vertices 0..n-1 (union-find)."""
    parent = list(range(n_vertices))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    comps = n_vertices
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            comps -= 1
    return comps


def close(a: float, b: float, rel: float) -> bool:
    return bool(np.isclose(a, b, rtol=rel, atol=rel))
