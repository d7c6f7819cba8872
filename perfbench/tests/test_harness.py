"""Tests for the benchmark harness's own pieces (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from perfbench import gen, hostmon, oracle, trace

# slots 0, 60, 120, 180 with 60 missing; GREATER_THAN 5, 2 of 3
OBSERVED = {0: 6.0, 120: 7.0, 180: 1.0}
GT = dict(op="GREATER_THAN_THRESHOLD", threshold=5.0, m=2, n=3)


@pytest.mark.parametrize(
    "policy, want",
    [
        ("NOT_BREACHING", ["OK", "OK", "ALARM", "OK"]),
        ("BREACHING", ["OK", "ALARM", "ALARM", "ALARM"]),
        ("IGNORE", ["OK", "OK", "ALARM", "ALARM"]),
        ("MISSING", ["OK", "OK", "ALARM", "ALARM"]),
    ],
)
def test_oracle_policies(policy, want):
    got = oracle.sla_states(OBSERVED, 60, policy=policy, **GT)
    assert got == list(zip([0, 60, 120, 180], want))


@pytest.mark.parametrize("policy", ["IGNORE", "MISSING"])
def test_oracle_insufficient_data_after_lookback(policy):
    # n=1 keeps 4 slots of history: slot 240 sees only missing slots
    got = oracle.sla_states({0: 1.0, 300: 9.0}, 60, op="GREATER_THAN_THRESHOLD", threshold=5.0, m=1, n=1, policy=policy)
    assert [s for _, s in got] == ["OK", "OK", "OK", "OK", "INSUFFICIENT_DATA", "ALARM"]


def test_oracle_operators_at_threshold():
    for op, want in [
        ("GREATER_THAN_THRESHOLD", "OK"),
        ("GREATER_THAN_OR_EQUAL_TO_THRESHOLD", "ALARM"),
        ("LESS_THAN_THRESHOLD", "OK"),
        ("LESS_THAN_OR_EQUAL_TO_THRESHOLD", "ALARM"),
    ]:
        got = oracle.sla_states({0: 5.0}, 60, op=op, threshold=5.0, m=1, n=1, policy="NOT_BREACHING")
        assert got == [(0, want)], op


def test_oracle_agrees_with_engine_single_series_model():
    from aws_dataset_ingestion_metrics_collection_framework_spark.streaming.alarm_state import evaluate_slots

    rnd = random.Random(7)
    for _ in range(200):
        slots = list(range(0, 60 * rnd.randint(1, 30), 60))
        observed = {s: rnd.uniform(0, 10) for s in slots if rnd.random() < 0.7}
        observed.setdefault(0, 1.0)
        observed.setdefault(slots[-1], 1.0)
        op = rnd.choice(gen.OPERATORS)
        m, n = rnd.choice(gen.M_OF_N)
        policy = rnd.choice(gen.POLICIES)
        ours = oracle.sla_states(observed, 60, op=op, threshold=5.0, m=m, n=n, policy=policy)
        engine = evaluate_slots(observed, slots, threshold=5.0, comparison_operator=op, m=m, n=n, policy=policy, period=60)
        assert [s for _, s in ours] == engine


def test_transitions_keep_first_and_changes():
    states = [(0, "OK"), (60, "OK"), (120, "ALARM"), (180, "ALARM"), (240, "OK")]
    assert oracle.transitions(states) == [(0, "OK"), (120, "ALARM"), (240, "OK")]


def test_tail_needs_eleven_samples():
    assert trace.tail(list(range(10))) is None
    value, pct = trace.tail(list(range(11)))
    assert value == 0 and pct == pytest.approx(100 / 11)


@pytest.mark.parametrize("n, value, pct", [(20, 9, 50.0), (100, 89, 90.0), (1000, 989, 99.0)])
def test_tail_leaves_ten_samples_beyond(n, value, pct):
    samples = list(range(n))
    random.Random(n).shuffle(samples)
    got_value, got_pct = trace.tail(samples)
    assert (got_value, got_pct) == (value, pct)
    assert sum(1 for s in samples if s > got_value) == 10


def test_steal_ignores_guest_fields():
    line = "cpu  100 10 50 800 5 1 2 30 40 5\ncpu0 1 2 3 4 5 6 7 8 9 10\n"
    assert hostmon.cpu_ticks(line) == (998, 30)
    before, after = (1000, 10), (1200, 60)
    assert hostmon.steal_pct(before, after) == pytest.approx(25.0)
    assert hostmon.steal_pct(before, before) == 0.0


def test_steal_on_short_cpu_line():
    assert hostmon.cpu_ticks("cpu  1 2 3 4\n") == (10, 0)


def test_self_time_subtracts_union_of_children():
    parent = {"start": 0.0, "end": 10.0}
    children = [
        {"start": 1.0, "end": 3.0},
        {"start": 2.0, "end": 5.0},  # overlaps the first
        {"start": 8.0, "end": 12.0},  # clipped at the parent's end
        {"start": 11.0, "end": 13.0},  # entirely outside
    ]
    assert trace.self_time(parent, children) == pytest.approx(4.0)
    assert trace.self_time(parent, []) == pytest.approx(10.0)


def test_tracer_nests_spans_and_computes_self_times():
    t = trace.Tracer()
    t.enabled = True
    with t.span("job", 0):
        with t.span("metrics", 0) as sp:
            sp["counts"]["rows_out"] = 5
        with t.span("lake.write", 0):
            pass
    spans = {s["name"]: s for s in t.with_self_times()}
    assert spans["metrics"]["parent"] == spans["job"]["id"] == spans["lake.write"]["parent"]
    assert spans["job"]["self_s"] <= spans["job"]["wall_s"] - spans["metrics"]["wall_s"] + 1e-9
    totals = trace.layer_totals(list(spans.values()), {})
    assert totals[(0, "metrics")]["rows_out"] == 5


def test_disabled_tracer_records_nothing():
    t = trace.Tracer()
    with t.span("job", 0) as sp:
        sp["counts"]["x"] = 1
    assert t.spans == []


def test_generators_are_seeded():
    a = gen.backfill(np.random.default_rng(3), n_events=500, n_series=20, days=1)
    b = gen.backfill(np.random.default_rng(3), n_events=500, n_series=20, days=1)
    assert np.array_equal(a.ev_ts, b.ev_ts) and np.array_equal(a.ev_value, b.ev_value) and a.defs == b.defs
    f1 = gen.LiveFeed(np.random.default_rng(3), n_series=5, events_per_series=4)
    f2 = gen.LiveFeed(np.random.default_rng(3), n_series=5, events_per_series=4)
    assert [f1.tick_lines(k) for k in range(6)] == [f2.tick_lines(k) for k in range(6)]


def test_live_feed_plants_separated_episodes():
    feed = gen.LiveFeed(np.random.default_rng(1), n_series=10, events_per_series=4, episode_rate=0.5)
    for k in range(60):
        lines = feed.tick_lines(k)
        assert sum(1 for line in lines if not line.endswith("}")) == 1  # one corrupt line per tick
    for starts in feed.episode_starts.values():
        assert all(b - a >= 9 for a, b in zip(starts, starts[1:]))


def test_corpus_planted_pairs_are_near_duplicates():
    inp = gen.corpus(np.random.default_rng(2), n_docs=200)
    assert len(inp.planted) == 20
    for a, b in inp.planted:
        assert oracle.jaccard(oracle.shingles(inp.texts[a], 3), oracle.shingles(inp.texts[b], 3)) >= 0.9


def test_count_components():
    assert oracle.count_components(5, [(0, 1), (1, 2), (3, 4)]) == 2
    assert oracle.count_components(3, []) == 3



class _FakeWorkload:
    """Jobs that sleep briefly; job ``fail_at`` raises."""

    name = "fake"

    def __init__(self, fail_at=None):
        self.tracer = trace.Tracer()
        self.fail_at = fail_at
        self.ran = []

    def job_dir(self, i):
        return f"job{i}"

    def discard(self, i):
        pass

    def job(self, i):
        self.ran.append(i)
        if i == self.fail_at:
            raise RuntimeError("boom")


def test_run_batch_keeps_cold_and_warm_job_times():
    from perfbench.child import run_batch

    run = run_batch(_FakeWorkload(), 0.0, trace=False)
    assert len(run["walls"]) == 2 and run["failed_jobs"] == []


def test_run_batch_drops_a_failed_job_and_stops():
    from perfbench.child import run_batch

    wl = _FakeWorkload(fail_at=1)
    run = run_batch(wl, 0.0, trace=False)
    assert run["failed_jobs"] == [1]
    assert wl.ran == [0, 1]
    assert len(run["walls"]) == 1  # only the cold job's time is kept
