"""r15 optimization-round pins: the bench harness's bounded gate sleep and
partial-output flush (bench.py methodology §6, VERDICT r14 ask #1).

These tests need no Spark session: the gate logic is tested with injected
load/sleep fakes, and the SIGTERM flush by running bench.py as a subprocess
and killing it before its first worker can finish.
"""

import json
import os
import signal
import subprocess
import sys
import time

import bench


def test_wait_for_quiet_noop_on_quiet_host():
    slept = []
    waited = bench._wait_for_quiet(
        1.0, 300.0, 15.0, load_fn=lambda: 0.2, sleep_fn=slept.append
    )
    assert waited == 0.0
    assert slept == []


def test_wait_for_quiet_respects_budget_exactly():
    # Load never drains: total sleep must equal the budget, with the final
    # increment clamped so the budget is never overshot (25 = 10 + 10 + 5).
    slept = []
    waited = bench._wait_for_quiet(
        1.0, 25.0, 10.0, load_fn=lambda: 9.9, sleep_fn=slept.append
    )
    assert waited == 25.0
    assert slept == [10.0, 10.0, 5.0]


def test_wait_for_quiet_stops_when_load_drains():
    loads = iter([5.0, 5.0, 0.3])
    slept = []
    waited = bench._wait_for_quiet(
        1.0, 300.0, 10.0, load_fn=lambda: next(loads), sleep_fn=slept.append
    )
    assert waited == 20.0
    assert slept == [10.0, 10.0]


def test_wait_for_quiet_zero_budget_never_sleeps():
    # The suite-wide re-gate budget can be exhausted mid-suite: a zero
    # budget must launch immediately even on a hot host.
    slept = []
    waited = bench._wait_for_quiet(
        1.0, 0.0, 10.0, load_fn=lambda: 9.9, sleep_fn=slept.append
    )
    assert waited == 0.0
    assert slept == []


def test_sigterm_flushes_partial_one_line_json():
    # Launch the suite runner on one real query, then SIGTERM it while the
    # worker JVM is still starting: stdout must still carry the one-line
    # JSON contract, tagged partial, with an empty queries map.
    env = dict(os.environ)
    env["BENCH_LOAD_GATE"] = "1e9"  # skip the start/per-query gates
    proc = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(bench.__file__), "bench.py"),
         "q01_pricing_summary"],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        env=env,
    )
    time.sleep(3.0)  # enough for the worker Popen, not for a JVM + query
    proc.send_signal(signal.SIGTERM)
    out, _ = proc.communicate(timeout=30)
    assert proc.returncode == 1
    line = out.strip().splitlines()[-1]
    payload = json.loads(line)
    assert payload["partial"] is True
    assert payload["queries"] == {}
    assert payload["unit"] == "sec"
    assert "loadavg_start" in payload


def test_steal_pct_math_and_none_paths():
    # % of all ticks stolen between two samples; None when a sample is
    # missing (off-Linux) or no time passed between them.
    assert bench._steal_pct((100, 1000), (150, 2000)) == 5.0
    assert bench._steal_pct((0, 1000), (0, 2000)) == 0.0
    assert bench._steal_pct(None, (0, 2000)) is None
    assert bench._steal_pct((0, 1000), None) is None
    assert bench._steal_pct((0, 1000), (0, 1000)) is None  # zero elapsed


def test_cpu_line_total_excludes_guest_fields():
    # guest/guest_nice (the last two fields) are already inside user/nice:
    # the total is user..steal, so steal% is not understated on guest hosts.
    line = "cpu  100 20 30 800 10 5 5 30 70 7\n"
    assert bench._parse_cpu_line(line) == (30, 1000)
    assert bench._parse_cpu_line("cpu  100 20 30 800\n") == (0, 950)


def test_cpu_ticks_shape_on_linux():
    # On Linux /proc/stat exists: the sample must be (steal, total) ints
    # with steal <= total; elsewhere the helper degrades to None.
    t = bench._cpu_ticks()
    if os.path.exists("/proc/stat"):
        assert t is not None
        steal, total = t
        assert isinstance(steal, int) and isinstance(total, int)
        assert 0 <= steal <= total
    else:  # pragma: no cover - non-Linux CI
        assert t is None


def test_centroid_matrix_memo_identity_and_correctness(spark, sf_dir):
    """r15 pin (same contract as the r14 _pq_shape memo): _centroid_matrix
    memoizes per centroid-table OBJECT; a distinct object over identical
    data recomputes and agrees — identity changes job count, never values."""
    import numpy as np

    from aws_dataset_ingestion_metrics_collection_framework_spark.operators import (
        similarity as SIM,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    saved = dict(SIM._CENTROID_MATRIX_MEMO)
    SIM._CENTROID_MATRIX_MEMO.clear()
    try:
        cents, _ = SIM.build_ivf_index(emb, n_lists=4)
        cents = cents.localCheckpoint()
        lids1, cn1 = SIM._centroid_matrix(cents)
        assert cents in SIM._CENTROID_MATRIX_MEMO
        lids2, cn2 = SIM._centroid_matrix(cents)
        assert lids1 is lids2 and cn1 is cn2  # memo hit: same objects
        # distinct object over the same rows: misses, same values
        fresh = cents.select("list_id", "centroid")
        lids3, cn3 = SIM._centroid_matrix(fresh)
        assert np.array_equal(lids1, lids3) and np.array_equal(cn1, cn3)
        # rows are row-normalized (the kernels consume cn directly)
        norms = np.linalg.norm(cn1, axis=1)
        assert np.allclose(norms[norms > 0], 1.0)
    finally:
        SIM._CENTROID_MATRIX_MEMO.clear()
        SIM._CENTROID_MATRIX_MEMO.update(saved)


def test_pq_codebook_matrix_memo_identity_and_correctness(spark, sf_dir):
    """r15 pin: _pq_codebook_matrix memoizes the validated dense codebook
    block per object; a distinct object recomputes and agrees."""
    import numpy as np

    from aws_dataset_ingestion_metrics_collection_framework_spark.operators import (
        similarity as SIM,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    saved = dict(SIM._PQ_CODEBOOK_MEMO)
    SIM._PQ_CODEBOOK_MEMO.clear()
    try:
        cents, _codes = SIM.pq_index(emb, m=4, k=16)
        cents = cents.localCheckpoint()
        m1, k1, d1, cmat1 = SIM._pq_codebook_matrix(cents)
        assert (m1, k1) == (4, 16) and cmat1.shape == (4, 16, d1)
        assert cents in SIM._PQ_CODEBOOK_MEMO
        assert SIM._pq_codebook_matrix(cents)[3] is cmat1  # memo hit
        fresh = cents.select("sub", "idx", "cvec")
        m2, k2, d2, cmat2 = SIM._pq_codebook_matrix(fresh)
        assert (m1, k1, d1) == (m2, k2, d2)
        assert np.array_equal(cmat1, cmat2)
    finally:
        SIM._PQ_CODEBOOK_MEMO.clear()
        SIM._PQ_CODEBOOK_MEMO.update(saved)


def test_hash_to_min_multi_round_chain_and_schema(spark):
    """r15 pin for the folded convergence check (the `_old` carry): a
    diameter-4 chain forces several rounds with partially-converged labels
    (vertex 1 stabilizes immediately; 5 keeps changing) — early termination
    or an `_old` column leaking into the result would fail here."""
    from aws_dataset_ingestion_metrics_collection_framework_spark.operators.graph import (
        connected_components,
    )

    vertices = spark.createDataFrame([(i,) for i in range(1, 8)], ["doc_id"])
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["id_a", "id_b"]
    )
    out = connected_components(vertices, edges, id_col="doc_id")
    assert out.columns == ["id", "component"]
    got = {r["id"]: r["component"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 7}


def test_quality_exact_label_roundtrip_through_y(spark):
    """r15 pin: `scores` reads the label back from the pinned y table
    ((_yu != 0) ⇔ label) instead of re-scanning the corpus — labels in the
    output must round-trip exactly for mixed 0/1 labels."""
    from aws_dataset_ingestion_metrics_collection_framework_spark.operators import (
        mlquality as ML,
    )

    rows = [
        (1, "aa bb cc", 1.0),
        (2, "dd ee", 0.0),
        (3, "aa bb", 1.0),
        (4, "ff", 0.0),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "label"])
    _, scores = ML.fit_linear_quality_exact(
        df, "doc_id", "text", "label", dim=8, iters=2
    )
    got = {r["doc_id"]: r["label"] for r in scores.collect()}
    assert got == {1: 1, 2: 0, 3: 1, 4: 0}
    assert scores.columns == ["doc_id", "label", "logit_units", "pred"]
