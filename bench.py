"""Benchmark: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced with a full collect (the driver contract measures
end-to-end materialization, not lazy plan construction).

MEASUREMENT METHODOLOGY (r5 — closes the drift thread open since r2):

1. **Session isolation (subprocess per query).** Through r4 all headline
   queries shared one JVM; as the suite grew 17→26→35 queries, timings of
   byte-identical queries drifted up to 3.3× between rounds (r4 verdict:
   `business_scalars` 3.34× with unchanged code) from cross-query JVM state
   — GC pressure, codegen-cache eviction, broadcast cleanup. Each query now
   runs in its own fresh `python bench.py --worker <name>` subprocess: its
   number can never depend on which OTHER queries are in the suite. Opt out
   with BENCH_ISOLATE=0 (fast shared-session mode for inner-loop iteration;
   numbers then carry the documented cross-talk).

2. **Min-of-N warm (N=$BENCH_REPEAT, default 2), per worker.** A query's
   first run pays one-off costs (whole-stage-codegen compile, broadcast
   warmup) measured at 2-4× steady state; min-of-2 pins the steady-state
   number that predicts cluster throughput, where plans compile once and
   run for hours. Startup/table-registration is outside the timed region
   (the DuckDB baseline likewise creates views before timing).

3. **Frozen r1-comparable subset.** The 17 queries benched since r1 are
   reported as `r1_subset_sec` so cross-round comparisons use a FIXED
   basket; the full-suite total moves with coverage growth and is not a
   round-over-round performance signal. Per-query r1 baselines live in
   BASELINE.md.

4. **Load gate (r10 — makes window contamination un-relitigable).** Two
   rounds (r7, r9) recorded suite-wide regressions that same-day quiet
   A/B re-runs fully exonerated: the driver's bench window overlapped
   other host activity (loadavg ≈ 3+). The bench now samples
   os.getloadavg() before starting: if 1-min load > $BENCH_LOAD_GATE
   (default 1.0) it WAITS up to $BENCH_LOAD_WAIT seconds (default 300)
   for the host to go quiet, and the emitted JSON always carries
   `loadavg_start` / `loadavg_end` plus a boolean `load_contaminated`
   (start still above the gate after the wait) — so a hot-window run is
   tagged in the artifact itself instead of being adjudicated
   forensically a round later. Only the START sample gates: once the
   bench is running, loadavg measures the bench's own local[32]
   workers, so mid-run and end samples are self-inflated (the end
   sample is recorded for forensics, never judged against the gate).

5. **Per-query load column + re-gate (r14 — VERDICT r13 ask #5).** The
   r13 run drifted MID-SUITE (loadavg 0.93→3.05 across 45 min; 12
   sub-2 s queries on code untouched since r5 read 1.5–2.9×) and was
   adjudicable only by judge re-runs. In subprocess-isolation mode the
   suite now samples loadavg BEFORE EACH worker launch and emits it as
   `loadavg_before: {query: load}` alongside `queries`, so a per-query
   outlier carries its own contamination evidence in the artifact. When
   the pre-query sample exceeds the gate, the runner re-gates: it waits
   up to $BENCH_QUERY_LOAD_WAIT seconds (default 60) for the window to
   drain before launching — the 1-min loadavg decays with ~60 s
   half-life after a burst, so a short per-query wait absorbs most
   transients without stalling the suite on a genuinely busy host (the
   recorded value is the post-wait sample actually in effect at
   launch). Workers are sequential, so between-query samples measure
   the HOST, not this bench (each worker's JVM has exited).

6. **Bounded gate sleep + partial-output flush (r15 — VERDICT r14 ask
   #1).** The r14 per-query re-gate could in the worst case sleep
   300 s (start gate) + 70 queries x 60 s ≈ 75 minutes on a busy host
   — past any outer timeout — and the one-line JSON printed only at
   suite end, so a timeout mid-suite lost EVERY completed measurement
   (BENCH_r14.json: rc 124, empty tail). Two fixes, both
   methodology-neutral (query set, worker protocol, min-of-N timing
   unchanged):
   (a) the per-query re-gates now draw from a single SUITE-WIDE budget
       $BENCH_QUERY_LOAD_BUDGET (default 120 s total, on top of the
       still-per-suite 300 s start gate); once it is spent, workers
       launch immediately and the recorded `loadavg_before` carries
       the contamination evidence instead of a sleep. Hygiene never
       outranks producing the contract output.
   (b) the runner installs SIGTERM/SIGINT handlers that kill the
       in-flight worker and FLUSH the one-line JSON with the queries
       completed so far, tagged `"partial": true` — so an outer
       `timeout` yields a usable partial artifact instead of nothing.
       A worker failure likewise flushes the partial line before
       exiting non-zero.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: every engine subsystem, weighted toward the big-table paths.
HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier",
    "q10_returned_items",
    "business_scalars",
    "metrics_day",
    "metrics_hour_dims",
    "metrics_latest",
    "sla_daily",
    "sla_gap_fill",
    "dedup_exact_stats",
    "minhash_pairs",
    "ngram_jaccard",
    "token_stats",
    "language_id",
    "cosine_topk",
    "sessionize",
    # round-2 additions: oracled sketch paths. (cosine_pairs_lsh is NOT
    # benched: its declared params form the full-equality contract — 16
    # tables at threshold 0.5 deliberately do ~4x the crossJoin work to
    # prove the bucket machinery exact; the correctness gate covers it.)
    "simhash_pairs",
    "fingerprint",
    # round-2 flagship ops: component closure, temporal join, TF-IDF
    "dedup_clusters",
    "asof_join",
    "tfidf_top_terms",
    # round-3 additions: block dedup, decontamination, packing, real
    # multimodal decode+resize (each sets its own baseline in r3)
    "paragraph_dedup",
    "decontaminate",
    "pack_sequences",
    "image_thumbnails",
    "importance_weights",
    "upsert_latest",
    "semantic_dedup",
    "funnel",
    "dq_checks",
    "mad_outliers",
    # round-4 additions: curation surface (PII scan + redaction are
    # map-only regex passes; domain_report is the explode+agg shape;
    # char_entropy is 27 codegen'd string scans per row)
    "pii_redact",
    "domain_report",
    "char_entropy",
    # round-5 additions: web-corpus surface (html_extract is ~20 codegen'd
    # regex passes over synthesized pages; url_dedup one slim canonical-key
    # shuffle; kmv_overlap two shingle scans + k-row compare; substring_dedup
    # the rolling-window hash + island merge; corpus_shuffle hash + per-shard
    # window) — each sets its own r5 baseline
    "html_extract",
    "url_dedup",
    "kmv_overlap",
    "substring_dedup",
    "corpus_shuffle",
    # CCNet perplexity filter: bigram-LM train + score (two count shuffles
    # + one join-aggregate over doc bigrams)
    "perplexity",
    # round-5b additions: snapshot_diff (one full-outer key join),
    # group_sample (threshold prefilter + candidate window), fuzzy_join
    # (prefix-filtered q-gram element join + levenshtein verify),
    # incremental_rollup (partials + slim state merge) — each sets its
    # own r5 baseline
    "snapshot_diff",
    "group_sample",
    "fuzzy_join",
    "incremental_rollup",
    # incremental_dedup: the heaviest r5b path (two signature builds +
    # cross band join); attribution: the event-time range join
    "incremental_dedup",
    "attribution",
    # round-6 additions: progressive-JPEG decode (4-scan SOF2 entropy
    # decode + IDCT inside Arrow), BPE train+tokenize (30 vocabulary-table
    # iterations + trained-vocab join) — each sets its own r6 baseline
    "jpeg_progressive",
    "bpe_tokenize",
    # r6b: PQ ANN (integer subspace k-means + broadcast ADC table + slim
    # (sub, code) join) and hard-negative mining (bounded overfetch +
    # anti-join exclusion over the brute path)
    "pq_ann",
    # r14: the same pipeline through the Arrow exact-int64 assign kernel
    # (bit-identical results; sets its own r14 baseline — measured 1.75x
    # faster than the pinned-HOF pq_ann face already at sf0.1's 2k
    # vectors; the big-corpus encode-pass delta is in SCALE.md)
    "pq_ann_arrow",
    "hard_negatives",
    # round-7 addition: fixed-point quality-classifier training (10
    # full-batch GD iterations, each one logits + one gradient
    # aggregation against a broadcast 65-row weight table) — sets its
    # own r7 baseline
    "quality_exact",
    # round-12 additions (VERDICT r11 ask #5): the r7–r11 families that
    # had no per-round perf row — the persisted-index ANN end-to-end
    # faces (build + persist + reload + query), the corpus curation
    # pipeline, Gopher rules, doc chunking, repetition stats, the
    # distribution window and grouping-sets SQL surfaces — plus the four
    # new r12 ANN lifecycle faces (sharded IVF, IVF/LSH maintenance,
    # persisted PQ). Each sets its own r12 baseline in
    # BASELINE.md. (cosine_pairs_lsh stays unbenched: its full-equality
    # contract deliberately over-works the crossJoin — see the r2 note.)
    "ivf_ann_persisted",
    "lsh_ann_persisted",
    "corpus_pipeline",
    "gopher_rules",
    "chunk_documents",
    "repetition_stats",
    "window_distribution",
    "grouping_sets_lineitem",
    "sharded_ivf_ann",
    "ivf_index_maintenance",
    "lsh_index_maintenance",
    "pq_ann_persisted",
    # round-13 additions: the gauge→policy maintenance contract (pure
    # column logic over synthetic stats — cheap by design) and the
    # sharded-build economics face (two 3-shard builds incl. the
    # one-shuffle materialized split + parity + the probe-reuse plan
    # pin). Each sets its own r13 baseline in BASELINE.md.
    "index_maintenance_plan",
    "sharded_build_materialized",
    # round-14 additions: the IVF-PQ composition — the hash-exact probe+ADC
    # face (build both quantizers + ADC top-5) and the full persisted
    # lifecycle face (twin contracts, roundtrip, append/replay, compact).
    # Each sets its own r14 baseline in BASELINE.md.
    "ivfpq_ann",
    "ivfpq_ann_persisted",
    # sharded IVF-PQ contract face: three builds (flat + 1-shard +
    # 2-shard), degeneration/shard-independence/twin/roundtrip checks
    "sharded_ivfpq_ann",
]

# Benched since r1 — the frozen cross-round comparison basket (see §3 above).
R1_SUBSET = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier",
    "q10_returned_items",
    "business_scalars",
    "metrics_day",
    "metrics_hour_dims",
    "metrics_latest",
    "sla_daily",
    "sla_gap_fill",
    "dedup_exact_stats",
    "minhash_pairs",
    "ngram_jaccard",
    "token_stats",
    "language_id",
    "cosine_topk",
    "sessionize",
]


def _time_query(spark, sf_dir: str, name: str, repeat: int) -> tuple[float, int]:
    from aws_dataset_ingestion_metrics_collection_framework_spark.plans.queries import QUERIES

    fn = QUERIES[name]
    best = None
    nrows = 0
    for _ in range(repeat):
        t0 = time.perf_counter()
        rows = fn(spark, sf_dir).collect()
        took = time.perf_counter() - t0
        nrows = len(rows)
        best = took if best is None else min(best, took)
    return best, nrows


def _make_session(sf_dir: str):
    from aws_dataset_ingestion_metrics_collection_framework_spark import get_spark
    from aws_dataset_ingestion_metrics_collection_framework_spark.catalog import register_tables

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    # JVM/codegen warmup on a trivial job so the query doesn't pay session
    # startup, and table registration (parquet footer reads) outside the
    # timed region.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    register_tables(spark, sf_dir)
    return spark


def worker(name: str) -> None:
    """Isolated single-query measurement: fresh JVM, warmup, min-of-N."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = max(1, int(os.environ.get("BENCH_REPEAT", "2")))
    spark = _make_session(sf_dir)
    best, nrows = _time_query(spark, sf_dir, name, repeat)
    print(json.dumps({"query": name, "sec": round(best, 3), "rows": nrows}))


def _load1() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # platforms without getloadavg
        return -1.0


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from the aggregate /proc/stat cpu line,
    or None off-Linux.  Hypervisor steal does NOT show up in loadavg (a
    throttled task is still 'running'), so `loadavg_before` alone cannot
    distinguish a genuinely slow query from a host whose CPU is being
    taken by the hypervisor — measured on this host: untouched faces
    inflating 1.3-2x while 1-min load read < 0.2 (r15, 'Host
    interference' in OPTIMIZATION_r15.md)."""
    try:
        with open("/proc/stat") as f:
            return _parse_cpu_line(f.readline())
    except (OSError, ValueError):
        return None


def _parse_cpu_line(line: str) -> tuple[int, int]:
    """(steal_ticks, total_ticks) of one /proc/stat cpu line.  The total
    sums user..steal only: guest and guest_nice (fields 9-10) are already
    counted inside user and nice."""
    vals = [int(x) for x in line.split()[1:9]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _steal_pct(t0, t1) -> float | None:
    """Percent of ALL cpu ticks (incl. idle) stolen between two
    _cpu_ticks() samples; None when unavailable or no time passed."""
    if not t0 or not t1 or t1[1] <= t0[1]:
        return None
    return round(100.0 * (t1[0] - t0[0]) / (t1[1] - t0[1]), 1)


def _wait_for_quiet(gate: float, budget: float, step: float, load_fn=_load1, sleep_fn=time.sleep) -> float:
    """Sleep in `step`-second increments while load_fn() > gate, up to
    `budget` seconds total.  Returns the seconds actually slept.  The
    injectable load_fn/sleep_fn exist for unit tests (§6a)."""
    waited = 0.0
    while load_fn() > gate >= 0 and waited < budget:
        sleep_fn(min(step, budget - waited))
        waited += min(step, budget - waited)
    return waited


def main() -> None:
    import signal

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    verbose = os.environ.get("BENCH_VERBOSE") == "1"
    repeat = max(1, int(os.environ.get("BENCH_REPEAT", "2")))
    isolate = os.environ.get("BENCH_ISOLATE", "1") != "0"
    only = sys.argv[1:] or HEADLINE

    # load gate (see methodology §4): wait for a quiet window, then tag
    gate = float(os.environ.get("BENCH_LOAD_GATE", "1.0"))
    wait_budget = float(os.environ.get("BENCH_LOAD_WAIT", "300"))
    waited = _wait_for_quiet(gate, wait_budget, 15.0)
    if verbose and waited:
        print(f"# start gate: waited {waited}s for quiet window", file=sys.stderr)
    loadavg_start = _load1()

    timings: dict[str, float] = {}
    load_before: dict[str, float] = {}
    steal_during: dict[str, float] = {}
    # §6a: one shared re-gate budget for the whole suite, not 60 s/query
    q_wait = float(os.environ.get("BENCH_QUERY_LOAD_WAIT", "60"))
    q_budget = float(os.environ.get("BENCH_QUERY_LOAD_BUDGET", "120"))

    def _emit(partial: bool) -> None:
        total = round(sum(timings.values()), 3)
        r1_subset = round(sum(timings[n] for n in R1_SUBSET if n in timings), 3)
        payload = {
            "metric": "headline-suite wall time",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "loadavg_before": load_before,
            # r15 addition: % of all cpu ticks the hypervisor stole while
            # each worker ran (None-valued entries omitted).  Steal is
            # invisible to loadavg; this column is what lets a reader
            # separate "host was throttled" from "query got slower".
            "cpu_steal_pct": steal_during,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "repeat": repeat,
            "isolation": "subprocess-per-query" if isolate else "shared-session",
            "r1_subset_sec": r1_subset,
            "loadavg_start": loadavg_start,
            "loadavg_end": _load1(),
            "load_gate": gate,
            "load_wait_s": waited,
            "load_contaminated": bool(loadavg_start > gate >= 0),
        }
        if partial:
            payload["partial"] = True
        print(json.dumps(payload), flush=True)

    # §6b: an outer timeout (SIGTERM) or ^C must yield a usable partial
    # artifact, not an empty tail.  The handler kills the in-flight
    # worker, flushes the one-line JSON with the completed queries, and
    # exits non-zero so the caller still sees the interruption.
    current: list = [None]  # in-flight worker Popen, if any

    def _on_signal(signum, frame):  # pragma: no cover - exercised via subprocess test
        proc = current[0]
        if proc is not None and proc.poll() is None:
            try:  # workers run in their own session: kill the JVM child too
                os.killpg(proc.pid, signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                proc.kill()
        _emit(partial=True)
        os._exit(1)

    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    if isolate:
        for name in only:
            # per-query re-gate (§5/§6a): give a mid-suite load transient
            # a short window to drain — bounded per query AND suite-wide —
            # then record whatever load is in effect at launch
            q_budget -= _wait_for_quiet(gate, min(q_wait, q_budget), 10.0)
            load_before[name] = _load1()
            ticks0 = _cpu_ticks()
            proc = subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--worker", name],
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
                text=True,
                cwd=os.path.dirname(os.path.abspath(__file__)),
                start_new_session=True,
            )
            current[0] = proc
            out, err = proc.communicate()
            current[0] = None
            steal = _steal_pct(ticks0, _cpu_ticks())
            if proc.returncode != 0:
                print(f"# worker {name} FAILED:\n{err[-2000:]}", file=sys.stderr)
                _emit(partial=True)
                raise SystemExit(1)
            rec = json.loads(out.strip().splitlines()[-1])
            timings[name] = rec["sec"]
            if steal is not None:
                steal_during[name] = steal
            if verbose:
                print(f"# {name}: {rec['sec']}s ({rec['rows']} rows)", file=sys.stderr)
    else:
        spark = _make_session(sf_dir)
        for name in only:
            best, nrows = _time_query(spark, sf_dir, name, repeat)
            timings[name] = round(best, 3)
            if verbose:
                print(f"# {name}: {timings[name]}s ({nrows} rows)", file=sys.stderr)

    _emit(partial=False)


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--worker":
        worker(sys.argv[2])
    else:
        main()
