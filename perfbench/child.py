"""One workload run in a fresh Spark session; writes a result JSON file.

Started by ``perfbench/run.py`` with the repository root on PYTHONPATH, so
Spark's Python workers import the engine from any working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

from aws_dataset_ingestion_metrics_collection_framework_spark import get_spark

from .batch import WORKLOADS
from .live import LiveAlarm
from .trace import Tracer, layer_totals, median, tail

SETUP_REPS = 3
MIN_WARM_JOBS = 1
MAX_JOBS = 200


def start_session(nproc: int):
    conf = {
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # first-job JVM warm-up
    return spark


def run_batch(wl, seconds: float, trace: bool) -> dict:
    """First job cold, then warm jobs until ``seconds`` have passed and at
    least MIN_WARM_JOBS ran. A traced run alternates untraced and traced
    jobs after the first and needs one of each. A job that raises ends the
    run: its time is not kept, and the run reports it as failed."""
    wl.kept_job_dir = wl.job_dir(0)
    walls, traced_walls, failures = [], [], []
    t_start = None
    for i in range(MAX_JOBS):
        wl.tracer.enabled = trace and i % 2 == 1
        t = time.perf_counter()
        try:
            with wl.tracer.span("job", i):
                wl.job(i)
        except Exception:
            failures.append(i)
            traceback.print_exc()
            break
        finally:
            wl.tracer.enabled = False
        (traced_walls if i % 2 == 1 and trace else walls).append(time.perf_counter() - t)
        wl.discard(i)
        if t_start is None:
            t_start = time.perf_counter()  # the measured window starts after the cold job
            continue
        warm = len(walls) - 1
        enough = len(traced_walls) >= 1 and warm >= 1 if trace else warm >= MIN_WARM_JOBS
        if enough and time.perf_counter() - t_start >= seconds:
            break
    return {"walls": walls, "traced_walls": traced_walls, "failed_jobs": failures}


def batch_layers(wl, run: dict, nproc: int) -> tuple[dict, list]:
    """Per-layer metrics (medians over the traced jobs) and the spans, each
    with the Spark stage metrics attributed to it."""
    spans = wl.tracer.with_self_times()
    stage = wl.tracer.stage_metrics()
    for s in spans:
        s["stage"] = stage.get(s["id"], {})
    totals = layer_totals(spans, stage)
    jobs = sorted({j for j, _ in totals})

    def med(layer: str, field: str) -> float:
        vals = [totals[(j, layer)].get(field, 0.0) for j in jobs if (j, layer) in totals]
        return median(vals) if vals else 0.0

    def busy(layer: str) -> float:
        wall = med(layer, "wall_s")
        return med(layer, "run_s") / (wall * nproc) if wall else 0.0

    out = {}
    for layer in ("business", "metrics", "sla_eval"):
        out[f"{layer}.wall_s"] = med(layer, "wall_s")
        out[f"{layer}.cpu_s"] = med(layer, "cpu_s")
    out["business.jobs"] = med("business", "jobs")
    for layer in ("metrics", "sla_eval"):
        out[f"{layer}.busy_frac"] = busy(layer)
        out[f"{layer}.gc_s"] = med(layer, "gc_s")
        out[f"{layer}.shuffle_write_mb"] = med(layer, "shuffle_write_mb")
        out[f"{layer}.spill_mb"] = med(layer, "spill_mb")
    out["metrics.tasks"] = med("metrics", "tasks")
    out["metrics.rows_out"] = med("metrics", "rows_out")
    out["sla_eval.transitions"] = med("sla_eval", "transitions")
    out["sla_eval.alerts"] = med("sla_eval", "alerts")
    out["sla_table.wall_s"] = med("sla_table", "self_s")
    out["sla_table.rows_out"] = med("sla_table", "rows_out")
    out["lake.write_s"] = med("lake.write", "wall_s")
    out["lake.read_s"] = med("lake.read", "wall_s")
    out["lake.files_written"] = med("lake.write", "files")
    out["lake.partitions_written"] = med("lake.write", "partitions")
    out["lake.bytes_written_mb"] = med("lake.write", "bytes") / 1e6
    rows = med("lake.write", "rows")
    out["lake.bytes_per_row"] = med("lake.write", "bytes") / rows if rows else 0.0
    out["dedup.signatures_s"] = med("dedup.signatures", "wall_s")
    out["dedup.candidates_s"] = med("dedup.candidates", "wall_s")  # includes its own signature pass
    out["dedup.verify_s"] = med("dedup.verify", "wall_s")
    out["dedup.candidates"] = med("dedup.candidates", "candidates")
    out["dedup.pairs"] = med("dedup.verify", "pairs")
    out["dedup.useful_candidate_frac"] = out["dedup.pairs"] / out["dedup.candidates"] if out["dedup.candidates"] else 0.0
    for f in ("shuffle_write_mb", "spill_mb"):
        out[f"dedup.{f}"] = sum(med(f"dedup.{s}", f) for s in ("signatures", "candidates", "verify"))
    out["graph.cc_s"] = med("graph", "wall_s")
    out["graph.jobs"] = med("graph", "jobs")
    out["graph.components"] = med("graph", "components")
    out["spark.failed_tasks"] = sum(t.get("failed_tasks", 0) for t in totals.values())
    out.update(wl.trace_counts())
    if out.get("metrics.windows_aggregated"):
        out["metrics.useful_window_frac"] = out["metrics.rows_out"] / out["metrics.windows_aggregated"]
    warm = run["walls"][1:]
    out["trace.overhead_frac"] = median(run["traced_walls"]) / median(warm) - 1 if warm and run["traced_walls"] else 0.0
    return out, spans


def run_checks(wl) -> list[dict]:
    try:
        checks = wl.check()
    except Exception as exc:
        traceback.print_exc()
        checks = [(f"{wl.name}.check", False, f"check raised {exc!r}")]
    for name, ok, detail in checks:
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
    return [{"name": n, "ok": bool(ok), "detail": "" if ok else d} for n, ok, d in checks]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    trace = bool(args.trace)
    nproc = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    phases = {}
    spark = start_session(nproc)
    session_start_s = time.perf_counter() - t0

    cls = LiveAlarm if args.workload == "live_alarm" else WORKLOADS[args.workload]
    tracer = Tracer(spark)
    wl = cls(spark, args.seed, args.work, tracer, nproc)
    setup_times = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        wl.generate(rep)
        setup_times.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.register()
    register_s = time.perf_counter() - t

    result = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "inputs": wl.describe(),
        "generate_reps_s": setup_times,
        "register_s": register_s,
        "session_start_s": session_start_s,
    }
    metrics = {"setup_s": session_start_s + median(setup_times) + register_s}
    layers: dict = {"session.start_s": session_start_s}
    spans: list = []
    failed = attempted = 0
    phases["setup"] = time.perf_counter() - t0
    if args.workload == "live_alarm":
        try:
            t = time.perf_counter()
            run = wl.run(args.seconds)
            run_wall = time.perf_counter() - t
        except Exception as exc:
            traceback.print_exc()
            result.update(error=repr(exc))
            run = None
        if run is None:
            checks = [{"name": "live_alarm.run", "ok": False, "detail": result["error"]}]
        else:
            phases["jobs"] = time.perf_counter() - t0
            checks = run_checks(wl)
            phases["checks"] = time.perf_counter() - t0
            lat = run["latencies"]
            metrics["first_job_s"] = run["first_s"]
            if lat:
                metrics["job_p50_s"] = median(lat)
            attempted += 1 + run["expected"]
            failed += run["missed"]
            result["alarm_latencies"] = lat
            result["stream_batches"] = run["batches"]  # (start, durationMs, input rows) per query
            result["alarm_latency_tail"] = tail(lat)
            if trace:
                t = time.perf_counter()
                layers.update(wl.layer_metrics())
                layers["trace.overhead_frac"] = (time.perf_counter() - t) / run_wall
    else:
        run = run_batch(wl, args.seconds, trace)
        walls = run["walls"]
        attempted += len(walls) + len(run["traced_walls"]) + len(run["failed_jobs"])
        failed += len(run["failed_jobs"])
        result["job_walls"] = walls
        if run["failed_jobs"]:
            checks = [{"name": f"{wl.name}.jobs", "ok": False, "detail": f"job {run['failed_jobs'][0]} raised"}]
        else:
            phases["jobs"] = time.perf_counter() - t0
            checks = run_checks(wl)
            phases["checks"] = time.perf_counter() - t0
            metrics["first_job_s"] = walls[0]
            metrics["job_p50_s"] = median(walls[1:])
            result["warm_jobs"] = len(walls) - 1
            result["job_tail"] = tail(walls[1:])
        if trace and not run["failed_jobs"]:
            extra, spans = batch_layers(wl, run, nproc)
            layers.update(extra)
    phases["done"] = time.perf_counter() - t0
    attempted += len(checks)
    failed += sum(1 for c in checks if not c["ok"])
    result.update(metrics=metrics, layers=layers, checks=checks, attempted=attempted, failed=failed, spans=spans, phases=phases)
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    sys.stderr.flush()
    # run.py kills and reaps this process group (JVM, Python workers) as soon
    # as this process exits, so skip the slow orderly Spark shutdown
    os._exit(0)


if __name__ == "__main__":
    main()
