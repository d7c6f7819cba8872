"""Pipeline benchmark for the metrics engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run starts one child process (a fresh
Spark session, ``local[nproc]``) with the repository on PYTHONPATH and its
working directory under ``.perfbench_work/``; this process samples the
child's process-tree RSS and the host's CPU steal and load, checks the
child's return code, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones. A readable summary precedes the JSON, and the full result (spans,
checks, input sizes, tail percentiles) is kept under ``.perfbench_out/``.
The exit code is non-zero when a correctness check fails or the run breaks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import hostmon  # noqa: E402

PACKAGE = "aws_dataset_ingestion_metrics_collection_framework_spark"
CHILD_TIMEOUT_S = 160  # keeps a whole run, reaping included, under three minutes
STDERR_TAIL = 4000


def _stop_group(pgid: int) -> None:
    """SIGKILL what is left of the child's process group and wait until it
    has gone (a JVM or a Python worker can outlive the process that started it)."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_child(args, work: str) -> tuple[dict | None, str, dict, float]:
    result_path = os.path.join(work, "result.json")
    cwd = os.path.join(work, "cwd")
    tmp = os.path.join(work, "tmp")
    for d in (cwd, tmp):
        os.makedirs(d)
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(nproc),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable, "-m", "perfbench.child",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", os.path.join(work, "data"), "--result", result_path,
    ]
    stderr_path = os.path.join(work, "stderr.txt")
    host = hostmon.HostWindow()
    with open(stderr_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=err, stderr=subprocess.STDOUT, start_new_session=True)
        with hostmon.TreeSampler(proc.pid) as rss:
            try:
                proc.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                _stop_group(proc.pid)
                proc.wait()
        _stop_group(proc.pid)
    with open(stderr_path) as fh:
        tail = fh.read()[-STDERR_TAIL:]
    result = None
    if proc.returncode == 0 and os.path.exists(result_path):
        with open(result_path) as fh:
            result = json.load(fh)
    else:
        print(f"child exited with code {proc.returncode}; stderr tail:\n{tail}", file=sys.stderr)
    return result, tail, host.close(), rss.peak_bytes / 1e6


def load_spec() -> tuple[list[str], dict[str, str], dict[str, str]]:
    """Workload names and the end-to-end and per-layer metrics (name -> unit)
    that BENCHMARK.json at the repository root lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    units = lambda key: {m["name"]: m["unit"] for m in bench[key]}  # noqa: E731
    return [w["name"] for w in bench["workloads"]], units("end_to_end"), units("per_layer")


def main() -> int:
    workloads, end_to_end, per_layer = load_spec()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a checkout of the repository", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    os.makedirs(work)
    t0 = time.perf_counter()
    try:
        result, stderr_tail, host, peak_rss_mb = run_child(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1

    result.update(host=host, peak_rss_mb=peak_rss_mb, run_wall_s=time.perf_counter() - t0, stderr_tail=stderr_tail)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(result, fh, indent=1)

    correct = result["failed"] == 0 and all(c["ok"] for c in result["checks"])
    if args.trace:
        values = {**result["layers"], **host, "host.peak_rss_mb": peak_rss_mb}
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in per_layer.items()}
    else:
        values = result["metrics"]
        if not all(k in values for k in end_to_end):
            print(f"the run broke before measuring: {result.get('error')}", file=sys.stderr)
            return 1
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in end_to_end.items()}
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": result["inputs"],
        "failed_frac": result["failed"] / result["attempted"],
        "warm_jobs": result.get("warm_jobs"),
        "job_tail": result.get("job_tail"),
        "alarm_latency_samples": len(result.get("alarm_latencies", [])) or None,
        "alarm_latency_tail": result.get("alarm_latency_tail"),
        "failed_checks": [c["name"] for c in result["checks"] if not c["ok"]],
        "run_wall_s": result["run_wall_s"],
        "peak_rss_mb": peak_rss_mb,
        **host,
    }
    print("summary " + json.dumps(summary))
    print(json.dumps({"correct": correct, "attempted": result["attempted"], "failed": result["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
