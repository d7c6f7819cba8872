"""Paired per-face core-scaling measurement (r15 item 7).

For each face, runs `bench.py --worker <face>` at SPARK_GRAFT_CPUS=32 and
then immediately at 8 on the same host. Pairing the two core counts
back-to-back cancels slow host-load drift that makes two independent
full-suite runs incomparable (the drift is minutes-scale; a pair spans
seconds). Each pair is gated on 1-min loadavg so the 32c leg doesn't
start into another worker's decay tail.

Usage: python tools/paired_scaling.py <out.json> [face ...]
Defaults to the heavy faces (>3 s at 32c in the r15 full-suite run).
"""

import json
import os
import subprocess
import sys
import time

HEAVY = [
    "sharded_ivfpq_ann", "ivf_index_maintenance", "ivfpq_ann_persisted",
    "sharded_build_materialized", "sharded_ivf_ann", "pq_ann_persisted",
    "incremental_dedup", "lsh_index_maintenance", "ivf_ann_persisted",
    "pq_ann", "minhash_pairs", "dedup_clusters", "ngram_jaccard",
    "lsh_ann_persisted", "pq_ann_arrow", "ivfpq_ann", "semantic_dedup",
    "simhash_pairs",
]


def _worker(face: str, cpus: int, sf_dir: str) -> float | None:
    """Seconds of one bench worker run, or None (stderr tail printed) when
    the worker fails or times out."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_SF_DIR=sf_dir)
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "..", "bench.py"),
             "--worker", face],
            env=env, capture_output=True, text=True, timeout=600,
        )
    except subprocess.TimeoutExpired as e:
        err = e.stderr.decode(errors="replace") if isinstance(e.stderr, bytes) else e.stderr or ""
        print(f"# {face} at {cpus}c timed out after {e.timeout}s:\n{err[-2000:]}", file=sys.stderr)
        return None
    if out.returncode != 0:
        print(f"# {face} at {cpus}c failed (rc {out.returncode}):\n{out.stderr[-2000:]}",
              file=sys.stderr)
        return None
    return float(json.loads(out.stdout.strip().splitlines()[-1])["sec"])


def _quiet(gate: float = 1.5, budget: float = 90.0) -> float:
    waited = 0.0
    while os.getloadavg()[0] > gate and waited < budget:
        time.sleep(10)
        waited += 10
    return round(os.getloadavg()[0], 2)


def main() -> None:
    out_path = sys.argv[1]
    faces = sys.argv[2:] or HEAVY
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    results = {}
    for face in faces:
        load = _quiet()
        s32 = _worker(face, 32, sf_dir)
        s8 = _worker(face, 8, sf_dir) if s32 is not None else None
        if s32 is None or s8 is None:
            print(f"{face}: skipped (worker failed)", flush=True)
            continue
        results[face] = {
            "load_before_pair": load,
            "sec_32c": s32,
            "sec_8c": s8,
            "ratio_8c_over_32c": round(s8 / s32, 2),
        }
        print(f"{face}: 32c={s32:.2f}s 8c={s8:.2f}s ratio={s8/s32:.2f} (load {load})",
              flush=True)
        with open(out_path, "w") as f:
            json.dump({"sf_dir": sf_dir, "pairs": results}, f, indent=1)


if __name__ == "__main__":
    main()
