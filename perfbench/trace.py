"""Spans, Spark stage metrics per span, and the summary statistics rules.

A span is recorded around each call the harness makes into a layer's public
function. Spark stage metrics are attributed to the innermost open span by
setting the Spark job group to the span id before the call; they are read
from the Spark status REST API once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
import urllib.request
from contextlib import contextmanager


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile that still has at least
    ten samples beyond it, or None when fewer than 11 samples exist.

    With n sorted samples the (n-10)-th smallest has exactly ten samples
    above it, so it is the n-th percentile for p = 100 * (n - 10) / n.
    """
    n = len(values)
    if n < 11:
        return None
    ordered = sorted(values)
    return float(ordered[n - 11]), 100.0 * (n - 10) / n


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of its interval its children cover.

    Children are clipped to the parent's interval and their union is taken,
    so overlapping children (work on several threads) are not counted twice.
    """
    lo, hi = span["start"], span["end"]
    clipped = sorted(
        (max(c["start"], lo), min(c["end"], hi)) for c in children if c["end"] > lo and c["start"] < hi
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for s, e in clipped:
        if cur_hi is None or s > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = s, e
        else:
            cur_hi = max(cur_hi, e)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a no-op,
    which is how untraced jobs run."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[dict] = []
        self.enabled = False
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, job: int):
        if not self.enabled:
            yield {"counts": {}}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"span-{next(self._ids)}",
            "name": name,
            "job": job,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self._stack.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(parent["id"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def with_self_times(self) -> list[dict]:
        by_parent: dict[str, list[dict]] = {}
        for s in self.spans:
            by_parent.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            rec = dict(s)
            rec["wall_s"] = s["end"] - s["start"]
            rec["self_s"] = self_time(s, by_parent.get(s["id"], []))
            out.append(rec)
        return out

    def stage_metrics(self) -> dict[str, dict]:
        """Span id -> summed stage metrics of the Spark jobs run under it."""
        if self.spark is None or not self.spans:
            return {}
        sc = self.spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        with urllib.request.urlopen(base + "/jobs", timeout=30) as fh:
            jobs = json.load(fh)
        with urllib.request.urlopen(base + "/stages", timeout=30) as fh:
            stages = json.load(fh)
        out: dict[str, dict] = {}
        stage_group = {}
        for j in jobs:
            group = j.get("jobGroup")
            if group:
                out.setdefault(group, dict.fromkeys(STAGE_FIELDS, 0.0))["jobs"] += 1
                for sid in j.get("stageIds", []):
                    stage_group[sid] = group
        for st in stages:
            group = stage_group.get(st["stageId"])
            if group is None or st.get("status") == "SKIPPED":
                continue
            acc = out[group]
            acc["run_s"] += st.get("executorRunTime", 0) / 1e3
            acc["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            acc["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            acc["tasks"] += st.get("numCompleteTasks", 0)
            acc["failed_tasks"] += st.get("numFailedTasks", 0)
            acc["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
            acc["spill_mb"] += (st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)) / 1e6
            acc["input_records"] += st.get("inputRecords", 0)
            acc["output_records"] += st.get("outputRecords", 0)
        return out


STAGE_FIELDS = (
    "jobs",
    "run_s",
    "cpu_s",
    "gc_s",
    "tasks",
    "failed_tasks",
    "shuffle_write_mb",
    "spill_mb",
    "input_records",
    "output_records",
)


def layer_totals(spans: list[dict], stage: dict[str, dict]) -> dict[tuple[int, str], dict]:
    """(job, span name) -> self/wall time and stage metrics summed over the
    spans of that name in that job."""
    out: dict[tuple[int, str], dict] = {}
    for s in spans:
        acc = out.setdefault(
            (s["job"], s["name"]), {"wall_s": 0.0, "self_s": 0.0, **dict.fromkeys(STAGE_FIELDS, 0.0)}
        )
        acc["wall_s"] += s["wall_s"]
        acc["self_s"] += s["self_s"]
        for k, v in stage.get(s["id"], {}).items():
            acc[k] += v
        for k, v in s["counts"].items():
            acc[k] = acc.get(k, 0) + v
    return out
