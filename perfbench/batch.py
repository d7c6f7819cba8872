"""The batch workload, batch_cycle, and the two parts it is built from:
the backfill and the SLA fleet with corpus dedup.

A workload object stages its inputs in ``generate`` and runs one job per
``job`` call. A job calls only the engine's public functions. When the
tracer is enabled, the job opens a span around each layer call and
materialises that layer's output at the boundary (a write, a count or an
eager local checkpoint), so the span covers the layer's execution.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.dataset as pads
from pyspark.sql import functions as F

from aws_dataset_ingestion_metrics_collection_framework_spark.catalog import METRIC_DEFS_SCHEMA
from aws_dataset_ingestion_metrics_collection_framework_spark.operators.business import (
    business_metrics_distributed,
)
from aws_dataset_ingestion_metrics_collection_framework_spark.operators.dedup import (
    jaccard_verify,
    minhash_candidates,
    minhash_dedup_pairs,
    minhash_signatures_df,
)
from aws_dataset_ingestion_metrics_collection_framework_spark.operators.graph import (
    connected_components,
    dedup_keep_per_cluster,
)
from aws_dataset_ingestion_metrics_collection_framework_spark.operators.metrics import (
    compute_metric_windows,
    scrape_metrics,
)
from aws_dataset_ingestion_metrics_collection_framework_spark.operators.sla_eval import (
    build_alerts,
    evaluate_slas,
    gap_fill,
    state_transitions,
)
from aws_dataset_ingestion_metrics_collection_framework_spark.operators.sla_table import (
    build_alarm_registry,
    scrape_sla_table,
)
from aws_dataset_ingestion_metrics_collection_framework_spark.sources.parquet_lake import (
    read_lake_table,
    write_partitioned,
)
from aws_dataset_ingestion_metrics_collection_framework_spark.functions.stats import percentiles_in_defs

from . import gen, oracle



def collection_time():
    """A fixed collection timestamp, so outputs do not depend on the clock."""
    return F.lit("2026-01-01 00:00:00").cast("timestamp")

ACCOUNT = "123412341234"


def lake_stats(path: str) -> dict:
    """Parquet files, leaf partition directories and bytes under ``path``."""
    files = parts = size = 0
    for dirpath, _, names in os.walk(path):
        pq_files = [n for n in names if n.endswith(".parquet")]
        if pq_files:
            parts += 1
        files += len(pq_files)
        size += sum(os.path.getsize(os.path.join(dirpath, n)) for n in pq_files)
    return {"files": files, "partitions": parts, "bytes": size}


def lake_table(path: str, columns: list[str] | None = None):
    """Read a Hive-partitioned Parquet lake with pyarrow, for the checks."""
    return pads.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


class BatchWorkload:
    """Shared plumbing: working directories and per-job output cleanup."""

    name = ""

    def __init__(self, spark, seed: int, work: str, tracer, parts: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.parts = parts
        self.kept_job_dir: str | None = None

    def job_dir(self, i: int) -> str:
        return os.path.join(self.work, "out", f"job{i:03d}")

    def discard(self, i: int) -> None:
        """Drop a finished job's outputs unless they are kept for the checks."""
        if self.job_dir(i) != self.kept_job_dir:
            shutil.rmtree(self.job_dir(i), ignore_errors=True)


# ---------------------------------------------------------------- backfill

BUSINESS_QUERIES = {
    "events_total": "SELECT count(*) FROM events",
    "value_sum": "SELECT sum(value) FROM events",
    "value_max": "SELECT max(value) FROM events",
    "value_median": "SELECT percentile(value, 0.5) FROM events",
    "value_stddev": "SELECT stddev_samp(value) FROM events",
    "null_dims_avg": "SELECT avg(value) FROM events WHERE dimensions IS NULL",
    "distinct_series": "SELECT count(DISTINCT namespace, name, coalesce(dimensions, '')) FROM events",
    "large_events": "SELECT count(*) FROM events WHERE value > 500",
}


class Backfill(BatchWorkload):
    """Raw events -> business scalars -> minute/hour/day scrape -> lake."""

    SIZE = {"n_events": 40_000, "n_series": 300, "days": 2}

    def generate(self, rep: int) -> None:
        self.inp = gen.backfill(np.random.default_rng(self.seed), **Backfill.SIZE)
        self.events_dir = os.path.join(self.work, f"input{rep}", "events")
        gen.stage_events(self.inp, self.events_dir, self.parts)
        self.defs_dir = os.path.join(self.work, f"input{rep}", "metric_defs")
        gen.stage_metric_defs(self.inp, self.defs_dir, account=ACCOUNT)

    def register(self) -> None:
        self.defs_df = self.spark.read.parquet(self.defs_dir)

    def describe(self) -> dict:
        return {**Backfill.SIZE, "defs": len(self.inp.defs)}

    def job(self, i: int) -> None:
        t = self.tracer
        events = self.spark.read.parquet(self.events_dir)
        events.createOrReplaceTempView("events")
        with t.span("business", i):
            self.business = {r["name"]: r["value"] for r in business_metrics_distributed(self.spark, BUSINESS_QUERIES).collect()}
        for freq, _ in gen.FREQUENCIES:
            with t.span("metrics", i) as sp:
                df = scrape_metrics(events, self.defs_df, freq, collection_time=collection_time())
                if t.enabled:
                    df = df.localCheckpoint(eager=True)
                    sp["counts"]["rows_out"] = df.count()
            with t.span("lake.write", i) as sp:
                path = os.path.join(self.job_dir(i), f"metrics_{freq}")
                write_partitioned(df, path, mode="overwrite")
                if t.enabled:
                    st = lake_stats(path)
                    sp["counts"].update(files=st["files"], partitions=st["partitions"], bytes=st["bytes"])
                    sp["counts"]["rows"] = lake_table(path, ["id"]).num_rows

    def trace_counts(self) -> dict:
        """Windows aggregated before the definition join (untimed), and the
        files the untraced first job wrote per frequency (a traced job writes
        a checkpointed frame, which can split into fewer files)."""
        events = self.spark.read.parquet(self.events_dir)
        out = {"metrics.windows_aggregated": 0}
        for freq, period in gen.FREQUENCIES:
            stats = [d[3] for d in self.inp.defs if d[1] == freq]
            out["metrics.windows_aggregated"] += compute_metric_windows(events, period, percentiles_in_defs(stats) or None).count()
            out[f"lake.untraced_files.{freq}"] = lake_stats(os.path.join(self.kept_job_dir, f"metrics_{freq}"))["files"]
        return out

    def check(self) -> list[tuple[str, bool, str]]:
        inp, out = self.inp, []
        v = inp.ev_value
        has_null = np.array([inp.series[j][2] is None for j in range(len(inp.series))])
        expect = {
            "events_total": len(v),
            "value_sum": v.sum(),
            "value_max": v.max(),
            "value_median": np.median(v),
            "value_stddev": v.std(ddof=1),
            "null_dims_avg": v[has_null[inp.ev_series]].mean(),
            "distinct_series": len(np.unique(inp.ev_series)),
            "large_events": int((v > 500).sum()),
        }
        bad = [k for k, e in expect.items() if not oracle.close(self.business.get(k), e, 1e-9)]
        out.append(("backfill.business_scalars", not bad, f"mismatched: {bad}"))

        lake = self.kept_job_dir
        for freq, period in gen.FREQUENCIES:
            windows = inp.ev_ts // period
            want = sum(len(np.unique(windows[inp.ev_series == j])) for j, f, _, _ in inp.defs if f == freq)
            got = lake_table(os.path.join(lake, f"metrics_{freq}"), ["id"]).num_rows
            out.append((f"backfill.rows_{freq}", got == want, f"rows {got} != expected {want}"))

        rng = np.random.default_rng(self.seed + 1)
        freq, period = gen.FREQUENCIES[1]
        defs = [(j, stat) for j, f, _, stat in inp.defs if f == freq]
        sample = [defs[k] for k in rng.choice(len(defs), size=min(40, len(defs)), replace=False)]
        cols = ["namespace", "name", "dimensions", "metrictimestamp", "metricvalue"]
        table = lake_table(os.path.join(lake, f"metrics_{freq}"), cols).to_pydict()
        got = {key[:4]: key[4] for key in zip(*(table[c] for c in cols))}
        wrong = 0
        for j, stat in sample:
            mask = inp.ev_series == j
            ts, vals = inp.ev_ts[mask], inp.ev_value[mask]
            for w in np.unique(ts // period):
                cell = vals[(ts // period) == w]
                want = {
                    "Sum": cell.sum(),
                    "Average": cell.mean(),
                    "Minimum": cell.min(),
                    "Maximum": cell.max(),
                    "SampleCount": float(len(cell)),
                    "p99": np.percentile(cell, 99) if stat == "p99" else 0.0,
                }[stat]
                key = (*inp.series[j], gen.iso(int(w * period)))
                if key not in got or not oracle.close(got[key], np.float32(want), 1e-6):
                    wrong += 1
        out.append(("backfill.sampled_cells", wrong == 0, f"{wrong} sampled cells differ"))
        return out


# ------------------------------------------------------------- fleet_dedup


class FleetDedup(BatchWorkload):
    """Two batch jobs of the monitor that use none of the backfill's layers
    but the lake writer, run back to back as one job:

    - SLA fleet: hourly lake -> m-of-n evaluation -> transitions/alerts ->
      sla_table -> slas lake;
    - corpus dedup: corpus -> MinHash-LSH pairs -> connected components ->
      keep one document per cluster.
    """

    SIZE = {"n_series": 120, "hours": 72, "n_docs": 1000}
    THRESHOLD = 0.8
    K = 3

    def generate(self, rep: int) -> None:
        rng = np.random.default_rng(self.seed)
        self.fleet = gen.sla_fleet(rng, n_series=FleetDedup.SIZE["n_series"], hours=FleetDedup.SIZE["hours"])
        self.lake_dir = os.path.join(self.work, f"input{rep}", "metrics_hour")
        gen.stage_hourly_lake(self.fleet, self.lake_dir)
        self.corpus = gen.corpus(rng, n_docs=FleetDedup.SIZE["n_docs"])
        self.docs_dir = os.path.join(self.work, f"input{rep}", "docs")
        gen.stage_corpus(self.corpus, self.docs_dir, self.parts)

    def register(self) -> None:
        inp, spark = self.fleet, self.spark
        sid = [gen.series_id(ns, name, "hour", dims) for ns, name, dims in inp.series]
        self.sla_defs = spark.createDataFrame(
            [(s, sid[j], th, op, m, n, pol, 3600) for s, j, op, th, m, n, pol in inp.slas],
            "sla_id string, series_id string, threshold double, comparison_operator string, "
            "datapoints_to_alarm int, evaluation_periods int, treat_missing_data string, period int",
        )
        self.sla_meta = spark.createDataFrame(
            [(s, f"details {s}", f"{inp.series[j][1]} breached", "2", True, inp.series[j][1], "hour", inp.series[j][2] or "", s)
             for s, j, *_ in inp.slas],
            "sla_id string, details string, short_description string, severity string, sns_enabled boolean, "
            "metric_name string, frequency string, dimension_value string, reference_id string",
        )
        self.sla_metric_defs = spark.createDataFrame(
            [(s, *inp.series[j][:2], "hour", 3600, "Average", inp.series[j][2], th, op, pol)
             for s, j, op, th, m, n, pol in inp.slas],
            "sla_id string, namespace string, name string, frequency string, period int, statistic string, "
            "dimensions string, threshold double, comparison_operator string, treat_missing_data string",
        )
        self.metric_defs = spark.createDataFrame(
            [(ns, name, "hour", 3600, "Average", '{"owner": "bench"}', dims, "bench", "bench", None, ACCOUNT, None, None, None)
             for ns, name, dims in inp.series],
            METRIC_DEFS_SCHEMA,
        )

    def describe(self) -> dict:
        return {**FleetDedup.SIZE, "slas": len(self.fleet.slas), "episodes": self.fleet.episodes, "planted": len(self.corpus.planted)}

    def _series(self):
        return read_lake_table(self.spark, self.lake_dir).select(
            F.col("id").alias("series_id"),
            F.to_timestamp("metrictimestamp").alias("ws"),
            F.col("metricvalue").cast("double").alias("value"),
        )

    def job(self, i: int) -> None:
        self._sla_job(i)
        self._dedup_job(i)

    def _sla_job(self, i: int) -> None:
        t = self.tracer
        with t.span("lake.read", i):
            series = self._series()
            if t.enabled:
                series = series.localCheckpoint(eager=True)
        with t.span("sla_eval", i) as sp:
            trans = state_transitions(evaluate_slas(series, self.sla_defs)).persist()
            self.n_transitions = trans.count()
            self.n_alerts = build_alerts(trans, self.sla_meta).count()
            sp["counts"].update(transitions=self.n_transitions, alerts=self.n_alerts)
        with t.span("sla_table", i) as sp:
            latest = trans.groupBy("sla_id").agg(
                F.max_by("statevalue", "ws").alias("statevalue"),
                F.max_by("statereason", "ws").alias("statereason"),
            )
            states = build_alarm_registry(self.sla_metric_defs).join(latest, "sla_id")
            rows = scrape_sla_table(states, self.metric_defs, account_id=ACCOUNT, collection_time=collection_time())
            if t.enabled:
                rows = rows.localCheckpoint(eager=True)
                sp["counts"]["rows_out"] = rows.count()
            with t.span("lake.write", i) as wsp:
                path = os.path.join(self.job_dir(i), "slas")
                write_partitioned(rows, path, mode="overwrite")
                if t.enabled:
                    st = lake_stats(path)
                    wsp["counts"].update(files=st["files"], partitions=st["partitions"], bytes=st["bytes"], rows=sp["counts"]["rows_out"])
        if self.kept_job_dir == self.job_dir(i):
            self.kept_transitions = trans  # collected, then released, by check()
        else:
            trans.unpersist()

    def _dedup_job(self, i: int) -> None:
        t = self.tracer
        docs = self.spark.read.parquet(self.docs_dir)
        if t.enabled:
            with t.span("dedup.signatures", i):
                minhash_signatures_df(docs, "doc_id", "text", k=self.K).localCheckpoint(eager=True)
            with t.span("dedup.candidates", i) as sp:
                cands = minhash_candidates(docs, "doc_id", "text", k=self.K).localCheckpoint(eager=True)
                sp["counts"]["candidates"] = cands.count()
            with t.span("dedup.verify", i) as sp:
                pairs = jaccard_verify(docs, cands, "doc_id", "text", k=self.K, threshold=self.THRESHOLD)
                pairs = pairs.localCheckpoint(eager=True)
                sp["counts"]["pairs"] = pairs.count()
        else:
            pairs = minhash_dedup_pairs(docs, "doc_id", "text", k=self.K, threshold=self.THRESHOLD)
            pairs = pairs.localCheckpoint(eager=True)
        with t.span("graph", i) as sp:
            comps = connected_components(docs.select("doc_id"), pairs, id_col="doc_id")
            if t.enabled:
                comps = comps.localCheckpoint(eager=True)
                sp["counts"]["components"] = comps.select("component").distinct().count()
            self.kept = dedup_keep_per_cluster(docs, comps, "doc_id").count()
        if self.kept_job_dir == self.job_dir(i):
            self.kept_pairs = pairs  # collected by check()

    def trace_counts(self) -> dict:
        return {"sla_eval.grid_rows": gap_fill(self._series(), self.sla_defs).count()}

    def check(self) -> list[tuple[str, bool, str]]:
        return self._sla_check() + self._dedup_check()

    def _sla_check(self) -> list[tuple[str, bool, str]]:
        inp = self.fleet
        got: dict[str, set] = {}
        rows = self.kept_transitions.select("sla_id", F.unix_timestamp("ws").alias("ws"), "statevalue").toPandas()
        self.kept_transitions.unpersist()
        for s, ws, st in rows.itertuples(index=False):
            got.setdefault(s, set()).add((int(ws), st))
        mismatched, n_trans, n_alerts = [], 0, 0
        for s, j, op, th, m, n, pol in inp.slas:
            observed = {
                gen.BASE_EPOCH + h * 3600: float(v) for h, v in enumerate(inp.values[j]) if not np.isnan(v)
            }
            want = oracle.transitions(oracle.sla_states(observed, 3600, op=op, threshold=th, m=m, n=n, policy=pol))
            n_trans += len(want)
            n_alerts += sum(1 for _, st in want if st in ("ALARM", "INSUFFICIENT_DATA"))
            if set(want) != got.get(s, set()):
                mismatched.append(s)
        slas_rows = lake_table(os.path.join(self.kept_job_dir, "slas"), ["alarmname"]).num_rows
        return [
            ("fleet.transitions", not mismatched, f"{len(mismatched)} SLAs differ from the oracle, e.g. {mismatched[:3]}"),
            ("fleet.transition_count", self.n_transitions == n_trans, f"{self.n_transitions} != {n_trans}"),
            ("fleet.alerts", self.n_alerts == n_alerts, f"{self.n_alerts} != {n_alerts}"),
            ("fleet.slas_rows", slas_rows == len(inp.slas), f"{slas_rows} != {len(inp.slas)}"),
        ]

    def _dedup_check(self) -> list[tuple[str, bool, str]]:
        inp = self.corpus
        found = {(int(r["id_a"]), int(r["id_b"])) for r in self.kept_pairs.select("id_a", "id_b").collect()}
        missing = [p for p in inp.planted if p not in found]
        sh = {}

        def shingle_set(d: int) -> set:
            if d not in sh:
                sh[d] = oracle.shingles(inp.texts[d], self.K)
            return sh[d]

        below = [p for p in found if oracle.jaccard(shingle_set(p[0]), shingle_set(p[1])) < self.THRESHOLD]
        want_kept = oracle.count_components(len(inp.texts), list(found))
        return [
            ("dedup.planted_found", not missing, f"{len(missing)} planted pairs missed, e.g. {missing[:3]}"),
            ("dedup.pairs_above_threshold", not below, f"{len(below)} pairs below threshold"),
            ("dedup.kept", self.kept == want_kept, f"kept {self.kept} != components {want_kept}"),
        ]


class BatchCycle(Backfill, FleetDedup):
    """The monitor's scheduled batch cycle as one job: the backfill (business
    SQL, scrape, bulk lake write), then the SLA fleet and the corpus dedup.
    Each part keeps its own inputs, outputs and checks; the per-layer
    metrics of a traced run tell the parts apart."""

    name = "batch_cycle"

    def generate(self, rep: int) -> None:
        Backfill.generate(self, rep)
        FleetDedup.generate(self, rep)

    def register(self) -> None:
        Backfill.register(self)
        FleetDedup.register(self)

    def describe(self) -> dict:
        return {"backfill": Backfill.describe(self), "fleet_dedup": FleetDedup.describe(self)}

    def job(self, i: int) -> None:
        Backfill.job(self, i)
        FleetDedup.job(self, i)

    def trace_counts(self) -> dict:
        return {**Backfill.trace_counts(self), **FleetDedup.trace_counts(self)}

    def check(self) -> list[tuple[str, bool, str]]:
        return Backfill.check(self) + FleetDedup.check(self)


WORKLOADS = {BatchCycle.name: BatchCycle}
