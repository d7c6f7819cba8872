"""The live_alarm workload: an open-loop feed through the streaming topology.

    open-loop feed                raw/*.json, one file per tick on a fixed wall-clock schedule
    start_ingest                  raw -> events lake (+ errors route)
    streaming_scrape              events lake -> metrics lake (write_partitioned per batch)
    streaming_sla_pipeline        metrics lake -> benchmark sink (in memory)

Event time advances one period (60 s) per tick and the scrape watermark
trails by two periods, so the file for tick k makes window k-3 closable.
A window's alarm latency runs from the creation of that file to the commit
of the window's alarm-state rows for every SLA in the sink: queue wait plus
three chained micro-batches, without the window length.

Ingest runs on a processing-time trigger of INGEST_TRIGGER_S (the engine's
default is 60 s, a Firehose-style buffer interval), and the downstream
queries poll on a short one (POLL_TRIGGER), as in the stream soak tool.
Spark aligns processing-time triggers to multiples of the interval since
the epoch, and the open loop's ticks fall on that grid, so every run
samples the same queue waits (a tick waits 0.125-3.875 s for its ingest
batch). With back-to-back triggers instead, the waits depended on how the
three query loops happened to line up and moved the median latency
between runs by more than the chained batches did.

Ticks 0-3 are written before the topology starts, so its first ingest
batch takes them all; the cold start runs from starting the three queries
to the commit of window 0. The open loop then runs from tick 4: an
unmeasured warm-up of about WARMUP_S, then as many whole trigger intervals
as fit in the measured seconds (at least one), with beyond-watermark
events enabled (the scrape has a watermark by then, so they are dropped
deterministically). The JVM is still compiling the batch code paths for
tens of seconds after the cold start, at a pace that differs between runs:
on 4 cores, in five sets of ten seeds, the median latency of one trigger
interval spread (IQR over median) 0.18-0.20 after 8-12 s of warm-up,
0.16-0.21 after 12-16 s and 0.06-0.15 after 16-20 s.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import numpy as np
from pyspark.sql import functions as F, types as T

from aws_dataset_ingestion_metrics_collection_framework_spark.catalog import METRIC_DEFS_SCHEMA
from aws_dataset_ingestion_metrics_collection_framework_spark.operators.metrics import series_unique_id
from aws_dataset_ingestion_metrics_collection_framework_spark.sources.parquet_lake import write_partitioned
from aws_dataset_ingestion_metrics_collection_framework_spark.streaming import (
    read_json_lines_stream,
    start_ingest,
    streaming_scrape,
    streaming_sla_pipeline,
)

from . import gen
from .batch import collection_time, lake_stats, lake_table
from .trace import median, tail

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("namespace", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("dimensions", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)
# start_ingest adds an ingest_batch partition level to the events lake
LAKE_SCHEMA = T.StructType(EVENTS_SCHEMA.fields + [T.StructField("ingest_batch", T.IntegerType())])
PERIOD = 60
TICK_S = 0.25  # wall seconds per tick: 50 series x 5 events -> 1,000 events/s
N_SERIES = 50
EVENTS_PER_SERIES = 5
THRESHOLD = 30.0 * EVENTS_PER_SERIES  # a hot window's Sum is ~100x events, a quiet one's <= ~10x
WARM_TICKS = 4
INGEST_TRIGGER_S = 4
# the downstream queries poll on a short trigger: without one, an idle query
# lists its whole source lake every 10 ms and burns the cores the batches need
POLL_TRIGGER = "250 milliseconds"
WARMUP_S = 18  # open-loop warm-up before the measured ticks, +-2 s for the grid alignment
DRAIN_TIMEOUT_S = 60


class LiveAlarm:
    name = "live_alarm"

    def __init__(self, spark, seed: int, work: str, tracer, parts: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.queries: list = []
        self.tick_created: dict[int, float] = {}
        self.tick_late: list[float] = []
        self.window_rows: dict[int, int] = {}
        self.window_done: dict[int, float] = {}
        self.sink_rows: list = []
        self._lock = threading.Lock()

    # ------------------------------------------------------------ set-up

    def generate(self, rep: int) -> None:
        """The feed draws its ticks lazily, so generation is the feed's
        series and episode plan plus the empty stream directories."""
        self.feed = gen.LiveFeed(np.random.default_rng(self.seed), n_series=N_SERIES, events_per_series=EVENTS_PER_SERIES)
        self.dirs = {
            k: os.path.join(self.work, f"stream{rep}", k)
            for k in ("raw", "events", "errors", "metrics", "staging", "ck_ingest", "ck_scrape", "ck_sla")
        }
        for k in ("raw", "events", "metrics", "staging"):
            os.makedirs(self.dirs[k], exist_ok=True)

    def register(self) -> None:
        spark = self.spark
        self.defs = spark.createDataFrame(
            [(ns, name, "minute", PERIOD, "Sum", None, dims, "live", None, None, "1", None, None, None)
             for ns, name, dims in self.feed.series],
            METRIC_DEFS_SCHEMA,
        ).cache()
        ids = self.defs.select(
            "name", series_unique_id(F.col("namespace"), F.col("name"), F.lit("minute"), F.col("dimensions")).alias("series_id")
        )
        # per series: an episode alarm (2 of 3 above THRESHOLD) and a MISSING-policy
        # alarm that never breaches
        self.slas = (
            ids.select(
                F.concat(F.lit("hot_"), "name").alias("sla_id"), "series_id", F.lit(THRESHOLD).alias("threshold"),
                F.lit("GREATER_THAN_THRESHOLD").alias("comparison_operator"), F.lit(2).alias("datapoints_to_alarm"),
                F.lit(3).alias("evaluation_periods"), F.lit("NOT_BREACHING").alias("treat_missing_data"),
                F.lit(PERIOD).alias("period"),
            )
            .unionByName(
                ids.select(
                    F.concat(F.lit("low_"), "name").alias("sla_id"), "series_id", F.lit(-1.0).alias("threshold"),
                    F.lit("LESS_THAN_THRESHOLD").alias("comparison_operator"), F.lit(1).alias("datapoints_to_alarm"),
                    F.lit(1).alias("evaluation_periods"), F.lit("MISSING").alias("treat_missing_data"),
                    F.lit(PERIOD).alias("period"),
                )
            )
            .cache()
        )
        self.n_slas = 2 * N_SERIES

    def describe(self) -> dict:
        return {
            "series": N_SERIES,
            "slas": self.n_slas,
            "events_per_s": N_SERIES * EVENTS_PER_SERIES / TICK_S,
            "tick_s": TICK_S,
            "ingest_trigger_s": INGEST_TRIGGER_S,
            "loop": "open",
        }

    # ----------------------------------------------------------- topology

    def _write_tick(self, k: int) -> None:
        lines = self.feed.tick_lines(k)
        tmp = os.path.join(self.dirs["raw"], f".tick_{k:06d}.tmp")
        with open(tmp, "w") as fh:
            fh.write("\n".join(lines))
        os.rename(tmp, os.path.join(self.dirs["raw"], f"tick_{k:06d}.json"))
        self.tick_created[k] = time.time()

    def _sink(self, batch_df, batch_id: int) -> None:
        rows = batch_df.select("sla_id", "ws", "statevalue", "transition").collect()
        now = time.time()
        with self._lock:
            self.sink_rows.extend(rows)
            for r in rows:
                w = (r["ws"] - gen.BASE_EPOCH) // PERIOD
                self.window_rows[w] = self.window_rows.get(w, 0) + 1
                if self.window_rows[w] == self.n_slas:
                    self.window_done[w] = now

    def _publish_metrics(self, batch_df, batch_id: int) -> None:
        """Write one scrape batch with the engine's lake writer, then move it
        into the metrics lake with one directory rename.

        The writer's job commit moves task files one by one, so a streaming
        reader listing the lake mid-commit could see one window of a series
        before an earlier one, and the alarm machine never re-emits a slot it
        has passed. Publishing a whole batch at once keeps windows in order.
        """
        staging = os.path.join(self.dirs["staging"], f"batch={batch_id}")
        write_partitioned(batch_df, staging, mode="overwrite")
        if os.path.isdir(staging):
            os.rename(staging, os.path.join(self.dirs["metrics"], f"batch={batch_id}"))

    def _start(self) -> None:
        spark, d = self.spark, self.dirs
        q_ingest = start_ingest(
            read_json_lines_stream(spark, d["raw"]), EVENTS_SCHEMA, d["events"], d["errors"], d["ck_ingest"],
            trigger_seconds=INGEST_TRIGGER_S,
        )
        metrics = streaming_scrape(
            spark.readStream.schema(LAKE_SCHEMA).parquet(d["events"]), self.defs, "minute",
            period_seconds=PERIOD, watermark_delay=f"{2 * PERIOD} seconds",
            collection_time=collection_time(),
        )
        q_scrape = (
            metrics.writeStream.foreachBatch(self._publish_metrics)
            .option("checkpointLocation", d["ck_scrape"])
            .trigger(processingTime=POLL_TRIGGER)
            .start()
        )
        published = T.StructType(metrics.schema.fields + [T.StructField("batch", T.IntegerType())])
        q_sla = (
            streaming_sla_pipeline(spark.readStream.schema(published).parquet(d["metrics"]), self.slas)
            .writeStream.foreachBatch(self._sink)
            .option("checkpointLocation", d["ck_sla"])
            .trigger(processingTime=POLL_TRIGGER)
            .start()
        )
        self.queries = [("ingest", q_ingest), ("stream_scrape", q_scrape), ("stream_sla", q_sla)]

    def _wait_windows(self, windows, deadline: float) -> None:
        while time.time() < deadline:
            for name, q in self.queries:
                if q.exception() is not None:
                    raise RuntimeError(f"{name} query failed: {q.exception()}")
            with self._lock:
                if all(w in self.window_done for w in windows):
                    return
            time.sleep(0.05)

    def run(self, seconds: float) -> dict:
        """Cold start, then the open loop. Returns the run's timings."""
        try:
            return self._run(seconds)
        finally:
            for _, q in reversed(self.queries):
                q.stop()

    def _run(self, seconds: float) -> dict:
        for k in range(WARM_TICKS):
            self._write_tick(k)
        started = time.time()
        self._start()  # the first ingest batch takes the cold ticks
        self._wait_windows([0], started + 120)
        if 0 not in self.window_done:
            raise RuntimeError("the topology committed no alarm for window 0 within 120 s")
        first_s = self.window_done[0] - started

        self.feed.late_enabled = True
        # ticks fall half a tick after a point of the ingest trigger grid, so no
        # file lands as a batch lists its source; the measured ticks start on a
        # trigger and fill whole trigger intervals
        t0 = (time.time() // TICK_S + 1) * TICK_S + TICK_S / 2
        t_measured = ((t0 + WARMUP_S - INGEST_TRIGGER_S / 2) // INGEST_TRIGGER_S + 1) * INGEST_TRIGGER_S + TICK_S / 2
        first_measured = WARM_TICKS + round((t_measured - t0) / TICK_S)
        intervals = max(1, int(seconds // INGEST_TRIGGER_S))
        for k in range(WARM_TICKS, first_measured + intervals * round(INGEST_TRIGGER_S / TICK_S)):
            due = t0 + (k - WARM_TICKS) * TICK_S
            time.sleep(max(0.0, due - time.time()))
            self._write_tick(k)
            self.tick_late.append(self.tick_created[k] - due)
        self.last_tick = k
        expected = list(range(1, self.last_tick - 2))
        self._wait_windows(expected, time.time() + DRAIN_TIMEOUT_S)
        measured = [w for w in expected if w + 3 >= first_measured]
        self.latencies = latencies = [self.window_done[w] - self.tick_created[w + 3] for w in measured if w in self.window_done]
        self.missed = [w for w in expected if w not in self.window_done]
        self.progress = {name: list(q.recentProgress) for name, q in self.queries}
        batches = {
            name: [(p["timestamp"], p["durationMs"], p["numInputRows"]) for p in progress]
            for name, progress in self.progress.items()
        }
        return {"first_s": first_s, "latencies": latencies, "missed": len(self.missed), "expected": len(expected), "batches": batches}

    # -------------------------------------------------------------- checks

    def check(self) -> list[tuple[str, bool, str]]:
        d, feed = self.dirs, self.feed
        out = []
        landed = lake_table(d["events"], ["value"]).num_rows
        out.append(("live_alarm.landed_rows", landed == feed.good_lines, f"{landed} != {feed.good_lines}"))
        errors = 0
        for dp, _, files in os.walk(d["errors"]):
            for f in files:
                if not f.startswith((".", "_")):
                    with open(os.path.join(dp, f)) as fh:
                        errors += sum(1 for line in fh if line.strip())
        out.append(("live_alarm.error_rows", errors == feed.corrupt_lines, f"{errors} != {feed.corrupt_lines}"))
        self.error_rows = errors

        closed = self.last_tick - 3  # windows 0..closed are closable by the last tick
        got: dict[tuple[str, int], list[float]] = {}
        table = lake_table(d["metrics"], ["name", "metrictimestamp", "metricvalue"]).to_pydict()
        for name, stamp, value in zip(table["name"], table["metrictimestamp"], table["metricvalue"]):
            ws = int(dt.datetime.fromisoformat(stamp).timestamp())
            got.setdefault((name, (ws - gen.BASE_EPOCH) // PERIOD), []).append(value)
        names = [s[1] for s in feed.series]
        want = {(names[j], w): v for (j, w), v in feed.sums.items() if 0 <= w <= closed}
        dup = [k for k, v in got.items() if len(v) != 1]
        extra = [k for k in got if k not in want]
        wrong = [k for k, v in want.items() if k not in got or not np.isclose(got[k][0], v, rtol=1e-9)]
        out.append(("live_alarm.one_datapoint_per_window", not dup and not extra, f"{len(dup)} duplicated, {len(extra)} unexpected windows, e.g. {(dup + extra)[:3]}"))
        out.append(("live_alarm.window_sums", not wrong, f"{len(wrong)} windows missing or with a wrong Sum, e.g. {wrong[:3]}"))

        alarms: dict[str, list[int]] = {}
        for r in self.sink_rows:
            w = (r["ws"] - gen.BASE_EPOCH) // PERIOD
            if r["transition"] and r["statevalue"] == "ALARM" and w <= closed:
                alarms.setdefault(r["sla_id"], []).append(w)
        bad = []
        for j, name in enumerate(names):
            planted = [e + 1 for e in feed.episode_starts[j] if e + 1 <= closed]
            if sorted(alarms.get(f"hot_{name}", [])) != planted or alarms.get(f"low_{name}"):
                bad.append((name, planted, sorted(alarms.get(f"hot_{name}", []))))
        out.append(("live_alarm.alarm_per_episode", not bad, f"{len(bad)} series with the wrong ALARM windows (series, planted, got), e.g. {bad[:3]}"))
        out.append(("live_alarm.windows_in_deadline", not self.missed, f"{len(self.missed)} windows missed the deadline"))
        return out

    # --------------------------------------------------------------- trace

    def layer_metrics(self) -> dict:
        """Batch time, backlog and state per query from its progress reports.

        Backlog at a batch's start is the number of source files that landed
        while the previous batch ran: the file source takes every new file
        at the start of a batch, so those are the files that waited.
        """
        sources = {"ingest": self.dirs["raw"], "stream_scrape": self.dirs["events"], "stream_sla": self.dirs["metrics"]}
        out = {}
        for name, progress in self.progress.items():
            mtimes = sorted(
                os.path.getmtime(os.path.join(dp, f))
                for dp, _, files in os.walk(sources[name])
                for f in files
                if f.endswith((".json", ".parquet")) and not f.startswith(".")
            )
            starts = [dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() for p in progress]
            lag = [
                sum(1 for m in mtimes if prev < m <= cur) for prev, cur in zip(starts, starts[1:])
            ]
            batch_s = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress]
            state = progress[-1].get("stateOperators") or [] if progress else []
            out[f"{name}.batch_p50_s"] = median(batch_s) if batch_s else 0.0
            out[f"{name}.lag_files_max"] = max(lag, default=0)
            out[f"{name}.batches"] = len(progress)
            out[f"{name}.state_rows"] = sum(s.get("numRowsTotal", 0) for s in state)
            out[f"{name}.state_mb"] = sum(s.get("memoryUsedBytes", 0) for s in state) / 1e6
        out["ingest.error_rows"] = self.error_rows
        out["live.generator_late_max_s"] = max(self.tick_late, default=0.0)
        lakes = [lake_stats(self.dirs[k]) for k in ("events", "metrics")]
        size = sum(st["bytes"] for st in lakes)
        out["lake.files_written"] = sum(st["files"] for st in lakes)
        out["lake.partitions_written"] = sum(st["partitions"] for st in lakes)
        out["lake.bytes_written_mb"] = size / 1e6
        out["lake.bytes_per_row"] = size / (self.feed.good_lines + len(self.feed.sums))
        tl = tail(self.latencies)
        if tl:
            out["live.alarm_latency_tail_s"], out["live.alarm_latency_tail_pct"] = tl
        return out
