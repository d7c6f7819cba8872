"""Streaming-mode tests (SURVEY §7 step 7): batch is the reference
implementation; every streaming path is diffed against it.

- ingest: JSON lines (incl. corrupt) → partitioned parquet lake + error route
- stats: watermarked windowed aggregation ≡ batch compute_metric_windows;
  streaming scrape ≡ batch scrape on every column of each closed window
- alarm state: incremental applyInPandasWithState across micro-batch splits
  ≡ batch evaluate_slas on the union of the data
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from aws_dataset_ingestion_metrics_collection_framework_spark.catalog import METRICS_SCHEMA
from aws_dataset_ingestion_metrics_collection_framework_spark.operators.metrics import compute_metric_windows
from aws_dataset_ingestion_metrics_collection_framework_spark.operators.sla_eval import evaluate_slas
from aws_dataset_ingestion_metrics_collection_framework_spark.streaming import (
    open_stream_channel,
    start_ingest,
    streaming_alarm_states,
    streaming_metric_windows,
)

UTC = dt.timezone.utc
T0 = dt.datetime(2026, 1, 1, tzinfo=UTC)
T0_EPOCH = int(T0.timestamp())
PERIOD = 60


def _await(query, timeout=120):
    query.awaitTermination(timeout)
    assert not query.isActive


# ------------------------------- ingest (S5) -------------------------------

def test_ingest_stream_good_and_corrupt_rows(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    good = {
        "collectiontime": "2026-01-01T00:00:00+00:00",
        "namespace": "data-gov",
        "name": "row_count",
        "period": 86400,
        "frequency": "day",
        "statistic": "Sum",
        "metadata": "{}",
        "dimensions": "{}",
        "accountid": "123412341234",
        "metrictimestamp": "2026-01-01T00:00:00+00:00",
        "metricvalue": 42.0,
        "id": "datagovrowcountday",
        "label": "row_count",
        "region": "us-east-1",
        "year": 2026,
        "month": 1,
        "day": 1,
        "hour": 0,
    }
    lines = [json.dumps(good), json.dumps({**good, "day": 2, "metricvalue": 7.0}),
             "{definitely not json", ""]
    (src / "batch0.json").write_text("\n".join(lines))

    raw = open_stream_channel(spark, "file", path=str(src))
    q = start_ingest(
        raw,
        METRICS_SCHEMA,
        lake_path=str(tmp_path / "lake"),
        errors_path=str(tmp_path / "errors"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    _await(q)

    lake = spark.read.parquet(str(tmp_path / "lake"))
    rows = lake.orderBy("day").collect()
    assert [r["metricvalue"] for r in rows] == [42.0, 7.0]
    # Hive-style partition layout on disk (the add_partition lambda replacement)
    assert os.path.isdir(tmp_path / "lake" / "region=us-east-1" / "year=2026" / "month=1" / "day=1" / "hour=0")
    errors = spark.read.text(str(tmp_path / "errors")).collect()
    assert len(errors) == 1 and errors[0]["value"].startswith("{definitely")


def test_ingest_stream_mirrors_to_catalog_roots(spark, tmp_path):
    """Streaming face of the multi-catalog fan-out: every micro-batch lands
    identically in the primary lake AND each mirror root."""
    src = tmp_path / "in"
    src.mkdir()
    good = {
        "collectiontime": "2026-01-01T00:00:00+00:00", "namespace": "data-gov",
        "name": "row_count", "period": 86400, "frequency": "day",
        "statistic": "Sum", "metadata": "{}", "dimensions": "{}",
        "accountid": "123412341234",
        "metrictimestamp": "2026-01-01T00:00:00+00:00", "metricvalue": 1.0,
        "id": "x", "label": "row_count", "region": "us-east-1",
        "year": 2026, "month": 1, "day": 1, "hour": 0,
    }
    (src / "b0.json").write_text(
        "\n".join(json.dumps({**good, "day": d}) for d in (1, 2, 3))
    )
    raw = open_stream_channel(spark, "file", path=str(src))
    q = start_ingest(
        raw, METRICS_SCHEMA,
        lake_path=str(tmp_path / "lake"),
        errors_path=str(tmp_path / "errors"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
        mirror_roots=[str(tmp_path / "mirror_a"), str(tmp_path / "mirror_b")],
    )
    _await(q)
    primary = sorted(r["day"] for r in spark.read.parquet(str(tmp_path / "lake")).collect())
    for m in ("mirror_a", "mirror_b"):
        rows = sorted(r["day"] for r in spark.read.parquet(str(tmp_path / m)).collect())
        assert rows == primary == [1, 2, 3]
        assert os.path.isdir(tmp_path / m / "region=us-east-1" / "year=2026")


# --------------------------- streaming stats (A1) ---------------------------

def test_streaming_stats_match_batch(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    rows = []
    for i in range(240):
        rows.append({
            "namespace": "ns", "name": "m1", "dimensions": "{}",
            "ts": (T0 + dt.timedelta(seconds=7 * i)).strftime("%Y-%m-%d %H:%M:%S"),
            "value": float(i % 13),
        })
    (src / "events.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = "namespace string, name string, dimensions string, ts timestamp, value double"

    stream = (
        spark.readStream.schema(schema).json(str(src))
    )
    agg = streaming_metric_windows(stream, PERIOD)
    q = (
        agg.writeStream.format("memory")
        .queryName("stream_stats")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)

    got = {
        (r["window_start"], r["stats"]["Sum"], r["stats"]["SampleCount"], r["stats"]["Maximum"])
        for r in spark.table("stream_stats").collect()
    }
    batch = spark.read.schema(schema).json(str(src))
    want = {
        (r["window_start"], r["stats"]["Sum"], r["stats"]["SampleCount"], r["stats"]["Maximum"])
        for r in compute_metric_windows(batch, PERIOD).collect()
    }
    assert got == want and len(want) > 10


# ------------------------ stateful alarm machine (W4) ------------------------

SLA_PARAMS = dict(
    threshold=5.0,
    comparison_operator="GREATER_THAN_THRESHOLD",
    datapoints_to_alarm=2,
    evaluation_periods=3,
    treat_missing_data="NOT_BREACHING",
    period=PERIOD,
)


def _dp(slot: int, value: float) -> dict:
    return {"sla_id": "sla1", "ws": T0_EPOCH + slot * PERIOD, "value": value, **SLA_PARAMS}


@pytest.mark.parametrize("policy", ["NOT_BREACHING", "BREACHING", "IGNORE", "MISSING"])
def test_alarm_state_incremental_matches_batch(spark, tmp_path, policy):
    # slots with gaps: 0,1,2, (3,4 missing), 5,6 — split across two micro-batches
    batch1 = [(0, 9.0), (1, 9.0), (2, 1.0)]
    batch2 = [(5, 9.0), (6, 9.0)]
    params = {**SLA_PARAMS, "treat_missing_data": policy}

    src = tmp_path / "dp"
    src.mkdir()
    schema = (
        "sla_id string, ws long, value double, threshold double, "
        "comparison_operator string, datapoints_to_alarm int, "
        "evaluation_periods int, treat_missing_data string, period int"
    )

    def run_inc(points, fname):
        rows = [{**_dp(s, v), "treat_missing_data": policy} for s, v in points]
        (src / fname).write_text("\n".join(json.dumps(r) for r in rows))
        stream = spark.readStream.schema(schema).json(str(src))
        out = streaming_alarm_states(stream)
        q = (
            out.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    run_inc(batch1, "b1.json")
    run_inc(batch2, "b2.json")

    got = {
        (r["ws"], r["statevalue"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }

    # batch reference on the union
    series = spark.createDataFrame(
        [("s1", dt.datetime.utcfromtimestamp(T0_EPOCH + s * PERIOD), float(v)) for s, v in batch1 + batch2],
        "series_id string, ws timestamp, value double",
    )
    slas = spark.createDataFrame(
        [(
            "sla1", "s1", params["threshold"], params["comparison_operator"],
            params["datapoints_to_alarm"], params["evaluation_periods"],
            params["treat_missing_data"], PERIOD,
        )],
        "sla_id string, series_id string, threshold double, comparison_operator string, "
        "datapoints_to_alarm int, evaluation_periods int, treat_missing_data string, period int",
    )
    want = {
        (int(r["ws"].replace(tzinfo=UTC).timestamp()), r["statevalue"])
        for r in evaluate_slas(series, slas).collect()
    }
    assert got == want
    # transitions are flagged exactly when state changes
    ordered = sorted(
        spark.read.parquet(str(tmp_path / "out")).collect(), key=lambda r: r["ws"]
    )
    for prev, cur in zip(ordered, ordered[1:]):
        assert cur["transition"] == (cur["statevalue"] != prev["statevalue"])


def test_alarm_state_late_only_batch_no_duplicates(spark, tmp_path):
    """A micro-batch of ONLY late rows must not shrink the emission watermark:
    once a slot's state is published, later batches never re-emit it, and a
    null-value row still marks its grid slot (BREACHING evaluates it)."""
    src = tmp_path / "dp"
    src.mkdir()
    schema = (
        "sla_id string, ws long, value double, threshold double, "
        "comparison_operator string, datapoints_to_alarm int, "
        "evaluation_periods int, treat_missing_data string, period int"
    )
    params = {**SLA_PARAMS, "datapoints_to_alarm": 1, "evaluation_periods": 1}

    def run_inc(points, fname):
        rows = [
            {**_dp(s, v), **{k: params[k] for k in ("datapoints_to_alarm", "evaluation_periods")}}
            for s, v in points
        ]
        (src / fname).write_text("\n".join(json.dumps(r) for r in rows))
        stream = spark.readStream.schema(schema).json(str(src))
        out = streaming_alarm_states(stream)
        q = (
            out.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    run_inc([(0, 9.0), (1, 9.0)], "b1.json")       # emits slots 0,1
    run_inc([(5, None)], "b2.json")                # null-value row → slots 2..5 emitted
    run_inc([(2, 9.0)], "b3.json")                 # LATE: already-published slot
    run_inc([(6, 9.0)], "b4.json")                 # must emit ONLY slot 6

    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    ws_list = sorted((r["ws"] - T0_EPOCH) // PERIOD for r in rows)
    assert ws_list == [0, 1, 2, 3, 4, 5, 6], ws_list  # each slot exactly once


# ---------------- end-to-end streaming compositions (§3.2/§3.3) ----------------

def _write_events(src, n=240):
    rows = []
    for i in range(n):
        rows.append({
            "namespace": "App/Events", "name": "click", "dimensions": "{}",
            "ts": (T0 + dt.timedelta(seconds=7 * i)).strftime("%Y-%m-%d %H:%M:%S"),
            "value": float(i % 13),
        })
    (src / "events.json").write_text("\n".join(json.dumps(r) for r in rows))
    return "namespace string, name string, dimensions string, ts timestamp, value double"


def test_streaming_scrape_end_to_end(spark, tmp_path):
    from aws_dataset_ingestion_metrics_collection_framework_spark.catalog import METRIC_DEFS_SCHEMA
    from aws_dataset_ingestion_metrics_collection_framework_spark.streaming import streaming_scrape

    src = tmp_path / "ev"; src.mkdir()
    schema = _write_events(src)
    defs = spark.createDataFrame(
        [("App/Events", "click", "minute", 60, "Sum", None, "{}",
          "events", None, None, "1", None, None, None)],
        METRIC_DEFS_SCHEMA,
    )
    stream = spark.readStream.schema(schema).json(str(src))
    out = streaming_scrape(
        stream, defs, "minute", period_seconds=60, watermark_delay="0 seconds",
        collection_time=F.lit("2026-01-01 00:00:00").cast("timestamp"),
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "metrics"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    _await(q)
    got = {
        r["metrictimestamp"]: r.asDict()
        for r in spark.read.parquet(str(tmp_path / "metrics")).collect()
    }
    # batch reference: same scrape over the bounded table, minus windows the
    # watermark hadn't closed (window_end > max event time)
    from aws_dataset_ingestion_metrics_collection_framework_spark.operators.metrics import scrape_metrics
    batch = spark.read.schema(schema).json(str(src))
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    batch_out = scrape_metrics(
        batch, defs, "minute",
        collection_time=F.lit("2026-01-01 00:00:00").cast("timestamp"),
        value_cast="double",
    )
    # same columns, in the same order, with the same types as batch
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in batch_out.schema
    ]
    want = {
        r["metrictimestamp"]: r.asDict()
        for r in batch_out.collect()
        if dt.datetime.fromisoformat(r["metrictimestamp"]).replace(tzinfo=None)
           + dt.timedelta(seconds=60) <= max_ts
    }
    assert len(got) >= len(want) > 20
    # every closed window equals the batch row on every column
    assert {k: got.get(k) for k in want} == want
    sample = next(iter(got.values()))
    assert sample["frequency"] == "minute" and sample["statistic"] == "Sum"


def test_streaming_scrape_without_defs_raises(spark, tmp_path):
    """No def for the frequency/period: the query fails when it is built
    (the batch scrape's error), instead of running and emitting nothing."""
    from aws_dataset_ingestion_metrics_collection_framework_spark.catalog import METRIC_DEFS_SCHEMA
    from aws_dataset_ingestion_metrics_collection_framework_spark.streaming import streaming_scrape

    src = tmp_path / "ev"; src.mkdir()
    schema = _write_events(src, n=10)
    defs = spark.createDataFrame(
        [("App/Events", "click", "minute", 60, "Sum", None, "{}",
          "events", None, None, "1", None, None, None)],
        METRIC_DEFS_SCHEMA,
    )
    stream = spark.readStream.schema(schema).json(str(src))
    with pytest.raises(ValueError, match="no metric defs"):
        streaming_scrape(stream, defs, "minute", period_seconds=3600)
    with pytest.raises(ValueError, match="no metric defs"):
        streaming_scrape(stream, defs, "hour", period_seconds=60)


def test_streaming_scrape_pnn_defs(spark, tmp_path):
    """A metric def declaring a pNN statistic must flow through the streaming
    scrape as a percentile_approx sketch — not silently emit NULLs."""
    from aws_dataset_ingestion_metrics_collection_framework_spark.catalog import METRIC_DEFS_SCHEMA
    from aws_dataset_ingestion_metrics_collection_framework_spark.streaming import streaming_scrape

    src = tmp_path / "ev"; src.mkdir()
    schema = _write_events(src)
    defs = spark.createDataFrame(
        [("App/Events", "click", "minute", 60, "p90", None, "{}",
          "events", None, None, "1", None, None, None)],
        METRIC_DEFS_SCHEMA,
    )
    stream = spark.readStream.schema(schema).json(str(src))
    out = streaming_scrape(
        stream, defs, "minute", period_seconds=60, watermark_delay="0 seconds",
        collection_time=F.lit("2026-01-01 00:00:00").cast("timestamp"),
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "metrics"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    _await(q)
    rows = spark.read.parquet(str(tmp_path / "metrics")).collect()
    assert len(rows) > 10
    assert all(r["metricvalue"] is not None for r in rows)
    # values agree with the batch percentile_approx sketch per window
    batch = spark.read.schema(schema).json(str(src))
    want = {
        r["w"]["start"].replace(tzinfo=UTC).strftime("%Y-%m-%dT%H:%M:%SZ"): r["p90"]
        for r in batch.groupBy(F.window("ts", "60 seconds").alias("w"))
        .agg(F.percentile_approx("value", 0.9).cast("double").alias("p90"))
        .collect()
    }
    for r in rows:
        ts = dt.datetime.fromisoformat(r["metrictimestamp"]).strftime("%Y-%m-%dT%H:%M:%SZ")
        assert r["metricvalue"] == want[ts], (ts, r["metricvalue"], want[ts])


def test_streaming_sla_pipeline_end_to_end(spark, tmp_path):
    """Two chained streaming queries, the reference's own topology:
    scrape → metrics lake → SLA evaluation (SURVEY §3.2 → §3.3)."""
    from aws_dataset_ingestion_metrics_collection_framework_spark.catalog import METRIC_DEFS_SCHEMA
    from aws_dataset_ingestion_metrics_collection_framework_spark.operators.sla_eval import evaluate_slas
    from aws_dataset_ingestion_metrics_collection_framework_spark.streaming import (
        streaming_scrape,
        streaming_sla_pipeline,
    )
    from aws_dataset_ingestion_metrics_collection_framework_spark.operators.metrics import compute_metric_windows

    src = tmp_path / "ev"; src.mkdir()
    schema = _write_events(src)
    sid = "appeventsclickminute"  # C1 unique_id of (App/Events, click, minute, {})
    # stage 1: scrape to the metrics lake
    defs = spark.createDataFrame(
        [("App/Events", "click", "minute", 60, "Sum", None, "{}",
          "events", None, None, "1", None, None, None)],
        METRIC_DEFS_SCHEMA,
    )
    stream = spark.readStream.schema(schema).json(str(src))
    metrics = streaming_scrape(
        stream, defs, "minute", period_seconds=60, watermark_delay="0 seconds",
        collection_time=F.lit("2026-01-01 00:00:00").cast("timestamp"),
    )
    q1 = (
        metrics.writeStream.format("parquet")
        .option("path", str(tmp_path / "mlake"))
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    _await(q1)

    # stage 2: SLA machine over the published lake
    slas = spark.createDataFrame(
        [("sla1", sid, 300.0, "GREATER_THAN_THRESHOLD", 2, 3, "NOT_BREACHING", 60)],
        "sla_id string, series_id string, threshold double, comparison_operator string, "
        "datapoints_to_alarm int, evaluation_periods int, treat_missing_data string, period int",
    )
    lake_schema = spark.read.parquet(str(tmp_path / "mlake")).schema
    mstream = spark.readStream.schema(lake_schema).parquet(str(tmp_path / "mlake"))
    out = streaming_sla_pipeline(mstream, slas)
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "states"))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    _await(q)
    got = {
        (r["ws"], r["statevalue"]) for r in spark.read.parquet(str(tmp_path / "states")).collect()
    }
    assert len(got) > 20

    # batch reference over the same emitted windows
    batch = spark.read.schema(schema).json(str(src))
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    series = (
        compute_metric_windows(batch.withColumn("dimensions", F.lit("{}")), 60)
        .filter(F.col("window_end") <= F.lit(max_ts))
        .select(
            F.lit(sid).alias("series_id"),
            F.col("window_start").alias("ws"),
            F.col("stats")["Sum"].alias("value"),
        )
    )
    want = {
        (int(r["ws"].replace(tzinfo=UTC).timestamp()), r["statevalue"])
        for r in evaluate_slas(series, slas).collect()
    }
    assert want <= got


def test_streaming_percentiles_via_sketch(spark, tmp_path):
    """pNN in streaming mode uses the mergeable percentile_approx sketch and
    matches the batch approx path exactly (same sketch, same accuracy)."""
    from aws_dataset_ingestion_metrics_collection_framework_spark.functions.stats import all_statistics_struct

    src = tmp_path / "ev"; src.mkdir()
    schema = _write_events(src)
    stream = spark.readStream.schema(schema).json(str(src))
    agg = streaming_metric_windows(stream, PERIOD, percentiles=[0.5, 0.9])
    q = (
        agg.writeStream.format("memory").queryName("pstats")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    _await(q)
    got = {
        r["window_start"]: list(r["stats"]["Percentiles"])
        for r in spark.table("pstats").collect()
    }
    batch = spark.read.schema(schema).json(str(src))
    want = {
        r["w"]["start"]: list(r["stats"]["Percentiles"])
        for r in batch.groupBy(F.window("ts", f"{PERIOD} seconds").alias("w"))
        .agg(all_statistics_struct(F.col("value"), [0.5, 0.9], approx=True).alias("stats"))
        .collect()
    }
    assert got == want and len(got) > 10


# --------------------------- streaming dedup ---------------------------

def test_streaming_dedup_within_and_across_batches(spark, tmp_path):
    from aws_dataset_ingestion_metrics_collection_framework_spark.streaming.dedup import dedup_stream

    src = tmp_path / "dedup_in"
    src.mkdir()

    def row(doc_id, text, minute):
        return json.dumps(
            {"doc_id": doc_id, "text": text, "ts": f"2026-01-01T00:{minute:02d}:00Z"}
        )

    # batch0: A, B, dup-of-A (within-batch dup)
    (src / "b0.json").write_text(
        "\n".join([row(1, "alpha", 0), row(2, "beta", 1), row(3, "alpha", 2)])
    )
    # batch1 (separate micro-batch): dup-of-B within watermark + new C
    (src / "b1.json").write_text("\n".join([row(4, "beta", 3), row(5, "gamma", 4)]))
    # the file source orders micro-batches by modification time — pin it
    os.utime(src / "b0.json", (1_700_000_000, 1_700_000_000))
    os.utime(src / "b1.json", (1_700_000_100, 1_700_000_100))

    schema = "doc_id long, text string, ts timestamp"
    raw = open_stream_channel(spark, "file", path=str(src), max_files_per_trigger=1)
    parsed = raw.select(F.from_json("value", schema).alias("r")).select("r.*")
    deduped = dedup_stream(parsed, ["text"], event_time_col="ts", watermark="1 hour")

    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    out = spark.sql("SELECT * FROM dedup_sink").collect()
    # one survivor per distinct text, first arrival wins
    assert sorted(r["text"] for r in out) == ["alpha", "beta", "gamma"]
    assert sorted(r["doc_id"] for r in out) == [1, 2, 5]


def test_streaming_dedup_hash_only_matches_exact(spark, tmp_path):
    from aws_dataset_ingestion_metrics_collection_framework_spark.streaming.dedup import dedup_stream

    src = tmp_path / "dedup_in2"
    src.mkdir()
    rows = [
        json.dumps({"doc_id": i, "text": t, "ts": f"2026-01-01T00:0{i}:00Z"})
        for i, t in enumerate(["x", "y", "x", "z", "y"])
    ]
    (src / "b0.json").write_text("\n".join(rows))

    schema = "doc_id long, text string, ts timestamp"
    raw = open_stream_channel(spark, "file", path=str(src))
    parsed = raw.select(F.from_json("value", schema).alias("r")).select("r.*")
    deduped = dedup_stream(
        parsed, ["text"], event_time_col="ts", watermark="1 hour", hash_only=True
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink2")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    out = spark.sql("SELECT * FROM dedup_sink2").collect()
    assert sorted(r["text"] for r in out) == ["x", "y", "z"]
    assert "_content_hash" not in spark.sql("SELECT * FROM dedup_sink2").columns


# ----------------------- S4 socket adapter (seam) -----------------------

def test_socket_channel_delivers_value_rows(spark, tmp_path):
    """The socket adapter of open_stream_channel yields the same one-string-
    ``value``-column shape as the file channel — the S4 seam contract —
    against a real TCP server."""
    import socket
    import threading
    import time

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    payload = [json.dumps({"doc_id": i, "text": f"t{i}"}) for i in range(3)]
    conns = []

    def serve():
        conn, _ = server.accept()
        conns.append(conn)
        conn.sendall(("\n".join(payload) + "\n").encode())

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    raw = open_stream_channel(spark, "socket", host="127.0.0.1", port=port)
    assert raw.columns == ["value"]
    q = (
        raw.writeStream.format("memory")
        .queryName("socket_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "socket_ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT count(*) FROM socket_sink").collect()[0][0] >= 3:
                break
            time.sleep(0.5)
        rows = sorted(r["value"] for r in spark.sql("SELECT * FROM socket_sink").collect())
        assert rows == sorted(payload)
    finally:
        q.stop()
        for c in conns:
            c.close()
        server.close()


# ----------------------- S4 kafka adapter (contract) -----------------------

def test_kafka_channel_option_contract(spark):
    """The kafka adapter's option wiring — the part that is OUR contract, as
    opposed to the connector's — is pinned without the connector package:
    bootstrap_servers/topic map to the connector option names and kafka.*
    keys pass through verbatim. If spark-sql-kafka IS on the classpath, the
    adapter must also build a streaming plan with the one-string-value shape;
    absent the package (this container), that half is skipped — the deploy
    story is documented on open_stream_channel."""
    from aws_dataset_ingestion_metrics_collection_framework_spark.streaming.ingest import kafka_channel_options

    opts = kafka_channel_options(
        {
            "bootstrap_servers": "b-1:9092,b-2:9092",
            "topic": "metric-events",
            "kafka.security.protocol": "SASL_SSL",
            "kafka.group.id": "engine",
            "ignored_other": "x",
        }
    )
    assert opts == {
        "kafka.bootstrap.servers": "b-1:9092,b-2:9092",
        "subscribe": "metric-events",
        "kafka.security.protocol": "SASL_SSL",
        "kafka.group.id": "engine",
    }

    try:
        raw = open_stream_channel(
            spark, "kafka", bootstrap_servers="localhost:9092", topic="t"
        )
    except Exception as e:  # connector jar absent in this container
        msg = str(e)
        assert "kafka" in msg.lower() and (
            "Failed to find data source" in msg or "DATA_SOURCE_NOT_FOUND" in msg
        ), f"unexpected kafka adapter failure: {msg}"
        pytest.skip(
            "spark-sql-kafka connector not on classpath and this sandbox "
            "has no network (Maven Central unreachable — verified r10). "
            "One-command fix on a connected host: start the session with "
            "spark.jars.packages="
            "org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 "
            "(pulls kafka-clients + spark-token-provider-kafka-0-10 + "
            "commons-pool2 transitively); this test then asserts the "
            "adapter builds a streaming plan with the one-string-value "
            "shape — no broker needed, load() connects lazily at start()."
        )
    assert raw.isStreaming and raw.columns == ["value"]
    assert raw.schema["value"].dataType.simpleString() == "string"


# ------------------- streaming sessionization (session_window) -------------------

def test_streaming_session_window_matches_batch(spark, tmp_path):
    """session_window under readStream+watermark produces exactly the batch
    sessions once the watermark passes (the docstring claim on
    q_session_window, pinned)."""
    src = tmp_path / "sess_in"
    src.mkdir()
    # two sessions per user: events at 0/10/20 min, then a 90-min gap
    lines = [
        json.dumps({"user_id": uid,
                    "ts": (T0 + dt.timedelta(minutes=m)).strftime("%Y-%m-%d %H:%M:%S"),
                    "value": 1.5})
        for uid in (1, 2)
        for m in (0, 10, 20, 110, 115)
    ]
    # a final late-horizon event pushes the watermark past every session
    lines.append(json.dumps({"user_id": 99,
                             "ts": (T0 + dt.timedelta(hours=12)).strftime("%Y-%m-%d %H:%M:%S"),
                             "value": 0.0}))
    (src / "all.json").write_text("\n".join(lines))
    schema = "user_id long, ts timestamp, value double"

    stream = spark.readStream.schema(schema).json(str(src))
    agg = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy("user_id", F.session_window("ts", "1800 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("value_sum"))
        .select("user_id", F.col("w.start").alias("s"), F.col("w.end").alias("e"),
                "n_events", "value_sum")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        (r["user_id"], r["s"], r["e"], r["n_events"], r["value_sum"])
        for r in spark.sql("SELECT * FROM sess_sink").collect()
    }
    batch = spark.read.schema(schema).json(str(src))
    want = {
        (r["user_id"], r["s"], r["e"], r["n_events"], r["value_sum"])
        for r in batch.groupBy("user_id", F.session_window("ts", "1800 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("value_sum"))
        .select("user_id", F.col("w.start").alias("s"), F.col("w.end").alias("e"),
                "n_events", "value_sum")
        .collect()
    }
    # streaming emits only watermark-closed sessions; the sentinel's own
    # session may be withheld — every batch session for users 1/2 must appear
    want_12 = {t for t in want if t[0] in (1, 2)}
    got_12 = {t for t in got if t[0] in (1, 2)}
    assert got_12 == want_12 and len(want_12) == 4


def test_streaming_batch_duration_within_trigger_budget(spark, tmp_path):
    """Throughput regression pin (SCALE.md streaming section): every
    micro-batch of the §3.2 scrape must finish well inside the 60 s
    production trigger cadence, and streaming state must stay at the
    open-window bound (watermark eviction working), not grow with the
    stream."""
    from aws_dataset_ingestion_metrics_collection_framework_spark.catalog import (
        METRIC_DEFS_SCHEMA,
    )
    from aws_dataset_ingestion_metrics_collection_framework_spark.streaming import (
        streaming_scrape,
    )

    src = tmp_path / "ev"; src.mkdir()
    schema = _write_events(src, n=240)
    # a second chunk file → at least two micro-batches via maxFilesPerTrigger
    rows = []
    for i in range(240, 480):
        rows.append({
            "namespace": "App/Events", "name": "click", "dimensions": "{}",
            "ts": (T0 + dt.timedelta(seconds=7 * i)).strftime("%Y-%m-%d %H:%M:%S"),
            "value": float(i % 13),
        })
    (src / "events2.json").write_text("\n".join(json.dumps(r) for r in rows))

    defs = spark.createDataFrame(
        [("App/Events", "click", "minute", 60, "Sum", None, "{}",
          "events", None, None, "1", None, None, None)],
        METRIC_DEFS_SCHEMA,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = streaming_scrape(
        stream, defs, "minute", period_seconds=60, watermark_delay="0 seconds",
        collection_time=F.lit("2026-01-01 00:00:00").cast("timestamp"),
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "metrics"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    _await(q)
    progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(progresses) >= 2
    for p in progresses:
        assert p["durationMs"]["triggerExecution"] < 60_000, p
    # state = open windows only, NOT the full window history: watermark
    # eviction lags one batch (the bound computed in batch N evicts at
    # batch N+1), so the final batch's ~28 windows legitimately remain —
    # but batch 1's 28 must be gone. 480 events span 56 windows total;
    # assert state stayed at one batch's worth.
    final_state = sum(
        s.get("numRowsTotal", 0) for s in (progresses[-1].get("stateOperators") or [])
    )
    assert 0 < final_state < 40, final_state
