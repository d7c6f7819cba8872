"""End-to-end streaming lifecycles (SURVEY §3.2/§3.3 in streaming mode).

Batch mode runs the same logic over bounded tables; these compositions wire
the streaming pieces into the reference's two big pipelines:

  §3.2  raw events ─watermark─► the batch scrape (windowed stats ─J1
        static-join defs─► metrics_{freq} rows) ─► partitioned lake
  §3.3  stats ─broadcast sla_defs join─► datapoints ─stateful machine─►
        alarm states / transitions

The enrichment joins are stream-static (defs are bounded and broadcast) —
no stream-stream join anywhere, so state is only the open windows plus the
per-SLA ring buffers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..operators.metrics import compute_metric_windows, scrape_metrics
from .alarm_state import streaming_alarm_states


def streaming_metric_windows(
    raw_stream: DataFrame,
    period_seconds: int,
    *,
    watermark_delay: str = "10 minutes",
    percentiles: list[float] | None = None,
) -> DataFrame:
    """Streaming W1/A1: the batch ``compute_metric_windows`` under a
    watermark (W5 — the reference has no event-time handling, SURVEY §2.9;
    the 10-minute default mirrors its scrape alignment,
    ref:lambda/metric_stream_producer.py:40-43). State is one partial
    aggregate per open (series, window), evicted once the watermark passes
    window_end + delay."""
    return compute_metric_windows(
        raw_stream.withWatermark("ts", watermark_delay), period_seconds, percentiles
    )


def streaming_scrape(
    raw_stream: DataFrame,
    metric_defs: DataFrame,
    frequency: str,
    *,
    period_seconds: int,
    account_id: str = "123412341234",
    region: str = "us-east-1",
    watermark_delay: str = "10 minutes",
    collection_time: Column | None = None,
) -> DataFrame:
    """Streaming §3.2: the batch ``operators.metrics.scrape_metrics`` over a
    watermarked stream → append-mode stream of ``metrics_{frequency}`` §1.3
    rows (one period per stream; run one query per distinct period, the A2
    grouping). Values are doubles, so the same lake writer and downstream
    consumers apply. Raises ``ValueError`` when no def has this frequency
    and period.
    """
    return scrape_metrics(
        raw_stream.withWatermark("ts", watermark_delay),
        metric_defs.filter(F.col("period") == period_seconds),
        frequency,
        account_id=account_id,
        region=region,
        collection_time=collection_time,
        value_cast="double",
    )


def streaming_sla_pipeline(
    metrics_stream: DataFrame,
    sla_defs: DataFrame,
    *,
    series_id: Column | None = None,
    ws: Column | None = None,
    value: Column | None = None,
) -> DataFrame:
    """Streaming §3.3: published metric datapoints → broadcast SLA-defs join
    → stateful m-of-n alarm machine (append-mode alarm-state stream).

    ``metrics_stream`` is a stream over *published* datapoints — e.g. a file
    stream on the metrics lake that ``streaming_scrape`` writes. Two chained
    queries (scrape → lake → SLA) is both a Spark constraint (a stateful op
    can't follow a streaming aggregation in append mode) and the reference's
    own topology: CloudWatch alarms evaluate published metrics, not the
    in-flight scrape (SURVEY §3.3).

    Column overrides adapt arbitrary schemas; defaults assume §1.3 metrics
    rows (``id``, ISO ``metrictimestamp``, ``metricvalue``).

    ``sla_defs``: (sla_id, series_id, threshold, comparison_operator,
    datapoints_to_alarm, evaluation_periods, treat_missing_data, period) —
    ``series_id`` matching the C1 unique_id of the metric series.
    """
    sid = series_id if series_id is not None else F.col("id")
    wcol = ws if ws is not None else F.unix_timestamp(F.to_timestamp(F.col("metrictimestamp")))
    vcol = value if value is not None else F.col("metricvalue").cast("double")
    datapoints = (
        metrics_stream.select(
            sid.alias("series_id"), wcol.cast("long").alias("ws"), vcol.alias("value")
        )
        .join(F.broadcast(sla_defs), "series_id")
        .select(
            "sla_id",
            "ws",
            "value",
            "threshold",
            "comparison_operator",
            "datapoints_to_alarm",
            "evaluation_periods",
            "treat_missing_data",
            F.col("period").cast("int").alias("period"),
        )
    )
    return streaming_alarm_states(datapoints)
