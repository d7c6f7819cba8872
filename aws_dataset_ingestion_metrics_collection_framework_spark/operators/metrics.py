"""The statistic engine — windowed aggregation over raw datapoints.

Replaces the reference's CloudWatch GetMetricData scrape pipeline
(S2 source: ref:lambda/metric_stream_producer.py:87-98; A1 aggregation
performed *by CloudWatch*; J1 enrichment nested-loop:
ref:lambda/metric_stream_producer.py:100-135) with native Spark:

    raw_events ──window(period)──► one-pass stats ──broadcast-join defs──►
    pick declared statistic ──► metrics_{frequency} rows (§1.3 schema)

Scale design:
- ONE shuffle of the big table per distinct period (not per metric): all
  series aggregate together keyed by (namespace, name, dimensions, window);
  map-side partial aggregation applies to every base statistic.
- The defs table is inherently small → ``broadcast()`` hint; no shuffle of
  the aggregated side for the join.
- Filters (time range) are pushed to the parquet scan by Catalyst.
- Percentile handling: percentiles are computed only when a def demands
  pNN — exact ``percentile`` over a bounded table, the mergeable
  ``percentile_approx`` sketch over a stream (an exact percentile would
  buffer every value of an open window in the state store).
- Streaming: ``streaming.pipeline.streaming_scrape`` runs this same scrape
  over a watermarked stream; nothing here is batch-only.

Divergence from reference (documented): the reference's enrichment loop
leaks ``metadata_map``/``dimensions_map`` across iterations
(ref:lambda/metric_stream_producer.py:103-104,113-120 — maps initialized
once outside the loop). We join per-def metadata correctly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.keys import unique_id_col
from ..functions.stats import all_statistics_struct, percentiles_in_defs, pick_statistic
from ..functions.timeutil import iso8601, partition_cols


def dims_json_to_array(dims_json: Column) -> Column:
    """JSON-object dimensions string → sorted array<struct<name,value>>.

    Storage keeps dimensions as a JSON string (§1.3); key derivation needs
    ordered (name, value) pairs. The reference preserves *declaration* order;
    JSON objects round-trip insertion order through json.dumps, and defs
    declare few dims — we sort entries by name for a canonical order and
    derive keys from the same canonicalization on both sides of every join,
    so keys always agree engine-internally.
    """
    entries = F.map_entries(
        F.from_json(dims_json, "map<string,string>")
    )
    return F.array_sort(entries, lambda a, b: F.when(a["key"] < b["key"], -1).when(a["key"] > b["key"], 1).otherwise(0)).cast(
        "array<struct<name:string,value:string>>"
    )


def series_unique_id(namespace: Column, name: Column, frequency: Column, dims_json: Column) -> Column:
    """C1 unique_id over JSON-string dimensions (J1 join key)."""
    return unique_id_col(namespace, name, frequency, dims_json_to_array(dims_json))


def compute_metric_windows(
    raw_events: DataFrame,
    period_seconds: int,
    percentiles: list[float] | None = None,
) -> DataFrame:
    """W1 tumbling windows + A1 one-pass statistics per series.

    Input : raw_events(namespace, name, dimensions, ts, value)  [FIXTURES §1]
            — a bounded table or a watermarked stream
    Output: (namespace, name, dimensions, window_start, window_end, stats);
            over a stream, append mode emits each window once the
            watermark passes window_end
    """
    w = F.window("ts", f"{period_seconds} seconds")
    stats = all_statistics_struct(F.col("value"), percentiles, approx=raw_events.isStreaming)
    return (
        raw_events.groupBy(w.alias("w"), "namespace", "name", "dimensions")
        .agg(stats.alias("stats"))
        .select(
            "namespace",
            "name",
            "dimensions",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "stats",
        )
    )


def scrape_metrics(
    raw_events: DataFrame,
    metric_defs: DataFrame,
    frequency: str,
    *,
    account_id: str = "123412341234",
    region: str = "us-east-1",
    collection_time: Column | None = None,
    start: str | None = None,
    end: str | None = None,
    value_cast: str = "float",
) -> DataFrame:
    """Full scrape job for one frequency → rows in the ``metrics_{frequency}``
    schema (§1.3).

    Mirrors one trigger firing of the streamer Lambda (SURVEY §3.2) but
    computes statistics natively. ``start``/``end`` bound the scan (pushed
    down to parquet); omitted means "all history" (backfill).
    ``raw_events`` may also be a watermarked stream (``streaming_scrape``);
    ``metric_defs`` is always bounded — it is read when the plan is built.
    """
    defs_f = metric_defs.filter(F.col("frequency") == frequency)  # F1
    # one driver-side pass over the (small) defs for both A2 period grouping
    # and the percentile inventory. The two-column projection is collected
    # whole and de-duplicated here: a DataFrame distinct() would add a
    # shuffle and a second job to every call.
    pairs = set(defs_f.select("period", "statistic").collect())
    periods = sorted({period for period, _ in pairs})
    pcts = percentiles_in_defs([statistic for _, statistic in pairs])

    events = raw_events
    if start:
        events = events.filter(F.col("ts") >= F.lit(start).cast("timestamp"))
    if end:
        events = events.filter(F.col("ts") < F.lit(end).cast("timestamp"))

    out = None
    for period in periods:  # few distinct periods (60/3600/86400) — A2 grouping
        agg = compute_metric_windows(events, period, pcts or None)
        # The id is a function of the GROUP keys, so Catalyst would infer
        # the inner join's isnotnull(id) constraint and push the whole
        # (from_json + sort + render) expression below the aggregate as a
        # per-RAW-ROW filter — at 100 TB that's the expensive derivation run
        # per event instead of per series-window. Coalescing each side to a
        # DISTINCT sentinel makes both keys statically non-nullable (no
        # inferred filter) while preserving exact null-join semantics: the
        # sentinels can never equal each other.
        agg = agg.withColumn(
            "id",
            F.coalesce(
                series_unique_id(
                    F.col("namespace"), F.col("name"), F.lit(frequency), F.col("dimensions")
                ),
                F.lit("\u0000agg-null"),
            ),
        )
        defs_p = defs_f.filter(F.col("period") == period).select(
            F.col("namespace").alias("d_namespace"),
            F.col("name").alias("d_name"),
            "period",
            "statistic",
            F.col("metadata").alias("d_metadata"),
            F.col("dimensions").alias("d_dimensions"),
            F.coalesce(
                series_unique_id(
                    F.col("namespace"), F.col("name"), F.lit(frequency), F.col("dimensions")
                ),
                F.lit("\u0000defs-null"),
            ).alias("d_id"),
        )
        # J1 — broadcast hash join on the derived key (defs are small)
        joined = agg.join(F.broadcast(defs_p), agg["id"] == defs_p["d_id"], "inner")
        ct = collection_time if collection_time is not None else F.current_timestamp()
        row = joined.select(
            iso8601(ct).alias("collectiontime"),
            F.col("d_namespace").alias("namespace"),
            F.col("d_name").alias("name"),
            F.col("period").cast("int").alias("period"),
            F.lit(frequency).alias("frequency"),
            F.col("statistic"),
            F.col("d_metadata").alias("metadata"),
            F.col("d_dimensions").alias("dimensions"),
            F.lit(account_id).alias("accountid"),
            iso8601(F.col("window_start")).alias("metrictimestamp"),
            pick_statistic(F.col("stats"), F.col("statistic"), pcts or None)
            .cast(value_cast)  # 'float' for §1.3 storage parity; 'double' for oracle-exact math
            .alias("metricvalue"),
            F.col("id"),
            F.col("d_name").alias("label"),
            F.lit(region).alias("region"),
            *partition_cols(F.col("window_start")),
        )
        out = row if out is None else out.unionByName(row)
    if out is None:
        raise ValueError(f"no metric defs for frequency {frequency!r}")
    return out


def latest_datapoint(metrics: DataFrame, value_col: str = "metricvalue", ts_col: str = "metrictimestamp") -> DataFrame:
    """A3 — newest datapoint per series (the reference takes
    ``Timestamps[0]``/``Values[0]``, CloudWatch newest-first —
    ref:lambda/metric_stream_producer.py:127-128).

    ``max_by`` aggregates with map-side combine — no window-function sort of
    the whole table.
    """
    return metrics.groupBy("id").agg(
        F.max_by(F.col(value_col), F.col(ts_col)).alias(value_col),
        F.max(F.col(ts_col)).alias(ts_col),
    )
