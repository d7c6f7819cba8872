"""A warm rerun of the batch chain compiles no generated class.

The monitor runs the same cycle over and over. Once a cycle has run, the
next one should find every generated class in Spark's codegen cache: a
compile per cycle means the cache is smaller than the working set, or an
operator builds a plan that differs on every call.
"""

import datetime as dt

from pyspark.sql import functions as F

from aws_dataset_ingestion_metrics_collection_framework_spark.catalog import (
    METRIC_DEFS_SCHEMA,
    RAW_EVENTS_SCHEMA,
)
from aws_dataset_ingestion_metrics_collection_framework_spark.operators.business import (
    business_metrics_distributed,
)
from aws_dataset_ingestion_metrics_collection_framework_spark.operators.graph import (
    connected_components,
)
from aws_dataset_ingestion_metrics_collection_framework_spark.operators.metrics import (
    scrape_metrics,
)
from aws_dataset_ingestion_metrics_collection_framework_spark.operators.sla_eval import (
    evaluate_slas,
    state_transitions,
)

T0 = dt.datetime(2026, 1, 1)


def compiles(spark) -> int:
    """Generated classes the JVM has compiled so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def cycle(spark) -> list:
    events = spark.createDataFrame(
        [("App", "Latency", None, T0 + dt.timedelta(minutes=7 * i), float(i % 5)) for i in range(40)],
        RAW_EVENTS_SCHEMA,
    )
    events.createOrReplaceTempView("codegen_reuse_events")
    business = business_metrics_distributed(
        spark,
        {
            "n": "SELECT count(*) FROM codegen_reuse_events",
            "top": "SELECT max(value) FROM codegen_reuse_events",
        },
    ).collect()
    defs = spark.createDataFrame(
        [("App", "Latency", "hour", 3600, "Average", None, None, "set1", None, "dash", "1234", None, None, None)],
        METRIC_DEFS_SCHEMA,
    )
    scraped = scrape_metrics(events, defs, "hour", collection_time=F.lit(T0)).collect()
    series = spark.createDataFrame(
        [("s1", T0 + dt.timedelta(hours=h), float(h % 4)) for h in range(12) if h != 5],
        "series_id string, ws timestamp, value double",
    )
    slas = spark.createDataFrame(
        [("sla1", "s1", 2.0, "GREATER_THAN_THRESHOLD", 2, 3, "MISSING", 3600)],
        "sla_id string, series_id string, threshold double, comparison_operator string, "
        "datapoints_to_alarm int, evaluation_periods int, treat_missing_data string, period int",
    )
    transitions = state_transitions(evaluate_slas(series, slas)).select("ws", "statevalue").collect()
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (7, 8)], "id_a long, id_b long")
    components = connected_components(spark.range(10), edges).collect()
    return [sorted(business), sorted(scraped), sorted(transitions), sorted(components)]


def test_warm_rerun_compiles_nothing(spark):
    # AQE can pick another join for one run when its stages finish in
    # another order; that plan is compiled once and cached like the rest.
    # So a warm chain shows as a rerun that compiles nothing, while a cache
    # smaller than the working set, or a plan that differs on every call,
    # compiles on every rerun.
    cold = cycle(spark)
    added = []
    while len(added) < 3 and 0 not in added:
        before = compiles(spark)
        assert cycle(spark) == cold
        added.append(compiles(spark) - before)
    assert added[-1] == 0, f"classes compiled by each warm rerun: {added}"
