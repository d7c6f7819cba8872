"""Column-builder parity tests: Spark derivations must equal the Python DSL
derivations (C1-C4) and statistic resolution must be exact."""

import pytest
from pyspark.sql import Row, functions as F

from aws_dataset_ingestion_metrics_collection_framework_spark.dsl import (
    Dimension,
    Metadata,
    Metric,
    MetricSet,
    Widget,
)
from aws_dataset_ingestion_metrics_collection_framework_spark.functions import (
    alarm_name_col,
    alarm_unique_id_col,
    parse_alarm_name,
    statistic_agg,
    unique_id_col,
    widget_title_col,
)
from aws_dataset_ingestion_metrics_collection_framework_spark.functions.timeutil import (
    floor_to_10min,
    iso8601,
)


def dsl_metric(namespace="AWS/Lambda", name="Invocations", frequency="day", dims=None):
    ms = MetricSet("s")
    return Metric(
        metric_set=ms,
        namespace=namespace,
        name=name,
        frequency=frequency,
        dashboard=Widget(dashboard_name="d"),
        statistic="Sum",
        metadata=[Metadata("Thing", "foobar")],
        dimensions=dims if dims is not None else [Dimension("FunctionName", "hello_world")],
    )


CASES = [
    dsl_metric(),
    dsl_metric(namespace="My/Name-Space", name="Count.Errors", frequency="hour"),
    dsl_metric(dims=[Dimension("SomeBucket", "x"), Dimension("Fn", "f")]),
    dsl_metric(dims=[]),
    dsl_metric(dims=[Dimension("A", "1"), Dimension("B", "2")]),
]


def to_row(m):
    dims = [Row(name=d.name, value=d.value) for d in (m.dimensions or [])] or None
    return Row(namespace=m.namespace, name=m.name, frequency=m.frequency, dims=dims)


def test_key_columns_match_python(spark):
    df = spark.createDataFrame(
        [to_row(m) for m in CASES],
        "namespace string, name string, frequency string, dims array<struct<name:string,value:string>>",
    )
    out = df.select(
        unique_id_col(F.col("namespace"), F.col("name"), F.col("frequency"), F.col("dims")).alias("uid"),
        alarm_unique_id_col(F.col("namespace"), F.col("name"), F.col("frequency"), F.col("dims")).alias("aid"),
        widget_title_col(F.col("name"), F.col("frequency"), F.col("dims")).alias("wt"),
    ).collect()
    for row, m in zip(out, CASES):
        assert row["uid"] == m.unique_id(), m.namespace
        assert row["aid"] == m.alarm_unique_id(), m.namespace
        assert row["wt"] == m.widget_title(), m.namespace


def test_alarm_name_roundtrip(spark):
    m = dsl_metric()
    alarm_name = "data-gov-" + m.alarm_unique_id() + "SLA-Alarm-us-east-1"
    df = spark.createDataFrame([(alarm_name,)], "alarmname string")
    parts = parse_alarm_name(F.col("alarmname"))
    row = df.select(
        parts["metric_name"].alias("mn"),
        parts["frequency"].alias("fr"),
        parts["dimension_value"].alias("dv"),
        parts["alarm_key"].alias("ak"),
    ).collect()[0]
    # matches ref:lambda/sla_parse.py:26-29 derived_list semantics
    assert row["mn"] == "invocations"
    assert row["fr"] == "day"
    assert row["dv"] == "hello_world"
    # intended J2 key: alarm_unique_id minus trailing '-'
    assert row["ak"] == m.alarm_unique_id()[:-1]


def test_statistic_agg(spark):
    df = spark.createDataFrame([(float(v),) for v in [1, 2, 3, 4, 10]], "v double")
    got = df.agg(
        statistic_agg("Sum", F.col("v")).alias("s"),
        statistic_agg("Average", F.col("v")).alias("a"),
        statistic_agg("Minimum", F.col("v")).alias("mn"),
        statistic_agg("Maximum", F.col("v")).alias("mx"),
        statistic_agg("SampleCount", F.col("v")).alias("c"),
        statistic_agg("p50", F.col("v")).alias("p50"),
    ).collect()[0]
    assert got["s"] == 20.0
    assert got["a"] == 4.0
    assert got["mn"] == 1.0
    assert got["mx"] == 10.0
    assert got["c"] == 5.0
    assert got["p50"] == 3.0


def test_statistic_agg_unknown():
    with pytest.raises(ValueError):
        statistic_agg("Bogus", F.lit(1))


def test_floor_to_10min_and_iso(spark):
    df = spark.createDataFrame([("2026-08-13 12:37:45",)], "s string").select(
        F.col("s").cast("timestamp").alias("ts")
    )
    row = df.select(
        floor_to_10min(F.col("ts")).alias("fl"), iso8601(F.col("ts")).alias("iso")
    ).collect()[0]
    assert str(row["fl"]) == "2026-08-13 12:30:00"
    assert row["iso"] == "2026-08-13T12:37:45+00:00"
