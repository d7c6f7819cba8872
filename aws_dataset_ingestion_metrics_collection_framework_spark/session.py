"""SparkSession factory with scale-appropriate defaults.

Mirrors the reference's only Spark bootstrap (ref:glue/business_metrics.py:16-20
— a SparkSession with ``spark.sql.crossJoin.enabled=true``) but adds the
configuration a 1000-executor / 100 TB deployment wants from day one:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy);
- UTC session timezone everywhere (the reference mixes naive utcnow/now —
  ref:lambda/metric_stream_producer.py:40 vs ref:lambda/sla_stream_producer.py:34;
  we standardize on UTC, SURVEY §7 "hard parts" #3);
- Arrow for any pandas interchange;
- shuffle partitions sized from the environment (local test default 32; a real
  cluster overrides via ``spark.sql.shuffle.partitions`` or relies on AQE
  coalescing from a high initial number);
- a generated-code cache sized to the engine's working set. Spark keeps
  100 compiled classes by default (``spark.sql.codegen.cache.maxEntries``),
  but one scheduled batch cycle (business SQL, minute/hour/day scrape and
  lake writes, SLA fleet, ``sla_table``, MinHash dedup, components) needs
  about 250. At 100, every cycle evicts the classes the next one needs, so
  a warm cycle compiles them all again with Janino and the JIT warms each
  new class from scratch. The bound is a static conf: it takes effect only
  when ``get_spark`` creates the session, and is ignored (like every other
  static conf here) when a session already exists in the process.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# 128 MB parquet split targets keep scan tasks balanced at 100 TB
# (≈ 800k tasks at 128 MB — fine for a 1000-executor cluster with AQE).
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.crossJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # Working set, measured as compiles in a fresh session on 4 cores:
    # ~250 classes for a cold batch cycle, ~115 for the live ingest ->
    # scrape -> alarm topology. 1000 holds both plus ad-hoc queries; see
    # the module docstring.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "dataset-metrics-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster master is configured (test harness contract).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
