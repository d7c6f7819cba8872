import functools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_dataset_ingestion_metrics_collection_framework_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # The whole suite shares one JVM (~490 tests, >4500 stages): at the
    # 1 GiB default driver heap the accumulated broadcast/codegen state
    # OOMs nondeterministically in whichever heavy test runs last
    # (observed: TorrentBroadcast OOM in the example-pipeline test at
    # suite position ~480, green in isolation and in shorter runs).
    spark = get_spark(
        app_name="engine-tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def declared_query(spark, sf_dir):
    """``declared_query(name)`` → the ``__spark_entry__.queries()`` entry built
    against ``sf_dir``, once per session. Building every entry takes minutes
    (the ANN entries build and self-check their indexes when declared), and
    two sweeps over the whole declared surface need only the built
    DataFrames (schema, plan), so they share one build. A build that raises
    is not memoized: each caller sees the exception."""
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()

    @functools.cache
    def build(name):
        return queries[name](spark, sf_dir)

    return build
