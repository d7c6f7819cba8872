"""Dtype-strict oracle sweep (driver hash-gate parity).

The driver's correctness gate hashes values through pandas, where dtype
matters: a DuckDB HUGEINT (bare ``SUM`` over integers, window ``SUM``,
``COUNT(*)`` arithmetic …) round-trips as an object/decimal column and
hash-mismatches a Spark BIGINT even when every value is identical. That
class shipped three rounds running (psi_drift r5, chi_square/alert_suppress
r6) because the local comparator normalized ints and floats together.

This sweep makes the class unshippable: every registered oracle's DuckDB
result schema (probed via Arrow, where HUGEINT is decimal128(38,0)) must
pair class-for-class with the Spark query's schema.
"""

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tools.oracle_dtypes import dtype_mismatches, duck_oracle_schema


@pytest.fixture(scope="module")
def duck(sf_dir):
    from aws_dataset_ingestion_metrics_collection_framework_spark.catalog import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()


def test_every_oracle_dtype_matches_spark(declared_query, sf_dir, duck):
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir  # literal-table oracles
    oracles = entry_mod.oracle_sql()
    bad, errors = {}, {}
    for name, sql in sorted(oracles.items()):
        try:
            sdf = declared_query(name)
            mism = dtype_mismatches(sdf.schema, duck_oracle_schema(duck, sql))
        except Exception as e:
            errors[name] = str(e)[:200]
            continue
        if mism:
            bad[name] = mism
    assert errors == {}, f"oracle dtype probe errored: {errors}"
    assert bad == {}, (
        "gate-punishable Spark↔DuckDB dtype mismatches (add CAST in the "
        f"oracle SQL or align the Spark column type): {bad}"
    )
