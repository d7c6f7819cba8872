"""User-SQL corpus sanity (S1/A4/J4 surface, ref:glue/business_metrics.py:39).

The value-level correctness gate for every corpus query is the DuckDB oracle
compare (tools/compare_oracle.py, run by the driver at sf0.01). These tests
pin the *contract*: every declared query has an oracle, the SQL texts run on
Spark, and the relational shapes the reference's arbitrary-SQL surface must
support (correlated subqueries, EXISTS/NOT EXISTS, CTE reuse, outer-join
distributions, conditional aggregation) all execute and return sane rows.
"""

import pytest

import __spark_entry__ as entry_mod
from aws_dataset_ingestion_metrics_collection_framework_spark.plans import queries as Q

# Queries added in r2 to complete the 22 TPC-H relational shapes.
R2_SQL = {
    "q02_min_cost_supplier": Q.Q02_SQL,
    "q07_volume_shipping": Q.Q07_SQL,
    "q08_market_share": Q.Q08_SQL,
    "q09_product_profit": Q.Q09_SQL,
    "q11_important_balance": Q.Q11_SQL,
    "q12_priority_lines": Q.Q12_SQL,
    "q13_order_distribution": Q.Q13_SQL,
    "q14_promo_effect": Q.Q14_SQL,
    "q15_top_supplier": Q.Q15_SQL,
    "q17_small_qty_revenue": Q.Q17_SQL,
    "q18_large_volume": Q.Q18_SQL,
    "q19_discount_revenue": Q.Q19_SQL,
    "q20_part_promotion": Q.Q20_SQL,
    "q21_waiting_supplier": Q.Q21_SQL,
}

# Scalar-result queries may legitimately return a single NULL-bearing row at
# tiny scale factors (empty filter ranges); everything else must emit rows.
_SCALAR = {"q14_promo_effect", "q17_small_qty_revenue", "q19_discount_revenue"}


# The explicit rows-only allowlist: queries whose compute DuckDB cannot
# express (each must say why and name its pytest correctness pin). Anything
# NOT listed here must carry an oracle — silent rows-only regressions fail.
ROWS_ONLY_ALLOWED = {
    # iterative LBFGS training; pinned by tests/test_mlquality.py (AUC,
    # holdout generalization, refit determinism). Why it stays: its
    # HashingTF projection is murmur3, which DuckDB cannot compute, and
    # the LBFGS weights are float iterations — so BOTH stages are
    # non-oracle-expressible as-is. The oracled coverage of the same
    # capability is quality_exact (full fixed-point training, hash-exact)
    # plus quality_tf (the engine-owned hashed-count projection the exact
    # trainer consumes). Every other entry
    # this set ever held (image_phash_pairs, bpe_tokenize,
    # compression_signals) has since gained an oracle — reappearing here
    # would be a regression the missing-check below no longer hides.
    "quality_scores",
}


def test_every_query_is_oracled():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    missing = sorted(set(qs) - set(oracles) - ROWS_ONLY_ALLOWED)
    assert missing == [], f"rows-only queries reappeared: {missing}"
    assert ROWS_ONLY_ALLOWED <= set(qs)


@pytest.mark.parametrize("name", sorted(R2_SQL))
def test_r2_sql_runs_on_spark(spark, sf_dir, name):
    from aws_dataset_ingestion_metrics_collection_framework_spark.catalog import register_tables

    register_tables(spark, sf_dir)
    rows = spark.sql(R2_SQL[name]).collect()
    if name in _SCALAR:
        assert len(rows) == 1
    else:
        assert rows, f"{name} returned no rows at {sf_dir}"


def test_no_cartesian_product_in_sql_corpus_plans(spark, sf_dir):
    """Planning guard: every SQL-corpus query must resolve its joins to
    hash/broadcast/sort-merge strategies — a CartesianProduct appearing in
    any of these plans means a join condition was lost."""
    from aws_dataset_ingestion_metrics_collection_framework_spark.catalog import register_tables
    from aws_dataset_ingestion_metrics_collection_framework_spark.plans import queries as Q

    register_tables(spark, sf_dir)
    corpus = {
        name: sql
        for name, sql in Q.ORACLES.items()
        if name.startswith(("q", "window_", "rollup", "cube"))
        and name in Q.QUERIES
        and Q.QUERIES[name].__name__ == "run"  # _sql_query-wrapped → same text
    }
    assert len(corpus) >= 25
    offenders = []
    for name, sql in corpus.items():
        plan = spark.sql(sql)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == []


def test_no_cartesian_product_in_any_declared_query_plan(declared_query):
    """Planning guard over the FULL declared-query surface (not just the
    SQL corpus): building every queries() entry at sf0.001 and checking the
    executed plan for CartesianProduct nodes. Catches a lost join condition
    in any operator path the moment it is declared — the r2/r3 manual plan
    audits, made permanent."""
    import __spark_entry__ as entry_mod

    offenders, errors = [], []
    for name in entry_mod.queries():
        try:
            plan = declared_query(name)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # a query that cannot even plan is a failure
            errors.append(f"{name}: {e}")
            continue
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert errors == []
    assert offenders == []
