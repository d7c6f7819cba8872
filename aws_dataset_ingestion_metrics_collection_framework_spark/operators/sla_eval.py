"""SLA evaluation — the native replacement for CloudWatch Alarms.

The reference *declares* alarm parameters (threshold, comparison operator,
m-of-n, treat_missing_data — ref:dataquality/sla.py:4-33) and delegates
evaluation to CloudWatch (ref:cdk_constructs/cw_alarm.py:32-50). This module
evaluates natively (SURVEY §2.5 W3/W4, §3.3):

1. **Gap-fill** (W3/W5): generate the expected window grid per series with
   ``sequence() + explode`` and left-join actual datapoints, so missing
   windows become explicit NULL rows.
2. **Breach predicate** (C13): per-row CASE on the SLA's comparison operator.
3. **m-of-n sliding count** (A6/W3): over the last ``evaluation_periods``
   windows, alarm iff ≥ ``datapoints_to_alarm`` breach. Evaluated with a
   bounded ``collect_list`` window + higher-order functions so each SLA row
   can carry its own (m, n, policy) — one shuffle for ALL SLAs, no per-SLA
   jobs.
4. **treat_missing_data policies** (W5):
   - ``NOT_BREACHING`` — missing windows count as non-breaching;
   - ``BREACHING``     — missing windows count as breaching;
   - ``IGNORE``        — evaluation uses the last n *observed* datapoints
     (missing windows are skipped), which preserves the previous state
     through gaps;
   - ``MISSING``       — like IGNORE, but if no datapoints are observed in
     the lookback the state is INSUFFICIENT_DATA.
   (CloudWatch's full algorithm has additional premature-data subtleties;
   this is the documented engine model, property-tested against a plain-
   Python oracle in tests/test_sla_eval.py.)
5. **State machine** (W4): OK / ALARM / INSUFFICIENT_DATA per window;
   transition detection via ``lag``; alert payload building (J3 —
   ref:lambda/sla_parse.py:60-73) for rows entering ALARM.

Scale: grid size = (#SLAs × windows-in-range) — independent of raw datapoint
volume; the only big-table shuffle happened upstream in the statistic engine.
State windows partition by sla_id (thousands of partitions, trivially
parallel; no skew since every series has the same grid length).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.comparisons import breach_predicate, operator_case

# How many grid windows beyond n we keep for IGNORE/MISSING lookback.
LOOKBACK_FACTOR = 4


def gap_fill(
    series: DataFrame,
    sla_defs: DataFrame,
    *,
    start: Column | None = None,
    end: Column | None = None,
) -> DataFrame:
    """Expected-window grid per (sla × series) with observed values attached.

    ``series``  : (series_id, ws timestamp, value double) — one datapoint per
                  tumbling window (output of the statistic engine).
    ``sla_defs``: (sla_id, series_id, threshold, comparison_operator,
                  datapoints_to_alarm, evaluation_periods, treat_missing_data,
                  period int).

    Grid bounds default to each series' [min(ws), max(ws)]; pass ``start`` /
    ``end`` for explicit evaluation ranges (streaming incremental mode).
    """
    bounds = series.groupBy("series_id").agg(
        F.min("ws").alias("min_ws"), F.max("ws").alias("max_ws")
    )
    lo = start if start is not None else F.col("min_ws")
    hi = end if end is not None else F.col("max_ws")
    grid = (
        sla_defs.join(F.broadcast(bounds), "series_id")
        .withColumn(
            "ws",
            F.explode(
                F.sequence(
                    lo,
                    hi,
                    F.make_interval(F.lit(0), F.lit(0), F.lit(0), F.lit(0), F.lit(0), F.lit(0), F.col("period")),
                )
            ),
        )
        .drop("min_ws", "max_ws")
    )
    return grid.join(series, ["series_id", "ws"], "left")


def evaluate_slas(series: DataFrame, sla_defs: DataFrame, **gap_kwargs) -> DataFrame:
    """Full evaluation → one row per (sla_id, ws) with ``statevalue`` ∈
    {OK, ALARM, INSUFFICIENT_DATA} and supporting columns."""
    grid = gap_fill(series, sla_defs, **gap_kwargs)
    grid = grid.withColumn(
        "breach",
        breach_predicate(F.col("value"), F.col("comparison_operator"), F.col("threshold")),
    )

    max_n_row = sla_defs.agg(F.max("evaluation_periods")).collect()[0][0]
    lookback = max(int(max_n_row or 1) * LOOKBACK_FACTOR, 1)

    w = (
        Window.partitionBy("sla_id")
        .orderBy("ws")
        .rowsBetween(-(lookback - 1), Window.currentRow)
    )
    # hist: bounded history of (value, breach) including missing (value null)
    hist = F.collect_list(F.struct(F.col("ws"), F.col("value"), F.col("breach"))).over(w)
    # collect_list drops nothing here: struct itself is never null
    df = grid.withColumn("hist", hist)

    n = F.col("evaluation_periods")
    m = F.col("datapoints_to_alarm")
    last_n_grid = F.slice(
        F.col("hist"),
        F.greatest(F.lit(1), F.size("hist") - n + 1),
        F.least(n, F.size("hist")),
    )
    # The window frame above is sized by the GLOBAL max(evaluation_periods);
    # each SLA's IGNORE/MISSING lookback is its own n × LOOKBACK_FACTOR. The
    # grid is dense per sla_id, so slicing the per-SLA tail of hist by slot
    # count matches the oracle's hist[-lookback:] exactly.
    per_sla_lb = F.greatest(n * F.lit(LOOKBACK_FACTOR), F.lit(1))
    hist_sla = F.slice(
        F.col("hist"),
        F.greatest(F.lit(1), F.size("hist") - per_sla_lb + 1),
        F.least(per_sla_lb, F.size("hist")),
    )
    observed = F.filter(hist_sla, lambda x: x["value"].isNotNull())
    last_n_obs = F.slice(
        observed,
        F.greatest(F.lit(1), F.size(observed) - n + 1),
        F.least(n, F.size(observed)),
    )

    breaches_grid = F.size(F.filter(last_n_grid, lambda x: x["breach"] == True))  # noqa: E712
    breaches_grid_or_missing = F.size(
        F.filter(last_n_grid, lambda x: (x["breach"] == True) | x["value"].isNull())  # noqa: E712
    )
    breaches_obs = F.size(F.filter(last_n_obs, lambda x: x["breach"] == True))  # noqa: E712
    n_obs = F.size(last_n_obs)

    policy = F.col("treat_missing_data")
    in_alarm = (
        F.when(policy == "NOT_BREACHING", breaches_grid >= m)
        .when(policy == "BREACHING", breaches_grid_or_missing >= m)
        .otherwise((n_obs > 0) & (breaches_obs >= m))  # IGNORE / MISSING
    )
    insufficient = (
        F.when(policy == "MISSING", n_obs == 0)
        .when(policy == "IGNORE", n_obs == 0)
        .otherwise(F.lit(False))
    )
    state = (
        F.when(insufficient, F.lit("INSUFFICIENT_DATA"))
        .when(in_alarm, F.lit("ALARM"))
        .otherwise(F.lit("OK"))
    )
    # statereason — CloudWatch composes a human-readable reason stored in the
    # slas table (ref:cdk_constructs/glue_catalog_construct.py:186-191,
    # scraped verbatim at ref:lambda/sla_stream_producer.py:61-88). The
    # evaluator synthesizes the same shape from the decision internals.
    breaches = (
        F.when(policy == "NOT_BREACHING", breaches_grid)
        .when(policy == "BREACHING", breaches_grid_or_missing)
        .otherwise(breaches_obs)
    )
    n_eval = (
        F.when(policy.isin("IGNORE", "MISSING"), n_obs).otherwise(F.size(last_n_grid))
    )
    phrase = operator_case(F.col("comparison_operator"), lambda _, text: F.lit(text))
    reason = F.when(
        insufficient,
        F.format_string("Insufficient Data: %d datapoints were unknown", n),
    ).otherwise(
        F.format_string(
            "Threshold Crossed: %d out of the last %d datapoints were %s the "
            "threshold (%s) (%d datapoints for ALARM)",
            breaches,
            n_eval,
            phrase,
            F.col("threshold"),
            m,
        )
    )
    return (
        df.withColumn("statevalue", state)
        .withColumn("statereason", reason)
        .drop("hist")
    )


def state_transitions(evaluated: DataFrame) -> DataFrame:
    """W4 — detect state changes per SLA (lag-based). Returns only rows whose
    state differs from the previous window (the reference publishes SNS on
    transition; consumed at ref:lambda/sla_parse.py:22-23)."""
    w = Window.partitionBy("sla_id").orderBy("ws")
    prev = F.lag("statevalue").over(w)
    return (
        evaluated.withColumn("prev_state", prev)
        .filter((F.col("prev_state").isNull()) | (F.col("prev_state") != F.col("statevalue")))
    )


def build_alerts(transitions: DataFrame, sla_meta: DataFrame) -> DataFrame:
    """J3 — enrich ALARM/INSUFFICIENT_DATA transitions with SLA definition
    fields and build the alert payload (ref:lambda/sla_parse.py:60-73).

    ``sla_meta``: (sla_id, details, short_description, severity, sns_enabled,
    metric_name, frequency, dimension_value, reference_id).
    """
    alarmed = transitions.filter(F.col("statevalue").isin("ALARM", "INSUFFICIENT_DATA"))
    joined = alarmed.join(F.broadcast(sla_meta), "sla_id", "inner")
    payload = F.to_json(
        F.struct(
            F.col("details"),
            F.concat(
                F.col("short_description"),
                F.lit(" caused by CloudWatch Alarm in "),
                F.col("statevalue"),
                F.lit(" state"),
            ).alias("short_description"),
            F.col("severity").alias("impact"),
            F.concat_ws("-", F.col("dimension_value"), F.col("metric_name"), F.col("frequency")).alias(
                "unique_id"
            ),
            F.lit("Data Governance").alias("alarm_origin"),
            F.col("reference_id"),
        )
    )
    return joined.select(
        "sla_id", "ws", "statevalue", F.col("sns_enabled"), payload.alias("payload")
    )
