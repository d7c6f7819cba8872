"""Reusable Column builders (all JVM-side, whole-stage-codegen friendly —
no Python UDFs)."""

from .keys import (
    alarm_name_col,
    alarm_unique_id_col,
    parse_alarm_name,
    unique_id_col,
    widget_title_col,
)
from .stats import statistic_agg, SUPPORTED_STATISTICS
from .timeutil import (
    floor_to_10min,
    iso8601,
    partition_cols,
)

__all__ = [
    "unique_id_col",
    "alarm_unique_id_col",
    "widget_title_col",
    "alarm_name_col",
    "parse_alarm_name",
    "statistic_agg",
    "SUPPORTED_STATISTICS",
    "floor_to_10min",
    "iso8601",
    "partition_cols",
]
