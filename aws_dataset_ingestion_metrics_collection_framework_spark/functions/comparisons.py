"""Comparison-operator string → breach comparison and statereason phrase
(SURVEY §2.7 C13, §4 rewrite #2).

The reference resolves these strings onto CloudWatch ComparisonOperator enums
via getattr (ref:cdk_constructs/cw_alarm.py:42-49); CloudWatch then evaluates
``value OP threshold`` per datapoint. The engine evaluates natively.

CloudWatch semantics: the alarm condition is breached when the *datapoint*
compares true against the threshold — e.g. GREATER_THAN_THRESHOLD breaches
when value > threshold.

``COMPARISONS`` is the one table of operators: the alarm kernel
(operators/sla_eval.alarm_states, batch and streaming) and the batch
``statereason`` phrase both read it.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

# operator name → (comparison, statereason phrase). The ``operator``
# functions apply to numpy arrays and Python floats alike.
COMPARISONS: dict[str, tuple[Callable[[Any, Any], Any], str]] = {
    "GREATER_THAN_THRESHOLD": (operator.gt, "greater than"),
    "GREATER_THAN_OR_EQUAL_TO_THRESHOLD": (operator.ge, "greater than or equal to"),
    "LESS_THAN_THRESHOLD": (operator.lt, "less than"),
    "LESS_THAN_OR_EQUAL_TO_THRESHOLD": (operator.le, "less than or equal to"),
}


def operator_phrase(operator_name: Column) -> Column:
    """Each operator's ``statereason`` phrase, as one CASE over the operator
    column; an unknown operator name yields NULL."""
    case = F  # F.when opens the CASE, Column.when extends it
    for name, (_, phrase) in COMPARISONS.items():
        case = case.when(operator_name == name, F.lit(phrase))
    return case
