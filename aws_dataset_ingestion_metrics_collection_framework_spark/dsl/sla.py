"""SLA — a threshold rule over a Metric. API parity with
ref:dataquality/sla.py:4-33 (same constructor signature & defaults).

Evaluation semantics (delegated to CloudWatch Alarms in the reference,
ref:cdk_constructs/cw_alarm.py:32-50) are implemented natively by
``operators.sla_eval``: m-of-n datapoint breach counting, four
treat_missing_data policies, OK/ALARM/INSUFFICIENT_DATA state machine.
"""

from __future__ import annotations

from ..functions.comparisons import COMPARISONS
from ..operators.sla_eval import MISSING_DATA_POLICIES
from .metric import Metric


class SLA:
    """Threshold rule over a metric."""

    metric: Metric

    def __init__(
        self,
        sla_set,
        metric: Metric,
        short_description: str,
        details: str,
        threshold: int,
        comparison_operator: str,
        treat_missing_data: str = "NOT_BREACHING",
        severity: str = "default",
        datapoints_to_alarm: int = 1,
        evaluation_periods: int = 1,
        sns_enabled: bool = False,
    ) -> None:
        if comparison_operator not in COMPARISONS:
            raise ValueError(f"unknown comparison_operator: {comparison_operator!r}")
        if treat_missing_data not in MISSING_DATA_POLICIES:
            raise ValueError(f"unknown treat_missing_data: {treat_missing_data!r}")
        self.sla_set = sla_set
        self.metric = metric
        self.threshold = threshold
        self.comparison_operator = comparison_operator
        self.datapoints_to_alarm = datapoints_to_alarm
        self.evaluation_periods = evaluation_periods
        self.treat_missing_data = treat_missing_data
        self.short_description = short_description
        self.details = details
        self.severity = severity
        self.sns_enabled = sns_enabled
        self.sla_set.add(self)

    def alarm_name(self, region: str) -> str:
        """CloudWatch alarm name layout —
        ``'data-gov-' + alarm_unique_id + 'SLA-Alarm-' + region``
        (ref:cdk_constructs/cw_alarm.py:36)."""
        return "data-gov-" + self.metric.alarm_unique_id() + "SLA-Alarm-" + region
