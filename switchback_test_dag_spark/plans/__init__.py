"""Time-unit bucketing and seeded On/Off assignment strategies (SURVEY §2
F18-F20, T12-T17) — the switchback randomization layer."""

from switchback_test_dag_spark.plans.buckets import hr_interval, hr_of_day
from switchback_test_dag_spark.plans.assignment import (
    alternating_assignment,
    balanced_assignment,
    counterpart_assignment,
    zone_flip,
)

__all__ = [
    "hr_of_day",
    "hr_interval",
    "balanced_assignment",
    "alternating_assignment",
    "counterpart_assignment",
    "zone_flip",
]
