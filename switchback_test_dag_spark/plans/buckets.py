"""Time-unit bucketing — the switchback experiment's unit of randomization.

Reference semantics:
- ``hr_of_day = hour + minute/60 + second/3600`` (``deep_dive_analyses.ipynb:507``).
- ``pd.cut(np.arange(0,25,Δ), right=False)`` half-open hour-of-day intervals for
  Δ ∈ {0.25, 0.5, 1..12, 24} (``deep_dive_analyses.ipynb:371-462``,
  ``hr_interval_func_*``). The reference then looked the interval up row-by-row with
  an O(rows × buckets) ``df.apply`` scan (``check_right_interval``); here it is O(1)
  arithmetic — ``floor(hr_of_day / Δ)`` — that stays inside whole-stage codegen.

Everything is a pure column expression: no shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hr_of_day(ts) -> Column:
    """Fractional hour of day: ``hour + minute/60 + second/3600``."""
    ts = F.col(ts) if isinstance(ts, str) else ts
    return (
        F.hour(ts)
        + F.minute(ts) / F.lit(60.0)
        + F.second(ts) / F.lit(3600.0)
    )


def hr_interval(ts, delta_hours: float) -> Column:
    """Half-open hour-of-day interval label ``'[start, end)'`` of width
    ``delta_hours`` (``pd.cut`` ``right=False`` equivalent, matching the
    reference's printable interval semantics).
    """
    ts = F.col(ts) if isinstance(ts, str) else ts
    idx = F.floor(hr_of_day(ts) / F.lit(delta_hours)).cast("int")
    start = idx.cast("double") * F.lit(delta_hours)
    end = start + F.lit(delta_hours)
    fmt = lambda c: F.format_number(c, 2)  # noqa: E731
    return F.concat(F.lit("["), fmt(start), F.lit(", "), fmt(end), F.lit(")"))
