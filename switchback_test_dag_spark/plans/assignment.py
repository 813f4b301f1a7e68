"""Seeded On/Off (treatment/control) assignment strategies — SURVEY §2 T12-T17.

The reference draws assignments with Python RNGs on the driver
(``method_evaluation.ipynb:226-233`` ``{unit: choice(['A','B'])}``;
``deep_dive_analyses.ipynb:371-460`` balanced ``rng.choice(replace=False)`` maps;
``counterpart_method.ipynb:358-383``). A driver-side dict cannot scale to millions
of units, so every strategy here is a *deterministic column expression*:

- fully distributed (no driver round-trip, no shuffle for the map itself);
- reproducible: the same inputs always map to the same arm, on any cluster size;
- for the *balanced* strategy, a per-day ``row_number`` over ``xxhash64(unit,
  seed)`` order emulates drawing from a balanced urn without replacement.

The seeded Bernoulli strategies (T12 per time unit, T16 per (time unit, city))
are ``stats.permutation.portable_arm``, the md5 arm that DuckDB reproduces
exactly; the registry's ``assignment_battery`` and ``assign_spatial_battery``
compute them.

Each function either tags a unit-level DataFrame or returns a column expression
to attach to the fact table directly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ON, OFF = "On", "Off"


def balanced_assignment(
    units_df: DataFrame,
    unit_col: str,
    day_col: str,
    seed: int,
    labels: tuple[str, str] = (ON, OFF),
    assignment_col: str = "assignment",
) -> DataFrame:
    """T13: balanced draw without replacement per day — exactly half the units of
    each day get each arm (odd counts: first arm gets the extra unit).

    The urn draw is emulated by ordering each day's units by ``xxhash64(unit,
    seed)`` (a seeded shuffle) and alternating arms by row number.
    """
    w = Window.partitionBy(day_col).orderBy(
        F.xxhash64(F.col(unit_col).cast("string"), F.lit(int(seed))), unit_col
    )
    rn = F.row_number().over(w)
    return units_df.withColumn(
        assignment_col,
        F.when(rn % 2 == 1, F.lit(labels[0])).otherwise(F.lit(labels[1])),
    )


def alternating_assignment(
    bucket_index: Column | str, labels: tuple[str, str] = (ON, OFF)
) -> Column:
    """T14: strict deterministic alternation by integer bucket index."""
    idx = F.col(bucket_index) if isinstance(bucket_index, str) else bucket_index
    return F.when(F.pmod(idx, 2) == 0, F.lit(labels[0])).otherwise(F.lit(labels[1]))


def invert(assignment: Column | str, labels: tuple[str, str] = (ON, OFF)) -> Column:
    a = F.col(assignment) if isinstance(assignment, str) else assignment
    return F.when(a == F.lit(labels[0]), F.lit(labels[1])).otherwise(F.lit(labels[0]))


def counterpart_assignment(
    assignment: Column | str,
    city: Column | str,
    counterpart_city: str,
    labels: tuple[str, str] = (ON, OFF),
) -> Column:
    """T15: the mirrored (counterpart) city receives the inverted assignment of
    its partner per time unit."""
    city = F.col(city) if isinstance(city, str) else city
    a = F.col(assignment) if isinstance(assignment, str) else assignment
    return F.when(city == F.lit(counterpart_city), invert(a, labels)).otherwise(a)


def zone_flip(
    assignment: Column | str,
    zone: Column | str,
    flip_zone: str,
    labels: tuple[str, str] = (ON, OFF),
) -> Column:
    """T17: a designated zone runs the inverted status (2-zone switchback rule)."""
    zone = F.col(zone) if isinstance(zone, str) else zone
    a = F.col(assignment) if isinstance(assignment, str) else assignment
    return F.when(zone == F.lit(flip_zone), invert(a, labels)).otherwise(a)
