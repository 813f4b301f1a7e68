"""Counterpart-city finder — the reference's pre-test design step that picks,
for every city, the other city whose per-time-unit KPI trajectory correlates
best with it (``counterpart_method.ipynb`` cells 15-18: groupby(time_unit,
city).mean().unstack() → .corr()[city] → top non-self entry; cells 54-57 add
the per-city std of time-unit means and the difference-std per candidate pair
for the "best city mix" ranking).

The pandas prototype pivots to a (time_unit × city) matrix and calls
``DataFrame.corr()`` — a driver-side dense matrix that dies when cities × units
outgrows memory. The Spark-first shape never pivots:

1. one shuffle aggregates the fact table to per-(unit, city) means — the ONLY
   pass over raw data, map-side combinable;
2. a self-equi-join on the unit key pairs each unit's city means (inner join ≡
   pandas pairwise-complete correlation: a pair's corr uses exactly the units
   where BOTH cities observed the KPI);
3. ``corr()``/``stddev_samp(a-b)`` per (city, counterpart) group — again
   map-combinable partial aggregation;
4. a window ranks candidates per city; rank 1 is the counterpart.

At 100 TB the aggregated frame is |units| × |cities| rows — tiny relative to
facts — and the self-join fans out |cities|² per unit, bounded because the
city dimension is small (the reference runs 5 entities). No driver
materialization anywhere; the corr matrix only ever exists as a distributed
(city, counterpart) long table.

Ties in the rounded correlation break on the counterpart name so the winner is
deterministic across engines (exact float ordering may differ between Spark
and an oracle at the last ulp).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# the means frame pinned by best_counterparts (three consumers — the two
# self-join sides and the per-city std — must not re-scan the fact table)
# registers in the session-wide registry (caching.py)
from switchback_test_dag_spark.caching import pin as _pin


def unit_city_means(
    df: DataFrame, unit: Column, city: Column, value: str
) -> DataFrame:
    """Per-(time-unit, city) KPI means — the un-pivoted form of the
    reference's ``time_unit_means`` matrix (counterpart_method.ipynb cell 17).
    """
    return (
        df.filter(F.col(value).isNotNull())
        .groupBy(unit.alias("unit"), city.alias("city"))
        .agg(F.avg(value).alias("m"))
    )


def pairwise_city_corr(means: DataFrame) -> DataFrame:
    """All ordered city pairs with Pearson correlation of their per-unit
    means, the number of shared units, and the std of the per-unit mean
    difference (counterpart_method.ipynb cell 57's
    ``(means[a] - means[b]).std()``)."""
    a = means.select(
        F.col("unit"), F.col("city"), F.col("m").alias("m_a")
    )
    b = means.select(
        F.col("unit"),
        F.col("city").alias("counterpart"),
        F.col("m").alias("m_b"),
    )
    pairs = a.join(b, "unit").filter(F.col("city") != F.col("counterpart"))
    return pairs.groupBy("city", "counterpart").agg(
        F.corr("m_a", "m_b").alias("corr_units"),
        F.count(F.lit(1)).alias("n_units"),
        F.stddev_samp(F.col("m_a") - F.col("m_b")).alias("diff_std"),
    )


def best_counterparts(
    df: DataFrame,
    unit: Column,
    city: Column,
    value: str,
    min_units: int = 3,
) -> DataFrame:
    """For each city: its best-correlated counterpart city, plus the per-city
    std of unit means (the "best test city" ranking of cell 55). Pairs sharing
    fewer than ``min_units`` units are ignored (corr over 2 points is ±1 by
    construction — noise, not signal)."""
    # pin: |units|×|cities| rows (tiny) feeding three consumers — without
    # it each consumer re-scans and re-aggregates the raw fact table
    means = _pin(unit_city_means(df, unit, city, value))
    corr = pairwise_city_corr(means).filter(
        (F.col("n_units") >= min_units) & F.col("corr_units").isNotNull()
    )
    rk = F.row_number().over(
        Window.partitionBy("city").orderBy(
            F.round("corr_units", 6).desc(), F.col("counterpart")
        )
    )
    best = corr.withColumn("rk", rk).filter(F.col("rk") == 1).drop("rk")
    city_std = means.groupBy("city").agg(
        F.stddev_samp("m").alias("city_std")
    )
    return best.join(F.broadcast(city_std), "city")
