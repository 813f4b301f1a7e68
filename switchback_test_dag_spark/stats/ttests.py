"""Closed-form two-sample t tests from distributed moments.

Reference usages:
- Student t on order-level rows (shown to be invalid for switchbacks — FPR ≫ 5%):
  ``method_evaluation.ipynb:239-250`` (``stats.ttest_ind``).
- t on time-unit (bucket) means: ``method_evaluation.ipynb:253-266``.
- Welch (``equal_var=False``) on time-region unit aggregates:
  ``deep_dive_analyses.ipynb`` ``sig_calc_time_region_units_func``.

Each reduces to ``avg/stddev_samp/count`` per (partition, group) — one shuffle —
followed by scalar column math; the Student-t tail is one JVM expression over
commons-math3's incomplete beta (``stats.distributions.t_two_sided_p``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from switchback_test_dag_spark.stats.distributions import t_two_sided_p


def _group_moments(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    by: Sequence[str],
    extra_aggs: Sequence = (),
) -> DataFrame:
    """Per-arm moment aggregation. ``extra_aggs`` lets a caller fold additional
    aggregate columns (e.g. whole-group moments) into the SAME groupBy so the
    fact is scanned once for every consumer."""
    v = F.col(value_col).cast("double")
    is_a = F.col(group_col) == F.lit(group_a)
    is_b = F.col(group_col) == F.lit(group_b)
    clean = df.filter(v.isNotNull() & ~F.isnan(v) & (is_a | is_b))
    return clean.groupBy(*by).agg(
        F.count(F.when(is_a, 1)).alias("n_a"),
        F.count(F.when(is_b, 1)).alias("n_b"),
        F.avg(F.when(is_a, v)).alias("mean_a"),
        F.avg(F.when(is_b, v)).alias("mean_b"),
        F.coalesce(F.stddev_samp(F.when(is_a, v)), F.lit(0.0)).alias("sd_a"),
        F.coalesce(F.stddev_samp(F.when(is_b, v)), F.lit(0.0)).alias("sd_b"),
        *extra_aggs,
    )


def t_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    by: Sequence[str] = (),
) -> DataFrame:
    """Student two-sample t-test (pooled variance), scipy ``ttest_ind`` semantics.

    Returns per-``by`` rows: n_a, n_b, mean_a, mean_b, mean_diff, se, t_stat,
    dof, p_value.
    """
    m = _group_moments(df, value_col, group_col, group_a, group_b, list(by))
    n_a, n_b = F.col("n_a"), F.col("n_b")
    # guard degenerate partitions (ANSI mode: unguarded 1/n would throw)
    valid = (n_a > 1) & (n_b > 1)
    sp2 = ((n_a - 1) * F.pow("sd_a", 2) + (n_b - 1) * F.pow("sd_b", 2)) / (
        n_a + n_b - 2
    )
    se = F.when(valid, F.sqrt(sp2 * (1 / n_a + 1 / n_b)))
    out = m.select(
        *by,
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        (F.col("mean_a") - F.col("mean_b")).alias("mean_diff"),
        se.alias("se"),
        F.when(valid & (se > 0), (F.col("mean_a") - F.col("mean_b")) / se).alias(
            "t_stat"
        ),
        F.when(valid, (n_a + n_b - 2).cast("double")).alias("dof"),
    )
    return out.withColumn("p_value", t_two_sided_p(F.col("t_stat"), F.col("dof")))


def welch_t_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    by: Sequence[str] = (),
) -> DataFrame:
    """Welch's t-test (``equal_var=False``) with Welch–Satterthwaite dof."""
    m = _group_moments(df, value_col, group_col, group_a, group_b, list(by))
    return welch_from_moments(m, by)


def welch_from_moments(
    m: DataFrame,
    by: Sequence[str] = (),
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """Welch statistics from an already-aggregated moments frame (columns
    ``n_a n_b mean_a mean_b sd_a sd_b`` per ``by`` tuple).

    Separated from :func:`welch_t_test` so callers that need OTHER aggregates
    of the same scan (e.g. whole-group moments for closed-form MDE) can fuse
    everything into one ``groupBy`` pass and apply the formula columns on top —
    one fact scan instead of one per consumer. ``passthrough`` names extra
    moment columns to carry into the result unchanged."""
    n_a, n_b = F.col("n_a"), F.col("n_b")
    valid = (n_a > 1) & (n_b > 1)
    va = F.pow("sd_a", 2) / n_a
    vb = F.pow("sd_b", 2) / n_b
    se = F.when(valid, F.sqrt(va + vb))
    dof = F.when(
        valid & (se > 0),
        F.pow(va + vb, 2) / (F.pow(va, 2) / (n_a - 1) + F.pow(vb, 2) / (n_b - 1)),
    )
    out = m.select(
        *by,
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        (F.col("mean_a") - F.col("mean_b")).alias("mean_diff"),
        se.alias("se"),
        F.when(valid & (se > 0), (F.col("mean_a") - F.col("mean_b")) / se).alias(
            "t_stat"
        ),
        dof.alias("dof"),
        *passthrough,
    )
    return out.withColumn("p_value", t_two_sided_p(F.col("t_stat"), F.col("dof")))
