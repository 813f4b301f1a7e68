"""Experiment-design tooling: analytic power, sample size, and MDE (SURVEY §2.8
T11, T19).

The reference computes these with statsmodels' ``tt_ind_solve_power`` /
``TTestIndPower().power`` and ``np.interp`` 80 %-power intercepts
(`notebooks/switchback_analysis.ipynb:462-709`, `deep_dive_analyses.ipynb:2221`)
and scales MDE by the affected-order share
(`notebooks/CI_for_different_datasets.ipynb:1821` ``get_results``). statsmodels is
not available here, so power uses the standard noncentral-t normal approximation
on top of the exact central-t critical value (commons-math3's ``TDistribution``
through ``stats.distributions.t_ppf_two_sided``) — accurate to ~1e-3 against
Monte Carlo for the n ranges the reference sweeps (hundreds+ of orders per arm);
solvers invert it by bisection.

Scale split: all solvers are driver-side scalar math over *aggregated moments*
(tests × KPIs rows). The only cluster work is the one-pass moment aggregation in
``mde_from_moments`` — a single shuffle regardless of input size. The critical
value is computed in the driver's JVM, so the solvers need an active session.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from switchback_test_dag_spark.stats.distributions import t_ppf_two_sided

# z-quantiles used by the closed-form (normal-approximation) MDE columns; the
# same literals appear in the DuckDB oracle of `mde_by_event_type`.
Z_975 = 1.959963984540054  # norm_ppf(0.975), two-sided alpha=0.05
Z_80 = 0.8416212335729143  # norm_ppf(0.80), power=80%


def _bisect(below, lo: float, hi: float, steps: int) -> float:
    """Midpoint of ``[lo, hi]`` after up to ``steps`` halvings that move ``lo``
    up to the midpoint where ``below(mid)`` holds and ``hi`` down where not.
    A step that leaves the bracket unchanged would repeat on every later step,
    so the loop stops there with the result the full ``steps`` give."""
    for _ in range(steps):
        mid = 0.5 * (lo + hi)
        if below(mid):
            if mid == lo:
                break
            lo = mid
        else:
            if mid == hi:
                break
            hi = mid
    return 0.5 * (lo + hi)


def _norm_sf(z: float) -> float:
    """Standard-normal survival function, exact via ``math.erfc``."""
    return 0.5 * math.erfc(z / math.sqrt(2.0))


def norm_ppf(q: float) -> float:
    """Standard-normal quantile via bisection on the exact erfc-based sf."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0,1), got {q}")
    return _bisect(lambda z: 1.0 - _norm_sf(z) < q, -40.0, 40.0, 200)


def _t_crit(n_per_group: float, alpha: float) -> float:
    """Two-sided central-t critical value at ``2n-2`` dof (NaN below n = 2)."""
    if n_per_group < 2:
        return float("nan")
    return t_ppf_two_sided(alpha, 2.0 * n_per_group - 2.0)


def _power(effect_size: float, n_per_group: float, t_crit: float) -> float:
    """``power_two_sample`` at a precomputed critical value, so callers that
    hold ``n`` fixed compute ``t_ppf_two_sided`` once."""
    if n_per_group < 2:
        return float("nan")
    ncp = abs(effect_size) * math.sqrt(n_per_group / 2.0)
    return _norm_sf(t_crit - ncp) + _norm_sf(t_crit + ncp)


def power_two_sample(
    effect_size: float, n_per_group: float, alpha: float = 0.05
) -> float:
    """Power of a two-sided two-sample t-test at standardized effect ``d``.

    ``TTestIndPower().power(effect_size, nobs1, alpha)`` semantics (equal group
    sizes, equal variance): noncentrality ``d·sqrt(n/2)``, central-t critical
    value at ``2n-2`` dof, normal approximation of the noncentral t.
    """
    return _power(effect_size, n_per_group, _t_crit(n_per_group, alpha))


def solve_mde(n_per_group: float, power: float = 0.8, alpha: float = 0.05) -> float:
    """Minimum detectable standardized effect for given n — the
    ``tt_ind_solve_power(effect_size=None)`` direction, by bisection."""
    t_crit = _t_crit(n_per_group, alpha)
    lo, hi = 0.0, 1.0
    for _ in range(200):
        if _power(hi, n_per_group, t_crit) >= power:
            break
        hi *= 2.0
    return _bisect(lambda d: _power(d, n_per_group, t_crit) < power, lo, hi, 100)


def solve_n(effect_size: float, power: float = 0.8, alpha: float = 0.05) -> float:
    """Per-group n for given effect — ``tt_ind_solve_power(nobs1=None)``."""
    lo, hi = 2.0, 4.0
    for _ in range(200):
        if power_two_sample(effect_size, hi, alpha) >= power:
            break
        hi *= 2.0
    return _bisect(
        lambda n: power_two_sample(effect_size, n, alpha) < power, lo, hi, 100
    )


def power_curve(
    effect_sizes: Sequence[float], n_per_group: float, alpha: float = 0.05
) -> list[tuple[float, float]]:
    """(effect, power) pairs — the reference's power-vs-effect sweep."""
    t_crit = _t_crit(n_per_group, alpha)
    return [(d, _power(d, n_per_group, t_crit)) for d in effect_sizes]


def interp_power_intercept(
    curve: Sequence[tuple[float, float]], target_power: float = 0.8
) -> float:
    """Effect size where the curve crosses ``target_power`` (np.interp on the
    inverted curve, the reference's 80 %-power intercept)."""
    effects = np.array([e for e, _ in curve], dtype=float)
    powers = np.array([p for _, p in curve], dtype=float)
    order = np.argsort(powers)
    return float(np.interp(target_power, powers[order], effects[order]))


def mde_scaled_by_affected_share(mde: float, affected_share_pct: float) -> float:
    """T19: only ``affected%`` of orders can move, so the detectable effect on
    the *affected* population is the overall MDE × 100/affected%."""
    if affected_share_pct <= 0:
        return float("inf")
    return mde * 100.0 / affected_share_pct


def mde_closed_form_cols(
    n: Column, sd: Column, mean: Column, power_z: float = Z_80, alpha_z: float = Z_975
) -> list[Column]:
    """Closed-form normal-approximation MDE columns from group moments.

    ``mde_abs = (z_{1-α/2} + z_{power}) · sd · sqrt(2/n)`` — the classic
    two-sample formula; a balanced split of the group's n into two arms of n/2
    each gives ``sqrt(2/(n/2)) = 2/sqrt(n)``. SQL-expressible (same literals in
    the oracle), so the driver's hash gate covers it; the exact-t refinement
    lives in the python solvers above.
    """
    valid = (n > 3) & sd.isNotNull() & (sd > 0)
    mde_abs = F.when(valid, (alpha_z + power_z) * sd * 2.0 / F.sqrt(n))
    return [
        F.round(mde_abs, 6).alias("mde_abs"),
        F.round(
            F.when(valid & (F.abs(mean) > 0), mde_abs / F.abs(mean) * 100.0), 4
        ).alias("mde_pct"),
    ]


def mde_from_moments(
    df: DataFrame, value_col: str, by: Sequence[str] = ()
) -> DataFrame:
    """Per-group MDE table: one aggregation pass → closed-form columns."""
    v = F.col(value_col).cast("double")
    clean = df.filter(v.isNotNull() & ~F.isnan(v))
    m = clean.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(v).alias("mean_value"),
        F.stddev_samp(v).alias("sd"),
    )
    return m.select(
        *by,
        "n",
        F.round("mean_value", 6).alias("mean_value"),
        F.round("sd", 6).alias("sd"),
        *mde_closed_form_cols(F.col("n"), F.col("sd"), F.col("mean_value")),
    )
