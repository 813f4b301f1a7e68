"""Validate the Student-t tail and quantile against exact closed forms.

scipy is not available in this environment, but the t distribution has exact
closed-form two-sided tails at dof=1 (Cauchy) and dof=2, and converges to the
normal (stdlib math.erfc, double precision) as dof→∞ — together these pin the
package's commons-math3 column (``stats.distributions.t_two_sided_p``) and the
numpy incomplete beta of tests/reference_impls.py far below the 1e-6
tolerance the engine claims.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from switchback_test_dag_spark.stats.distributions import (
    t_ppf_two_sided,
    t_two_sided_p,
)
from tests.reference_impls import betainc, norm_sf
from tests.reference_impls import t_two_sided_p as ref_t_two_sided_p

TS = np.array([0.0, 0.1, 0.5, 1.0, 1.959963985, 2.5, 4.0, 7.5, -1.3, -3.2])


def _p(spark, ts, dofs) -> np.ndarray:
    """``t_two_sided_p`` evaluated by Spark over the broadcast (t, dof) pairs."""
    ts, dofs = np.broadcast_arrays(np.asarray(ts, float), np.asarray(dofs, float))
    df = spark.createDataFrame(
        [(i, float(t), float(d)) for i, (t, d) in enumerate(zip(ts, dofs))],
        "i int, t double, dof double",
    )
    rows = df.select("i", t_two_sided_p(F.col("t"), F.col("dof"))).orderBy("i")
    return np.array([r[1] for r in rows.collect()], dtype=float)


def test_t_dof1_cauchy_exact(spark):
    expected = 1.0 - 2.0 * np.arctan(np.abs(TS)) / math.pi
    np.testing.assert_allclose(_p(spark, TS, 1.0), expected, atol=1e-12)
    np.testing.assert_allclose(ref_t_two_sided_p(TS, 1.0), expected, atol=1e-12)


def test_t_dof2_exact(spark):
    expected = 1.0 - np.abs(TS) / np.sqrt(TS**2 + 2.0)
    np.testing.assert_allclose(_p(spark, TS, 2.0), expected, atol=1e-12)
    np.testing.assert_allclose(ref_t_two_sided_p(TS, 2.0), expected, atol=1e-12)


def test_t_large_dof_is_normal(spark):
    expected = np.array([math.erfc(abs(t) / math.sqrt(2.0)) for t in TS])
    np.testing.assert_allclose(_p(spark, TS, 1e6), expected, atol=1e-5)
    np.testing.assert_allclose(ref_t_two_sided_p(TS, 1e6), expected, atol=1e-5)


def test_t_p_null_and_non_finite(spark):
    got = _p(spark, [float("nan"), float("inf"), -float("inf")], 5.0)
    assert np.isnan(got[0]) and got[1] == 0.0 and got[2] == 0.0
    df = spark.createDataFrame([(None, 3.0), (1.0, None)], "t double, dof double")
    rows = df.select(t_two_sided_p(F.col("t"), F.col("dof"))).collect()
    assert [r[0] for r in rows] == [None, None]


def test_t_table_critical_values(spark):
    # standard t-table 97.5th percentiles (two-sided alpha = 0.05)
    known = {1: 12.7062, 2: 4.3027, 5: 2.5706, 10: 2.2281, 30: 2.0423}
    crits = []
    for dof, crit in known.items():
        got = t_ppf_two_sided(0.05, float(dof))
        assert isinstance(got, float)
        assert got == pytest.approx(crit, abs=5e-4)
        crits.append(got)
    p = _p(spark, crits, list(known))
    np.testing.assert_allclose(p, 0.05, atol=1e-9)


def test_t_p_monotone_in_t_and_dof(spark):
    ts = np.linspace(0.0, 6.0, 200)
    p = _p(spark, ts, 7.3)
    assert np.all(np.diff(p) < 0)
    # for fixed |t|>1, p decreases as dof grows (tails thin out)
    dofs = np.linspace(1.0, 200.0, 100)
    p2 = _p(spark, 2.0, dofs)
    assert np.all(np.diff(p2) < 0)


def test_t_ppf_roundtrip(spark):
    dofs = np.array([1.0, 2.0, 5.0, 17.0, 100.0])
    alphas = np.array([0.5, 0.1, 0.05, 0.01, 0.001])
    crit = np.array([t_ppf_two_sided(a, d) for a, d in zip(alphas, dofs)])
    np.testing.assert_allclose(_p(spark, crit, dofs), alphas, rtol=1e-9)
    # and through the independent numpy incomplete beta
    np.testing.assert_allclose(ref_t_two_sided_p(crit, dofs), alphas, rtol=1e-9)


def test_reference_t_p_nan_dof_leaves_finite_elements_alone():
    # one NaN dof must neither change the finite elements' values nor keep
    # the continued fraction iterating for the whole vector
    ts = np.array([0.3, 1.7, 2.5, 4.0])
    dofs = np.array([3.0, 11.0, 40.0, 7.3])
    clean = ref_t_two_sided_p(ts, dofs)
    mixed = ref_t_two_sided_p(np.append(ts, 2.0), np.append(dofs, np.nan))
    assert np.isnan(mixed[-1])
    np.testing.assert_array_equal(mixed[:-1], clean)


def test_betainc_symmetry_and_bounds():
    a, b = 3.7, 1.9
    xs = np.linspace(0.001, 0.999, 97)
    np.testing.assert_allclose(
        betainc(a, b, xs) + betainc(b, a, 1.0 - xs), 1.0, atol=1e-12
    )
    assert betainc(a, b, 0.0) == 0.0 and betainc(a, b, 1.0) == 1.0
    assert np.shape(betainc(a, b, 0.5)) == ()
    assert np.shape(betainc(a, b, xs[:, None])) == (97, 1)


def test_betainc_uniform_case():
    # I_x(1,1) = x exactly
    xs = np.linspace(0.0, 1.0, 11)
    np.testing.assert_allclose(betainc(1.0, 1.0, xs), xs, atol=1e-12)


def test_norm_sf_known_values():
    assert norm_sf(0.0) == pytest.approx(0.5, abs=1e-15)
    assert np.shape(norm_sf(0.0)) == ()
    assert np.shape(norm_sf([0.0, 1.0])) == (2,)
    assert norm_sf(1.959963984540054) == pytest.approx(0.025, abs=1e-12)
    assert norm_sf(-1.0) == pytest.approx(1.0 - 0.15865525393145707, abs=1e-12)
