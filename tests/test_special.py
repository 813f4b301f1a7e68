"""Validate the pure-numpy special functions against exact closed forms.

scipy is not available in this environment, but the t distribution has exact
closed-form two-sided tails at dof=1 (Cauchy) and dof=2, and converges to the
normal (stdlib math.erfc, double precision) as dof→∞ — together these pin the
incomplete-beta implementation far below the 1e-6 tolerance the engine claims.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from switchback_test_dag_spark.stats.special import (
    betainc,
    norm_sf,
    t_ppf_two_sided,
    t_two_sided_p,
)

TS = np.array([0.0, 0.1, 0.5, 1.0, 1.959963985, 2.5, 4.0, 7.5, -1.3, -3.2])


def test_t_dof1_cauchy_exact():
    expected = 1.0 - 2.0 * np.arctan(np.abs(TS)) / math.pi
    got = t_two_sided_p(TS, 1.0)
    np.testing.assert_allclose(got, expected, atol=1e-12)


def test_t_dof2_exact():
    expected = 1.0 - np.abs(TS) / np.sqrt(TS**2 + 2.0)
    got = t_two_sided_p(TS, 2.0)
    np.testing.assert_allclose(got, expected, atol=1e-12)


def test_t_large_dof_is_normal():
    expected = np.array([math.erfc(abs(t) / math.sqrt(2.0)) for t in TS])
    got = t_two_sided_p(TS, 1e6)
    np.testing.assert_allclose(got, expected, atol=1e-5)


def test_t_table_critical_values():
    # standard t-table 97.5th percentiles (two-sided alpha = 0.05)
    known = {1: 12.7062, 2: 4.3027, 5: 2.5706, 10: 2.2281, 30: 2.0423}
    for dof, crit in known.items():
        got = t_ppf_two_sided(0.05, float(dof))
        assert float(got) == pytest.approx(crit, abs=5e-4)
        # scalar in, scalar (0-d) out, all the way down the call chain
        assert np.shape(got) == ()
        p = t_two_sided_p(got, float(dof))
        assert np.shape(p) == ()
        assert float(p) == pytest.approx(0.05, abs=1e-9)


def test_t_p_monotone_in_t_and_dof():
    ts = np.linspace(0.0, 6.0, 200)
    p = t_two_sided_p(ts, 7.3)
    assert np.all(np.diff(p) < 0)
    # for fixed |t|>1, p decreases as dof grows (tails thin out)
    dofs = np.linspace(1.0, 200.0, 100)
    p2 = t_two_sided_p(2.0, dofs)
    assert np.all(np.diff(p2) < 0)


def test_t_ppf_roundtrip():
    dofs = np.array([1.0, 2.0, 5.0, 17.0, 100.0])
    alphas = np.array([0.5, 0.1, 0.05, 0.01, 0.001])
    crit = t_ppf_two_sided(alphas, dofs)
    np.testing.assert_allclose(t_two_sided_p(crit, dofs), alphas, rtol=1e-9)


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
