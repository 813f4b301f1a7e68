"""Pure-numpy special functions (no scipy in this environment).

Implements the regularized incomplete beta function via the standard continued
fraction (A&S 26.5.8 / modified Lentz iteration — textbook public algorithm) and the
Student-t two-sided tail on top of it. Used only on tiny aggregated result tables
(tests × KPIs rows), so vectorized-but-iterative numpy is more than fast enough.

Validated in tests/test_special.py against exact closed forms:
  dof=1 (Cauchy)  : P = 1 − 2·atan(|t|)/π
  dof=2           : P = 1 − |t|/sqrt(t²+2)
  dof→∞ (normal)  : P = erfc(|t|/√2)   (math.erfc, stdlib, double precision)
"""

from __future__ import annotations

import math

import numpy as np

_LGAMMA = np.frompyfunc(math.lgamma, 1, 1)

_EPS = 3e-16
_FPMIN = 1e-300
_MAX_ITER = 300


def _betacf(a: np.ndarray, b: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Continued fraction for the incomplete beta (modified Lentz, vectorized)."""
    qab = a + b
    qap = a + 1.0
    qam = a - 1.0
    c = np.ones_like(x)
    d = 1.0 - qab * x / qap
    d = np.where(np.abs(d) < _FPMIN, _FPMIN, d)
    d = 1.0 / d
    h = d.copy()
    for m in range(1, _MAX_ITER + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        d = np.where(np.abs(d) < _FPMIN, _FPMIN, d)
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < _FPMIN, _FPMIN, c)
        d = 1.0 / d
        h = h * d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        d = np.where(np.abs(d) < _FPMIN, _FPMIN, d)
        c = 1.0 + aa / c
        c = np.where(np.abs(c) < _FPMIN, _FPMIN, c)
        d = 1.0 / d
        delta = d * c
        h = h * delta
        if np.all(np.abs(delta - 1.0) < _EPS):
            break
    return h


def betainc(a, b, x) -> np.ndarray:
    """Regularized incomplete beta I_x(a, b), elementwise, in the inputs'
    broadcast shape (0-d for scalars)."""
    shape = np.broadcast_shapes(np.shape(a), np.shape(b), np.shape(x))
    a = np.atleast_1d(np.asarray(a, dtype=float))
    b = np.atleast_1d(np.asarray(b, dtype=float))
    x = np.atleast_1d(np.asarray(x, dtype=float))
    a, b, x = np.broadcast_arrays(a, b, x)
    out = np.empty_like(x)

    lbeta = (
        _LGAMMA(a + b).astype(float)
        - _LGAMMA(a).astype(float)
        - _LGAMMA(b).astype(float)
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        front = np.exp(lbeta + a * np.log(x) + b * np.log1p(-x))

    use_direct = x < (a + 1.0) / (a + b + 2.0)
    # direct branch
    xa, aa, ba = x.copy(), a.copy(), b.copy()
    # symmetric branch computes I_{1-x}(b, a)
    xa[~use_direct] = 1.0 - x[~use_direct]
    aa[~use_direct] = b[~use_direct]
    ba[~use_direct] = a[~use_direct]
    with np.errstate(divide="ignore", invalid="ignore"):
        front_s = np.exp(
            lbeta + aa * np.log(np.clip(xa, _FPMIN, 1.0)) + ba * np.log1p(-np.clip(xa, 0.0, 1.0 - 1e-17))
        )
        cf = _betacf(aa, ba, xa)
        val = front_s * cf / aa
    out = np.where(use_direct, val, 1.0 - val)
    out = np.where(x <= 0.0, 0.0, out)
    out = np.where(x >= 1.0, 1.0, out)
    return out.reshape(shape)


def t_two_sided_p(t, dof) -> np.ndarray:
    """Two-sided p-value 2·P(T > |t|)."""
    t = np.abs(np.asarray(t, dtype=float))
    dof = np.asarray(dof, dtype=float)
    return np.clip(betainc(0.5 * dof, 0.5, dof / (dof + t * t)), 0.0, 1.0)


def t_ppf_two_sided(alpha, dof) -> np.ndarray:
    """Critical value t* with 2·P(T > t*) = alpha (for CIs), via bisection."""
    alpha = np.asarray(alpha, dtype=float)
    dof = np.asarray(dof, dtype=float)
    alpha, dof = np.broadcast_arrays(alpha, dof)
    lo = np.zeros_like(alpha)
    hi = np.full_like(alpha, 1.0)
    # expand upper bound until the tail is small enough
    for _ in range(200):
        too_small = t_two_sided_p(hi, dof) > alpha
        if not np.any(too_small):
            break
        hi = np.where(too_small, hi * 2.0, hi)
    for _ in range(120):
        mid = 0.5 * (lo + hi)
        above = t_two_sided_p(mid, dof) > alpha
        new_lo = np.where(above, mid, lo)
        new_hi = np.where(above, hi, mid)
        # a step that leaves the bracket unchanged repeats forever, so
        # stopping here returns what the remaining steps would
        if np.array_equal(new_lo, lo) and np.array_equal(new_hi, hi):
            break
        lo, hi = new_lo, new_hi
    return 0.5 * (lo + hi)


def norm_sf(z) -> np.ndarray:
    """Standard normal survival function (exact via math.erfc), in the
    input's shape (0-d for a scalar)."""
    z = np.asarray(z, dtype=float)
    erfc = np.frompyfunc(math.erfc, 1, 1)
    return 0.5 * np.asarray(erfc(z / math.sqrt(2.0)), dtype=float)
