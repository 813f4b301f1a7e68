"""Single-node numpy reference implementations used only by the test suite.

These re-derive each statistic from its published formula with a *different*
algorithm than the distributed engine (dense ranks via argsort instead of
pre-aggregated window midranks; matrix OLS instead of closed-form group means),
so agreement is a real cross-check, not a tautology.

The Student-t tail is the regularized incomplete beta by the standard
continued fraction (A&S 26.5.8, modified Lentz iteration) in numpy, independent
of the commons-math3 ``Beta.regularizedBeta`` the package calls; test_special.py
pins both against exact closed forms:
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
    """Continued fraction for the incomplete beta (modified Lentz, vectorized).
    Elements with a non-finite input never converge, so they are left out of
    the convergence test: one NaN must not keep the whole vector iterating."""
    live = np.isfinite(a) & np.isfinite(b) & np.isfinite(x)
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
        if np.all(np.abs(delta[live] - 1.0) < _EPS):
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

    lbeta = (
        _LGAMMA(a + b).astype(float)
        - _LGAMMA(a).astype(float)
        - _LGAMMA(b).astype(float)
    )
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


def norm_sf(z) -> np.ndarray:
    """Standard normal survival function (exact via math.erfc), in the
    input's shape (0-d for a scalar)."""
    z = np.asarray(z, dtype=float)
    erfc = np.frompyfunc(math.erfc, 1, 1)
    return 0.5 * np.asarray(erfc(z / math.sqrt(2.0)), dtype=float)


def rankdata_average(values: np.ndarray) -> np.ndarray:
    """Average (mid) ranks, 1-based — scipy.stats.rankdata(method='average')."""
    order = np.argsort(values, kind="mergesort")
    ranks = np.empty(len(values), dtype=float)
    sv = values[order]
    i = 0
    while i < len(sv):
        j = i
        while j + 1 < len(sv) and sv[j + 1] == sv[i]:
            j += 1
        ranks[order[i : j + 1]] = 0.5 * (i + j) + 1.0
        i = j + 1
    return ranks


def mwu_two_sided(x: np.ndarray, y: np.ndarray):
    """MWU asymptotic two-sided p with tie correction + continuity correction
    (the scipy method='asymptotic', use_continuity=True formula)."""
    x = x[~np.isnan(x)]
    y = y[~np.isnan(y)]
    n1, n2 = len(x), len(y)
    pooled = np.concatenate([x, y])
    ranks = rankdata_average(pooled)
    r1 = ranks[:n1].sum()
    u1 = r1 - n1 * (n1 + 1) / 2.0
    u2 = n1 * n2 - u1
    n = n1 + n2
    _, counts = np.unique(pooled, return_counts=True)
    tie_term = float((counts.astype(float) ** 3 - counts).sum())
    mu = n1 * n2 / 2.0
    sigma = math.sqrt(n1 * n2 / 12.0 * ((n + 1) - tie_term / (n * (n - 1))))
    z = (max(u1, u2) - mu - 0.5) / sigma
    p = min(1.0, math.erfc(z / math.sqrt(2.0)))
    return u1, z, p


def ttest_ind(x, y, equal_var=True):
    """scipy.stats.ttest_ind re-derivation (nan-dropped)."""
    x = np.asarray(x, float)
    y = np.asarray(y, float)
    x, y = x[~np.isnan(x)], y[~np.isnan(y)]
    n1, n2 = len(x), len(y)
    v1, v2 = x.var(ddof=1), y.var(ddof=1)
    if equal_var:
        sp2 = ((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
        se = math.sqrt(sp2 * (1 / n1 + 1 / n2))
        dof = n1 + n2 - 2
    else:
        se = math.sqrt(v1 / n1 + v2 / n2)
        dof = (v1 / n1 + v2 / n2) ** 2 / (
            (v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1)
        )
    t = (x.mean() - y.mean()) / se
    return t, float(t_two_sided_p(t, dof))


def crse_matrix(y: np.ndarray, x: np.ndarray, groups: np.ndarray):
    """Matrix-form OLS y ~ 1 + x with CR1 cluster-robust covariance
    (statsmodels cov_type='cluster' default: CR1 correction, t dof = G−1)."""
    X = np.column_stack([np.ones_like(x), x])
    XtX_inv = np.linalg.inv(X.T @ X)
    beta = XtX_inv @ X.T @ y
    e = y - X @ beta
    meat = np.zeros((2, 2))
    for g in np.unique(groups):
        m = groups == g
        s = X[m].T @ e[m]
        meat += np.outer(s, s)
    n, k = X.shape
    n_g = len(np.unique(groups))
    c = (n_g / (n_g - 1)) * ((n - 1) / (n - k))
    V = c * XtX_inv @ meat @ XtX_inv
    se = math.sqrt(V[1, 1])
    t = beta[1] / se
    p = float(t_two_sided_p(t, n_g - 1))
    return beta[1], se, t, p
