"""Distribution tail functions as Spark column expressions, plus the driver-side
Student-t critical value.

The normal survival function uses the Abramowitz & Stegun 7.1.26 erf approximation
(max abs error 1.5e-7) so p-values stay JVM-side (whole-stage codegen) instead of
round-tripping through Python. Student-t tails need the regularized incomplete
beta function, which has no closed column form; both the column p-value and the
critical value call the commons-math3 that Spark ships on its classpath, so no
Python runs on the executors.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

_SQRT2 = math.sqrt(2.0)

# A&S 7.1.26 coefficients
_P = 0.3275911
_A1 = 0.254829592
_A2 = -0.284496736
_A3 = 1.421413741
_A4 = -1.453152027
_A5 = 1.061405429

# absolute accuracy of the t quantile; TDistribution's default is 1e-9
_T_INVERSE_ACCURACY = 1e-14


def erfc_approx(x: Column) -> Column:
    """erfc(x) for x >= 0 via A&S 7.1.26; |error| <= 1.5e-7."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_P) * x)
    poly = t * (
        F.lit(_A1)
        + t * (F.lit(_A2) + t * (F.lit(_A3) + t * (F.lit(_A4) + t * F.lit(_A5))))
    )
    return poly * F.exp(-(x * x))


def normal_two_sided_p(z: Column) -> Column:
    """2 * P(Z > |z|), clipped to [0, 1]."""
    return F.least(F.lit(1.0), erfc_approx(F.abs(z) / F.lit(_SQRT2)))


def t_two_sided_p(t: Column, dof: Column) -> Column:
    """Two-sided Student-t p-value 2·P(T > |t|) = I_{dof/(dof+t²)}(dof/2, 1/2),
    NULL when ``t`` or ``dof`` is NULL (``reflect`` throws on a NULL argument
    and returns a string, hence the guard and the cast). Callers keep
    ``dof > 0`` wherever ``t`` is set: under ANSI, ``dof + t² = 0`` throws."""
    x = dof / (dof + t * t)
    beta = F.reflect(
        F.lit("org.apache.commons.math3.special.Beta"),
        F.lit("regularizedBeta"),
        x,
        dof / 2.0,
        F.lit(0.5),
    )
    return F.when(t.isNotNull() & dof.isNotNull(), beta.cast("double"))


def t_ppf_two_sided(alpha: float, dof: float) -> float:
    """Critical value t* with 2·P(T > t*) = alpha, from commons-math3's
    ``TDistribution`` through the active session's JVM."""
    jvm = SparkSession.active()._jvm
    dist = jvm.org.apache.commons.math3.distribution.TDistribution(
        None, float(dof), _T_INVERSE_ACCURACY
    )
    return dist.inverseCumulativeProbability(1.0 - alpha / 2.0)
