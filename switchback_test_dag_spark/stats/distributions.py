"""Distribution tail functions as Spark column expressions.

The normal survival function uses the Abramowitz & Stegun 7.1.26 erf approximation
(max abs error 1.5e-7) so p-values stay JVM-side (whole-stage codegen) instead of
round-tripping through Python. Student-t tails need the incomplete beta function,
which has no closed column form — those run as a Pandas UDF over the pure-numpy
``stats/special.py``, but only ever on the already-aggregated result table
(tests × KPIs rows, i.e. tiny).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_SQRT2 = math.sqrt(2.0)

# A&S 7.1.26 coefficients
_P = 0.3275911
_A1 = 0.254829592
_A2 = -0.284496736
_A3 = 1.421413741
_A4 = -1.453152027
_A5 = 1.061405429


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


def t_two_sided_p_udf():
    """Pandas UDF: two-sided Student-t p-value given (t_stat, dof).

    Runs Arrow-vectorized on the executors using the pure-numpy incomplete-beta
    implementation (stats/special.py — no scipy in this environment); intended
    only for small aggregated result tables.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _t_p(t_stat: pd.Series, dof: pd.Series) -> pd.Series:
        from switchback_test_dag_spark.stats.special import t_two_sided_p

        return pd.Series(t_two_sided_p(t_stat.to_numpy(), dof.to_numpy()))

    return _t_p
