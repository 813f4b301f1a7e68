"""Distributed statistics engine.

The reference computes these with scipy/statsmodels on driver-side pandas
(``/root/reference/py_scripts/automated_switchback_test_analysis_script.py:136-144``,
``notebooks/switchback_analysis/method_evaluation.ipynb``). Here each test is a
closed-form composition of Spark aggregations so it scales horizontally; p-values
use either a column-math normal survival function (|abs err| < 1.5e-7) or a
Pandas UDF over the pure-numpy incomplete beta (``stats/special.py``) on the tiny
aggregated result where a t distribution is required.
"""

from switchback_test_dag_spark.stats.mwu import mann_whitney_u
from switchback_test_dag_spark.stats.ttests import t_test, welch_t_test
from switchback_test_dag_spark.stats.crse import crse_ols

__all__ = ["mann_whitney_u", "t_test", "welch_t_test", "crse_ols"]
