"""Distributed statistics engine.

The reference computes these with scipy/statsmodels on driver-side pandas
(``/root/reference/py_scripts/automated_switchback_test_analysis_script.py:136-144``,
``notebooks/switchback_analysis/method_evaluation.ipynb``). Here each test is a
closed-form composition of Spark aggregations so it scales horizontally; p-values
are JVM column expressions: a normal survival function in column math (|abs err|
< 1.5e-7), or, where a t distribution is required, commons-math3's incomplete
beta (``stats/distributions.t_two_sided_p``).
"""

from switchback_test_dag_spark.stats.mwu import mann_whitney_u
from switchback_test_dag_spark.stats.ttests import t_test, welch_t_test
from switchback_test_dag_spark.stats.crse import crse_ols

__all__ = ["mann_whitney_u", "t_test", "welch_t_test", "crse_ols"]
