"""switchback_test_dag_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference switchback-experiment pipeline
(omar-elmaria/switchback_test_dag).

Layout (see SURVEY.md §7):
- ``session`` / ``io``    — SparkSession factory, fixture table loading
- ``operators``           — relational ELT stages, dedup, text
- ``functions``           — scalar helpers (dates, buckets, geo, normalization)
- ``plans``               — time-unit bucketing + seeded assignment strategies
- ``stats``               — distributed hypothesis tests (MWU/t/Welch/CRSE),
                            randomization inference, power/MDE tooling
- ``pipeline``            — the end-to-end per-test analysis (the reference's
                            py_scripts/automated_switchback_test_analysis_script.py)
"""

__version__ = "0.1.0"
