"""Oracle-checked query registry — one entry per implemented SURVEY §2 operator.

Each query is a callable ``(spark, sf_dir) -> DataFrame`` with a DuckDB oracle in
``ORACLES`` under the same key (omitted only for non-SQL-expressible ops, which the
driver then checks rows-only). Aggregate/computed columns are aliased identically
on both sides; counts are cast to BIGINT in the oracle (DuckDB sums promote to
HUGEINT otherwise); p-value-ish doubles are rounded on both sides so cross-engine
IEEE noise cannot flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from switchback_test_dag_spark.operators.domain import (
    ORACLE_FACT_CTE,
    domain_configs_df,
    synthesize_orders_fact,
)
from switchback_test_dag_spark.pipeline import (
    KPI_COLS,
    MONETARY_KPI_COLS,
    kpi_metrics,
    kpi_mwu,
    label_orders,
)

QUERIES: dict = {}
ORACLES: dict = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = synthesize_orders_fact(spark, sf_dir)
    return label_orders(fact, domain_configs_df(spark))


# The registry's headline query: __spark_entry__.entry() returns it.
FLAGSHIP = "sb_mwu_pvalues"


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return QUERIES[FLAGSHIP](spark, sf_dir)


# ---------------------------------------------------------------------------
# Production pipeline (SURVEY §2: P5, P9, A1, A2, T1 over the synthesized fact)
# ---------------------------------------------------------------------------

from switchback_test_dag_spark.exact import (  # noqa: E402
    duck_micro_avg as _duck_micro_avg,
    duck_micro_sum as _duck_micro_sum,
)

_METRICS_ORACLE = (
    ORACLE_FACT_CTE
    + "SELECT test_name, on_or_off_day, "
    + ", ".join(f"{_duck_micro_avg(c)} AS {c}" for c in KPI_COLS)
    + ", "
    + ", ".join(f"{_duck_micro_sum(c)} AS total_{c}" for c in MONETARY_KPI_COLS)
    + " FROM sb_labeled GROUP BY test_name, on_or_off_day"
)


@query("sb_metrics", _METRICS_ORACLE)
def sb_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 + A2 in one shuffle: the battery's 13-KPI per-order means AND the
    monetary-KPI sums by (test, arm) — ``pipeline.kpi_metrics`` over the
    synthesized fact."""
    return kpi_metrics(_labeled(spark, sf_dir))


_MWU_CORE = (
    ORACLE_FACT_CTE
    + """
, melted AS (
  SELECT test_name, on_or_off_day, kpi, value
  FROM sb_labeled
  UNPIVOT (value FOR kpi IN ("""
    + ", ".join(KPI_COLS)
    + """))
), per_value AS (
  SELECT test_name, kpi, value, count(*) AS n,
         sum(CASE WHEN on_or_off_day = 'On' THEN 1 ELSE 0 END) AS na
  FROM melted GROUP BY test_name, kpi, value
), ranked AS (
  SELECT *, sum(n) OVER (PARTITION BY test_name, kpi ORDER BY value) AS cum
  FROM per_value
), agg AS (
  -- rank sums in INTEGER HALF-UNITS (2·midrank = 2·cum − n + 1): exact
  -- bigints on both engines, where a double rank sum drifts by ULPs once
  -- groups reach millions of rows (mirrors stats/mwu.py)
  SELECT test_name, kpi,
         CAST(sum(na) AS BIGINT) AS n_a,
         CAST(sum(n) - sum(na) AS BIGINT) AS n_b,
         CAST(sum(na * (2 * cum - n + 1)) AS BIGINT) AS r_a2,
         sum(CAST(n AS HUGEINT) * n * n - n) AS tie_term,
         CAST(sum(n) AS BIGINT) AS n_tot
  FROM ranked GROUP BY test_name, kpi
)"""
)

# U in half-units: u_a2 = r_a2 − n_a(n_a+1); u_b2 = 2·n_a·n_b − u_a2; the
# continuity-corrected numerator (max(U) − n_a·n_b/2 − 0.5) is exactly
# (max(u_a2, u_b2) − n_a·n_b − 1)/2 — all cancellation in integer space.
_MWU_Z = """(CAST(greatest(r_a2 - n_a * (n_a + 1),
                           2 * n_a * n_b - (r_a2 - n_a * (n_a + 1)))
                  - n_a * n_b - 1 AS DOUBLE) / 2.0)
             / sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                    * ((n_tot + 1) - CAST(tie_term AS DOUBLE) / (CAST(n_tot AS DOUBLE) * (n_tot - 1))))"""

# Full MWU oracle: the rank/tie machinery pinned via n_a/n_b/U/z PLUS the
# p-value through the SAME A&S 7.1.26 erfc polynomial the Spark engine uses
# (stats/distributions.py — plain arithmetic, so DuckDB can evaluate it
# verbatim); p = min(1, erfc(|z|/sqrt(2))), identical on both engines to well
# below the 4-decimal rounding. One registry row covers statistic AND tail
# (formerly the separate sb_mwu_ustat entry).
_MWU_FULL_ORACLE = (
    _MWU_CORE
    + f"""
, zc AS (
  SELECT test_name, kpi, n_a, n_b,
         -- NO round(): U is an exact multiple of 0.5 and round-to-4 at 1e13
         -- magnitude itself corrupts the double (x·10⁴ exceeds 2⁵³)
         CAST(r_a2 - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_stat,
         round({_MWU_Z}, 6) AS z,
         CASE WHEN n_a > 0 AND n_b > 0 AND n_tot > 1
                   AND ((n_tot + 1) - CAST(tie_term AS DOUBLE) / (CAST(n_tot AS DOUBLE) * (n_tot - 1))) > 0
              THEN {_MWU_Z} END AS z_def
  FROM agg
), xc AS (
  SELECT test_name, kpi, n_a, n_b, u_stat, z, z_def,
         abs(z_def) / sqrt(2.0) AS x,
         1.0 / (1.0 + 0.3275911 * (abs(z_def) / sqrt(2.0))) AS t
  FROM zc
)
SELECT test_name, kpi, n_a, n_b, u_stat, z,
       CASE WHEN z_def IS NULL THEN NULL  -- explicit: least() would swallow NULL
            ELSE round(least(1.0,
                t * (0.254829592 + t * (-0.284496736 + t * (1.421413741
                    + t * (-1.453152027 + t * 1.061405429)))) * exp(-(x * x))), 4)
       END AS p_value
FROM xc"""
)


@query("sb_mwu_pvalues", _MWU_FULL_ORACLE)
def sb_mwu_pvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: the battery's full distributed tie-corrected MWU table per (test,
    KPI) — ``pipeline.kpi_mwu``: n_a/n_b/U/z (the rank/tie machinery) AND the
    production two-sided p-value (flagship output). Oracled end-to-end: the
    normal tail is the A&S 7.1.26 polynomial on both engines (scipy parity of
    that polynomial is pinned separately in tests/test_stats_reference.py)."""
    return kpi_mwu(_labeled(spark, sf_dir))


# Register the relational / document / vector query families (each module adds its
# entries to QUERIES/ORACLES via the @query decorator on import). Bottom-of-module
# imports: these modules import `query` from here, so they must load after the
# registry exists.
from switchback_test_dag_spark import queries_documents  # noqa: E402,F401
from switchback_test_dag_spark import queries_elt  # noqa: E402,F401
from switchback_test_dag_spark import queries_geo  # noqa: E402,F401
from switchback_test_dag_spark import queries_inference  # noqa: E402,F401
from switchback_test_dag_spark import queries_relational  # noqa: E402,F401
