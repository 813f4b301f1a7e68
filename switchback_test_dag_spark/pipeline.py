"""The production switchback analysis — Spark-native re-expression of the
reference's ``py_scripts/automated_switchback_test_analysis_script.py:104-161``.

Reference flow (per test, serial pandas): boolean-mask filter → ``np.select``
On/Off label → ``groupby().mean()`` / ``.sum()`` over 13 KPIs → per-KPI
``scipy.stats.mannwhitneyu``. Here the per-test loop disappears: configs become a
broadcast-joined dimension, so *all* tests run in one distributed plan —
filters/labels are column predicates over array-typed config fields
(:func:`label_orders`), the means and totals are one exact micro-unit
``groupBy`` (:func:`kpi_metrics`), and the 13 MWU tests melt into a single
ranked window job partitioned by (test, KPI) (:func:`kpi_mwu`). At 100 TB the
fact table is scanned once per battery instead of once per test.

This module is the engine's only implementation of the battery: ``run_tests``
(the daily DAG's analysis task) projects its three tables from these two
frames, and the registry's ``sb_metrics`` / ``sb_mwu_pvalues`` return them
as-is for the DuckDB oracles to check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from switchback_test_dag_spark.exact import spark_micro_avg, spark_micro_sum
from switchback_test_dag_spark.stats.mwu import mann_whitney_u
from switchback_test_dag_spark.stats.util import melt_kpis

# the reference's col_list (automated_...py:92-96): 10 monetary + 3 logistics KPIs
KPI_COLS: tuple[str, ...] = (
    "actual_df_paid_by_customer",
    "gfv_local",
    "gmv_local",
    "commission_local",
    "joker_vendor_fee_local",
    "sof_local",
    "service_fee_local",
    "revenue_local",
    "delivery_costs_local",
    "gross_profit_local",
    "dps_mean_delay",
    "delivery_distance_m",
    "actual_DT",
)
MONETARY_KPI_COLS: tuple[str, ...] = KPI_COLS[:-3]  # sums exclude logistics KPIs


def label_orders(orders: DataFrame, configs_df: DataFrame) -> DataFrame:
    """Attach (test_name, on_or_off_day) to every qualifying order.

    Replaces the reference's per-test pandas mask (``automated_...py:104-121``):
    one broadcast join on ``test_name`` + array-membership predicates. Orders not
    matching any running test drop out (the reference loop never sees them either).
    """
    joined = orders.join(broadcast(configs_df), on="test_name", how="inner")
    scheme = F.col("scheme_id")
    # pandas `~isin` semantics: a NULL zone is never "in" the exclusion list
    not_excluded = lambda excl, zone: F.coalesce(  # noqa: E731
        ~F.array_contains(F.col(excl), F.col(zone)), F.lit(True)
    )
    qualified = joined.filter(
        (F.col("target_group") != "Non_TG")
        & not_excluded("zone_name_vendor_excl", "zone_name_vendor")
        & not_excluded("zone_name_customer_excl", "zone_name_customer")
        & (
            F.array_contains(F.col("scheme_id_on"), scheme)
            | F.array_contains(F.col("scheme_id_off"), scheme)
        )
        & F.to_date("order_placed_at_local").between(
            F.col("test_start"), F.col("test_end")
        )
    )
    return qualified.withColumn(
        "on_or_off_day",
        F.when(F.array_contains(F.col("scheme_id_on"), scheme), F.lit("On")).otherwise(
            F.lit("Off")
        ),
    ).drop(
        "test_start",
        "test_end",
        "scheme_id_on",
        "scheme_id_off",
        "zone_name_vendor_excl",
        "zone_name_customer_excl",
    )


def kpi_metrics(labeled: DataFrame) -> DataFrame:
    """The 13 per-order KPI means and the 10 monetary totals (``total_<kpi>``)
    by (test_name, on_or_off_day) in ONE groupBy — ``automated_...py:124-129``,
    whose two ``.agg()`` passes share the same scan and shuffle. Every
    2-decimal output uses order-independent integer micro-unit arithmetic
    (``exact.spark_micro_avg`` / ``spark_micro_sum``), so a value cannot
    drift a cent with the shuffle order of a float sum."""
    return labeled.groupBy("test_name", "on_or_off_day").agg(
        *[spark_micro_avg(c).alias(c) for c in KPI_COLS],
        *[spark_micro_sum(c).alias(f"total_{c}") for c in MONETARY_KPI_COLS],
    )


def kpi_mwu(labeled: DataFrame) -> DataFrame:
    """Two-sided tie-corrected MWU per (test_name, KPI), On vs Off —
    ``automated_...py:136-144``: the full ``n_a, n_b, u_stat, z, p_value``
    table (z rounded to 6, p to 4), all tests × KPIs in one distributed job."""
    long = melt_kpis(labeled, KPI_COLS, id_cols=("test_name", "on_or_off_day"))
    res = mann_whitney_u(
        long, "value", "on_or_off_day", "On", "Off", by=["test_name", "kpi"]
    )
    return res.select(
        "test_name",
        "kpi",
        "n_a",
        "n_b",
        "u_stat",  # exact multiple of 0.5 — rounding would only corrupt it
        F.round("z", 6).alias("z"),
        F.round("p_value", 4).alias("p_value"),
    )


def run_tests(orders: DataFrame, configs_df: DataFrame) -> dict[str, DataFrame]:
    """Full battery: returns {'per_order', 'totals', 'p_values'} DataFrames —
    the reference's three output tables, each a projection of
    :func:`kpi_metrics` or :func:`kpi_mwu` over the labeled orders."""
    labeled = label_orders(orders, configs_df)
    metrics = kpi_metrics(labeled)
    keys = ("test_name", "on_or_off_day")
    return {
        "per_order": metrics.select(*keys, *KPI_COLS),
        "totals": metrics.select(
            *keys, *[F.col(f"total_{c}").alias(c) for c in MONETARY_KPI_COLS]
        ),
        "p_values": kpi_mwu(labeled).select("test_name", "kpi", "p_value"),
    }
