"""Empty-input robustness: every registered query must run (not crash) on a
fixture directory whose tables have the right SCHEMAS but zero rows.

At warehouse scale empty inputs are routine — a new tenant, a date partition
with no data, a filter that matches nothing — and Spark 4's ANSI mode turns
any unguarded division/array-index on the empty path into a runtime error
instead of a quiet NULL. A query may legitimately return zero rows here; it
may NOT throw."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry_mod
from switchback_test_dag_spark.io import TABLES

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_empty"))
    for t in TABLES:
        schema = spark.read.parquet(os.path.join(SRC, f"{t}.parquet")).schema
        spark.createDataFrame([], schema).write.mode("overwrite").parquet(
            os.path.join(d, f"{t}.parquet")
        )
    return d


def test_every_registered_query_survives_empty_tables(spark, empty_sf_dir):
    failures = {}
    for name, fn in entry_mod.queries().items():
        try:
            fn(spark, empty_sf_dir).collect()
        except Exception as exc:  # noqa: BLE001
            failures[name] = f"{type(exc).__name__}: {str(exc)[:160]}"
    assert not failures, f"queries crashed on empty input: {failures}"


# --- all-NULL KPI column (rows exist, values don't) ------------------------------

_EVENTS_QUERIES = [
    "events_scalar_suite",
    "bucket_means_two_level",
    "time_bucket_suite",
    "welch_mde_by_event_type",
    "crse_beta_se",
    "perm_dist_thresholds",
    "power_ci_sim",
    "fpr_by_window_size",
    "split_balance_check",
    "latest_event_per_user",
    "event_sessions",
]


@pytest.fixture(scope="module")
def null_value_sf_dir(spark, tmp_path_factory):
    """sf0.001 tables, but events.value is NULL on every row — the all-null
    KPI case (an instrumentation outage) that ANSI-mode division turns into
    runtime errors wherever a count(value)=0 denominator is unguarded."""
    from pyspark.sql import functions as F

    d = str(tmp_path_factory.mktemp("sf_nullval"))
    for t in TABLES:
        df = spark.read.parquet(os.path.join(SRC, f"{t}.parquet"))
        if t == "events":
            df = df.withColumn("value", F.lit(None).cast("double"))
        df.write.mode("overwrite").parquet(os.path.join(d, f"{t}.parquet"))
    return d


def test_events_queries_survive_all_null_values(spark, null_value_sf_dir):
    failures = {}
    qs = entry_mod.queries()
    for name in _EVENTS_QUERIES:
        try:
            qs[name](spark, null_value_sf_dir).collect()
        except Exception as exc:  # noqa: BLE001
            failures[name] = f"{type(exc).__name__}: {str(exc)[:160]}"
    assert not failures, f"queries crashed on all-null values: {failures}"
