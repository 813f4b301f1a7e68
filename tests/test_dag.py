"""Orchestration shim tests: dependency order, bounded retries with delay,
success callbacks, cycle/unknown-dep detection, and the daily chain end-to-end
on the sf0.001 fixtures, checked against the DuckDB oracles (`dag.py`,
mirroring the reference's dags/switchback_test_dag.py:14-29 semantics)."""

from __future__ import annotations

import duckdb
import pytest

from switchback_test_dag_spark.dag import Task, run_dag, run_daily
from switchback_test_dag_spark.io import TABLES
from switchback_test_dag_spark.pipeline import KPI_COLS, MONETARY_KPI_COLS
from switchback_test_dag_spark.queries import ORACLES

SF = "/root/testdata/sf0.001"


def test_dependency_order_and_callbacks():
    seen, msgs = [], []
    tasks = [
        Task("c", lambda: seen.append("c"), depends_on=("b",)),
        Task("a", lambda: seen.append("a")),
        Task("b", lambda: seen.append("b"), depends_on=("a",)),
    ]
    res = run_dag(tasks, on_success=msgs.append)
    assert seen == ["a", "b", "c"]
    assert res.succeeded == ["a", "b", "c"]
    assert msgs == ["a", "b", "c"]


def test_retry_then_succeed_and_fail_after_budget():
    slept = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 2:
            raise RuntimeError("transient")
        return "ok"

    res = run_dag(
        [Task("t", flaky, retries=1, retry_delay_sec=6.0)], sleep=slept.append
    )
    assert res.outputs["t"] == "ok"
    assert res.attempts["t"] == 2
    assert slept == [6.0]  # the reference's 0.1-minute retry delay

    def always_bad():
        raise RuntimeError("permanent")

    ran = []
    with pytest.raises(RuntimeError, match="permanent"):
        run_dag(
            [
                Task("bad", always_bad, retries=1, retry_delay_sec=0.0),
                Task("down", lambda: ran.append("down"), depends_on=("bad",)),
            ],
            sleep=lambda _s: None,
        )
    assert ran == []  # downstream never runs after upstream exhausts retries


def test_cycle_and_unknown_dependency_detected():
    with pytest.raises(ValueError, match="cycle"):
        run_dag(
            [
                Task("a", lambda: None, depends_on=("b",)),
                Task("b", lambda: None, depends_on=("a",)),
            ]
        )
    with pytest.raises(ValueError, match="unknown"):
        run_dag([Task("a", lambda: None, depends_on=("ghost",))])


def _oracle_rows(name):
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
            )
        cur = con.execute(ORACLES[name])
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]
    finally:
        con.close()


def _by_key(rows, key_cols, value_cols):
    return {
        tuple(r[k] for k in key_cols): [r[c] for c in value_cols] for r in rows
    }


def test_run_daily_chain(spark):
    """The scheduled run computes every table (p-values included) and its
    collected rows equal the DuckDB oracles of the same computations."""
    msgs = []
    res = run_daily(spark, SF, on_success=msgs.append)
    assert res.succeeded == ["run_queries", "run_analysis_script"]
    assert msgs == ["run_queries", "run_analysis_script"]

    arm = ("test_name", "on_or_off_day")
    elt_cols = ("n_orders", "n_vendor_zones", "total_gfv", "total_revenue",
                "total_gross_profit")
    elt = res.outputs["run_queries"]
    assert elt
    assert _by_key(elt, arm, elt_cols) == _by_key(
        _oracle_rows("elt_orders_fact"), arm, elt_cols
    )

    analysis = res.outputs["run_analysis_script"]
    assert set(analysis) == {"per_order", "totals", "p_values"}
    assert all(len(rows) > 0 for rows in analysis.values())
    metrics = _oracle_rows("sb_metrics")
    assert _by_key(analysis["per_order"], arm, KPI_COLS) == _by_key(metrics, arm, KPI_COLS)
    assert _by_key(analysis["totals"], arm, MONETARY_KPI_COLS) == _by_key(
        metrics, arm, [f"total_{c}" for c in MONETARY_KPI_COLS]
    )
    p_values = analysis["p_values"]
    assert any(r["p_value"] is not None for r in p_values)  # the test ran
    test_kpi = ("test_name", "kpi")
    assert _by_key(p_values, test_kpi, ["p_value"]) == _by_key(
        _oracle_rows("sb_mwu_pvalues"), test_kpi, ["p_value"]
    )
