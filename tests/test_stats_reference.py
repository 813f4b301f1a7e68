"""Cross-validate the distributed stats engine against independent single-node
numpy reference implementations (tests/reference_impls.py; SURVEY §5 — tolerance
1e-6 on p-values/SEs). The t/normal tail functions themselves are pinned against
exact closed forms in test_special.py."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.reference_impls import crse_matrix, mwu_two_sided, ttest_ind

from switchback_test_dag_spark.stats import (
    crse_ols,
    mann_whitney_u,
    t_test,
    welch_t_test,
)

TOL = 1e-6


@pytest.fixture(scope="module")
def sample_pdf():
    rng = np.random.default_rng(42)
    n = 4000
    group = np.where(rng.random(n) < 0.5, "On", "Off")
    kpi = rng.lognormal(3.0, 0.6, n) + np.where(group == "On", 0.3, 0.0)
    kpi_tied = np.round(kpi, 0)  # heavy ties
    kpi_nulls = kpi.copy()
    kpi_nulls[rng.random(n) < 0.05] = np.nan
    bucket = rng.integers(0, 48, n)
    return pd.DataFrame(
        {
            "group": group,
            "kpi": kpi,
            "kpi_tied": kpi_tied,
            "kpi_nulls": kpi_nulls,
            "bucket": bucket,
            "test_name": np.where(rng.random(n) < 0.5, "t1", "t2"),
        }
    )


@pytest.fixture(scope="module")
def sample_df(spark, sample_pdf):
    return spark.createDataFrame(sample_pdf).repartition(4)


def _split(pdf, col):
    on = pdf.loc[pdf.group == "On", col].to_numpy()
    off = pdf.loc[pdf.group == "Off", col].to_numpy()
    return on, off


@pytest.mark.parametrize("col", ["kpi", "kpi_tied", "kpi_nulls"])
def test_mwu_matches_reference(sample_pdf, sample_df, col):
    on, off = _split(sample_pdf, col)
    u_exp, _z_exp, p_exp = mwu_two_sided(on, off)
    row = mann_whitney_u(sample_df, col, "group", "On", "Off").collect()[0]
    assert row["n_a"] == np.count_nonzero(~np.isnan(on))
    assert row["u_stat"] == pytest.approx(u_exp, abs=1e-6)
    assert row["p_value"] == pytest.approx(p_exp, abs=TOL)


def test_mwu_by_partitions(sample_pdf, sample_df):
    rows = {
        r["test_name"]: r
        for r in mann_whitney_u(
            sample_df, "kpi", "group", "On", "Off", by=["test_name"]
        ).collect()
    }
    assert set(rows) == {"t1", "t2"}
    for name, sub in sample_pdf.groupby("test_name"):
        on, off = _split(sub, "kpi")
        _, _, p_exp = mwu_two_sided(on, off)
        assert rows[name]["p_value"] == pytest.approx(p_exp, abs=TOL)


def test_student_t_matches_reference(sample_pdf, sample_df):
    on, off = _split(sample_pdf, "kpi")
    t_exp, p_exp = ttest_ind(on, off, equal_var=True)
    row = t_test(sample_df, "kpi", "group", "On", "Off").collect()[0]
    assert row["t_stat"] == pytest.approx(t_exp, rel=1e-9)
    assert row["p_value"] == pytest.approx(p_exp, abs=TOL)


def test_welch_matches_reference(sample_pdf, sample_df):
    on, off = _split(sample_pdf, "kpi_nulls")
    t_exp, p_exp = ttest_ind(on, off, equal_var=False)
    row = welch_t_test(sample_df, "kpi_nulls", "group", "On", "Off").collect()[0]
    assert row["t_stat"] == pytest.approx(t_exp, rel=1e-9)
    assert row["p_value"] == pytest.approx(p_exp, abs=TOL)


def test_crse_matches_matrix_reference(sample_pdf, sample_df):
    y = sample_pdf["kpi"].to_numpy()
    x = (sample_pdf["group"] == "On").to_numpy(float)
    beta_exp, se_exp, t_exp, p_exp = crse_matrix(y, x, sample_pdf["bucket"].to_numpy())
    row = crse_ols(sample_df, "kpi", "group", "Off", "On", "bucket").collect()[0]
    assert row["beta"] == pytest.approx(beta_exp, rel=1e-9)
    assert row["se"] == pytest.approx(se_exp, rel=1e-9)
    assert row["t_stat"] == pytest.approx(t_exp, rel=1e-8)
    assert row["p_value"] == pytest.approx(p_exp, abs=TOL)


# --------------------------------------------------------------------------- #
# ANSI-mode degenerate inputs: every engine must yield NULL columns, not a
# division-by-zero job kill (Spark 4 ANSI is ON in session.get_spark)
# --------------------------------------------------------------------------- #


def test_engines_null_safe_on_degenerate_inputs(spark):
    from switchback_test_dag_spark.design import mde_from_moments
    from switchback_test_dag_spark.stats.crse import crse_ols
    from switchback_test_dag_spark.stats.mwu import mann_whitney_u
    from switchback_test_dag_spark.stats.ttests import welch_t_test

    # all-null KPI values
    nulls = spark.createDataFrame(
        [(None, "On"), (None, "Off"), (None, "On")], "value double, arm string"
    )
    (r,) = mann_whitney_u(nulls, "value", "arm", "On", "Off").collect()
    assert r["u_stat"] is None and r["p_value"] is None

    # one arm entirely absent
    one_arm = spark.createDataFrame(
        [(1.0, "On"), (2.0, "On")], "value double, arm string"
    )
    (w,) = welch_t_test(one_arm, "value", "arm", "On", "Off").collect()
    assert w["n_b"] == 0 and w["t_stat"] is None and w["se"] is None
    assert w["p_value"] is None
    (m,) = mann_whitney_u(one_arm, "value", "arm", "On", "Off").collect()
    assert m["u_stat"] is None

    # constant values: zero variance, every rank tied
    const = spark.createDataFrame(
        [(5.0, "On"), (5.0, "Off"), (5.0, "On"), (5.0, "Off")],
        "value double, arm string",
    )
    (w,) = welch_t_test(const, "value", "arm", "On", "Off").collect()
    assert w["mean_diff"] == 0.0 and w["t_stat"] is None  # 0/0 -> NULL, not error
    assert w["p_value"] is None
    (m,) = mann_whitney_u(const, "value", "arm", "On", "Off").collect()
    assert m["z"] is None  # tie-corrected variance is 0

    # empty input frame
    empty = spark.createDataFrame([], "value double, arm string")
    (w,) = welch_t_test(empty, "value", "arm", "On", "Off").collect()
    assert w["n_a"] == 0 and w["mean_a"] is None and w["p_value"] is None

    # zero-variance MDE
    flat = spark.createDataFrame([(5.0,)] * 5, "value double")
    (d,) = mde_from_moments(flat, "value").collect()
    assert d["sd"] == 0.0 and d["mde_abs"] is None

    # CRSE with a single cluster (dof n_clusters - 1 = 0) and one arm missing
    crse_in = spark.createDataFrame(
        [(1.0, "On", "c1"), (2.0, "On", "c1")], "y double, arm string, cl string"
    )
    rows = crse_ols(crse_in, "y", "arm", "Off", "On", "cl").collect()
    assert len(rows) == 1  # must not raise
    assert rows[0]["dof"] is None and rows[0]["p_value"] is None
