"""Design tooling: analytic power/MDE vs Monte Carlo and known values.

``power_two_sample`` uses a noncentral-t normal approximation; published
statsmodels values (pinned below) agree to ~2e-3 in the n ranges the reference
sweeps, and a seeded Monte Carlo cross-checks the whole solver chain with an
independent method. The critical values come from the session's JVM, so the
power tests take the ``spark`` fixture.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from switchback_test_dag_spark.design import (
    interp_power_intercept,
    mde_scaled_by_affected_share,
    norm_ppf,
    power_curve,
    power_two_sample,
    solve_mde,
    solve_n,
)
from switchback_test_dag_spark.stats.distributions import t_ppf_two_sided
from tests.reference_impls import norm_sf

# statsmodels.stats.power.TTestIndPower().power(d, n, 0.05) reference values
# (computed with statsmodels 0.14 / scipy nct — public formulas).
STATSMODELS_POWER = [
    (0.2, 100, 0.29027973),
    (0.5, 64, 0.80143180),
    (0.8, 26, 0.80745344),
    (0.5, 200, 0.99881605),
    (0.1, 500, 0.35225019),
]


def test_norm_ppf_round_trip():
    for q in (0.025, 0.2, 0.5, 0.8, 0.975):
        z = norm_ppf(q)
        # round trip through the exact erfc-based cdf
        assert 1.0 - float(norm_sf(z)) == pytest.approx(q, abs=1e-10)
    assert norm_ppf(0.975) == pytest.approx(1.959963984540054, abs=1e-9)
    assert norm_ppf(0.8) == pytest.approx(0.8416212335729143, abs=1e-9)


def test_power_matches_statsmodels_values(spark):
    for d, n, expected in STATSMODELS_POWER:
        assert power_two_sample(d, n) == pytest.approx(expected, abs=2e-3), (d, n)


def test_power_matches_monte_carlo(spark):
    rng = np.random.default_rng(7)
    d, n, sims = 0.5, 64, 4000
    crit = t_ppf_two_sided(0.05, 2 * n - 2)
    rejections = 0
    for _ in range(sims):
        a = rng.normal(0.0, 1.0, n)
        b = rng.normal(d, 1.0, n)
        sp = math.sqrt(((a.var(ddof=1)) + (b.var(ddof=1))) / 2.0)
        t = (b.mean() - a.mean()) / (sp * math.sqrt(2.0 / n))
        if abs(t) > crit:
            rejections += 1
    mc = rejections / sims
    se = math.sqrt(mc * (1 - mc) / sims)
    assert abs(power_two_sample(d, n) - mc) < 4 * se + 0.005


def test_solvers_invert_power(spark):
    n = solve_n(0.5, power=0.8)
    assert power_two_sample(0.5, n) == pytest.approx(0.8, abs=1e-6)
    assert n == pytest.approx(63.77, abs=0.5)  # tt_ind_solve_power ≈ 63.77

    d = solve_mde(100, power=0.8)
    assert power_two_sample(d, 100) == pytest.approx(0.8, abs=1e-6)


def test_curve_intercept_and_affected_scaling(spark):
    curve = power_curve([i / 100 for i in range(5, 100, 5)], n_per_group=64)
    d80 = interp_power_intercept(curve, 0.8)
    assert d80 == pytest.approx(solve_mde(64), abs=0.01)

    assert mde_scaled_by_affected_share(2.0, 25.0) == pytest.approx(8.0)
    assert mde_scaled_by_affected_share(2.0, 0.0) == float("inf")


def test_welch_mde_by_event_type_matches_oracle(spark, sf_dir_med):
    import duckdb

    from switchback_test_dag_spark import queries as q

    sdf = q.QUERIES["welch_mde_by_event_type"](spark, sf_dir_med)
    pdf = sdf.toPandas().sort_values("event_type").reset_index(drop=True)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir_med}/events.parquet')"
    )
    odf = (
        con.execute(q.ORACLES["welch_mde_by_event_type"])
        .fetchdf()[pdf.columns.tolist()]
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert pdf.shape == odf.shape
    np.testing.assert_allclose(
        pdf.drop(columns="event_type").to_numpy(dtype=float),
        odf.drop(columns="event_type").to_numpy(dtype=float),
        rtol=1e-9,
    )


def test_counterpart_finder_pairs_planted_correlation(spark):
    """Planted structure: city B tracks A (+constant offset → corr ≈ 1),
    city C runs anti-phase to A (corr ≈ -1). The finder must pair A↔B and
    give C its least-bad option without ever picking C for A."""
    from switchback_test_dag_spark.design.counterpart import best_counterparts
    from pyspark.sql import functions as F

    rows = []
    for u in range(24):
        base = math.sin(u / 3.0) * 10.0 + 50.0
        # two fact rows per (unit, city) so the unit mean is a real aggregate
        for jitter in (-1.0, 1.0):
            rows.append((u, "A", base + jitter))
            rows.append((u, "B", base + 5.0 + jitter))
            rows.append((u, "C", 100.0 - base + jitter))
    df = spark.createDataFrame(rows, "unit long, city string, value double")

    best = {
        r["city"]: r
        for r in best_counterparts(
            df, F.col("unit"), F.col("city"), "value"
        ).collect()
    }
    assert best["A"]["counterpart"] == "B"
    assert best["B"]["counterpart"] == "A"
    assert best["A"]["corr_units"] == pytest.approx(1.0, abs=1e-9)
    # C's correlations with both A and B are -1; the finder still returns a
    # deterministic row (tie broken on name) rather than dropping the city
    assert best["C"]["counterpart"] == "A"
    assert best["C"]["corr_units"] == pytest.approx(-1.0, abs=1e-9)
    # diff-std of the A-B pair is 0 up to the jitter cancelling (means differ
    # by the constant 5.0) — cell 57's "best mix" signal
    assert best["A"]["diff_std"] == pytest.approx(0.0, abs=1e-9)
    assert best["A"]["n_units"] == 24
