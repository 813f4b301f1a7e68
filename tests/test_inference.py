"""Calibration and property tests for the randomization-inference engine:
statistical validity (FPR ≈ α, coverage ≈ nominal, power monotonicity) — the
reference's own A/A acceptance criteria (SURVEY §5) — plus determinism and
assignment-strategy invariants not covered by SQL oracles."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from switchback_test_dag_spark.io import load_table
from switchback_test_dag_spark.plans import assignment as A
from switchback_test_dag_spark.stats import permutation as P
from switchback_test_dag_spark.stats.distributions import t_ppf_two_sided

SF = "/root/testdata/sf0.001"
BUCKET = "ts_ns div 3600000000000"


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF, "events")


def _binom_ci(p, n, z=3.0):
    half = z * math.sqrt(p * (1 - p) / n)
    return p - half, p + half


def _sweep(events, n_seeds, effect=0.0):
    """Per-seed statistics of the shipped sweep path (``fpr_by_window_size``,
    ``power_ci_sim``) at the one-hour window."""
    moments = P.bucket_moments(events, "value", F.expr(BUCKET))
    return P.fused_sweep_stats(P.with_seeds(moments, n_seeds), effect)


def _exact_crit(events):
    g = events.select(F.expr(BUCKET).alias("b")).distinct().count()
    return t_ppf_two_sided(0.05, float(g - 2))


def _reject_rate(stats, diff, se, crit):
    """Share of seeds whose |diff / se| exceeds ``crit``; a NULL se (invalid
    split) counts as no rejection, as in ``power_ci_sim``."""
    rejects = F.col(se).isNotNull() & (F.abs(F.col(diff) / F.col(se)) > crit)
    return stats.agg(F.avg(F.when(rejects, 1.0).otherwise(0.0))).collect()[0][0]


def test_fpr_calibrated_at_exact_t_crit(events):
    """A/A FPR of the bucket-level t-test must sit in the 3σ binomial band
    around α = 5% when using the exact t critical value for the actual dof."""
    n_seeds = 400
    fpr = _reject_rate(
        _sweep(events, n_seeds), "bt_diff", "bt_se", _exact_crit(events)
    )
    lo, hi = _binom_ci(0.05, n_seeds)
    assert lo <= fpr <= hi, f"FPR {fpr} outside [{lo:.3f}, {hi:.3f}]"


def test_coverage_calibrated(events):
    n_seeds = 400
    crit = _exact_crit(events)
    covered = (F.col("bt_diff") - crit * F.col("bt_se") <= 0) & (
        F.col("bt_diff") + crit * F.col("bt_se") >= 0
    )
    # avg skips the NULLs of seeds without a valid se, as power_ci_sim does
    cov = (
        _sweep(events, n_seeds)
        .agg(
            F.avg(
                F.when(
                    F.col("bt_se").isNotNull(), F.when(covered, 1.0).otherwise(0.0)
                )
            )
        )
        .collect()[0][0]
    )
    lo, hi = _binom_ci(0.95, n_seeds)
    assert lo <= cov <= hi, f"coverage {cov} outside [{lo:.3f}, {hi:.3f}]"


def test_power_monotone_in_effect(events):
    """Bigger injected effects must not reduce detection power, and a huge
    effect must be detected (power → 1)."""
    powers = [
        _reject_rate(_sweep(events, 100, effect), "bt_diff_p", "bt_se_p", 1.959964)
        for effect in (0.0, 5.0, 50.0)
    ]
    assert powers[0] <= powers[1] + 0.05
    assert powers[1] <= powers[2] + 0.05
    assert powers[2] > 0.95
    assert powers[0] < 0.15  # effect 0 ⇒ FPR-level detection


def test_permutation_distribution_centered(events):
    """Null permutation mean-differences center on 0: |mean of diffs| ≪ sd."""
    d = P.permutation_mean_diffs(events, "value", F.expr(BUCKET), 200).collect()
    diffs = [r["mean_diff"] for r in d]
    n = len(diffs)
    mu = sum(diffs) / n
    sd = math.sqrt(sum((x - mu) ** 2 for x in diffs) / (n - 1))
    assert abs(mu) < 4 * sd / math.sqrt(n)


def test_permutation_deterministic(events):
    a = P.permutation_mean_diffs(events, "value", F.expr(BUCKET), 50).collect()
    b = P.permutation_mean_diffs(events, "value", F.expr(BUCKET), 50).collect()
    assert sorted((r["seed"], r["mean_diff"]) for r in a) == sorted(
        (r["seed"], r["mean_diff"]) for r in b
    )


def test_permutation_p_value_detects_planted_effect(events):
    """Inject a large effect with a REAL (seed-0) assignment; the observed
    difference must fall outside the adjusted-p thresholds (the permutation
    distribution's 2.5/97.5 percentiles) of the re-randomizations."""
    labeled = events.withColumn("arm", P.portable_arm(BUCKET, "0")).withColumn(
        "value", F.when(F.col("arm") == "On", F.col("value") + 50).otherwise(
            F.col("value")
        )
    )
    observed = labeled.agg(
        F.avg(F.when(F.col("arm") == "On", F.col("value")))
        - F.avg(F.when(F.col("arm") == "Off", F.col("value")))
    ).collect()[0][0]
    diffs = P.permutation_mean_diffs(
        labeled.filter(F.col("arm").isNotNull()), "value", F.expr(BUCKET), 200
    )
    th = P.permutation_thresholds(diffs).collect()[0]
    assert th["n_seeds"] == 200
    assert not th["lower"] <= observed <= th["upper"], (observed, th)


def test_hex_threshold_bounds():
    assert P.hex_threshold(0.0) == "0000"
    assert P.hex_threshold(0.5) == "8000"
    # p=1 cannot be a 4-hex threshold ('10000' would sort BELOW '2***'):
    # clamped here, special-cased to a constant arm in portable_arm_sql
    assert P.hex_threshold(1.0) == "ffff"
    assert P.hex_threshold(0.25) == "4000"


def test_portable_arm_degenerate_p(spark):
    """p rounding to 0 or 65536 short-circuits to a constant arm — the
    lexicographic md5-prefix comparison cannot express P=1 ('ffff' < '10000'
    is false for most prefixes)."""
    units = spark.range(500)
    for p, expected in ((1.0, "On"), (0.0, "Off"), (0.9999999, "On")):
        arms = (
            units.withColumn("arm", P.portable_arm("id", "0", p))
            .select("arm")
            .distinct()
            .collect()
        )
        assert [r["arm"] for r in arms] == [expected], f"p={p}"


def test_portable_arm_proportion(spark):
    """P(On) tracks the requested proportion within 3σ."""
    n = 20_000
    units = spark.range(n)
    for p in (0.25, 0.5, 0.75):
        share = (
            units.withColumn("arm", P.portable_arm("id", "1", p))
            .agg(F.avg(F.when(F.col("arm") == "On", 1.0).otherwise(0.0)))
            .collect()[0][0]
        )
        lo, hi = _binom_ci(p, n)
        assert lo <= share <= hi


# ------------------------- assignment strategies ---------------------------- #


def test_balanced_assignment_deterministic_and_balanced(spark):
    buckets = spark.range(100).select(
        (F.col("id") % 7).cast("string").alias("day"), F.col("id").alias("unit")
    )
    a = A.balanced_assignment(buckets, "unit", "day", seed=3).collect()
    b = A.balanced_assignment(buckets, "unit", "day", seed=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    c = A.balanced_assignment(buckets, "unit", "day", seed=4).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))  # seed changes draw
    per_day = {}
    for r in a:
        per_day.setdefault(r["day"], []).append(r["assignment"])
    for day, arms in per_day.items():
        n_on = sum(1 for x in arms if x == "On")
        assert abs(n_on - (len(arms) - n_on)) <= 1


def test_counterpart_inverts_only_partner(spark):
    df = spark.createDataFrame(
        [(1, "A", "On"), (1, "B", "On"), (2, "A", "Off"), (2, "B", "Off")],
        ["unit", "city", "arm"],
    )
    out = df.withColumn(
        "arm2", A.counterpart_assignment("arm", "city", counterpart_city="B")
    ).collect()
    for r in out:
        if r["city"] == "B":
            assert r["arm2"] != r["arm"]
        else:
            assert r["arm2"] == r["arm"]


def test_zone_flip_and_invert(spark):
    df = spark.createDataFrame(
        [("z1", "On"), ("z2", "On"), ("z1", "Off")], ["zone", "arm"]
    )
    out = df.withColumn("f", A.zone_flip("arm", "zone", flip_zone="z1")).collect()
    for r in out:
        expected = ("Off" if r["arm"] == "On" else "On") if r["zone"] == "z1" else r["arm"]
        assert r["f"] == expected


def test_crse_from_cluster_moments_matches_row_level(events):
    """The moment-collapsed CRSE used by the 4-method sweep must agree with
    the row-level crse_ols fit (same CR1 algebra, fact-row path) for every
    seed's assignment — β exactly-ish, se to float-sum tolerance."""
    from switchback_test_dag_spark.stats.crse import (
        crse_from_cluster_moments,
        crse_ols,
    )

    seeds = [0, 3, 11]
    m = P.bucket_moments(events, "value", F.expr(BUCKET))
    seeded = P.with_seeds(m, max(seeds) + 1).filter(F.col("seed").isin(seeds))
    got = {
        r["seed"]: r
        for r in crse_from_cluster_moments(seeded).collect()
    }
    for seed in seeds:
        labeled = events.withColumn(
            "arm", P.portable_arm(BUCKET, str(seed), 0.5)
        ).withColumn("cluster", F.expr(BUCKET))
        exp = crse_ols(labeled, "value", "arm", "Off", "On", "cluster").collect()[0]
        assert got[seed]["mean_diff"] == pytest.approx(exp["beta"], rel=1e-9)
        assert got[seed]["se"] == pytest.approx(exp["se"], rel=1e-7)


def test_fused_sweep_matches_composed_branches(events):
    """fused_sweep_stats (the one-pass 4-method sweep) must reproduce the
    composed operators it replaces — order_level_t / bucket_level_t /
    crse_from_cluster_moments, each on the null AND the effect-injected
    frame — per (seed): identical validity (se NULL-ness) and float-sum-
    tolerance-equal diffs/ses."""
    from switchback_test_dag_spark.stats.crse import crse_from_cluster_moments

    effect, n_seeds = 7.5, 25
    m = P.bucket_moments(events, "value", F.expr(BUCKET))
    seeded = P.with_seeds(m, n_seeds)
    fused = {r["seed"]: r for r in P.fused_sweep_stats(seeded, effect).collect()}
    assert len(fused) == n_seeds

    injected = P.inject_additive_effect(seeded, effect)
    branches = {
        ("ot", ""): P.order_level_t(seeded),
        ("ot", "_p"): P.order_level_t(injected),
        ("bt", ""): P.bucket_level_t(seeded),
        ("bt", "_p"): P.bucket_level_t(injected),
        ("cr", ""): crse_from_cluster_moments(seeded),
        ("cr", "_p"): crse_from_cluster_moments(injected),
    }
    for (tag, suffix), frame in branches.items():
        exp = {r["seed"]: r for r in frame.collect()}
        for seed in range(n_seeds):
            got_d = fused[seed][f"{tag}_diff{suffix}"]
            got_se = fused[seed][f"{tag}_se{suffix}"]
            assert got_d == pytest.approx(exp[seed]["mean_diff"], rel=1e-9), (
                tag, suffix, seed)
            if exp[seed]["se"] is None:
                assert got_se is None, (tag, suffix, seed)
            else:
                assert got_se == pytest.approx(exp[seed]["se"], rel=1e-7), (
                    tag, suffix, seed)


def test_fused_sweep_degenerate_arms_match_composed(spark):
    """Edge semantics of the fused sweep on hand-built moment tables: a seed
    whose buckets all land on one arm (empty other arm), a single bucket per
    arm (bucket-t variance fallback), and n=1 buckets (order-t dof guard)
    must produce EXACTLY the composed operators' NULL-se pattern."""
    from switchback_test_dag_spark.stats.crse import crse_from_cluster_moments

    # p=1.0 -> every bucket 'On' (empty Off arm) for every seed;
    # p=0.0 -> empty On arm
    rows = [(float(b), 3, 6.0, 14.0) for b in range(4)]
    m = spark.createDataFrame(rows, "bucket double, n long, s1 double, s2 double")
    for p in (1.0, 0.0):
        seeded = P.with_seeds(m, 2, p=p)
        fused = P.fused_sweep_stats(seeded, 1.0).collect()
        for r in fused:
            assert r["ot_se"] is None and r["bt_se"] is None and r["cr_se"] is None
            assert r["ot_se_p"] is None and r["bt_se_p"] is None and r["cr_se_p"] is None

    # exactly one bucket per arm: bucket-t g_on = g_off = 1 -> se NULL in
    # both forms; order-t still valid (n_on = n_off = 3 > 1)
    two = spark.createDataFrame(
        [(0.0, 3, 6.0, 14.0), (1.0, 3, 9.0, 29.0)],
        "bucket double, n long, s1 double, s2 double",
    )
    # find a seed where the md5 arm split puts one bucket per arm
    seeded = P.with_seeds(two, 50)
    split = {
        r["seed"]
        for r in seeded.groupBy("seed")
        .agg(F.countDistinct("arm").alias("k"))
        .filter(F.col("k") == 2)
        .collect()
    }
    assert split, "no seed split the two buckets across arms"
    seeded2 = seeded.filter(F.col("seed").isin(list(split)[:3]))
    fused = {r["seed"]: r for r in P.fused_sweep_stats(seeded2, 1.0).collect()}
    comp_bt = {r["seed"]: r for r in P.bucket_level_t(seeded2).collect()}
    comp_ot = {r["seed"]: r for r in P.order_level_t(seeded2).collect()}
    comp_cr = {r["seed"]: r for r in crse_from_cluster_moments(seeded2).collect()}
    for s, r in fused.items():
        assert r["bt_se"] is None and comp_bt[s]["se"] is None
        assert (r["ot_se"] is None) == (comp_ot[s]["se"] is None)
        if comp_ot[s]["se"] is not None:
            assert r["ot_se"] == pytest.approx(comp_ot[s]["se"], rel=1e-9)
        assert (r["cr_se"] is None) == (comp_cr[s]["se"] is None)
        if comp_cr[s]["se"] is not None:
            assert r["cr_se"] == pytest.approx(comp_cr[s]["se"], rel=1e-9)


def test_fused_sweep_crse_meat_cancellation_clamped(spark):
    """The fused CRSE meat uses the expanded form Σs1² − 2cΣs1·n + c²Σn²;
    when bucket sums dwarf residuals the subtraction cancels and float
    rounding can leave the meat slightly NEGATIVE where the exact value
    is ~0 — unguarded, sqrt() returns NaN instead of a ~0 SE. The values
    below replicate the aggregation arithmetic in Python and are verified
    to produce a negative expanded meat; the clamp must yield a finite
    (≈0) cr_se, never NaN."""
    a, b = 1000000000.1, 999999999.9  # meat ≈ −163.84 in IEEE double

    # Python replication of the expanded-form arithmetic (test validity
    # guard: if this stops being negative, the fixture no longer exercises
    # the clamp and must be re-tuned)
    s1_on = a + a + a
    q_on = a * a + a * a + a * a
    s1_off = b + b
    q_off = b * b + b * b
    xbar = 3.0 / 5.0
    alpha = s1_off / 2.0
    cc = alpha + (s1_on / 3.0 - alpha)
    meat = (1 - xbar) * (1 - xbar) * (q_on - 2 * cc * s1_on + cc * cc * 3.0) + (
        xbar * xbar * (q_off - 2 * alpha * s1_off + alpha * alpha * 2.0)
    )
    assert meat < 0, "fixture must hit the cancellation regime"

    rows = [(0, P.ON, 1, a, a * a)] * 3 + [(0, P.OFF, 1, b, b * b)] * 2
    seeded = spark.createDataFrame(
        rows, "seed int, arm string, n long, s1 double, s2 double"
    ).coalesce(1)
    r = P.fused_sweep_stats(seeded, 0.5).collect()[0]
    for col in ("cr_se", "cr_se_p"):
        v = r[col]
        assert v is not None and not math.isnan(v), f"{col} must not be NaN"
        assert abs(v) < 1e-3  # exact meat is ~0 here, so SE ≈ 0


def test_with_seeds_rejects_nonpositive_n_seeds(spark):
    """Zero seeds is an error, not a silent simulation: Spark's
    ``sequence(0, -1)`` counts down, so an explode-based expansion would have
    run seeds {-1, 0} for n_seeds=0."""
    m = spark.createDataFrame([(0, 1, 1.0, 1.0)], "bucket long, n long, s1 double, s2 double")
    for n in (0, -1):
        with pytest.raises(ValueError, match="n_seeds"):
            P.with_seeds(m, n)


def test_with_seeds_partitioned_and_equal_to_explode(spark, events):
    """The seed range is spread over the session's cores, and the seeded frame
    is the explode(sequence) expansion of the moment table: same schema, same
    (bucket, seed, arm, n, s1, s2) rows."""
    n_seeds = 200
    m = P.bucket_moments(events, "value", F.expr(BUCKET))
    seeded = P.with_seeds(m, n_seeds)
    ref = m.withColumn(
        "seed", F.explode(F.sequence(F.lit(0), F.lit(n_seeds - 1)))
    ).withColumn("arm", P.portable_arm("bucket", "seed"))
    parallelism = spark.sparkContext.defaultParallelism
    assert seeded.rdd.getNumPartitions() == min(n_seeds, parallelism)
    assert seeded.schema == ref.schema
    cols = ["bucket", "seed", "arm", "n", "s1", "s2"]
    got, exp = seeded.select(cols), ref.select(cols)
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def _sum_when_arm_sums(seeded):
    """The single-pass 26-column ``sum(when(arm ...))`` aggregate that
    ``fused_sweep_stats`` computed before it pre-aggregated by arm."""
    on_ = F.col("arm") == P.ON

    def per_arm(expr, name):
        return [
            F.sum(F.when(on_, expr)).alias(f"{name}_on"),
            F.sum(F.when(~on_, expr)).alias(f"{name}_off"),
        ]

    bm = F.col("s1") / F.col("n")
    return seeded.groupBy("seed").agg(
        F.sum("n").alias("N"),
        F.count(F.lit(1)).alias("G"),
        *per_arm(F.col("n"), "n"),
        *per_arm(F.col("s1"), "s1"),
        *per_arm(F.col("s2"), "s2"),
        F.count(F.when(on_, F.lit(1))).alias("B_on"),
        F.count(F.when(~on_, F.lit(1))).alias("B_off"),
        *per_arm(bm, "bm1"),
        *per_arm(bm * bm, "bm2"),
        *per_arm(F.col("s1") * F.col("s1"), "q"),
        *per_arm(F.col("s1") * F.col("n"), "r"),
        *per_arm(F.col("n").cast("double") * F.col("n"), "w"),
    )


def test_fused_sweep_preaggregation_exact(events):
    """Pre-aggregating by (seed, arm) and pivoting gives EXACTLY (==, not
    approx) the statistics of the 26-column sum(when) form, including the
    one-arm seeds of p=1.0 / p=0.0."""
    effect = 7.5
    m = P.bucket_moments(events, "value", F.expr(BUCKET))
    for p in (0.5, 1.0, 0.0):
        seeded = P.with_seeds(m, 40, p=p)
        got = sorted(P.fused_sweep_stats(seeded, effect).collect())
        exp = sorted(P._sweep_stats(_sum_when_arm_sums(seeded), effect, []).collect())
        assert len(got) == 40
        assert got == exp, p
