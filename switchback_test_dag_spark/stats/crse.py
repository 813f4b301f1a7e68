"""Cluster-robust-standard-error OLS for a binary treatment — the reference's
*recommended* switchback inference method (``method_evaluation.ipynb:303-325``
``CRSE_significance``: ``smf.ols('KPI ~ group').fit(cov_type='cluster',
cov_kwds={'groups': time_unit})``; conclusion markdown selects CRSE).

With a single binary regressor x ∈ {0,1} the OLS fit is closed-form:

    β = ȳ_treat − ȳ_control,  α = ȳ_control
    e_i = y_i − α − β·x_i,     x̃_i = x_i − x̄
    Var(β) = c · Σ_g (Σ_{i∈g} x̃_i e_i)² / (Σ_i x̃_i²)²
    c = G/(G−1) · (N−1)/(N−K),  K = 2      (statsmodels' default CR1 correction)
    t = β / se,  dof = G − 1               (statsmodels uses the t distribution
                                            with n_clusters − 1 dof for cluster cov)

so the whole fit is two groupBys plus a broadcast join — no statsmodels in the hot
path, validated against statsmodels in tests/test_stats_reference.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from switchback_test_dag_spark.stats.distributions import t_two_sided_p


def crse_from_cluster_moments(seeded: DataFrame, by: Sequence[str] = ()) -> DataFrame:
    """CR1 cluster-robust OLS per (by, seed) closed-form from the seeded
    per-cluster moment table (``permutation.with_seeds`` output: one row per
    (by, bucket, seed) with n, s1, s2, arm; the seeds are partitioned over the
    session's cores and the bucket moments broadcast to them).

    In a switchback the cluster IS the time bucket, so the treatment x is
    constant within a cluster and the per-cluster score sum collapses to pure
    moment algebra — no fact-row pass at all:

        h_g = (x_g − x̄) · (Σ_{i∈g} y_i − n_g·α − n_g·β·x_g)

    which makes the reference's recommended method
    (``method_evaluation.ipynb:303-325`` ``CRSE_significance``) evaluable
    inside the same multi-seed simulation sweep as the t-test methods: the
    200-seed × 5-window CRSE grid costs two tiny (by, seed)-grain shuffles on
    top of the shared moment table. Returns (by, seed, mean_diff=β, se) —
    the same shape as ``permutation.order_level_t`` so rate machinery is
    shared. Differential-tested against row-level ``crse_ols`` in
    tests/test_inference.py."""
    by = list(by)
    on_ = F.col("arm") == "On"
    g = seeded.groupBy(*by, "seed").agg(
        F.sum("n").alias("_N"),
        F.count(F.lit(1)).alias("_G"),
        F.sum(F.when(on_, F.col("n"))).alias("_n_on"),
        F.sum(F.when(~on_, F.col("n"))).alias("_n_off"),
        F.sum(F.when(on_, F.col("s1"))).alias("_s1_on"),
        F.sum(F.when(~on_, F.col("s1"))).alias("_s1_off"),
    )
    # α = control mean, β = treatment − control mean, x̄ = treated row share;
    # empty arms propagate NULL (sum over no rows) straight to se = NULL
    g = g.withColumns(
        {
            "_xbar": F.col("_n_on") / F.col("_N"),
            "_alpha": F.col("_s1_off") / F.col("_n_off"),
            "_beta": F.col("_s1_on") / F.col("_n_on")
            - F.col("_s1_off") / F.col("_n_off"),
        }
    )
    keys = by + ["seed"]
    # (by, seed) grain is seeds × windows — always tiny; broadcast onto clusters
    joined = seeded.join(broadcast(g), on=keys)
    x = F.when(on_, F.lit(1.0)).otherwise(F.lit(0.0))
    h = (x - F.col("_xbar")) * (
        F.col("s1") - F.col("n") * F.col("_alpha") - F.col("n") * F.col("_beta") * x
    )
    meat = (
        joined.select(*keys, h.alias("_h"))
        .groupBy(*keys)
        .agg(F.sum(F.col("_h") * F.col("_h")).alias("_meat"))
    )
    res = g.join(meat, on=keys)
    n, ng = F.col("_N"), F.col("_G")
    valid = (
        (ng > 1)
        & (n > 2)
        & F.col("_xbar").isNotNull()
        & (F.col("_xbar") > 0)
        & (F.col("_xbar") < 1)
    )
    bread = n * F.col("_xbar") * (1 - F.col("_xbar"))  # Σ x̃² for binary x
    correction = (ng / (ng - 1)) * ((n - 1) / (n - 2))
    # bread*bread (not pow) so the oracle can replay the identical IEEE ops
    se = F.when(valid, F.sqrt(correction * F.col("_meat") / (bread * bread)))
    return res.select(*keys, F.col("_beta").alias("mean_diff"), se.alias("se"))


def crse_ols(
    df: DataFrame,
    value_col: str,
    group_col: str,
    control,
    treatment,
    cluster_col: str,
    by: Sequence[str] = (),
) -> DataFrame:
    """OLS ``value ~ 1 + 1[group==treatment]`` with CR1 cluster-robust SEs.

    Returns per-``by`` rows: beta (mean_treat − mean_control), se, t_stat, dof
    (= clusters − 1), n, n_clusters, p_value.
    """
    by = list(by)
    v = F.col(value_col).cast("double")
    clean = df.filter(
        v.isNotNull() & ~F.isnan(v) & F.col(group_col).isin([control, treatment])
    ).select(
        *by,
        F.col(cluster_col).alias("_cluster"),
        v.alias("_y"),
        F.when(F.col(group_col) == F.lit(treatment), 1.0).otherwise(0.0).alias("_x"),
    )

    glob = clean.groupBy(*by).agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_x").alias("_xbar"),
        F.avg(F.when(F.col("_x") == 0.0, F.col("_y"))).alias("_alpha"),
        F.avg(F.when(F.col("_x") == 1.0, F.col("_y"))).alias("_beta_plus_alpha"),
    )
    glob = glob.withColumn("_beta", F.col("_beta_plus_alpha") - F.col("_alpha"))

    joined = (
        clean.join(broadcast(glob), on=by) if by else clean.crossJoin(broadcast(glob))
    )
    # per-cluster score sums  h_g = Σ x̃ e. The global fit constants ride
    # the aggregations as first() columns (constant per by-group) so the
    # result needs NO join back onto `glob` — a second consumption of glob
    # would re-run its full-scan aggregation (glob is tiny but its child
    # is the fact table).
    per_cluster = (
        joined.withColumn(
            "_score",
            (F.col("_x") - F.col("_xbar"))
            * (F.col("_y") - F.col("_alpha") - F.col("_beta") * F.col("_x")),
        )
        .groupBy(*by, "_cluster")
        .agg(
            F.sum("_score").alias("_h"),
            F.first("_n").alias("_n"),
            F.first("_xbar").alias("_xbar"),
            F.first("_beta").alias("_beta"),
        )
    )
    res = per_cluster.groupBy(*by).agg(
        F.sum(F.pow("_h", 2)).alias("_meat"),
        F.count(F.lit(1)).alias("n_clusters"),
        F.first("_n").alias("_n"),
        F.first("_xbar").alias("_xbar"),
        F.first("_beta").alias("_beta"),
    )
    n, g = F.col("_n"), F.col("n_clusters")
    # guard degenerate partitions (ANSI mode: unguarded x/0 throws)
    valid = (
        (g > 1) & (n > 2) & (F.col("_xbar") > 0) & (F.col("_xbar") < 1)
    )
    bread = n * F.col("_xbar") * (1 - F.col("_xbar"))  # Σ x̃² for binary x
    correction = (g / (g - 1)) * ((n - 1) / (n - 2))
    var = F.when(valid, correction * F.col("_meat") / F.pow(bread, 2))
    se = F.sqrt(var)
    out = res.select(
        *by,
        F.col("_beta").alias("beta"),
        se.alias("se"),
        F.when(valid & (se > 0), F.col("_beta") / se).alias("t_stat"),
        F.when(valid, (g - 1).cast("double")).alias("dof"),
        n.alias("n"),
        "n_clusters",
    )
    return out.withColumn("p_value", t_two_sided_p(F.col("t_stat"), F.col("dof")))
