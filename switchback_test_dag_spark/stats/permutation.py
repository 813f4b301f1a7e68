"""Randomization-inference engine — multi-seed vectorized permutation tests,
FPR / power simulation and CI coverage (SURVEY §2 T5, T7, T8, T10, T18).
FPR, power and coverage all come from one path, ``fused_sweep_stats``, which
``queries_inference.fpr_by_window_size`` and ``power_ci_sim`` aggregate into
rates; ``order_level_t``, ``bucket_level_t`` and
``crse.crse_from_cluster_moments`` are the per-method references it is
differential-tested against.

The reference runs these as **serial driver loops**: N re-randomizations ×
window sizes × KPIs, each iteration re-assigning a pandas column and re-running
scipy (``method_evaluation.ipynb:269-360``; ``switchback_analysis.ipynb:779-798``).
That design is the reference's known bottleneck (SURVEY §3.3).

Spark-first design — the seed dimension lives in the *plan*, not in a loop:

1. ONE pass over the fact table reduces it to per-(by, bucket) moments
   (``n, Σy, Σy²``). At 100 TB this is the only big shuffle, and it is the same
   aggregation the switchback analysis already needs.
2. A seed range partitioned over the session's cores is crossed with the
   broadcast moment table — buckets × seeds rows (e.g. 1k × 1k = 1M), each
   core expanding its own slice of seeds.
3. The seeded arm of (bucket, seed) is a **portable deterministic hash**:
   ``substring(md5(concat(bucket, '|', seed)), 1, 4) < '8000'`` — exactly
   Bernoulli(p) for a 4-hex-digit threshold, reproducible on any cluster size
   AND expressible verbatim in DuckDB, so the whole engine is oracle-diffable
   (xxhash64, Spark's fast path, has no DuckDB twin). md5 runs once per
   *bucket×seed* row, not per order, yet that is not cheap: on
   ``fpr_by_window_size``'s 6.55M seeded rows (4-core VM, warm) the md5 arm
   took 2.9–4.4 s of exec against 1.4–2.1 s with xxhash64 — about half of
   the sweep's executor time.
4. Every statistic (permutation mean-difference, bucket-level t, injected-effect
   power, CI coverage) is closed-form column math over those moments — one
   aggregation of step 2's output by seed (by (seed, arm) first, then pivoted,
   in ``fused_sweep_stats``) computes all N iterations at once.

Effect injection (power) is exact on moments: adding δ to every treated order
shifts ``Σy`` by δ·n and ``Σy²`` by 2δΣy + δ²n.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ON, OFF = "On", "Off"


def hex_threshold(p: float) -> str:
    """4-hex-digit threshold with P(md5-prefix < threshold) = round(p·65536)/65536.

    Clamped to 'ffff': a 5-char '10000' would compare lexicographically *below*
    any 4-hex prefix starting with '2'..'f'. Callers that need p ≈ 1 exactly must
    special-case it (``portable_arm_sql`` does)."""
    return format(max(0, min(65535, round(p * 65536))), "04x")


def portable_arm_sql(unit_sql: str, seed_sql: str, p: float = 0.5) -> str:
    """Engine-portable seeded assignment as a SQL fragment (valid in Spark SQL
    *and* DuckDB): 'On' iff the md5 prefix of ``unit|seed`` falls below the
    p-threshold. Lowercase-hex string comparison equals numeric comparison
    because hex digits 0-9a-f are ASCII-ordered. Degenerate p (rounding to 0 or
    65536) short-circuits to a constant arm — a 4-hex threshold cannot express
    P=1, and '10000' would break the lexicographic comparison."""
    q = round(p * 65536)
    if q <= 0:
        return f"'{OFF}'"
    if q >= 65536:
        return f"'{ON}'"
    return (
        f"CASE WHEN substring(md5(concat(cast({unit_sql} as string), '|', "
        f"cast({seed_sql} as string))), 1, 4) < '{hex_threshold(p)}' "
        f"THEN '{ON}' ELSE '{OFF}' END"
    )


def portable_arm(unit_col: str, seed_col: str, p: float = 0.5) -> Column:
    return F.expr(portable_arm_sql(unit_col, seed_col, p))


def bucket_moments(
    df: DataFrame, value_col: str, bucket_col: str | Column, by: Sequence[str] = ()
) -> DataFrame:
    """Step 1: reduce the fact table to per-(by, bucket) moments — the single
    big-data shuffle of the whole engine. NaN/NULL rows are dropped (scipy
    ``nan_policy='omit'`` parity)."""
    v = F.col(value_col).cast("double")
    bucket = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    return (
        df.filter(v.isNotNull() & ~F.isnan(v))
        .groupBy(*by, bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("s1"),
            F.sum(v * v).alias("s2"),
        )
    )


def with_seeds(moments: DataFrame, n_seeds: int, p: float = 0.5) -> DataFrame:
    """Step 2+3: cross the seed range with the moment table and attach the
    seeded arm. Output grain: (by, bucket, seed, arm), columns
    ``(*moments.columns, seed int, arm)``.

    The seeds are the partitioned side — ``min(n_seeds, defaultParallelism)``
    slices of ``range(n_seeds)`` — and the moment table is broadcast to each
    of them, so every core expands and hashes its own seeds. (The moment table
    is tiny, so AQE coalesces it to one or two partitions; expanding the seeds
    onto it would run the whole buckets × seeds frame in that many tasks.)
    Each seed lives in exactly one partition, its buckets in moment-table
    order."""
    if n_seeds < 1:
        raise ValueError(f"n_seeds must be >= 1, got {n_seeds}")
    spark = moments.sparkSession
    slices = min(n_seeds, spark.sparkContext.defaultParallelism)
    seeds = spark.range(n_seeds, numPartitions=slices).select(
        F.col("id").cast("int").alias("seed")
    )
    return seeds.crossJoin(F.broadcast(moments)).select(
        *moments.columns, "seed", portable_arm("bucket", "seed", p).alias("arm")
    )


def permutation_mean_diffs(
    df: DataFrame,
    value_col: str,
    bucket_col: str | Column,
    n_seeds: int,
    by: Sequence[str] = (),
    p: float = 0.5,
) -> DataFrame:
    """T5/T18: the permutation distribution of the order-level mean difference
    under re-randomized bucket assignment — one row per (by, seed)."""
    by = list(by)
    m = with_seeds(bucket_moments(df, value_col, bucket_col, by), n_seeds, p)
    on_n = F.sum(F.when(F.col("arm") == ON, F.col("n")))
    off_n = F.sum(F.when(F.col("arm") == OFF, F.col("n")))
    on_s = F.sum(F.when(F.col("arm") == ON, F.col("s1")))
    off_s = F.sum(F.when(F.col("arm") == OFF, F.col("s1")))
    return (
        m.groupBy(*by, "seed")
        .agg(on_n.alias("n_on"), off_n.alias("n_off"),
             on_s.alias("s_on"), off_s.alias("s_off"))
        .filter((F.col("n_on") > 0) & (F.col("n_off") > 0))
        .select(
            *by,
            "seed",
            "n_on",
            "n_off",
            (F.col("s_on") / F.col("n_on") - F.col("s_off") / F.col("n_off")).alias(
                "mean_diff"
            ),
        )
    )


def permutation_thresholds(
    diffs: DataFrame, by: Sequence[str] = (), alpha: float = 0.05
) -> DataFrame:
    """T5: the reference's 'adjusted p-value' significance bounds — the
    (α/2, 1−α/2) percentiles of the permutation distribution
    (``method_evaluation.ipynb:269-300``)."""
    lo, hi = alpha / 2, 1 - alpha / 2
    return diffs.groupBy(*by).agg(
        F.expr(f"percentile(mean_diff, {lo})").alias("lower"),
        F.expr(f"percentile(mean_diff, {hi})").alias("upper"),
        F.count(F.lit(1)).alias("n_seeds"),
    )


def bucket_level_t(seeded: DataFrame, by: Sequence[str] = ()) -> DataFrame:
    """Bucket-mean two-sample t statistic per (by, seed) — T3 semantics (t-test
    over time-unit means), closed-form from bucket moments."""
    by = list(by)
    bm = F.col("s1") / F.col("n")  # bucket mean
    g = seeded.withColumn("bm", bm)
    on_ = F.when(F.col("arm") == ON, F.col("bm"))
    off = F.when(F.col("arm") == OFF, F.col("bm"))
    agg = g.groupBy(*by, "seed").agg(
        F.count(on_).alias("g_on"),
        F.count(off).alias("g_off"),
        F.avg(on_).alias("m_on"),
        F.avg(off).alias("m_off"),
        F.coalesce(F.var_samp(on_), F.lit(0.0)).alias("v_on"),
        F.coalesce(F.var_samp(off), F.lit(0.0)).alias("v_off"),
    )
    g_on, g_off = F.col("g_on"), F.col("g_off")
    valid = (g_on > 1) & (g_off > 1)
    sp2 = ((g_on - 1) * F.col("v_on") + (g_off - 1) * F.col("v_off")) / (
        g_on + g_off - 2
    )
    se = F.when(valid & (sp2 > 0), F.sqrt(sp2 * (1 / g_on + 1 / g_off)))
    return agg.select(
        *by,
        "seed",
        "g_on",
        "g_off",
        (F.col("m_on") - F.col("m_off")).alias("mean_diff"),
        se.alias("se"),
        F.when(se.isNotNull(), (F.col("m_on") - F.col("m_off")) / se).alias("t_stat"),
        F.when(valid, (g_on + g_off - 2).cast("double")).alias("dof"),
    )


def inject_additive_effect(seeded: DataFrame, effect: float) -> DataFrame:
    """Inject an additive effect δ on the treated arm EXACTLY on moments
    (s1 += δ·n; s2 += 2δ·s1 + δ²·n) — no second pass over the fact table."""
    d = F.lit(float(effect))
    return seeded.withColumns(
        {
            "s2": F.when(
                F.col("arm") == ON,
                F.col("s2") + 2 * d * F.col("s1") + d * d * F.col("n"),
            ).otherwise(F.col("s2")),
            "s1": F.when(
                F.col("arm") == ON, F.col("s1") + d * F.col("n")
            ).otherwise(F.col("s1")),
        }
    )


def order_level_t(seeded: DataFrame, by: Sequence[str] = ()) -> DataFrame:
    """Order-level pooled two-sample t per (by, seed) — T2 semantics (t-test
    over raw orders, the reference's first method), closed-form from the SAME
    seeded moment table the bucket-level variant uses: per-arm n/Σx/Σx² give
    mean and pooled variance directly, so the method sweep costs no extra
    fact pass."""
    by = list(by)
    on_ = F.col("arm") == ON
    agg = seeded.groupBy(*by, "seed").agg(
        F.sum(F.when(on_, F.col("n"))).alias("n_on"),
        F.sum(F.when(~on_, F.col("n"))).alias("n_off"),
        F.sum(F.when(on_, F.col("s1"))).alias("s1_on"),
        F.sum(F.when(~on_, F.col("s1"))).alias("s1_off"),
        F.sum(F.when(on_, F.col("s2"))).alias("s2_on"),
        F.sum(F.when(~on_, F.col("s2"))).alias("s2_off"),
    )
    n_on, n_off = F.col("n_on"), F.col("n_off")
    m_on = F.col("s1_on") / n_on
    m_off = F.col("s1_off") / n_off
    # sample sums of squares about the mean: Σx² − (Σx)²/n
    ss_on = F.col("s2_on") - F.col("s1_on") * F.col("s1_on") / n_on
    ss_off = F.col("s2_off") - F.col("s1_off") * F.col("s1_off") / n_off
    valid = (n_on > 1) & (n_off > 1)
    sp2 = F.when(valid, (ss_on + ss_off) / (n_on + n_off - 2))
    se = F.when(valid & (sp2 > 0), F.sqrt(sp2 * (1 / n_on + 1 / n_off)))
    return agg.select(
        *by,
        "seed",
        n_on.alias("g_on"),
        n_off.alias("g_off"),
        (m_on - m_off).alias("mean_diff"),
        se.alias("se"),
        F.when(se.isNotNull(), (m_on - m_off) / se).alias("t_stat"),
        F.when(valid, (n_on + n_off - 2).cast("double")).alias("dof"),
    )


def _arm_sums(seeded: DataFrame, by: list[str]) -> DataFrame:
    """Per-(by, seed) arm sums of the bucket moments for ``fused_sweep_stats``:
    ``N, G`` plus ``{n, s1, s2, B, bm1, bm2, q, r, w}_{on,off}``.

    Nine unconditional sums per seeded row at the (by, seed, arm) grain, then
    the <=2 arm rows of each (by, seed) pivoted into *_on / *_off columns. A
    missing arm gives NULL sums and a bucket count ``B`` of 0."""
    c = F.col
    bm = c("s1") / c("n")
    sums = {
        "n": c("n"),
        "s1": c("s1"),
        "s2": c("s2"),
        "bm1": bm,
        "bm2": bm * bm,
        "q": c("s1") * c("s1"),
        "r": c("s1") * c("n"),
        "w": c("n").cast("double") * c("n"),
    }
    arms = seeded.groupBy(*by, "seed", "arm").agg(
        F.count(F.lit(1)).alias("B"),
        *[F.sum(e).alias(k) for k, e in sums.items()],
    )
    on_ = c("arm") == ON
    return arms.groupBy(*by, "seed").agg(
        F.sum("n").alias("N"),
        F.sum("B").alias("G"),
        *[
            F.sum(F.when(cond, c(k))).alias(f"{k}_{side}")
            for side, cond in (("on", on_), ("off", ~on_))
            for k in ["B", *sums]
        ],
    ).withColumns(
        {"B_on": F.coalesce(c("B_on"), F.lit(0)),
         "B_off": F.coalesce(c("B_off"), F.lit(0))}
    )


def fused_sweep_stats(
    seeded: DataFrame, effect: float, by: Sequence[str] = ()
) -> DataFrame:
    """All four sweep methods × {null, injected-effect} in ONE aggregation
    pass over the seeded moment table.

    The composed sweep (``order_level_t`` + ``bucket_level_t`` +
    ``crse.crse_from_cluster_moments``, each on the null AND the
    effect-injected frame, = 6 branch aggregations + CRSE's per-branch
    score-sum re-join) re-reads the (by, bucket, seed) frame once per branch
    — ~10 passes at the sweep's grain. Every one of those statistics is
    closed-form in per-(by, seed, arm) SUMS of the bucket moments, so one
    pass computing nine unconditional sums per seeded row at the
    (by, seed, arm) grain, pivoted to one row per (by, seed)
    (``_arm_sums``), replaces all of them:

    - **order-level t** (T2): per-arm ``n, Σs1, Σs2`` — the exact
      ``order_level_t`` formulas.
    - **bucket-mean t** (T3): per-arm ``B, Σbm, Σbm²`` (bm = s1/n); the
      sample variance via ``Σbm² − (Σbm)²/B over B−1`` — algebraically
      ``var_samp``, with the same B≤1 → 0 fallback the composed form gets
      from ``coalesce(var_samp, 0)``.
    - **CRSE** (T6, CR1): expanding ``crse_from_cluster_moments``'s meat
      ``Σ_g h_g²`` per arm — for On clusters (x=1) ``h = (1−x̄)(s1 − n·c)``
      with c = α+β, for Off (x=0) ``h = −x̄(s1 − n·α)`` — gives
      ``meat = (1−x̄)²(Σs1² − 2cΣs1n + c²Σn²)_On + x̄²(Σs1² − 2αΣs1n +
      α²Σn²)_Off``: three more per-arm sums (``Σs1², Σs1·n, Σn²``), no
      second pass and no re-join of (x̄, α, β) onto clusters.
    - **effect injection** (T8) is moment algebra on the SAME sums
      (``inject_additive_effect`` per bucket, pushed through the sums):
      ``Σs1_On += δ·Σn_On``, ``Σs2_On += 2δΣs1 + δ²Σn``,
      ``Σbm_On += δ·B_On``, ``Σbm²_On += 2δΣbm + δ²B_On``. For CRSE the
      injection cancels inside the meat (``s1' − n(α+β') = s1 − n(α+β)``)
      and leaves x̄, bread and the correction untouched, so
      ``se_power = se_null`` and only β shifts by δ — derived, not
      re-aggregated.

    Returns one row per (by..., seed) with, for each method m ∈
    {ot, bt, cr}, ``{m}_diff / {m}_se`` (null hypothesis) and ``{m}_diff_p /
    {m}_se_p`` (injected effect) — NULL se under exactly the composed
    operators' validity guards. Differential-tested against the composed
    branches in tests/test_inference.py."""
    by = list(by)
    return _sweep_stats(_arm_sums(seeded, by), effect, by)


def _sweep_stats(g: DataFrame, effect: float, by: list[str]) -> DataFrame:
    """The closed-form statistics of ``fused_sweep_stats`` over its arm sums."""
    d = float(effect)
    c = F.col

    def order_t(s1_on: Column, s2_on: Column) -> tuple[Column, Column]:
        n_on, n_off = c("n_on"), c("n_off")
        m_on, m_off = s1_on / n_on, c("s1_off") / n_off
        ss_on = s2_on - s1_on * s1_on / n_on
        ss_off = c("s2_off") - c("s1_off") * c("s1_off") / n_off
        valid = (n_on > 1) & (n_off > 1)
        sp2 = F.when(valid, (ss_on + ss_off) / (n_on + n_off - 2))
        se = F.when(valid & (sp2 > 0), F.sqrt(sp2 * (1 / n_on + 1 / n_off)))
        return m_on - m_off, se

    def bucket_t(bm1_on: Column, bm2_on: Column) -> tuple[Column, Column]:
        b_on, b_off = c("B_on"), c("B_off")

        def var(b: Column, m1: Column, m2: Column) -> Column:
            return F.when(b > 1, (m2 - m1 * m1 / b) / (b - 1)).otherwise(0.0)

        v_on = var(b_on, bm1_on, bm2_on)
        v_off = var(b_off, c("bm1_off"), c("bm2_off"))
        valid = (b_on > 1) & (b_off > 1)
        sp2 = ((b_on - 1) * v_on + (b_off - 1) * v_off) / (b_on + b_off - 2)
        se = F.when(valid & (sp2 > 0), F.sqrt(sp2 * (1 / b_on + 1 / b_off)))
        return bm1_on / b_on - c("bm1_off") / b_off, se

    # CRSE: α/β/x̄ per crse_from_cluster_moments, meat expanded per arm
    xbar = c("n_on") / c("N")
    alpha = c("s1_off") / c("n_off")
    beta = c("s1_on") / c("n_on") - alpha
    cc = alpha + beta
    meat = (1 - xbar) * (1 - xbar) * (
        c("q_on") - 2 * cc * c("r_on") + cc * cc * c("w_on")
    ) + xbar * xbar * (c("q_off") - 2 * alpha * c("r_off") + alpha * alpha * c("w_off"))
    # Conditioning tradeoff of the expanded form: the composed operator sums
    # per-cluster (s1 − n·c)² (non-negative by construction); the expansion
    # Σs1² − 2cΣs1·n + c²Σn² subtracts LARGE near-equal terms when bucket
    # sums dwarf residuals (n large, mean ≫ std), and float rounding can
    # leave a tiny NEGATIVE meat where the true value is ~0 — sqrt would
    # then return NaN rather than the guarded NULL. Clamp at 0: the clamp
    # only engages where the exact meat is within rounding of 0, i.e. the
    # SE itself is ~0.
    meat = F.greatest(meat, F.lit(0.0))
    bread = c("N") * xbar * (1 - xbar)
    correction = (c("G") / (c("G") - 1)) * ((c("N") - 1) / (c("N") - 2))
    cr_valid = (
        (c("G") > 1)
        & (c("N") > 2)
        & xbar.isNotNull()
        & (xbar > 0)
        & (xbar < 1)
    )
    cr_se = F.when(cr_valid, F.sqrt(correction * meat / (bread * bread)))

    # injected-effect (power) twins, derived on the same sums
    s1_on_p = c("s1_on") + d * c("n_on")
    s2_on_p = c("s2_on") + 2 * d * c("s1_on") + d * d * c("n_on")
    bm1_on_p = c("bm1_on") + d * c("B_on")
    bm2_on_p = c("bm2_on") + 2 * d * c("bm1_on") + d * d * c("B_on")

    ot_diff, ot_se = order_t(c("s1_on"), c("s2_on"))
    ot_diff_p, ot_se_p = order_t(s1_on_p, s2_on_p)
    bt_diff, bt_se = bucket_t(c("bm1_on"), c("bm2_on"))
    bt_diff_p, bt_se_p = bucket_t(bm1_on_p, bm2_on_p)

    return g.select(
        *by,
        "seed",
        ot_diff.alias("ot_diff"),
        ot_se.alias("ot_se"),
        ot_diff_p.alias("ot_diff_p"),
        ot_se_p.alias("ot_se_p"),
        bt_diff.alias("bt_diff"),
        bt_se.alias("bt_se"),
        bt_diff_p.alias("bt_diff_p"),
        bt_se_p.alias("bt_se_p"),
        beta.alias("cr_diff"),
        cr_se.alias("cr_se"),
        (beta + d).alias("cr_diff_p"),
        cr_se.alias("cr_se_p"),
    )
