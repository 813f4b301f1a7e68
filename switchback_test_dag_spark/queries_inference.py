"""Randomization-inference and assignment-strategy queries (SURVEY §2 T5, T7,
T8, T10, T12-T14, T18 + T2/T4/T6 statistics), each with a DuckDB oracle.

The seeded arm is the engine-portable md5-prefix hash
(``stats.permutation.portable_arm_sql``), so the *entire* multi-seed engine —
assignment, moment algebra, t statistics, FPR/power/coverage rates — is
value-diffed against DuckDB, not just row-counted.

The t critical value is a literal (1.959964, the normal/large-dof two-sided 5%
point) inlined into BOTH plans: the oracle stays SQL-pure and the parity check
is exact. Calibration against the *exact* t quantile for the actual dof is
covered by tests/test_inference.py using stats.distributions.t_ppf_two_sided.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from switchback_test_dag_spark.io import load_table
from switchback_test_dag_spark.plans.assignment import balanced_assignment
from switchback_test_dag_spark.queries import query
from switchback_test_dag_spark.stats import permutation as P
from switchback_test_dag_spark.stats.crse import crse_ols

N_SEEDS = 200
CRIT = 1.959964
EFFECT = 3.0

# hourly epoch bucket, identical on both engines (integer division of the ns
# epoch; DuckDB reads the parquet ns timestamp µs-truncated, which cannot move
# an hour boundary)
_SPARK_BUCKET = "ts_ns div 3600000000000"
_DUCK_BUCKET = "epoch_ns(ts) // 3600000000000"

_DUCK_ARM = P.portable_arm_sql("bucket", "seed", 0.5)

# shared oracle CTE: per-bucket moments × seeds with portable arms
_DUCK_SEEDED = f"""
WITH m AS (
  SELECT {_DUCK_BUCKET} AS bucket, count(*) AS n,
         sum(value) AS s1, sum(value * value) AS s2
  FROM events WHERE value IS NOT NULL GROUP BY bucket
), s AS (
  SELECT m.*, seed, {_DUCK_ARM} AS arm
  FROM m, (SELECT unnest(generate_series(0, {N_SEEDS - 1})) AS seed)
)"""

# bucket-level pooled t per seed from (possibly effect-injected) moments
def _duck_bucket_t(inject: float = 0.0) -> str:
    s1 = (
        f"CASE WHEN arm = 'On' THEN s1 + {inject} * n ELSE s1 END"
        if inject
        else "s1"
    )
    return f"""
, bm AS (
  SELECT seed, arm, ({s1}) * 1.0 / n AS bmean FROM s
), t AS (
  SELECT seed,
         count(*) FILTER (arm = 'On') AS g_on,
         count(*) FILTER (arm = 'Off') AS g_off,
         avg(bmean) FILTER (arm = 'On') AS m_on,
         avg(bmean) FILTER (arm = 'Off') AS m_off,
         coalesce(var_samp(bmean) FILTER (arm = 'On'), 0.0) AS v_on,
         coalesce(var_samp(bmean) FILTER (arm = 'Off'), 0.0) AS v_off
  FROM bm GROUP BY seed
), tt AS (
  SELECT seed, m_on - m_off AS mean_diff,
         CASE WHEN g_on > 1 AND g_off > 1
                   AND ((g_on-1)*v_on + (g_off-1)*v_off) > 0
              THEN sqrt(((g_on-1)*v_on + (g_off-1)*v_off) / (g_on + g_off - 2)
                        * (1.0/g_on + 1.0/g_off))
         END AS se
  FROM t
)"""


@query(
    "perm_dist_thresholds",
    _DUCK_SEEDED
    + """
, d AS (
  SELECT seed,
         CAST(sum(n) FILTER (arm = 'On') AS BIGINT) AS n_on,
         CAST(sum(n) FILTER (arm = 'Off') AS BIGINT) AS n_off,
         sum(s1) FILTER (arm = 'On') / sum(n) FILTER (arm = 'On')
         - sum(s1) FILTER (arm = 'Off') / sum(n) FILTER (arm = 'Off') AS mean_diff
  FROM s GROUP BY seed
  HAVING sum(n) FILTER (arm = 'On') > 0 AND sum(n) FILTER (arm = 'Off') > 0
), th AS (
  SELECT round(quantile_cont(mean_diff, 0.025), 6) AS lower,
         round(quantile_cont(mean_diff, 0.975), 6) AS upper,
         count(*) AS n_seeds
  FROM d
)
SELECT seed, n_on, n_off, round(mean_diff, 6) AS mean_diff, lower, upper, n_seeds
FROM d, th""",
)
def perm_dist_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 + T18: the permutation distribution of the order-level mean
    difference over 200 seeded re-randomizations of hourly buckets (the serial
    loop of method_evaluation.ipynb:269-300 as ONE distributed plan), with the
    adjusted-p significance thresholds — the (2.5, 97.5) percentiles of that
    same distribution — broadcast back onto every seed row."""
    from switchback_test_dag_spark.caching import pin

    ev = load_table(spark, sf_dir, "events")
    # pin: the distribution (N_SEEDS rows) feeds both the output rows and the
    # threshold percentiles — without it the fact-table moments shuffle runs
    # twice
    d = pin(P.permutation_mean_diffs(ev, "value", F.expr(_SPARK_BUCKET), N_SEEDS))
    t = P.permutation_thresholds(d).select(
        F.round("lower", 6).alias("lower"),
        F.round("upper", 6).alias("upper"),
        "n_seeds",
    )
    from pyspark.sql.functions import broadcast

    return d.select(
        "seed", "n_on", "n_off", F.round("mean_diff", 6).alias("mean_diff")
    ).crossJoin(broadcast(t))


_WINDOW_MINUTES = (30, 60, 120, 240, 1440)

_DUCK_SIG_T = f"""
CASE WHEN se IS NOT NULL AND abs(mean_diff / se) > {CRIT} THEN 1.0 ELSE 0.0 END"""


def _duck_method_ctes(src: str, tag: str) -> str:
    """bucket-t and order-t per-(window, seed) statistics over seeded-moments
    CTE ``src`` — shared between the null (fpr) and injected (power) branches."""
    return f""", bm{tag} AS (
  SELECT window_minutes, seed, arm, s1 * 1.0 / n AS bmean FROM {src}
), btg{tag} AS (
  SELECT window_minutes, seed,
         count(*) FILTER (arm = 'On') AS g_on,
         count(*) FILTER (arm = 'Off') AS g_off,
         avg(bmean) FILTER (arm = 'On') AS m_on,
         avg(bmean) FILTER (arm = 'Off') AS m_off,
         coalesce(var_samp(bmean) FILTER (arm = 'On'), 0.0) AS v_on,
         coalesce(var_samp(bmean) FILTER (arm = 'Off'), 0.0) AS v_off
  FROM bm{tag} GROUP BY window_minutes, seed
), bt{tag} AS (
  SELECT window_minutes, seed, m_on - m_off AS mean_diff,
         CASE WHEN g_on > 1 AND g_off > 1
                   AND ((g_on-1)*v_on + (g_off-1)*v_off) > 0
              THEN sqrt(((g_on-1)*v_on + (g_off-1)*v_off) / (g_on + g_off - 2)
                        * (1.0/g_on + 1.0/g_off))
         END AS se
  FROM btg{tag}
), otg{tag} AS (
  SELECT window_minutes, seed,
         sum(n) FILTER (arm = 'On') AS n_on, sum(n) FILTER (arm = 'Off') AS n_off,
         sum(s1) FILTER (arm = 'On') AS s1_on, sum(s1) FILTER (arm = 'Off') AS s1_off,
         sum(s2) FILTER (arm = 'On') AS s2_on, sum(s2) FILTER (arm = 'Off') AS s2_off
  FROM {src} GROUP BY window_minutes, seed
), ot{tag} AS (
  SELECT window_minutes, seed,
         s1_on / n_on - s1_off / n_off AS mean_diff,
         CASE WHEN n_on > 1 AND n_off > 1
                   AND ((s2_on - s1_on * s1_on / n_on)
                        + (s2_off - s1_off * s1_off / n_off)) / (n_on + n_off - 2) > 0
              THEN sqrt(((s2_on - s1_on * s1_on / n_on)
                         + (s2_off - s1_off * s1_off / n_off)) / (n_on + n_off - 2)
                        * (1.0 / n_on + 1.0 / n_off))
         END AS se
  FROM otg{tag}
)"""


def _duck_rate_select(cte: str, method: str, metric: str) -> str:
    return f"""SELECT window_minutes, '{method}' AS method, '{metric}' AS metric,
       round(avg({_DUCK_SIG_T}), 6) AS rate, count(*) AS n_sims
FROM {cte} GROUP BY window_minutes"""


def _duck_crse_ctes(src: str, tag: str) -> str:
    """CR1 cluster-robust OLS per (window, seed) from the seeded cluster
    moments — the SQL replay of ``stats.crse.crse_from_cluster_moments``
    (x constant within a cluster ⇒ h_g = (x_g − x̄)(s1_g − n_g·α − n_g·β·x_g)).
    Multiplications, not pow(), so both engines run the identical IEEE ops."""
    return f""", cg{tag} AS (
  SELECT window_minutes, seed, sum(n) AS nn, count(*) AS gg,
         sum(n) FILTER (arm = 'On') AS n_on, sum(n) FILTER (arm = 'Off') AS n_off,
         sum(s1) FILTER (arm = 'On') AS s1_on, sum(s1) FILTER (arm = 'Off') AS s1_off
  FROM {src} GROUP BY window_minutes, seed
), cx{tag} AS (
  SELECT window_minutes, seed, nn, gg,
         n_on / nn AS xbar, s1_off / n_off AS alpha,
         s1_on / n_on - s1_off / n_off AS beta
  FROM cg{tag}
), ch{tag} AS (
  SELECT s.window_minutes, s.seed,
         ((CASE WHEN s.arm = 'On' THEN 1.0 ELSE 0.0 END) - g.xbar)
         * (s.s1 - s.n * g.alpha
            - s.n * g.beta * (CASE WHEN s.arm = 'On' THEN 1.0 ELSE 0.0 END)) AS h
  FROM {src} s JOIN cx{tag} g
    ON s.window_minutes = g.window_minutes AND s.seed = g.seed
), cm{tag} AS (
  SELECT window_minutes, seed, sum(h * h) AS meat
  FROM ch{tag} GROUP BY window_minutes, seed
), ct{tag} AS (
  SELECT g.window_minutes, g.seed, g.beta AS mean_diff,
         CASE WHEN g.gg > 1 AND g.nn > 2 AND g.xbar IS NOT NULL
                   AND g.xbar > 0 AND g.xbar < 1
              THEN sqrt((g.gg / (g.gg - 1)) * ((g.nn - 1) / (g.nn - 2))
                        * m.meat
                        / ((g.nn * g.xbar * (1 - g.xbar))
                           * (g.nn * g.xbar * (1 - g.xbar))))
         END AS se
  FROM cx{tag} g JOIN cm{tag} m
    ON g.window_minutes = m.window_minutes AND g.seed = m.seed
)"""


_DUCK_ADJ_CTES = """, ad0 AS (
  SELECT window_minutes, round(mean_diff, 6) AS mean_diff FROM ot0
), ad1 AS (
  SELECT window_minutes, round(mean_diff, 6) AS mean_diff FROM ot1
), ath AS (
  SELECT window_minutes, quantile_cont(mean_diff, 0.025) AS lower,
         quantile_cont(mean_diff, 0.975) AS upper
  FROM ad0 GROUP BY window_minutes
)"""


def _duck_adj_select(cte: str, metric: str) -> str:
    return f"""SELECT window_minutes, 'adjusted' AS method, '{metric}' AS metric,
       round(avg(CASE WHEN mean_diff < lower OR mean_diff > upper
                      THEN 1.0 ELSE 0.0 END), 6) AS rate,
       count(*) AS n_sims
FROM {cte} JOIN ath USING (window_minutes) GROUP BY window_minutes"""


@query(
    "fpr_by_window_size",
    f"""WITH w AS (SELECT unnest([{", ".join(map(str, _WINDOW_MINUTES))}]) AS window_minutes),
m AS (
  SELECT window_minutes,
         epoch_ns(ts) // (window_minutes * 60000000000) AS bucket,
         count(*) AS n, sum(value) AS s1, sum(value * value) AS s2
  FROM events, w WHERE value IS NOT NULL GROUP BY window_minutes, bucket
), s AS (
  SELECT m.*, seed, {_DUCK_ARM} AS arm
  FROM m, (SELECT unnest(generate_series(0, {N_SEEDS - 1})) AS seed)
), si AS (
  SELECT window_minutes, bucket, n,
         CASE WHEN arm = 'On' THEN s1 + {EFFECT} * n ELSE s1 END AS s1,
         CASE WHEN arm = 'On' THEN s2 + 2 * {EFFECT} * s1 + {EFFECT} * {EFFECT} * n
              ELSE s2 END AS s2,
         seed, arm
  FROM s
){_duck_method_ctes("s", "0")}{_duck_method_ctes("si", "1")}{_duck_crse_ctes("s", "0")}{_duck_crse_ctes("si", "1")}{_DUCK_ADJ_CTES}
{_duck_rate_select("bt0", "bucket_t", "fpr")}
UNION ALL
{_duck_rate_select("ot0", "order_t", "fpr")}
UNION ALL
{_duck_rate_select("ct0", "crse", "fpr")}
UNION ALL
{_duck_rate_select("bt1", "bucket_t", "power")}
UNION ALL
{_duck_rate_select("ot1", "order_t", "power")}
UNION ALL
{_duck_rate_select("ct1", "crse", "power")}
UNION ALL
{_duck_adj_select("ad0", "fpr")}
UNION ALL
{_duck_adj_select("ad1", "power")}""",
)
def fpr_by_window_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 + T8 + the reference's FULL evaluation sweep
    (method_evaluation.ipynb:389 ``evaluate_test``; README.md:36-44 'best
    window = 1 hour; CRSE is the valid method'): A/A false-positive rate AND
    injected-effect detection power across 200 re-randomizations per
    switchback window size ∈ {30m, 1h, 2h, 4h, 1d} × inference method ∈
    {order-level pooled t (T2), bucket-mean t (T3), CRSE cluster-robust OLS
    (T6, method_evaluation.ipynb:303-325), adjusted-p permutation thresholds
    (T5, method_evaluation.ipynb:269-300)} — the reference's nested serial
    loops, for all four of its candidate methods, as ONE plan. The window
    dimension is exploded onto the fact scan, the single fact shuffle reduces
    to per-(window, bucket) moments, a seed range partitioned over the
    session's cores is crossed with that tiny table (broadcast) and attaches
    the seeded arm, and ALL eight (method, metric) statistics come out of
    ONE aggregation over it — nine sums per (window, seed, arm), pivoted to
    one row per (window, seed)
    (stats/permutation.fused_sweep_stats: order-t / bucket-t / CRSE with the
    meat term expanded per arm, effect injection as closed-form moment
    algebra on the same sums) — the seeded frame is consumed once, so
    nothing at the windows × buckets × seeds grain is cached or re-read.
    The adjusted-p rate compares each seed's order-level diff against the
    per-window (2.5, 97.5) permutation percentiles off the same tiny stats
    frame. Cost is one fact pass + one seeded aggregation for the whole
    (window, seed, 4-method, metric) grid."""
    from pyspark.sql.functions import broadcast

    from switchback_test_dag_spark.caching import pin

    ev = load_table(spark, sf_dir, "events").select("value", "ts_ns")
    exploded = ev.withColumn(
        "window_minutes",
        F.explode(F.array(*[F.lit(m) for m in _WINDOW_MINUTES])),
    )
    bucket = F.expr("ts_ns div (window_minutes * 60000000000)")
    moments = P.bucket_moments(exploded, "value", bucket, by=["window_minutes"])
    # the seeded frame is consumed ONCE: fused_sweep_stats folds all four
    # methods × {null, injected} into one aggregation by (window, seed, arm),
    # pivoted to (window, seed) (see its docstring for the moment algebra),
    # so the fact pass + md5 arm assignment — spread over every core by
    # with_seeds — run exactly once with no cache materialization at the
    # windows × buckets × seeds grain. What IS pinned is the tiny stats
    # frame (windows × seeds rows): the threshold percentiles and the rate
    # aggregation both read it.
    seeded = P.with_seeds(moments, N_SEEDS)
    stats = pin(P.fused_sweep_stats(seeded, EFFECT, by=["window_minutes"]))

    # adjusted-p thresholds (T5 as a sweep method): diffs rounded to 6
    # BEFORE the percentile so both engines interpolate identical doubles
    # and the strict threshold comparison cannot flip on summation-order
    # ULPs (same rounding applied to the compared diff below)
    th = stats.groupBy("window_minutes").agg(
        F.expr("percentile(round(ot_diff, 6), 0.025)").alias("lower"),
        F.expr("percentile(round(ot_diff, 6), 0.975)").alias("upper"),
    )

    def sig(diff: str, se: str):
        return F.when(
            F.col(se).isNotNull() & (F.abs(F.col(diff) / F.col(se)) > CRIT), 1.0
        ).otherwise(0.0)

    def adj(diff: str):
        return F.when(
            (F.round(diff, 6) < F.col("lower"))
            | (F.round(diff, 6) > F.col("upper")),
            1.0,
        ).otherwise(0.0)

    cells = {
        "bucket_t_fpr": sig("bt_diff", "bt_se"),
        "order_t_fpr": sig("ot_diff", "ot_se"),
        "crse_fpr": sig("cr_diff", "cr_se"),
        "bucket_t_power": sig("bt_diff_p", "bt_se_p"),
        "order_t_power": sig("ot_diff_p", "ot_se_p"),
        "crse_power": sig("cr_diff_p", "cr_se_p"),
        "adjusted_fpr": adj("ot_diff"),
        "adjusted_power": adj("ot_diff_p"),
    }
    rates = (
        stats.join(broadcast(th), "window_minutes")
        .groupBy("window_minutes")
        .agg(
            *[F.round(F.avg(e), 6).alias(k) for k, e in cells.items()],
            F.count(F.lit(1)).alias("n_sims"),
        )
    )
    stack_args = ", ".join(
        f"'{k.rsplit('_', 1)[0]}', '{k.rsplit('_', 1)[1]}', {k}" for k in cells
    )
    return rates.select(
        "window_minutes",
        F.expr(f"stack({len(cells)}, {stack_args}) AS (method, metric, rate)"),
        "n_sims",
    )


@query(
    "power_ci_sim",
    "SELECT p.power, p.n_sims, c.coverage, c.n_sims_cov FROM ("
    + _DUCK_SEEDED
    + _duck_bucket_t(inject=EFFECT)
    + f"""
SELECT round(avg(CASE WHEN se IS NOT NULL AND abs(mean_diff / se) > {CRIT}
                      THEN 1.0 ELSE 0.0 END), 6) AS power,
       count(*) AS n_sims
FROM tt) p, ("""
    + _DUCK_SEEDED
    + _duck_bucket_t()
    + f"""
SELECT round(avg(CASE WHEN mean_diff - {CRIT} * se <= 0 AND mean_diff + {CRIT} * se >= 0
                      THEN 1.0 ELSE 0.0 END), 6) AS coverage,
       count(*) AS n_sims_cov
FROM tt WHERE se IS NOT NULL) c""",
)
def power_ci_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 + T10 off the same moment table: detection power for an injected
    +3.0 effect (exact moment algebra — no second fact pass) and CI coverage
    under the null (≈ 95% at the normal critical value), one row."""
    ev = load_table(spark, sf_dir, "events")
    # one fact pass, one seeded aggregation (the seeds partitioned over the
    # cores, the moment table broadcast to them, per-arm sums pivoted per
    # seed): fused_sweep_stats yields the bucket-t statistic per seed for
    # BOTH the injected (power) and the null (coverage) hypotheses, so the
    # power and coverage halves are two aggregate columns over the same
    # per-seed frame — no pinned moments, no second seeded expansion, no
    # cross join of branch results
    m = P.bucket_moments(ev, "value", F.expr(_SPARK_BUCKET))
    stats = P.fused_sweep_stats(P.with_seeds(m, N_SEEDS), EFFECT)
    covered = (
        (F.col("bt_diff") - CRIT * F.col("bt_se") <= 0)
        & (F.col("bt_diff") + CRIT * F.col("bt_se") >= 0)
    )
    return stats.agg(
        F.round(
            F.avg(
                F.when(
                    F.col("bt_se_p").isNotNull()
                    & (F.abs(F.col("bt_diff_p") / F.col("bt_se_p")) > CRIT),
                    1.0,
                ).otherwise(0.0)
            ),
            6,
        ).alias("power"),
        F.count(F.lit(1)).alias("n_sims"),
        # avg skips NULLs, so gating the indicator on se IS NOT NULL drops
        # the seeds without a valid se from the coverage denominator
        F.round(
            F.avg(
                F.when(
                    F.col("bt_se").isNotNull(),
                    F.when(covered, 1.0).otherwise(0.0),
                )
            ),
            6,
        ).alias("coverage"),
        F.sum(F.when(F.col("bt_se").isNotNull(), 1).otherwise(0)).alias(
            "n_sims_cov"
        ),
    )


# --------------------------------------------------------------------------- #
# assignment strategies (T12-T14)
# --------------------------------------------------------------------------- #


@query(
    "assignment_battery",
    f"""WITH b AS (SELECT DISTINCT {_DUCK_BUCKET} AS bucket FROM events),
       bd AS (SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                     {_DUCK_BUCKET} AS bucket FROM events),
       c AS (SELECT day, count(*) AS n FROM bd GROUP BY day)
       SELECT 'random_portable' AS method, 'ALL' AS k,
              CAST(count(*) FILTER ({P.portable_arm_sql("bucket", "0", 0.5)} = 'On') AS BIGINT) AS n_on,
              CAST(count(*) FILTER ({P.portable_arm_sql("bucket", "0", 0.5)} = 'Off') AS BIGINT) AS n_off
       FROM b
       UNION ALL
       SELECT 'alternating' AS method, 'ALL' AS k,
              CAST(count(*) FILTER (bucket % 2 = 0) AS BIGINT) AS n_on,
              CAST(count(*) FILTER (bucket % 2 != 0) AS BIGINT) AS n_off
       FROM b
       UNION ALL
       SELECT 'balanced_daily' AS method, day AS k,
              CAST(ceil(n / 2.0) AS BIGINT) AS n_on,
              CAST(floor(n / 2.0) AS BIGINT) AS n_off
       FROM c""",
)
def assignment_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12 + T13 + T14 as one battery over the same distinct-bucket frame,
    grain (method, unit-key): seeded Bernoulli(½) per time unit (portable
    hash, value-diffed via the arm histogram), strict deterministic On/Off
    alternation (hr_interval_func_deterministic,
    deep_dive_analyses.ipynb:442-460), and the balanced urn draw without
    replacement per day — exactly ⌈n/2⌉ On / ⌊n/2⌋ Off buckets per day (the
    oracle checks the balance invariant; the seeded shuffle itself is
    xxhash64-ordered, pytest-checked for determinism)."""
    from switchback_test_dag_spark.plans.assignment import alternating_assignment

    from switchback_test_dag_spark.caching import pin

    ev = load_table(spark, sf_dir, "events")
    # pin: one distinct-bucket shuffle feeds all three assignment methods;
    # the day key derives from the hourly bucket (its floor IS the day in
    # UTC), so the balanced-daily branch needs no second fact scan
    buckets = pin(ev.select(F.expr(_SPARK_BUCKET).alias("bucket")).distinct())

    def histo(df: DataFrame, method: str, k) -> DataFrame:
        return df.groupBy().agg(
            F.count(F.when(F.col("arm") == "On", 1)).alias("n_on"),
            F.count(F.when(F.col("arm") == "Off", 1)).alias("n_off"),
        ).select(F.lit(method).alias("method"), k.alias("k"), "n_on", "n_off")

    rand = histo(
        buckets.withColumn("arm", P.portable_arm("bucket", "0", 0.5)),
        "random_portable",
        F.lit("ALL"),
    )
    alt = histo(
        buckets.withColumn("arm", alternating_assignment("bucket")),
        "alternating",
        F.lit("ALL"),
    )
    day_buckets = buckets.select(
        F.date_format(F.timestamp_seconds(F.col("bucket") * 3600), "yyyy-MM-dd").alias(
            "day"
        ),
        "bucket",
    )
    daily = (
        balanced_assignment(day_buckets, "bucket", "day", seed=7)
        .groupBy("day")
        .agg(
            F.count(F.when(F.col("assignment") == "On", 1)).alias("n_on"),
            F.count(F.when(F.col("assignment") == "Off", 1)).alias("n_off"),
        )
        .select(
            F.lit("balanced_daily").alias("method"),
            F.col("day").alias("k"),
            "n_on",
            "n_off",
        )
    )
    return rand.unionByName(alt).unionByName(daily)


# --------------------------------------------------------------------------- #
# closed-form statistics with SQL oracles (T2/T4/T6 statistic halves)
# --------------------------------------------------------------------------- #


_MDE_FORMULA = "(1.959963984540054 + 0.8416212335729143) * sd_raw * 2.0 / sqrt(n)"


@query(
    "welch_mde_by_event_type",
    f"""WITH lab AS (
         SELECT event_type, value,
                {P.portable_arm_sql(_DUCK_BUCKET, "0", 0.5)} AS arm
         FROM events WHERE value IS NOT NULL
       ), m AS (
         SELECT event_type,
                count(*) FILTER (arm = 'On') AS n_a,
                count(*) FILTER (arm = 'Off') AS n_b,
                avg(value) FILTER (arm = 'On') AS mean_a,
                avg(value) FILTER (arm = 'Off') AS mean_b,
                coalesce(var_samp(value) FILTER (arm = 'On'), 0.0) AS va_,
                coalesce(var_samp(value) FILTER (arm = 'Off'), 0.0) AS vb_
         FROM lab GROUP BY event_type
       ), w AS (
         SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                round(mean_a - mean_b, 6) AS mean_diff,
                round(sqrt(va_/n_a + vb_/n_b), 6) AS se,
                round((mean_a - mean_b) / sqrt(va_/n_a + vb_/n_b), 6) AS t_stat,
                round(pow(va_/n_a + vb_/n_b, 2)
                      / (pow(va_/n_a, 2)/(n_a-1) + pow(vb_/n_b, 2)/(n_b-1)), 6) AS dof
         FROM m WHERE n_a > 1 AND n_b > 1
       ), mm AS (
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                avg(value) AS mean_raw, stddev_samp(value) AS sd_raw
         FROM events
         WHERE value IS NOT NULL AND NOT isnan(value)
         GROUP BY event_type
       ), md AS (
         SELECT event_type, n,
                round(mean_raw, 6) AS mean_value,
                round(sd_raw, 6) AS sd,
                round(CASE WHEN n > 3 AND sd_raw > 0 THEN {_MDE_FORMULA} END, 6) AS mde_abs,
                round(CASE WHEN n > 3 AND sd_raw > 0 AND abs(mean_raw) > 0
                           THEN ({_MDE_FORMULA}) / abs(mean_raw) * 100.0 END, 4) AS mde_pct
         FROM mm
       )
       SELECT w.*, md.n, md.mean_value, md.sd, md.mde_abs, md.mde_pct
       FROM w JOIN md USING (event_type)""",
)
def welch_mde_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 + T11 + T9 per event_type in one result: Welch's t statistic on
    portable-hash-labeled events (SQL-expressible half; the t-tail p-value,
    which this query does not project, is validated against an independent
    numpy reference in tests/test_stats_reference.py) joined with the
    closed-form minimum detectable effect from the same moment pass — the
    normal-approximation half of the reference's ``tt_ind_solve_power`` sweeps
    (switchback_analysis.ipynb:462-709); exact-t solvers/curves live
    driver-side in ``design.power``."""
    from switchback_test_dag_spark.design.power import mde_closed_form_cols
    from switchback_test_dag_spark.stats.ttests import (
        _group_moments,
        welch_from_moments,
    )

    ev = load_table(spark, sf_dir, "events")
    labeled = ev.withColumn("arm", P.portable_arm(_SPARK_BUCKET, "0", 0.5))
    # ONE fact scan: the whole-group moments the MDE needs ride in the same
    # groupBy as the per-arm Welch moments (every row is On or Off, so the
    # unconditional aggregates see exactly mde_from_moments' clean rows)
    v = F.col("value").cast("double")
    m = _group_moments(
        labeled,
        "value",
        "arm",
        "On",
        "Off",
        by=["event_type"],
        extra_aggs=[
            F.count(F.lit(1)).alias("n"),
            F.avg(v).alias("mean_value"),
            F.stddev_samp(v).alias("sd"),
        ],
    )
    # filter the moments, not the Welch output: Catalyst pushes no filter
    # through the projection holding p_value's nondeterministic `reflect`,
    # so only this placement optimizes to the plan without the p column
    m = m.filter((F.col("n_a") > 1) & (F.col("n_b") > 1))
    w = welch_from_moments(m, ["event_type"], passthrough=["n", "mean_value", "sd"])
    return w.select(
        "event_type",
        "n_a",
        "n_b",
        F.round("mean_diff", 6).alias("mean_diff"),
        F.round("se", 6).alias("se"),
        F.round("t_stat", 6).alias("t_stat"),
        F.round("dof", 6).alias("dof"),
        "n",
        F.round("mean_value", 6).alias("mean_value"),
        F.round("sd", 6).alias("sd"),
        *mde_closed_form_cols(F.col("n"), F.col("sd"), F.col("mean_value")),
    )


@query(
    "crse_beta_se",
    f"""WITH lab AS (
         SELECT value AS y, {_DUCK_BUCKET} AS cluster,
                CASE WHEN {P.portable_arm_sql(_DUCK_BUCKET, "0", 0.5)} = 'On'
                     THEN 1.0 ELSE 0.0 END AS x
         FROM events WHERE value IS NOT NULL
       ), g AS (
         SELECT count(*) AS n, avg(x) AS xbar,
                avg(y) FILTER (x = 0.0) AS alpha,
                avg(y) FILTER (x = 1.0) - avg(y) FILTER (x = 0.0) AS beta
         FROM lab
       ), pc AS (
         SELECT cluster, sum((x - xbar) * (y - alpha - beta * x)) AS h
         FROM lab, g GROUP BY cluster, xbar, alpha, beta
       ), meat AS (
         SELECT sum(h * h) AS meat, count(*) AS n_clusters FROM pc
       )
       SELECT round(beta, 6) AS beta,
              round(sqrt((n_clusters * 1.0 / (n_clusters - 1)) * ((n - 1.0) / (n - 2))
                         * meat / pow(n * xbar * (1 - xbar), 2)), 6) AS se,
              CAST(n AS BIGINT) AS n, CAST(n_clusters AS BIGINT) AS n_clusters
       FROM g, meat""",
)
def crse_beta_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: cluster-robust OLS (CR1) beta and SE — the reference's recommended
    method — closed-form from two groupBys, value-diffed against the same
    algebra in SQL. dof/t/p halves are statsmodels-validated in tests."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "arm", P.portable_arm(_SPARK_BUCKET, "0", 0.5)
    ).withColumn("cluster", F.expr(_SPARK_BUCKET))
    r = crse_ols(ev, "value", "arm", "Off", "On", "cluster")
    return r.select(
        F.round("beta", 6).alias("beta"),
        F.round("se", 6).alias("se"),
        F.col("n").cast("long").alias("n"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
    )


# --------------------------------------------------------------------------- #
# assignment-strategy variants T15-T17 + split-balance T21
# --------------------------------------------------------------------------- #

_DUCK_BASE_ARM = P.portable_arm_sql("bucket", "0", 0.5)


_TC_UNIT = "concat(cast(bucket as string), '#', city)"


@query(
    "assign_spatial_battery",
    f"""WITH b AS (SELECT DISTINCT {_DUCK_BUCKET} AS bucket, event_type AS city FROM events),
       cp AS (SELECT city,
                     CASE WHEN city = 'error'
                          THEN (CASE WHEN {_DUCK_BASE_ARM} = 'On' THEN 'Off' ELSE 'On' END)
                          ELSE {_DUCK_BASE_ARM} END AS arm
              FROM b),
       tc AS (SELECT city, {P.portable_arm_sql(_TC_UNIT, "0", 0.5)} AS arm FROM b)
       SELECT 'counterpart' AS method, city, arm, count(*) AS n_buckets
       FROM cp GROUP BY city, arm
       UNION ALL
       SELECT 'time_city' AS method, city, arm, count(*) AS n_buckets
       FROM tc GROUP BY city, arm""",
)
def assign_spatial_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15 + T16 over the same distinct (bucket, city) frame, grain
    (method, city, arm): counterpart (mirrored) assignment — the designated
    counterpart city runs the inverted arm of the shared per-bucket assignment
    (counterpart_method.ipynb:358-373) — and independent assignment per
    (time unit, city) pair (counterpart_method.ipynb:376-383), where the
    seeded hash keys on the composite unit so two cities in the same bucket
    draw independently."""
    from switchback_test_dag_spark.plans.assignment import counterpart_assignment

    ev = load_table(spark, sf_dir, "events")
    units = ev.select(
        F.expr(_SPARK_BUCKET).alias("bucket"), F.col("event_type").alias("city")
    ).distinct()
    cp_arm = counterpart_assignment(P.portable_arm("bucket", "0", 0.5), "city", "error")
    cp = (
        units.withColumn("arm", cp_arm)
        .groupBy("city", "arm")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .select(F.lit("counterpart").alias("method"), "city", "arm", "n_buckets")
    )
    tc = (
        units.withColumn("arm", F.expr(P.portable_arm_sql(_TC_UNIT, "0", 0.5)))
        .groupBy("city", "arm")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .select(F.lit("time_city").alias("method"), "city", "arm", "n_buckets")
    )
    return cp.unionByName(tc)


@query(
    "counterpart_city_finder",
    f"""WITH m AS (
         SELECT {_DUCK_BUCKET} AS unit, event_type AS city, avg(value) AS m
         FROM events WHERE value IS NOT NULL GROUP BY unit, city
       ), p AS (
         SELECT a.city AS city, b.city AS counterpart,
                corr(a.m, b.m) AS corr_units,
                count(*) AS n_units,
                stddev_samp(a.m - b.m) AS diff_std
         FROM m a JOIN m b ON a.unit = b.unit AND a.city != b.city
         GROUP BY a.city, b.city
       ), r AS (
         SELECT *, row_number() OVER (
                  PARTITION BY city
                  ORDER BY round(corr_units, 6) DESC, counterpart) AS rk
         FROM p WHERE n_units >= 3 AND corr_units IS NOT NULL
       ), s AS (
         SELECT city, stddev_samp(m) AS city_std FROM m GROUP BY city
       )
       SELECT r.city, counterpart, round(corr_units, 6) AS corr_units,
              CAST(n_units AS BIGINT) AS n_units,
              round(diff_std, 6) AS diff_std,
              round(city_std, 6) AS city_std
       FROM r JOIN s ON r.city = s.city WHERE rk = 1""",
)
def counterpart_city_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed counterpart-city FINDER (counterpart_method.ipynb cells
    15-18 + 54-57): per-city hourly KPI means → pairwise Pearson correlations
    over shared time units → best counterpart per city, with the per-pair
    difference-std and per-city mean-std that rank the "best city mix". Feeds
    T15 (``assign_spatial_battery``'s counterpart arm). The pandas pivot +
    dense ``.corr()`` matrix is re-shaped as a self-equi-join on the unit key
    — see design/counterpart.py for the 100-TB rationale."""
    from switchback_test_dag_spark.design.counterpart import best_counterparts

    ev = load_table(spark, sf_dir, "events")
    best = best_counterparts(
        ev, F.expr(_SPARK_BUCKET), F.col("event_type"), "value", min_units=3
    )
    return best.select(
        "city",
        "counterpart",
        F.round("corr_units", 6).alias("corr_units"),
        "n_units",
        F.round("diff_std", 6).alias("diff_std"),
        F.round("city_std", 6).alias("city_std"),
    )


@query(
    "assign_zone_flip",
    f"""WITH lab AS (
         SELECT event_type AS zone, value,
                CASE WHEN event_type = 'click'
                     THEN (CASE WHEN ({_DUCK_BUCKET}) % 2 = 0 THEN 'Off' ELSE 'On' END)
                     ELSE (CASE WHEN ({_DUCK_BUCKET}) % 2 = 0 THEN 'On' ELSE 'Off' END)
                END AS arm
         FROM events WHERE value IS NOT NULL
       )
       SELECT zone, arm, CAST(count(*) AS BIGINT) AS n_events,
              round(avg(value), 6) AS mean_value
       FROM lab GROUP BY zone, arm""",
)
def assign_zone_flip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T17: 2-zone switchback flip — the designated zone runs the inverted
    status of the alternating bucket assignment, applied at fact-row grain
    (df_calc_func, deep_dive_analyses.ipynb:519-534)."""
    from switchback_test_dag_spark.plans.assignment import (
        alternating_assignment,
        zone_flip,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = alternating_assignment(F.expr(_SPARK_BUCKET))
    return (
        ev.select(
            F.col("event_type").alias("zone"),
            "value",
            zone_flip(base, F.col("event_type"), "click").alias("arm"),
        )
        .groupBy("zone", "arm")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("mean_value"),
        )
    )


@query(
    "split_balance_check",
    """WITH w AS (SELECT unnest([1, 4, 24]) AS window_hours),
       b AS (SELECT DISTINCT window_hours,
                    epoch_ns(ts) // (window_hours * 3600000000000) AS bucket
             FROM events, w),
       c AS (SELECT window_hours,
                    count(*) FILTER (bucket % 2 = 0) AS n_on,
                    count(*) FILTER (bucket % 2 != 0) AS n_off
             FROM b GROUP BY window_hours)
       SELECT window_hours, CAST(n_on AS BIGINT) AS n_on,
              CAST(n_off AS BIGINT) AS n_off,
              CAST(abs(n_on - n_off) AS BIGINT) AS imbalance
       FROM c""",
)
def split_balance_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21: split-balance check — On vs Off bucket counts (and their imbalance)
    per switchback window size under the alternating assignment
    (split_check_func, deep_dive_analyses.ipynb:2619). One scan: window sizes
    exploded against the event stream, buckets deduped per size."""
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.select(
            "ts_ns",
            F.explode(F.array(F.lit(1), F.lit(4), F.lit(24))).alias("window_hours"),
        )
        .select(
            "window_hours",
            F.expr("ts_ns div (window_hours * 3600000000000)").alias("bucket"),
        )
        .distinct()
    )
    n_on = F.count(F.when(F.pmod("bucket", F.lit(2)) == 0, 1)).alias("n_on")
    n_off = F.count(F.when(F.pmod("bucket", F.lit(2)) != 0, 1)).alias("n_off")
    return b.groupBy("window_hours").agg(n_on, n_off).select(
        "window_hours",
        "n_on",
        "n_off",
        F.abs(F.col("n_on") - F.col("n_off")).alias("imbalance"),
    )
