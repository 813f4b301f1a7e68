"""Relational operator queries (SURVEY §2.2-§2.7) over the driver fixture tables,
each with a DuckDB oracle. Registered into ``queries.QUERIES`` on import.

Conventions: counts stay BIGINT on both engines (DuckDB ``count(...)`` not
``sum(case)``), doubles are rounded identically on both sides, timestamps are
output as epoch-second BIGINTs or DATE/strings (never raw timestamps — the events
fixture is ns-precision which Spark cannot represent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from switchback_test_dag_spark.io import load_table
from switchback_test_dag_spark.operators import relational as R
from switchback_test_dag_spark.plans.buckets import hr_interval
from switchback_test_dag_spark.exact import (
    spark_micro_sum,
    spark_wide_total_from_micro,
)
from switchback_test_dag_spark.queries import query


# --- J1/J2/A7: array build + explode round-trips --------------------------------


@query(
    "region_nation_explode_modes",
    """SELECT 'inner' AS mode, r_name, n_name
       FROM region JOIN nation ON r_regionkey = n_regionkey
       UNION ALL
       SELECT 'outer' AS mode, r.r_name, n.n_name
       FROM region r LEFT JOIN nation n
         ON r.r_regionkey = n.n_regionkey AND n.n_nationkey % 7 = 0""",
)
def region_nation_explode_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 + J2 in one result: CROSS JOIN UNNEST round-trip (mode='inner' —
    collect nations per region into an array, explode back, empty arrays drop
    the row; ELT.sql:14,51) unioned with LEFT JOIN UNNEST (mode='outer' —
    regions whose filtered array is empty survive with a NULL element;
    ELT.sql:15,52-53)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    def arrays(nat: DataFrame) -> DataFrame:
        return nat.groupBy("n_regionkey").agg(
            F.array_sort(F.collect_list("n_name")).alias("names")
        )

    inner = R.explode_drop_empty(
        region.join(arrays(nation), region.r_regionkey == F.col("n_regionkey")),
        "names",
        "n_name",
    ).select(F.lit("inner").alias("mode"), "r_name", "n_name")
    outer = R.explode_keep_empty(
        region.join(
            arrays(nation.filter(F.col("n_nationkey") % 7 == 0)),
            region.r_regionkey == F.col("n_regionkey"),
            "left",
        ),
        "names",
        "n_name",
    ).select(F.lit("outer").alias("mode"), "r_name", "n_name")
    return inner.unionByName(outer)


# --- W1/W3: windows --------------------------------------------------------------


@query(
    "supplier_dense_rank_tg",
    """SELECT s_name,
              'TG' || CAST(DENSE_RANK() OVER (PARTITION BY s_nationkey ORDER BY s_suppkey) AS VARCHAR) AS tg_name
       FROM supplier""",
)
def supplier_dense_rank_tg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: DENSE_RANK target-group naming (ELT.sql:36)."""
    supp = load_table(spark, sf_dir, "supplier")
    return supp.select(
        "s_name", R.dense_rank_name(["s_nationkey"], "s_suppkey").alias("tg_name")
    )


@query(
    "latest_event_per_user",
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us
       FROM events
       QUALIFY epoch_us(ts) = max(epoch_us(ts)) OVER (PARTITION BY user_id)""",
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: MAX() OVER + QUALIFY — newest row per key (propagation notebook
    surge-config versioning). µs precision on both engines (DuckDB reads the
    parquet ns timestamp µs-truncated)."""
    # integer `div`, NOT float division: ns epochs exceed double's 53-bit mantissa
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    return R.qualify_latest(ev, ["user_id"], "ts_us").select(
        "user_id", "event_id", "ts_us"
    )


# --- J6: semi/anti joins ---------------------------------------------------------


@query(
    "orders_semi_anti_join",
    """SELECT 'semi' AS which, o_orderpriority AS key, count(*) AS n,
              ((sum(CAST(round((o_totalprice) * 1000000) AS BIGINT)) + 5000) // 10000) / 100.0 AS total
       FROM orders
       WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
       GROUP BY o_orderpriority
       UNION ALL
       SELECT 'anti' AS which, o_orderstatus AS key, count(*) AS n,
              CAST(NULL AS DOUBLE) AS total
       FROM orders
       WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
       GROUP BY o_orderstatus""",
)
def orders_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 both halves: tuple semi-join (which='semi') replacing the reference's
    CONCAT-key IN-subquery, and its NOT-IN complement as a left-anti join
    (which='anti') — ELT.sql:337-352. Same broadcast keys frame feeds both."""
    orders = load_table(spark, sf_dir, "orders")
    rich = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    semi = (
        R.semi_join_on_keys(orders, rich, ["o_custkey"])
        .groupBy(F.col("o_orderpriority").alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            spark_micro_sum("o_totalprice").alias("total"),
        )
        .select(F.lit("semi").alias("which"), "key", "n", "total")
    )
    anti = (
        R.anti_join_on_keys(orders, rich, ["o_custkey"])
        .groupBy(F.col("o_orderstatus").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("anti").alias("which"),
            "key",
            "n",
            F.lit(None).cast("double").alias("total"),
        )
    )
    return semi.unionByName(anti)


# --- J5: equi + range (temporal/conditional) join --------------------------------


@query(
    "temporal_range_join",
    """WITH e AS (
         SELECT event_type, user_id,
                DATE '1995-01-01' + CAST((epoch_ns(ts) // 86400000000000) % 2400 AS INT) AS ev_date
         FROM events
       )
       SELECT e.event_type, count(*) AS n_pairs,
              ((sum(CAST(round((o.o_totalprice) * 1000000) AS BIGINT)) + 5000) // 10000) / 100.0 AS total
       FROM e JOIN orders o
         ON o.o_custkey % 15 = e.user_id
        AND CAST(o.o_orderdate AS DATE) BETWEEN e.ev_date - 2 AND e.ev_date + 2
       GROUP BY e.event_type""",
)
def temporal_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: mixed equi + BETWEEN join (orders ↔ target-group schedule semantics,
    ELT.sql:313-326). The equi key keeps it a hash join; the range predicate is
    applied post-probe. Event days are mapped into the orders era (the fixtures'
    eras are disjoint) so the range predicate genuinely selects.

    Scale shape, two structural moves (the oracle stays the NAIVE expanded
    join in DuckDB, so both are value-hash-verified, not assumed):

    1. The equi key ``o_custkey % 15 = user_id`` IMPLIES ``user_id ∈ [0, 15)``
       — a domain constraint Catalyst cannot derive, so it is pushed
       explicitly and prunes the events side to the joinable sliver at the
       scan (PushedFilters).
    2. AGGREGATE PUSHDOWN below the join: this shape's candidate volume grows
       ~K² under K× data (fixed-cardinality key — K× orders match K× events
       per key; the un-pushed expanded form measured 188 s at the 100× point),
       but the query only needs per-event-type totals, so orders are
       pre-aggregated to (key, order-date) grain carrying
       ``(n_orders, exact micro-unit sum)``. That grain is bounded by
       15 keys × distinct dates — INDEPENDENT of |orders| — which also makes
       it broadcastable forever: the join is a broadcast hash probe over the
       events sliver (parallelism tracks the events scan, no 15-reduce-task
       ceiling), each event row matching ≤ window-width date groups instead
       of every individual order. Totals are then weighted integer-exact
       sums, accumulated in DECIMAL(38,0) for K² headroom (BIGINT micro sums
       overflowed at 100×)."""
    ev_date = F.date_add(
        F.lit("1995-01-01").cast("date"),
        (F.expr("ts_ns div 86400000000000") % 2400).cast("int"),
    )
    ev = (
        load_table(spark, sf_dir, "events")
        # implied by the equi key: % 15 of a positive key lands in [0, 15)
        .filter(F.col("user_id").between(0, 14))
        .select(
            "event_type",
            "user_id",
            # window bounds computed ONCE per event row: the range predicate
            # is evaluated per PROBE PAIR, so any parse/arithmetic left
            # inside the condition multiplies by the candidate count
            F.date_sub(ev_date, 2).alias("win_lo"),
            F.date_add(ev_date, 2).alias("win_hi"),
        )
    )
    orders_agg = (
        load_table(spark, sf_dir, "orders")
        .select(
            (F.col("o_custkey") % 15).alias("jk"),
            F.to_date("o_orderdate").alias("o_date"),  # parse once per order
            F.expr("CAST(round(o_totalprice * 1000000, 0) AS BIGINT)").alias(
                "micro"
            ),
        )
        .groupBy("jk", "o_date")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("micro").alias("micro_sum"),
        )
    )
    cond = (
        (orders_agg.jk == ev.user_id)
        & orders_agg.o_date.between(ev.win_lo, ev.win_hi)
    )
    return (
        ev.join(broadcast(orders_agg), cond)
        .groupBy("event_type")
        .agg(
            F.sum("n_orders").cast("long").alias("n_pairs"),
            spark_wide_total_from_micro("micro_sum").alias("total"),
        )
    )


# --- J3/J8: multi-key joins + aggregation ---------------------------------------


@query(
    "revenue_by_segment",
    """SELECT c_mktsegment, count(*) AS n_lines,
              ((sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT)) + 5000) // 10000) / 100.0 AS revenue
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       GROUP BY c_mktsegment""",
)
def revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: chained multi-key equi left joins to dimensions, broadcast small side
    (ELT.sql:297-312)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            spark_micro_sum("l_extendedprice * (1 - l_discount)").alias("revenue"),
        )
    )


# --- P3/P4: filters and distinct -------------------------------------------------


@query(
    "filters_conjunctive",
    """SELECT p_type, count(*) AS n, ((sum(CAST(round((l_quantity) * 1000000) AS BIGINT)) + 5000) // 10000) / 100.0 AS qty
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         AND l_returnflag = 'R'
         AND p_name LIKE '%widget%'
         AND p_brand NOT LIKE 'Brand#1%'
         AND l_quantity BETWEEN 5 AND 45
       GROUP BY p_type""",
)
def filters_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: conjunctive pushdown-style predicates — date ≥, equality, LIKE,
    NOT LIKE, BETWEEN (ELT.sql:16-19,191-196,334-354)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_returnflag") == "R")
            & F.col("l_quantity").between(5, 45)
        )
        .join(broadcast(part), li.l_partkey == part.p_partkey)
        .filter(F.col("p_name").like("%widget%") & ~F.col("p_brand").like("Brand#1%"))
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            spark_micro_sum("l_quantity").alias("qty"),
        )
    )


@query(
    "distinct_status_priority",
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def distinct_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: SELECT DISTINCT dedup (ELT.sql:8,26,98,116)."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority"
    ).distinct()


# --- P7/A11: IQR outlier removal -------------------------------------------------


@query(
    "iqr_filtered_stats",
    """WITH b AS (
         SELECT l_returnflag,
                quantile_cont(l_extendedprice, 0.25) AS q1,
                quantile_cont(l_extendedprice, 0.75) AS q3
         FROM lineitem GROUP BY l_returnflag
       )
       SELECT l.l_returnflag, count(*) AS n, round(avg(l_extendedprice), 2) AS avg_price
       FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
       WHERE l.l_extendedprice BETWEEN q1 - 1.5 * (q3 - q1) AND q3 + 1.5 * (q3 - q1)
       GROUP BY l.l_returnflag""",
)
def iqr_filtered_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/A11: per-group IQR fence filter then stats
    (deep_dive_analyses.ipynb:2410-2414)."""
    li = load_table(spark, sf_dir, "lineitem")
    kept = R.iqr_filter(li, ["l_extendedprice"], by=["l_returnflag"])
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
    )


# --- A7: sorted string aggregation ----------------------------------------------


@query(
    "nation_csv_per_region",
    """SELECT r_regionkey, r_name, string_agg(n_name, ', ' ORDER BY n_name) AS nations
       FROM region JOIN nation ON r_regionkey = n_regionkey
       GROUP BY r_regionkey, r_name""",
)
def nation_csv_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 + P2: region re-materialized minus excluded columns (SELECT * EXCEPT
    — ``.drop('r_comment')``, ELT.sql:60,427-430), then ARRAY_AGG(... ORDER BY
    ...) + ARRAY_TO_STRING sorted-CSV aggregation (ELT.sql:61,140,395)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").drop("r_comment")  # P2
    return (
        region.join(nation, region.r_regionkey == nation.n_regionkey)
        .groupBy("r_regionkey", "r_name")
        .agg(R.string_agg_sorted("n_name", distinct=False).alias("nations"))
    )


# --- A12/A13/A15/F11: pivot + correlation + row-formula suite -------------------


@query(
    "lineitem_stats_suite",
    """SELECT l_returnflag,
              count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS F,
              count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS O,
              round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
              ((sum(CAST(round((CASE WHEN l_extendedprice >= 1000 THEN 0.0 ELSE 1000.0 - l_extendedprice END) * 1000000) AS BIGINT)) + 5000) // 10000) / 100.0 AS sof_total,
              round(avg(CASE WHEN l_discount = 0 THEN 1.0 ELSE 0.0 END), 6)
                  AS zero_discount_share
       FROM lineitem GROUP BY l_returnflag""",
)
def lineitem_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 + A13 + A15 + F11 over one lineitem scan per branch, joined on the
    group key: a real ``groupBy().pivot()`` linestatus matrix
    (propagation_effect_analysis.ipynb:483-484), column correlation
    (counterpart_method.ipynb:299), the small-order-fee formula
    IF(gfv − mov ≥ 0, 0, mov − gfv) (ELT.sql:264), and affected-row share via
    avg(indicator) (CI_for_different_datasets.ipynb:873).

    ONE fact scan: everything partial-aggregates at (flag, status) grain —
    counts, the corr moments (Σq Σp Σqp Σq² Σp²), the exact integer SOF micro
    sum, the zero-discount count — into a ≤6-row frame that is pinned and
    consumed twice: the genuine ``.pivot()`` operator re-shapes the counts
    (pivot AFTER aggregation — the scalable order), and a second tiny agg
    merges the partials to flag grain (integer sums merge exactly; corr comes
    from the merged moments). The old shape scanned lineitem once per branch."""
    from switchback_test_dag_spark.caching import pin

    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("double")
    p = F.col("l_extendedprice").cast("double")
    cell = pin(
        li.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(q).alias("sq"),
            F.sum(p).alias("sp"),
            F.sum(q * p).alias("sqp"),
            F.sum(q * q).alias("sq2"),
            F.sum(p * p).alias("sp2"),
            F.sum(
                F.expr(
                    "CAST(round((CASE WHEN l_extendedprice >= 1000 THEN 0.0"
                    " ELSE 1000.0 - l_extendedprice END) * 1000000, 0) AS BIGINT)"
                )
            ).alias("sof_micro"),
            F.sum(F.when(F.col("l_discount") == 0, 1.0).otherwise(0.0)).alias(
                "n_zero_disc"
            ),
        )
    )
    pv = R.pivot_matrix(cell, "l_returnflag", "l_linestatus", ["F", "O"], F.sum("n"))
    n, sq, sp = F.sum("n"), F.sum("sq"), F.sum("sp")
    cov_n = F.sum("sqp") - sq * sp / n
    var_q_n = F.sum("sq2") - sq * sq / n
    var_p_n = F.sum("sp2") - sp * sp / n
    stats = cell.groupBy("l_returnflag").agg(
        F.round(cov_n / F.sqrt(var_q_n * var_p_n), 6).alias("corr_qp"),
        # merged micro-unit partials: same half-up integer division as
        # exact.spark_micro_sum, so the value is bit-identical to the
        # single-level form
        (F.expr("(sum(sof_micro) + 5000) div 10000") / 100.0).alias("sof_total"),
        F.round(F.sum("n_zero_disc") / n, 6).alias("zero_discount_share"),
    )
    return pv.join(broadcast(stats), "l_returnflag")


# --- A9/A10: grouped std-error, two-level aggregation ---------------------------


@query(
    "events_scalar_suite",
    """WITH m AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
       SELECT event_type, count(value) AS n,
              round(stddev_samp(value), 6) AS sd,
              round(stddev_samp(value) / sqrt(count(value)), 6) AS sem,
              round(sum(value) / count(DISTINCT event_id), 6) AS value_per_event,
              round(avg(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)), 6) AS avg_k,
              round(avg((value - lo) / (hi - lo)), 6) AS avg_norm
       FROM events, m GROUP BY event_type""",
)
def events_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 + A4/O4 + F24 + JSON extraction, one events scan, grain event_type:
    grouped std / SEM (method_evaluation.ipynb:679-699), ratio-of-aggregates
    sum/ distinct count (deep_dive customer KPIs), global min-max normalization
    then per-group mean (deep_dive_analyses.ipynb:~2739 — two-phase broadcast
    of the 1-row bounds, no fact shuffle), and a typed field pulled from the
    JSON-ish props payload (regexp on both engines)."""
    ev = load_table(spark, sf_dir, "events")
    normed = R.minmax_normalize_global(ev, "value", "norm")
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("long")
    return normed.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.round(F.stddev_samp("value"), 6).alias("sd"),
        F.round(F.stddev_samp("value") / F.sqrt(F.count("value")), 6).alias("sem"),
        F.round(F.sum("value") / F.countDistinct("event_id"), 6).alias(
            "value_per_event"
        ),
        F.round(F.avg(k), 6).alias("avg_k"),
        F.round(F.avg("norm"), 6).alias("avg_norm"),
    )


@query(
    "bucket_means_two_level",
    """WITH b AS (
         SELECT event_type,
                CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket,
                avg(value) AS bucket_mean
         FROM events GROUP BY event_type, bucket
       )
       SELECT event_type, count(*) AS n_buckets,
              round(avg(bucket_mean), 6) AS mean_of_means,
              round(stddev_samp(bucket_mean), 6) AS sd_of_means
       FROM b GROUP BY event_type""",
)
def bucket_means_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 + F18: bucket means then mean/std across buckets — the time-unit
    aggregation at the heart of switchback inference
    (switchback_analysis.ipynb:~246-268)."""
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.withColumn(
            "bucket", (F.floor(F.col("ts_ns") / F.lit(3_600_000_000_000)) * 3600).cast("long")
        )
        .groupBy("event_type", "bucket")
        .agg(F.avg("value").alias("bucket_mean"))
    )
    return b.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.avg("bucket_mean"), 6).alias("mean_of_means"),
        F.round(F.stddev_samp("bucket_mean"), 6).alias("sd_of_means"),
    )


# --- O1/O2/O3: union slices → deterministic top-k --------------------------------


@query(
    "topk_union_customers",
    """WITH u AS (
         SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 200000
         UNION ALL
         SELECT o_custkey, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'
       )
       SELECT c_custkey, ((sum(CAST(round((o_totalprice) * 1000000) AS BIGINT)) + 5000) // 10000) / 100.0 AS spend, count(*) AS n_rows
       FROM u JOIN customer ON o_custkey = c_custkey
       GROUP BY c_custkey
       ORDER BY spend DESC, c_custkey LIMIT 10""",
)
def topk_union_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 + O2 + O3: pd.concat row-stack ≡ unionByName
    (automated_...py:147-150) feeding a deterministic ORDER BY + top-k slice
    with key tiebreak (random_choice_of_zones_question.ipynb:~104-110). Spark
    plans the sort+limit as TakeOrderedAndProject — per-partition heaps, no
    global sort of the aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    a = orders.filter(F.col("o_totalprice") > 200000)
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    u = a.select("o_custkey", "o_totalprice").unionByName(
        b.select("o_custkey", "o_totalprice")
    )
    return (
        u.join(broadcast(cust), u.o_custkey == cust.c_custkey)
        .groupBy("c_custkey")
        .agg(
            spark_micro_sum("o_totalprice").alias("spend"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy(F.desc("spend"), F.asc("c_custkey"))
        .limit(10)
    )


# --- F16-F20 + A8: time-derivation suite ----------------------------------------

_DUCK_HR = "FLOOR((hour(ts) + minute(ts)/60.0 + second(ts)/3600.0) / 0.5) * 0.5"


@query(
    "time_bucket_suite",
    f"""SELECT '[' || printf('%.2f', {_DUCK_HR})
              || ', ' || printf('%.2f', {_DUCK_HR} + 0.5)
              || ')' AS interval_label,
              count(*) AS n,
              count(DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d')) AS n_days,
              count(DISTINCT epoch_ns(ts) // 14400000000000) AS n_4h_buckets,
              ((sum(CAST(round((value) * 1000000) AS BIGINT)) + 5000) // 10000) / 100.0 AS total_value
       FROM events GROUP BY interval_label""",
)
def time_bucket_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16-F20 + A8 over one events scan, grain = half-open hour-of-day
    interval: pd.cut(right=False) labels as O(1) arithmetic
    (deep_dive_analyses.ipynb:371-462, fractional hour F20), per-label
    value_counts (A8), distinct calendar days (F16 date trunc), and distinct
    4-hour tumbling buckets (F18 dt.floor('4H') epoch arithmetic,
    method_evaluation.ipynb:~397)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(hr_interval("ts", 0.5).alias("interval_label")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.date_format("ts", "yyyy-MM-dd")).alias("n_days"),
        F.countDistinct(F.expr("ts_ns div 14400000000000")).alias("n_4h_buckets"),
        spark_micro_sum("value").alias("total_value"),
    )


# --- F1, F4-F6, F9-F11, F21, P9/P10: scalar-function suite over orders ----------

_DUCK_CUSTNUM = "CAST(regexp_extract(c_name, 'Customer#(\\d+)', 1) AS BIGINT)"


@query(
    "orders_scalar_suite",
    f"""SELECT dayname(o_orderdate) AS weekday,
              CAST(day(o_orderdate) % 2 AS BIGINT) AS even_day,
              CASE WHEN o_totalprice < 50000 THEN 'low'
                   WHEN o_totalprice < 150000 THEN 'mid'
                   ELSE 'high' END AS tier,
              count(*) AS n,
              ((2 * sum(CAST(round(o_totalprice * 100) AS BIGINT)) + count(*))
               // (2 * count(*))) / 100.0 AS avg_price,
              format('{{:,}}', CAST(round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)) AS BIGINT)) AS total_fmt,
              count(DISTINCT c_mktsegment || ' | ' || n_name) AS n_seg_nation,
              round(avg(CASE WHEN {_DUCK_CUSTNUM} % 2 = 0 THEN {_DUCK_CUSTNUM} END), 6) AS avg_even_cust_num
       FROM orders
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       GROUP BY weekday, even_day, tier""",
)
def orders_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function suite in one plan, grain (weekday, even_day, tier):
    FORMAT_DATE('%A') weekday name + MOD(day, 2) parity (F6/F9,
    ELT.sql:205,208,319), np.select multi-branch price tier (P9/P10,
    automated_...py:115-121), '{:,}' thousands formatting of grouped totals
    (F21, automated_...py:152-153 — exact decimal sum keeps the rounded total
    order-independent), CONCAT composite keys counted distinct (F1,
    ELT.sql:36,123,140,295), and regexp id extraction + MOD filter folded into
    a conditional mean (F4/F5, ELT.sql:72-90). Dimensions broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cust_num = F.regexp_extract("c_name", r"Customer#(\d+)", 1).cast("long")
    tier = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
    )
    total = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
    return (
        orders.join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.date_format("o_orderdate", "EEEE").alias("weekday"),
            (F.dayofmonth("o_orderdate") % 2).cast("long").alias("even_day"),
            tier.alias("tier"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            # integer-cents half-up mean: float-sum order (or a true .xx5 tie,
            # which Spark and DuckDB round differently on doubles) cannot move
            # the 2-decimal result
            (
                F.expr(
                    "(2 * sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
                    " + count(*)) div (2 * count(*))"
                )
                / 100.0
            ).alias("avg_price"),
            F.format_number(F.round(total, 0), 0).alias("total_fmt"),
            F.countDistinct(
                F.concat_ws(" | ", "c_mktsegment", "n_name")
            ).alias("n_seg_nation"),
            F.round(F.avg(F.when(cust_num % 2 == 0, cust_num)), 6).alias(
                "avg_even_cust_num"
            ),
        )
    )


# --- S2/S3/S6/P8: script runner, keep/drop flag ---------------------------------


_SCRIPT = """
DECLARE status_var ARRAY<STRING>;
SET status_var = ['F', 'O'];
-- stage 1: filtered projection (pushdown-friendly)
CREATE OR REPLACE TABLE stage_filtered AS
  SELECT o_orderpriority, o_totalprice FROM orders
  WHERE o_orderstatus IN UNNEST(status_var);
-- stage 2: aggregate over stage 1
CREATE OR REPLACE TABLE stage_agg AS
  SELECT o_orderpriority, count(*) AS n_orders,
         ((sum(CAST(round(o_totalprice * 1000000, 0) AS BIGINT)) + 5000) div 10000) / 100.0D AS total_price
  FROM stage_filtered GROUP BY o_orderpriority;
SELECT * FROM stage_agg
"""


@query(
    "sql_script_stages",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
              ((sum(CAST(round((o_totalprice) * 1000000) AS BIGINT)) + 5000) // 10000) / 100.0 AS total_price
       FROM orders WHERE o_orderstatus IN ('F', 'O')
       GROUP BY o_orderpriority""",
)
def sql_script_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S6: multi-statement script runner with DECLARE/SET array variables and
    staged CREATE OR REPLACE TABLE materialization (run_sql_queries.py:5-18,
    ELT.sql:3-4). The oracle is the fused single-statement equivalent — Catalyst
    collapses the temp-view chain to the same plan."""
    from switchback_test_dag_spark.sql_script import run_script

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return run_script(spark, _SCRIPT)


@query(
    "keep_drop_flag_clean",
    """WITH valid AS (
         SELECT string_agg(DISTINCT o_orderpriority || ' | ' || CAST(o_custkey % 400 AS VARCHAR), ', '
                           ORDER BY o_orderpriority || ' | ' || CAST(o_custkey % 400 AS VARCHAR)) AS combos
         FROM orders WHERE o_totalprice > 400000
       ), flagged AS (
         SELECT CASE WHEN v.combos LIKE '%' || (o.o_orderpriority || ' | ' || CAST(o.o_custkey % 400 AS VARCHAR)) || '%'
                     THEN 'Keep' ELSE 'Drop' END AS keep_drop_flag
         FROM orders o, valid v
       )
       SELECT keep_drop_flag, CAST(count(*) AS BIGINT) AS n_orders
       FROM flagged GROUP BY keep_drop_flag""",
)
def keep_drop_flag_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/A7: keep/drop flag built by LIKE-matching each row's composite key
    against a sorted string-agg of valid combos (ELT.sql:295,436-442 — the
    CONCAT-hack preserved for parity). This string is broadcast to EVERY row
    and grows with the distinct-combo count, so production cleaning should use
    the tuple semi-join instead (``orders_semi_anti_join``); a 16 MB in-plan
    bound fails fast if the combo set outgrows the exhibit's assumption
    (lazy ``raise_error`` — no extra job, fires inside the one aggregation)."""
    orders = load_table(spark, sf_dir, "orders")
    combo = F.concat_ws(
        " | ", F.col("o_orderpriority"), (F.col("o_custkey") % 400).cast("string")
    )
    raw_combos = F.array_join(F.array_sort(F.collect_set(combo)), ", ")
    valid = orders.filter(F.col("o_totalprice") > 400000).select(
        F.when(F.octet_length(raw_combos) <= 16 * 1024 * 1024, raw_combos)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "keep_drop_flag_clean: valid-combo string exceeds 16 MB ("
                    ),
                    F.octet_length(raw_combos).cast("string"),
                    F.lit(
                        " bytes); the CONCAT-LIKE parity exhibit broadcasts it "
                        "to every row — use the tuple semi-join "
                        "(orders_semi_anti_join) for combo sets this large"
                    ),
                )
            )
        )
        .alias("combos")
    )
    # the LIKE verdict depends only on the row's combo STRING, and orders
    # holds ~priorities×400 distinct combos vs 100k+ rows: aggregate to
    # (combo, count) first and run the O(|combos-string|) substring scan
    # once per DISTINCT combo, not once per row (guide §1.1 first-principles
    # pass count) — the weighted re-sum reproduces the per-row counts
    # exactly, including the hack's substring false-positives
    combo_counts = orders.groupBy(combo.alias("_combo")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        combo_counts.crossJoin(broadcast(valid))
        .select(
            F.when(F.col("combos").contains(F.col("_combo")), F.lit("Keep"))
            .otherwise(F.lit("Drop"))
            .alias("keep_drop_flag"),
            "_n",
        )
        .groupBy("keep_drop_flag")
        .agg(F.sum("_n").alias("n_orders"))
    )


@query(
    "orders_rollup_counts",
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
              coalesce(o_orderstatus, 'ALL') AS status,
              count(*) AS n,
              CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
       FROM orders
       GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""",
)
def orders_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotal rollup (priority → status → grand total) — the
    grouping-sets extension SURVEY §2.4 flags as available beyond the
    reference. One shuffle computes all three levels; NULL grouping keys are
    labeled 'ALL' so the output is oracle-comparable."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n",
            "n_customers",
        )
    )


@query(
    "events_asof_latest_order",
    """WITH o AS (
         SELECT o_custkey, epoch_us(o_orderdate) AS o_us,
                max(o_orderkey) AS o_orderkey,
                round(arg_max(o_totalprice, o_orderkey), 2) AS o_totalprice
         FROM orders GROUP BY o_custkey, o_us
       ), e AS (
         SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
       )
       SELECT e.event_id, e.user_id, e.ts_us, o.o_orderkey, o.o_totalprice
       FROM e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts_us >= o.o_us""",
)
def events_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the issuing customer's most recent order
    at-or-before the event time — the operator the brief's custom-op list
    names (Spark lacks ASOF JOIN; DuckDB's native ASOF is the oracle).
    Implemented as the union + sort-window composition
    (operators/relational.asof_join_backward): one shuffle on the key, no
    range-join pair explosion. Right side pre-deduped per (key, time) with a
    max-orderkey keeper so both engines' tie handling is pinned."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id"),
        F.expr("ts_ns div 1000").alias("ts_us"),
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey"),
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
            ).alias("o_us"),
        )
        .agg(
            F.max(F.struct("o_orderkey", "o_totalprice")).alias("_m"),
        )
        .select(
            "o_custkey",
            "o_us",
            F.col("_m.o_orderkey").alias("o_orderkey"),
            F.round("_m.o_totalprice", 2).alias("o_totalprice"),
        )
        .withColumnRenamed("o_custkey", "user_id")
    )
    joined = R.asof_join_backward(
        ev, orders, on="user_id", left_time="ts_us", right_time="o_us",
        right_cols=["o_orderkey", "o_totalprice"],
    )
    return joined.select("event_id", "user_id", "ts_us", "o_orderkey", "o_totalprice")


@query(
    "event_sessions",
    """WITH e AS (
         SELECT user_id, epoch_us(ts) AS us FROM events
       ), m AS (
         SELECT user_id, us,
                CASE WHEN us - lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
       ), s AS (
         SELECT user_id,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                                 ROWS UNBOUNDED PRECEDING) AS sid
         FROM m
       ), per_session AS (
         SELECT user_id, sid, count(*) AS n_events FROM s GROUP BY user_id, sid
       )
       SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
              CAST(max(n_events) AS BIGINT) AS max_session_events
       FROM per_session GROUP BY user_id""",
)
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: events within a 30-minute inactivity gap merge
    into one session (``session_window`` — dynamic-length windows merged by the
    aggregation itself, the streaming-ready form). The oracle is the classic
    gaps-and-islands lag/cumsum SQL; a new session starts when the gap is
    STRICTLY > 30 min — an event exactly at last+gap still merges (Spark
    extends the window while event_time <= previous end; boundary semantics
    pinned by tests/test_properties.py). One
    shuffle keyed on user; session merge is per-key sort logic."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    per_session = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.max("n_events").cast("long").alias("max_session_events"),
    )
