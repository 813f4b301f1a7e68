"""Relational ELT primitives — Spark-first re-expressions of the reference's
BigQuery operators (SURVEY §2.2-§2.7). Each function cites the statement it
re-expresses in ``/root/reference/sql_queries/data_extraction_queries_automated_script.sql``
(abbreviated ``ELT.sql``).

Design notes for scale:
- semi-joins are expressed on real key tuples (never CONCAT'd strings, which break
  column statistics and pushdown — SURVEY §4 anti-pattern note on ELT.sql:140,337);
- small dimensions are broadcast-hinted;
- QUALIFY is window-column + filter (Catalyst prunes the extra column).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def explode_keep_empty(df: DataFrame, array_col: str, out_col: str) -> DataFrame:
    """J2: ``LEFT JOIN UNNEST(array)`` — rows with empty/NULL arrays survive with a
    NULL element (ELT.sql:15,52-53,159-161)."""
    return df.withColumn(out_col, F.explode_outer(array_col))


def explode_drop_empty(df: DataFrame, array_col: str, out_col: str) -> DataFrame:
    """J1: ``CROSS JOIN UNNEST(array)`` — empty/NULL arrays drop the row
    (ELT.sql:14,51,107-108)."""
    return df.withColumn(out_col, F.explode(array_col))


def dense_rank_name(
    partition_cols: Sequence[str], order_col: str, prefix: str = "TG"
) -> Column:
    """W1: target-group naming ``'TG' || DENSE_RANK() OVER (PARTITION BY entity,
    test ORDER BY vendor_group_id)`` (ELT.sql:36)."""
    w = Window.partitionBy(*partition_cols).orderBy(order_col)
    return F.concat(F.lit(prefix), F.dense_rank().over(w).cast("string"))


def qualify_latest(
    df: DataFrame, partition_cols: Sequence[str], version_col: str
) -> DataFrame:
    """W3: ``MAX(version) OVER (PARTITION BY keys) ... QUALIFY version = max`` —
    keep only the newest config version per key (propagation_effect notebook
    surge-config query). QUALIFY ≈ window column + filter in Spark."""
    w = Window.partitionBy(*partition_cols)
    return (
        df.withColumn("_max_version", F.max(version_col).over(w))
        .filter(F.col(version_col) == F.col("_max_version"))
        .drop("_max_version")
    )


def string_agg_sorted(col: str, distinct: bool = True, sep: str = ", ") -> Column:
    """A7: ``ARRAY_TO_STRING(ARRAY_AGG(DISTINCT x ORDER BY x), ', ')`` — sorted
    CSV aggregation (ELT.sql:61,140,395). Deterministic under any partitioning
    because the collected set is sorted before joining."""
    collected = F.collect_set(col) if distinct else F.collect_list(col)
    return F.array_join(F.array_sort(collected), sep)


def semi_join_on_keys(
    df: DataFrame, keys_df: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """J6: the reference filters facts with ``CONCAT(k1,'|',k2) IN (SELECT DISTINCT
    CONCAT(...))`` (ELT.sql:337-352); re-expressed as a broadcast left-semi join on
    the actual key tuple so pushdown/statistics survive."""
    return df.join(broadcast(keys_df.select(*keys).distinct()), on=list(keys), how="left_semi")


def anti_join_on_keys(
    df: DataFrame, keys_df: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Complement of J6 (NOT IN exclusion lists, ELT.sql:345-346)."""
    return df.join(broadcast(keys_df.select(*keys).distinct()), on=list(keys), how="left_anti")


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    probs: Sequence[float],
    by: Sequence[str] = (),
    out_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Exact interpolated quantiles (``percentile``/``quantile_cont``
    semantics) with BOUNDED executor memory — the warehouse-scale form.

    Spark's builtin exact ``percentile`` buffers a value→count map of the
    entire group inside one aggregation buffer, so a single large group can
    OOM an executor no matter how many are available (measured locally: it
    is also the cost center of the IQR query — near-unique doubles compress
    nothing). This computes the same numbers from scalable primitives only:

    1. map-side-combinable ``groupBy(by, value)`` count — duplicates collapse
       here, so heavy ties cost one row, not one buffered entry each;
    2. a running-sum window (``RANGE UNBOUNDED PRECEDING`` — streaming O(1)
       frame over an external, spillable sort) assigns each distinct value
       its cumulative 1-indexed end position;
    3. per requested ``p``, the two neighbor positions of rank
       ``p·(n−1)`` (0-indexed, exactly the builtin's definition) are picked
       by a conditional aggregate (each matches exactly one row) and
       interpolated as ``lo + (rank − floor(rank))·(hi − lo)`` — exactly
       DuckDB ``quantile_cont``'s form (the driver oracle), and within 1 ulp
       of Spark's builtin ``percentile`` (whose symmetric
       ``(1−frac)·lo + frac·hi`` form can differ in the last bit for
       non-dyadic probs).

    NULL *values* are ignored like the builtin; empty groups yield no row.
    NULL *group keys* form a group of their own (window partitions and
    ``groupBy`` both keep NULL as a key), matching
    ``groupBy(by).agg(percentile(...))``. Returns one row per group with
    ``out_cols`` (default ``q0, q1, ...``) as DOUBLE. With ``by`` empty the
    running-sum window has no partition keys and runs as one task.
    """
    if out_cols is None:
        out_cols = [f"q{i}" for i in range(len(probs))]
    vals = df.filter(F.col(value_col).isNotNull()).select(*by, value_col)
    # Two exchanges, deliberately. The distinct-count aggregate keys on
    # (by, value) — HIGH cardinality — so its hash exchange spreads the
    # raw-row scan over every core with map-side tie-collapse; the
    # window's (by) exchange then moves only the already-distinct rows.
    # A shared single exchange on the GROUP keys alone (hash-partition
    # first, reuse for aggregate + windows + final agg) was tried and
    # REVERTED: with low-cardinality ``by`` it lands all raw rows on
    # ≤|groups| tasks, so the heavy aggregate loses its parallelism and
    # its partial (map-side) reduction — measured at 100× scale
    # (sf10, back-to-back same-window A/B): executor CPU 78 → 112 s,
    # wall 14 → 24 s for the IQR query. The second exchange is the
    # cheap one (distinct rows only); the aggregate's width is what
    # scales.
    counts = vals.groupBy(*by, value_col).agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy(*by).orderBy(value_col)
    cum = counts.withColumn("_cum", F.sum("_c").over(w))
    # _n per group is the group's LAST cumulative count — a second
    # window over the same partitioning (already sorted; no new
    # exchange). The previous counts→totals aggregation re-evaluated
    # the whole distinct-count scan a second time and joined it back.
    joined = cum.withColumn("_n", F.max("_cum").over(Window.partitionBy(*by)))
    v = F.col(value_col).cast("double")
    prev = F.col("_cum") - F.col("_c")
    # Only a row whose (prev, _cum] position span contains some requested
    # neighbor position can contribute a non-NULL value to the conditional
    # aggregates below — every other distinct value feeds NULL into every
    # max() and only inflates the aggregate's input (measured at sf0.1: the
    # final aggregate scanned all 594k cumsum rows and shuffled 5.5 MB for
    # ≤4 useful rows per group). The predicate is row-local over
    # _cum/_c/_n, so it evaluates inside the window stage and the final
    # exchange carries only the neighbor rows; results are identical. Each
    # group keeps ≥1 row (every neighbor position lies in [1, n]), so
    # min(_n) and the per-prob maxes see exactly the rows they used to
    # match.
    keep = F.lit(False)
    aggs = [F.min("_n").alias("_n")]
    for i, p in enumerate(probs):
        rank = F.lit(float(p)) * (F.col("_n") - 1)  # 0-indexed, builtin's def
        lo_pos = F.floor(rank) + 1  # 1-indexed multiset positions
        hi_pos = F.ceil(rank) + 1
        keep = keep | ((prev < lo_pos) & (lo_pos <= F.col("_cum")))
        keep = keep | ((prev < hi_pos) & (hi_pos <= F.col("_cum")))
        aggs.append(
            F.max(F.when((prev < lo_pos) & (lo_pos <= F.col("_cum")), v)).alias(
                f"_lo{i}"
            )
        )
        aggs.append(
            F.max(F.when((prev < hi_pos) & (hi_pos <= F.col("_cum")), v)).alias(
                f"_hi{i}"
            )
        )
    gb = joined.filter(keep).groupBy(*by).agg(*aggs)
    out = []
    for i, p in enumerate(probs):
        rank = F.lit(float(p)) * (F.col("_n") - 1)
        frac = rank - F.floor(rank)
        out.append(
            (
                F.col(f"_lo{i}")
                + frac * (F.col(f"_hi{i}") - F.col(f"_lo{i}"))
            ).alias(out_cols[i])
        )
    return gb.select(*by, *out)


def iqr_bounds(
    df: DataFrame, value_cols: Sequence[str], by: Sequence[str] = ()
) -> DataFrame:
    """P7 (half 1): per-group [q1 − 1.5·IQR, q3 + 1.5·IQR] bounds per KPI
    (deep_dive_analyses.ipynb:2410-2414). Quartiles come from
    :func:`exact_quantiles` — exact ``percentile`` numbers without the
    builtin's whole-group aggregation buffer (the 100 TB hazard).

    Single-pass at any KPI width: the KPI columns are MELTED
    (``stack`` → one (group, kpi, value) row each), quantiled in ONE
    ``exact_quantiles`` pass over ``(by..., _kpi)``, and pivoted back to the
    wide ``{kpi}_lo/{kpi}_hi`` fence frame — so the reference's 13-KPI IQR
    cleaning costs one quantile pipeline, not 13 (the pivot's value list is
    ``value_cols``, so no extra distinct scan and a stable schema)."""
    assert value_cols, "iqr_bounds needs at least one value column"
    pairs = ", ".join(f"'{c}', cast(`{c}` as double)" for c in value_cols)
    melted = df.select(
        *by, F.expr(f"stack({len(value_cols)}, {pairs}) as (_kpi, _v)")
    )
    q = exact_quantiles(
        melted,
        "_v",
        [0.25, 0.75],
        by=[*by, "_kpi"],
        out_cols=["_q1", "_q3"],
    )
    q1, q3 = F.col("_q1"), F.col("_q3")
    fenced = q.select(
        *by,
        "_kpi",
        (q1 - 1.5 * (q3 - q1)).alias("lo"),
        (q3 + 1.5 * (q3 - q1)).alias("hi"),
    )
    return fenced.groupBy(*by).pivot("_kpi", list(value_cols)).agg(
        F.first("lo").alias("lo"), F.first("hi").alias("hi")
    )


def iqr_filter(
    df: DataFrame, value_cols: Sequence[str], by: Sequence[str] = ()
) -> DataFrame:
    """P7: drop rows outside the IQR fence on *every* KPI (NULLs survive, matching
    pandas comparison semantics). Bounds are broadcast back — one extra scan, no
    row-level sort. LEFT join: a group whose rows are NULL in every KPI gets no
    bounds row (exact_quantiles drops empty groups), and its rows must survive
    via the NULL-passes coalesce below, not vanish in an inner join."""
    bounds = iqr_bounds(df, value_cols, by)
    joined = df.join(broadcast(bounds), on=list(by), how="left") if by else df.crossJoin(
        broadcast(bounds)
    )
    cond = F.lit(True)
    for c in value_cols:
        in_fence = F.col(c).between(F.col(f"{c}_lo"), F.col(f"{c}_hi"))
        cond = cond & F.coalesce(in_fence, F.lit(True))
    drop_cols = [f"{c}_{s}" for c in value_cols for s in ("lo", "hi")]
    return joined.filter(cond).drop(*drop_cols)


def minmax_normalize_global(df: DataFrame, col: str, out_col: str) -> DataFrame:
    """F24 (global): two-phase — tiny min/max aggregate broadcast back onto the
    frame. Scales: the agg is a map-side-combined reduce, the join is a broadcast
    nested-loop of a 1-row table (no shuffle of the fact)."""
    bounds = df.agg(F.min(col).alias("_lo"), F.max(col).alias("_hi"))
    norm = F.when(
        F.col("_hi") != F.col("_lo"),
        (F.col(col) - F.col("_lo")) / (F.col("_hi") - F.col("_lo")),
    ).otherwise(F.lit(0.0))
    return df.crossJoin(broadcast(bounds)).withColumn(out_col, norm).drop("_lo", "_hi")


def pivot_matrix(
    df: DataFrame,
    row_col: str,
    pivot_col: str,
    pivot_values: Sequence[str],
    agg: Column,
) -> DataFrame:
    """A12: ``groupBy(row).pivot(col, values).agg(...)`` — zone×weekday matrices
    (propagation_effect_analysis.ipynb:483-484). Explicit ``pivot_values`` avoids
    the extra distinct-scan job and keeps the output schema stable."""
    return df.groupBy(row_col).pivot(pivot_col, list(pivot_values)).agg(agg)


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_cols: Sequence[str],
) -> DataFrame:
    """As-of join (backward): attach to each left row the right row with the
    greatest ``right_time`` ≤ ``left_time`` within the same ``on`` key.

    Spark has no ASOF JOIN; the naive range join explodes to every earlier
    right row per left row before aggregating. This composition is the
    scalable form: tag both inputs, ``unionByName`` them, and carry right
    values forward with ``last(ignorenulls)`` over one (key, time)-sorted
    window — a single shuffle on the key, O(n log n) sort per key partition,
    no pair blow-up. At equal timestamps the right row sorts first, making the
    match at-or-before inclusive. Right input must be unique per (key, time)
    for deterministic output (pre-aggregate if not). The right columns travel
    as ONE struct through the window — a single ``last(ignorenulls)`` — so every
    output row's right values come from the same matched right row even when
    individual right columns are NULL (no cross-row tearing). ``left`` must not
    already contain any of ``right_cols`` (checked)."""
    overlap = set(right_cols) & set(left.columns)
    if overlap:
        raise ValueError(
            f"asof_join_backward: left already contains right_cols {sorted(overlap)}"
        )
    r = right.select(
        F.col(on).alias(on),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in right_cols]).alias("_rvals"),
    )
    l = left.withColumn("_t", F.col(left_time)).withColumn("_side", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(on)
        .orderBy("_t", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.withColumn("_rvals", F.last("_rvals", ignorenulls=True).over(w))
    out = u.filter(F.col("_side") == 1)
    for c in right_cols:
        out = out.withColumn(c, F.col("_rvals")[c])
    return out.drop("_t", "_side", "_rvals")

