"""Date-partitioned fact layout — the partition-pruning strategy for the
orders fact (SURVEY §4: keep ``created_date`` partitioning at warehouse
scale; the reference's extraction scripts always carve by date).

A 100 TB orders fact read by a daily pipeline must not list or scan years of
history for a one-week query. Hive-style ``partitionBy`` on a derived month
(or day) column turns every date predicate into directory pruning at the
FILE LISTING — the plan shows it under ``PartitionFilters``, and the bytes
read track the queried window, not the table. Pinned by
``tests/test_plans.py::test_date_partitioned_orders_prunes``.

Partition-count hygiene: month grain bounds directory counts (~120 for a
10-year fact) while day grain on the same span creates ~3 650 — choose the
grain so partitions stay ≥ file-size targets; sub-partition skewed months by
bucketed files, not deeper directories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_date_partitioned(
    orders: DataFrame, path: str, date_col: str = "o_orderdate"
) -> None:
    """Write the orders fact partitioned by derived ``order_month``
    (yyyy-MM). The partition column is REDUNDANT with the row-level date —
    kept so row queries never need directory-name parsing, while range
    predicates prune directories."""
    (
        orders.withColumn(
            "order_month", F.date_format(F.to_date(date_col), "yyyy-MM")
        )
        .write.mode("overwrite")
        .partitionBy("order_month")
        .parquet(path)
    )


def read_month_range(
    spark: SparkSession, path: str, start_month: str, end_month: str
) -> DataFrame:
    """Scan a month window from the partitioned layout. The BETWEEN on the
    partition column is a literal string comparison (yyyy-MM sorts
    lexicographically), so it prunes at listing time — ``PartitionFilters``
    in the plan, zero data files touched outside the window."""
    return spark.read.parquet(path).filter(
        F.col("order_month").between(start_month, end_month)
    )


def write_time_clustered(
    events: DataFrame, path: str, ts_col: str = "ts", n_files: int = 16
) -> None:
    """Range-cluster the events fact by event time: ``repartitionByRange``
    puts each time slice in its own file and the within-partition sort makes
    every parquet row group's min/max ``ts`` stats TIGHT and files pairwise
    DISJOINT in time. A time-window predicate (the switchback access pattern
    — every bucket query is a ts range) then skips whole files/row groups on
    footer stats alone, without Hive partition directories: the
    finer-grained, directory-free complement to
    :func:`write_date_partitioned`, and the same reason warehouses Z-order
    their dominant filter column. Disjointness is asserted from the written
    footers in ``tests/test_plans.py``."""
    (
        events.repartitionByRange(n_files, F.col(ts_col))
        .sortWithinPartitions(ts_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def quantile_bin(col: str, bins) -> "F.Column":
    """Quantile-bin a numeric column against PRECOMPUTED ascending cut
    points (quantile bins keep the Z-curve uniform under skew, where
    min/max linear scaling would collapse): the bin index is the count of
    boundaries ≤ value — one codegen ``filter``/``cardinality`` pass,
    O(len(bins)) comparisons per row, write-time only. NULLs bin to 0
    (cluster at the curve's origin)."""
    lits = ", ".join(f"CAST({b!r} AS DOUBLE)" for b in bins)
    return F.expr(
        f"cast(cardinality(filter(array({lits}), "
        f"b -> b <= CAST({col} AS DOUBLE))) as bigint)"
    )


def zorder_interleave(bin_a: str, bin_b: str, bits: int = 8) -> "F.Column":
    """Morton key from two ``bits``-bit bin-index COLUMNS (bin once via
    :func:`quantile_bin`, then interleave — repeating the bin expression
    per bit would bloat the codegen tree 2·bits×): bit i of each bin lands
    at position 2i / 2i+1."""
    terms = []
    for i in range(bits):
        terms.append(f"shiftleft(shiftright({bin_a}, {i}) % 2, {2 * i})")
        terms.append(f"shiftleft(shiftright({bin_b}, {i}) % 2, {2 * i + 1})")
    return F.expr(" + ".join(terms))


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    bits: int = 8,
) -> None:
    """Z-ORDER the table on two filter columns — the multi-dimensional
    member of this layout family (the lakehouse technique Delta's OPTIMIZE
    ZORDER BY popularized, in plain parquet): values are quantile-binned
    per column (boundaries from ``approxQuantile`` — one bounded
    driver-side pass), bin indexes bit-interleaved into a Morton key, and the
    table range-partitioned + sorted on that key. Because the Morton curve
    preserves locality in BOTH dimensions, every file's (min, max) stats
    box is small in BOTH columns — so a predicate on EITHER column (or a
    2-D box) skips most files on footer stats, where single-column
    clustering (:func:`write_time_clustered`) prunes only its own column.
    File-skipping is measured, not asserted, in
    ``tests/test_plans.py::test_zorder_layout_prunes_both_dimensions``.

    Scale shape: one approxQuantile pass (driver gets 2·(2^bits − 1)
    doubles), one range-exchange on the key, codegen binning — no UDFs, no
    extra shuffle beyond the clustering exchange every layout write pays."""
    cuts = [i / (1 << bits) for i in range(1, 1 << bits)]
    bins_a, bins_b = (
        df.selectExpr(
            f"CAST({col_a} AS DOUBLE) AS a", f"CAST({col_b} AS DOUBLE) AS b"
        ).approxQuantile(["a", "b"], cuts, 0.001)
    )
    (
        df.withColumn("__za", quantile_bin(col_a, bins_a))
        .withColumn("__zb", quantile_bin(col_b, bins_b))
        .withColumn("__z", zorder_interleave("__za", "__zb", bits=bits))
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__za", "__zb", "__z")
        .write.mode("overwrite")
        .parquet(path)
    )
