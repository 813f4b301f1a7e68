#!/usr/bin/env python
"""Synthesize a K×-scaled copy of a fixture directory for scale validation.

The driver ships fixtures up to sf0.1; every scale claim in SCALE.md beyond
that is extrapolated. This tool manufactures an sf1-equivalent directory by
replicating the sf0.1 FACT tables K times with join-consistent key offsets,
so `tools/scale_evidence.py` can measure a real 10× data point:

- customer/supplier/part scale with K exactly as TPC-H does (sf1 = 150k
  customers, not 15k customers with 10× orders each): every key column and
  every foreign-key reference (o_custkey, l_partkey, l_suppkey, events
  user_id) gets the same per-copy offset, so per-key join densities stay
  CONSTANT under scale-up — replicating without scaling the dims would make
  every per-key range join quadratically denser and measure the fixture
  artifact, not the plan.
- orders/lineitem: ``*_orderkey`` offset per copy (foreign keys preserved).
- events: event_id/user_id offset; ts unchanged (K× traffic per hour, same
  bucket cardinality — the switchback dimension that matters).
- documents: doc_id offset; per-(copy, doc) unique sentinel tokens prepended
  AND appended so replicas do NOT become cross-copy near-duplicates (a naive
  10× copy would quadratically inflate every dedup pair set and measure the
  blowup, not the operator) and no sentinel shingle is shared across docs
  (which would fan out the inverted-index joins).
- region, nation: byte-copied as-is.

Usage: python tools/make_scale.py [--src DIR] [--dst DIR] [--k 10]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from switchback_test_dag_spark.session import get_spark  # noqa: E402

FIXED_DIMS = ("region", "nation")
SCALED_DIMS = ("customer", "supplier", "part")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default=os.path.join(_REPO, ".scale", "sf1"))
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    spark = get_spark(app_name="make-scale")
    os.makedirs(args.dst, exist_ok=True)

    for t in FIXED_DIMS:
        shutil.copy(
            os.path.join(args.src, f"{t}.parquet"),
            os.path.join(args.dst, f"{t}.parquet"),
        )

    def key_base(name, col):
        return (
            spark.read.parquet(os.path.join(args.src, f"{name}.parquet"))
            .agg(F.max(col))
            .first()[0]
            + 1
        )

    def replicate(name, transform):
        src = spark.read.parquet(os.path.join(args.src, f"{name}.parquet"))
        copies = [transform(src, c) for c in range(args.k)]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.coalesce(8).write.mode("overwrite").parquet(
            os.path.join(args.dst, f"{name}.parquet")
        )

    def offsets(df, c, bases):
        for col, base in bases.items():
            df = df.withColumn(col, F.col(col) + F.lit(c * base))
        return df

    okey = key_base("orders", "o_orderkey")
    ckey = key_base("customer", "c_custkey")
    skey = key_base("supplier", "s_suppkey")
    pkey = key_base("part", "p_partkey")
    ukey = key_base("events", "user_id")
    ekey = key_base("events", "event_id")

    replicate("customer", lambda df, c: offsets(df, c, {"c_custkey": ckey}))
    replicate("supplier", lambda df, c: offsets(df, c, {"s_suppkey": skey}))
    replicate("part", lambda df, c: offsets(df, c, {"p_partkey": pkey}))
    replicate(
        "orders",
        lambda df, c: offsets(df, c, {"o_orderkey": okey, "o_custkey": ckey}),
    )
    replicate(
        "lineitem",
        lambda df, c: offsets(
            df, c, {"l_orderkey": okey, "l_partkey": pkey, "l_suppkey": skey}
        ),
    )
    def ev_copy(df, c):
        df = df.withColumn("event_id", F.col("event_id") + F.lit(c * ekey))
        if c == 0:
            return df
        # keep the low-cardinality joinable sliver (user_id ∈ [0,15), the
        # domain of the `o_custkey % 15 = user_id` range-join key) UN-offset
        # in every copy: a fixed-cardinality join key keeps its 15 values at
        # any scale, so the joinable events must scale with K alongside the
        # orders side (offsetting them — as this tool originally did — froze
        # the join volume at the copy-0 level and the range-join benchmark
        # stopped scaling). All other user_ids offset as before so distinct-
        # user counts still grow ~K×.
        return df.withColumn(
            "user_id",
            F.when(F.col("user_id") < 15, F.col("user_id")).otherwise(
                F.col("user_id") + F.lit(c * ukey)
            ),
        )

    replicate("events", ev_copy)

    dkey_base = (
        spark.read.parquet(os.path.join(args.src, "documents.parquet"))
        .agg(F.max("doc_id"))
        .first()[0]
        + 1
    )

    def doc_copy(df, c):
        df = df.withColumn("doc_id", F.col("doc_id") + F.lit(c * dkey_base))
        if c == 0:
            return df
        sentinel = F.concat_ws(
            " ",
            *[
                F.format_string(f"cp{c}s{i}d%d", F.col("doc_id"))
                for i in range(3)
            ],
        )
        return df.withColumn(
            "text", F.concat_ws(" ", sentinel, F.col("text"), sentinel)
        )

    replicate("documents", doc_copy)

    for t in FIXED_DIMS + SCALED_DIMS + ("orders", "lineitem", "events", "documents"):
        n = spark.read.parquet(os.path.join(args.dst, f"{t}.parquet")).count()
        print(f"{t}: {n}")


if __name__ == "__main__":
    main()
