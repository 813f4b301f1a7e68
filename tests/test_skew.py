"""Skewed-key robustness: the reference's real data is heavily skewed (one
dataset dwarfs the others — CI_for_different_datasets.ipynb:80-92, FP_TW ≫
PY_CR), so the package's join shapes must survive a hot key. The gate:
**AQE skew-join splitting engages** on the J3-shaped fact⋈dim equi-join when
one key holds half the fact (plan assertion on the finalized adaptive plan:
``skew=true``). At 100 TB the mitigation for equi-joins is exactly this config
path — no hand-salting required — so the test pins that the session's AQE
settings actually fire, with thresholds scaled down to fixture size the way
production scales them to executor memory.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F

_SKEW_CONFS = {
    # thresholds scaled to fixture size (production: defaults sized to
    # executor memory); factor 2 so the hot partition qualifies vs the median
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffled path
}


@contextmanager
def _skew_confs(spark):
    old = {k: spark.conf.get(k, None) for k in _SKEW_CONFS}
    for k, v in _SKEW_CONFS.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _finalized_plan(df) -> str:
    # collect() executes THIS DataFrame's queryExecution (count() would build
    # a separate plan and leave this one un-finalized, isFinalPlan=false)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_aqe_splits_hot_key_fact_join(spark):
    """J3 shape: multi-row fact joined to a per-key dim, one zone holding 50%
    of the fact. The finalized plan must show skew-split sort-merge sides."""
    with _skew_confs(spark):
        fact = (
            spark.range(0, 120_000)
            .withColumn(
                "zone",
                F.when(F.col("id") % 2 == 0, F.lit("hot")).otherwise(
                    F.concat(F.lit("z"), (F.col("id") % 40).cast("string"))
                ),
            )
            # incompressible per-row payload: shuffle partition sizes are
            # measured on COMPRESSED bytes, so a constant payload would let
            # the hot partition duck under the skew threshold
            .withColumn(
                "payload", F.md5(F.col("id").cast("string"))
            )
        )
        dim = (
            spark.range(0, 41)
            .select(
                F.when(F.col("id") == 40, F.lit("hot"))
                .otherwise(F.concat(F.lit("z"), F.col("id").cast("string")))
                .alias("zone"),
                (F.col("id") * 10).alias("zone_attr"),
            )
        )
        joined = fact.join(dim, "zone").select("zone", "payload", "zone_attr")
        plan = _finalized_plan(joined)
        assert "skew=true" in plan, "AQE skew-join split did not engage"
        # sanity: the join result is still exact under the split
        assert fact.join(dim, "zone").count() == 120_000
