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


def test_salted_join_equals_plain_join(spark):
    """salted_equi_join is a pure parallelism transform: identical multiset of
    output rows to the plain join (inner AND left, with a range
    extra_condition), while the shuffle keys gain the salt column — lifting
    the k-task ceiling a k-distinct-key join has on a big cluster."""
    from switchback_test_dag_spark.operators.relational import salted_equi_join

    left = spark.range(0, 20_000).select(
        (F.col("id") % 15).alias("k"),
        F.col("id").alias("lid"),
        (F.col("id") % 100).alias("lv"),
    )
    right = spark.range(0, 3_000).select(
        (F.col("id") % 20).alias("k"),  # keys 15..19 match nothing
        F.col("id").alias("rid"),
        (F.col("id") % 100).alias("rv"),
    )

    def rng(sl, sr):
        return F.abs(sl["lv"] - sr["rv"]) <= 3

    for how in ("inner", "left"):
        plain = left.join(
            right,
            (left["k"] == right["k"]) & (F.abs(left["lv"] - right["rv"]) <= 3),
            how,
        ).select(left["k"], "lid", "rid")
        salted = salted_equi_join(
            left, right, ["k"], salt=4, how=how, extra_condition=rng
        ).select("k", "lid", "rid")
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, salted.collect()))
        assert a == b, f"{how} join mismatch: {len(a)} vs {len(b)} rows"

    plan = salted_equi_join(left, right, ["k"], salt=4)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "_salt" in plan  # the shuffle key space is k × salt
