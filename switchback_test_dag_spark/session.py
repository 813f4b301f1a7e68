"""SparkSession factory tuned for the local[N] test/bench environment while keeping
cluster-scale defaults (AQE, shuffle-partition sizing) that hold on a real cluster.

At 100 TB the same settings apply except ``spark.sql.shuffle.partitions`` which should
track cluster cores (or be left to AQE's coalescing); everything else here is
scale-neutral.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "switchback-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults follow the host: ``local[N]`` with N = ``cpus``, else
    ``$SPARK_GRAFT_CPUS``, else the cores this process may run on
    (``os.sched_getaffinity``), and shuffle partitions matching that core
    count (not the 200 default, which produces tiny-partition overhead at
    local scale; on a real cluster AQE coalescing re-sizes at runtime anyway).
    """
    cpus = int(
        cpus
        or os.environ.get("SPARK_GRAFT_CPUS")
        or len(os.sched_getaffinity(0))
    )
    shuffle_partitions = int(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-size exchanges INSIDE persisted plans too: the dedup
        # operators pin small intermediates (shingle/posting frames) whose
        # materialized partition count otherwise freezes at the pre-AQE
        # width — every downstream aggregate/join task pays a fixed
        # buffer-setup cost, so a tiny corpus cached at full width burns
        # ~30x the executor CPU of the AQE-coalesced layout (measured; see
        # OPTIMIZATION_r13.md). Scale-neutral: large inputs keep their
        # width (coalescePartitions.parallelismFirst).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the events fixture stores TIMESTAMP(NANOS) which Spark cannot represent;
        # read as long (ns since epoch) and convert in io.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
