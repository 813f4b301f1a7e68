"""Session-wide registry for operator-pinned persisted frames.

Several operators persist a small intermediate on purpose — either as a
CollapseProject barrier (dedup shingle frames) or because multiple consumers
would otherwise re-scan the fact table (counterpart means, shared simulation
moments). Those persists are load-bearing, but long-lived sessions (benchmark
loops, services) must be able to drop them: this registry tracks every pin so
callers can release everything after materializing a returned plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PINNED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for later release. Returns ``df``."""
    _PINNED.append(df)
    return df.persist()


def barrier(df: DataFrame) -> DataFrame:
    """Pin ``df`` AND truncate its logical plan: persist as usual, then
    return a frame rooted directly at the CacheManager's
    ``InMemoryRelation`` — a LEAF — so downstream transformations analyze an
    O(1) tree instead of re-walking — and, at self-joins, re-copying —
    the whole upstream lineage.

    Why this exists next to :func:`pin`: persist() keeps the full logical
    plan, so a frame consumed by several branches (shingle postings feeding a
    pair self-join; a scrubbed corpus feeding dedup AND stats) embeds its
    lineage once PER REFERENCE, and the analyzer's DeduplicateRelations pass
    then deep-copies one side of every such join — plan size and per-
    transformation analysis cost compound multiplicatively down a pipeline
    (measured: the composed cleaning query reached 5,459 plan operators and
    369 leaf scans, ~10 s of driver-side construction at sf0.1; with barriers
    at the multiplication points it is a few hundred operators). The barrier
    is evaluated per invocation — nothing survives across runs.

    Unlike a ``localCheckpoint`` barrier (the first-cut implementation,
    re-measured and rejected: +4 s executor CPU across the sf0.1 battery
    from its per-row defensive copies and serial eager subtree jobs), the
    re-rooted frame keeps persist()'s execution path bit-for-bit: nothing
    runs at construction, the cache materializes inside the one downstream
    action with normal stage pipelining, storage stays the columnar
    compressed cache, fault tolerance stays recompute-on-loss, and release
    is the ordinary ``unpersist`` — the registry holds the ORIGINAL
    persisted frame.

    The re-rooting reaches through py4j to ``CacheManager.lookupCachedData``
    and ``Dataset.ofRows`` (stable-in-practice internals): if the running
    Spark refuses, the plain persisted frame is returned — identical
    semantics, only the plan-size optimization is lost."""
    p = df.persist()
    _PINNED.append(p)
    try:
        spark = df.sparkSession
        jspark = spark._jsparkSession
        cached = jspark.sharedState().cacheManager().lookupCachedData(p._jdf)
        if cached.isDefined():
            jout = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                jspark, cached.get().cachedRepresentation()
            )
            return DataFrame(jout, spark)
    except Exception:  # noqa: BLE001 - fall back to the un-truncated pin
        pass
    return p


def release_all(blocking: bool = False) -> None:
    """Unpersist every pinned frame (all modules). Call after the plans built
    from them have been materialized (collect/count/write)."""
    while _PINNED:
        _PINNED.pop().unpersist(blocking)
