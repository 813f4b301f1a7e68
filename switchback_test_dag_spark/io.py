"""Fixture-table IO.

The driver provides deterministic parquet tables under ``/root/testdata/sf*/``
(TESTDATA.md): TPC-H-ish ``region nation customer supplier part orders lineitem``
plus ``events`` (timestamped stream), ``documents`` (text corpus) and ``embeddings``
(vector corpus). Every oracle-checked query in ``__spark_entry__.py`` reads these.

Reads are plain ``spark.read.parquet`` so Catalyst handles column pruning and filter
pushdown; at warehouse scale the same call targets partitioned parquet/iceberg paths
and partition pruning applies on date columns (SURVEY §4: keep ``created_date``
partitioning for the orders fact).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to the package-wide contract:
    a session-timezone µs ``ts`` TIMESTAMP plus an exact ``ts_ns`` long
    (ns since epoch), whatever physical type the parquet stores:

    - TIMESTAMP(NANOS) (older fixtures): Spark's reader rejects it unless
      ``spark.sql.legacy.parquet.nanosAsLong`` is set (Spark timestamps are µs);
      the exact ns survives as ``ts_ns`` and ``ts`` is floor-truncated to µs.
    - TIMESTAMP(MICROS, isAdjustedToUTC=true): native ``timestamp``;
      ``ts_ns = unix_micros(ts) * 1000``.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) (current fixtures): inferred as
      ``timestamp_ntz``. Sessions run with ``spark.sql.session.timeZone=UTC``
      (session.py), so the ntz→ltz cast maps the wall-clock to the same instant
      DuckDB's ``epoch_ns(ts)`` computes on the naive timestamp — bit-identical
      ``ts_ns`` in both engines.

    Any other ``ts`` dtype raises instead of silently skipping ``ts_ns``
    (which would surface much later as an unresolved-column error in every
    downstream query).
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt is None:
        return df
    if dt == "bigint":
        return df.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts",
            F.timestamp_micros(F.floor(F.col("ts") / F.lit(1000)).cast("long")),
        )
    if dt.startswith("timestamp"):
        if dt != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df.withColumn("ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000))
    raise TypeError(
        f"events.ts has unsupported dtype {dt!r}; expected bigint (ns) or a "
        "timestamp type"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table.

    ``events`` always exposes BOTH a µs ``ts`` timestamp and a ``ts_ns`` long
    (ns since epoch) via :func:`normalize_events_ts`. Downstream queries use
    either hour-level ``date_trunc`` (precision-insensitive) or exact ``ts_ns``
    integer math so Spark and the DuckDB oracle agree.
    """
    # session.get_spark pins this at build time; the guarded set here covers
    # externally-built sessions (the correctness driver constructs its own),
    # without re-issuing a conf write on every read
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    return df


# --------------------------------------------------------------------------- #
# atomic table materialization — the Delta/Iceberg-shaped sink boundary
# --------------------------------------------------------------------------- #
#
# The reference's warehouse gave it ACID CREATE OR REPLACE for free
# (data_extraction_queries_automated_script.sql:7,24 — every stage is a
# CREATE OR REPLACE TABLE); a bare Spark `mode("overwrite")` parquet write is
# NOT that: it deletes the old directory first, so a mid-write failure leaves
# a truncated "table" for the next reader. This section implements the
# public snapshot-pointer commit protocol those table formats use, in
# miniature:
#
#   <path>/v0000000001/        immutable version dirs (plain parquet)
#   <path>/v0000000002/
#   <path>/_CURRENT            one-line pointer file naming the live version
#
# A writer stages a FRESH version directory (never touching live files),
# verifies Spark's _SUCCESS commit marker, then flips _CURRENT via
# write-temp + fsync + os.replace — an atomic POSIX rename, so a reader
# either sees the old pointer or the new one, never a half-written table. A
# crash at ANY point before the pointer flip leaves the previous version
# live and intact (crash-sim pytest: tests/test_io.py). Old versions remain
# readable for in-flight jobs until `vacuum_versions`.
#
# The pointer flip is the only commit protocol: every write here goes
# through local ``os.*`` calls, where the rename is atomic.
# Single-writer-per-table is assumed (the reference pipeline is a daily
# Airflow task); concurrent writers are last-commit-wins, and a staging-dir
# numbering race fails loudly on the errorifexists write.

_CURRENT_PTR = "_CURRENT"
_VERSION_FMT = "v{:010d}"


def _version_dirs(path: str) -> list[int]:
    import re as _re

    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        m = _re.fullmatch(r"v(\d{10})", name)
        if m and os.path.isdir(os.path.join(path, name)):
            out.append(int(m.group(1)))
    return sorted(out)


def _commit_pointer(path: str, version: str) -> None:
    """Atomically flip <path>/_CURRENT to name ``version``: write a temp
    pointer, fsync it, os.replace over the live pointer (atomic on POSIX),
    then best-effort fsync the directory so the rename survives power loss."""
    import uuid as _uuid

    tmp = os.path.join(path, f".{_CURRENT_PTR}.{_uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        fh.write(version)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(path, _CURRENT_PTR))
    try:
        dfd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # directory fsync is a durability nicety, not correctness


def current_version(path: str) -> str | None:
    """The committed version name at ``path`` (None = nothing committed):
    the version the ``_CURRENT`` pointer names."""
    ptr = os.path.join(path, _CURRENT_PTR)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return fh.read().strip() or None


def atomic_overwrite(df: DataFrame, path: str, fmt: str = "parquet") -> str:
    """CREATE-OR-REPLACE ``path`` with ``df``, atomically: stage a fresh
    immutable version directory, verify Spark's ``_SUCCESS`` marker, then
    flip the ``_CURRENT`` pointer (atomic POSIX rename). Returns the
    committed version directory.

    Failure contract: a crash/kill at any point — mid-file, between files,
    even between _SUCCESS and the pointer flip — leaves the previously
    committed version live and byte-identical; the orphaned staging dir is
    swept by the next writer's numbering (max+1) and by
    :func:`vacuum_versions`. Readers via :func:`read_committed` never see a
    partial table."""
    os.makedirs(path, exist_ok=True)
    versions = _version_dirs(path)
    ver = _VERSION_FMT.format((versions[-1] + 1) if versions else 1)
    vdir = os.path.join(path, ver)
    # errorifexists: a version dir is immutable once created — a collision
    # means a concurrent writer raced this one; fail loudly instead of
    # corrupting its staging
    df.write.mode("errorifexists").format(fmt).save(vdir)
    if not os.path.exists(os.path.join(vdir, "_SUCCESS")):
        raise IOError(
            f"atomic_overwrite: staging write at {vdir} carries no _SUCCESS "
            "commit marker; refusing to flip the table pointer"
        )
    _commit_pointer(path, ver)
    return vdir


def read_committed(
    spark: SparkSession, path: str, fmt: str = "parquet", schema=None,
    version: str | None = None,
) -> DataFrame:
    """Read the COMMITTED version of an :func:`atomic_overwrite` table —
    resolves ``_CURRENT`` once at plan time, so the returned frame keeps
    reading its snapshot even if a writer commits a newer version mid-job
    (snapshot isolation, the reader half of the protocol).

    ``version`` pins a specific past snapshot instead (time travel — the
    same capability the Delta/Iceberg pointer protocol provides, bounded
    here by what :func:`vacuum_versions` has not yet deleted). Only
    versions at or before the committed pointer are readable: anything
    newer is an uncommitted staging dir from an in-flight or failed write
    and reading it would break the atomicity contract."""
    import re as _re

    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(
            f"read_committed: no committed version at {path} (no "
            f"{_CURRENT_PTR} pointer — never written, or only failed writes)"
        )
    if version is not None and not _re.fullmatch(r"v\d{10}", version):
        # the 'newer than committed' guard below compares names
        # LEXICOGRAPHICALLY; a non-canonical name like 'v1' would fall
        # through it and surface as a misleading error — reject it up front
        raise ValueError(
            f"read_committed: malformed version name {version!r}; expected "
            f"the canonical zero-padded form {_VERSION_FMT.format(1)!r}"
        )
    ver = version or cur
    if ver > cur:
        raise ValueError(
            f"read_committed: {ver} is newer than the committed pointer "
            f"{cur} — an uncommitted staging dir, not a snapshot"
        )
    if not os.path.isdir(os.path.join(path, ver)):
        raise FileNotFoundError(
            f"read_committed: version {ver} not found at {path} "
            "(vacuumed, or never committed)"
        )
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(os.path.join(path, ver))


def vacuum_versions(path: str, keep: int = 1) -> list[str]:
    """Delete superseded version dirs, keeping the current version plus the
    ``keep``-1 newest PREVIOUS versions (versions older than current —
    anything newer than the pointer is an orphaned staging dir from a failed
    write and is always swept, never counted against ``keep``). Returns the
    deleted dir names. Run it when no reader still holds a plan over an old
    snapshot — same operational contract as Delta's VACUUM."""
    import shutil as _shutil

    cur = current_version(path)
    names = [_VERSION_FMT.format(v) for v in _version_dirs(path)]
    survivors: set[str] = set()
    if cur is not None:
        survivors.add(cur)
        older = [n for n in names if n < cur]
        survivors.update(older[len(older) - max(keep - 1, 0):] if keep > 1 else [])
    deleted = []
    for name in names:
        if name not in survivors:
            _shutil.rmtree(os.path.join(path, name))
            deleted.append(name)
    return deleted
