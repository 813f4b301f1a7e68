"""The events ``ts`` contract: whatever physical timestamp type the parquet
stores, ``load_table`` exposes a µs ``ts`` TIMESTAMP plus an exact ``ts_ns``
long. Round 3's driver run failed on exactly this — the fixture moved to
TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 infers as
``timestamp_ntz``, and the old dtype dispatch silently skipped ``ts_ns``."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from switchback_test_dag_spark.io import load_table, normalize_events_ts

_EPOCH_NS = 1_500_000_123_456_789_000  # 2017-07-14T02:42:03.456789 UTC


def test_fixture_events_expose_ts_and_ts_ns(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    dtypes = dict(ev.dtypes)
    assert dtypes["ts"] == "timestamp"
    assert dtypes["ts_ns"] == "bigint"
    row = ev.select(
        (F.col("ts_ns") - F.unix_micros("ts") * F.lit(1000)).alias("sub_us_ns")
    ).agg(F.min("sub_us_ns"), F.max("sub_us_ns")).first()
    # ts is the floor-truncation of ts_ns to µs: residue within [0, 1000) ns
    assert 0 <= row[0] and row[1] < 1000


@pytest.mark.parametrize("physical", ["ntz", "ltz", "bigint_ns"])
def test_normalize_events_ts_all_physical_types(spark, physical):
    naive = dt.datetime(2017, 7, 14, 2, 42, 3, 456789)
    if physical == "bigint_ns":
        df = spark.createDataFrame([(_EPOCH_NS,)], "ts bigint")
    elif physical == "ntz":
        df = spark.createDataFrame([(naive,)], "ts timestamp_ntz")
    else:
        df = spark.createDataFrame([(naive,)], "ts timestamp")
    out = normalize_events_ts(df)
    dtypes = dict(out.dtypes)
    assert dtypes["ts"] == "timestamp"
    assert dtypes["ts_ns"] == "bigint"
    row = out.select("ts_ns", F.unix_micros("ts").alias("us")).first()
    # session tz is UTC, so every physical type lands on the same instant
    assert row["us"] == _EPOCH_NS // 1000
    assert row["ts_ns"] == _EPOCH_NS if physical == "bigint_ns" else _EPOCH_NS // 1000 * 1000


def test_normalize_events_ts_rejects_unknown_dtype(spark):
    df = spark.createDataFrame([("2017-07-14",)], "ts string")
    with pytest.raises(TypeError, match="unsupported dtype"):
        normalize_events_ts(df)


def test_atomic_overwrite_roundtrip_and_vacuum(spark, tmp_path):
    """Snapshot-pointer sink basics: commit, replace, snapshot isolation of
    an already-planned reader, vacuum of superseded versions."""
    from switchback_test_dag_spark.io import (
        atomic_overwrite,
        current_version,
        read_committed,
        vacuum_versions,
    )

    path = str(tmp_path / "tbl")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    atomic_overwrite(v1, path)
    assert current_version(path) == "v0000000001"
    old_reader = read_committed(spark, path)  # plans against v1's snapshot

    v2 = spark.createDataFrame([(3, "c")], "id long, s string")
    atomic_overwrite(v2, path)
    assert current_version(path) == "v0000000002"
    assert {r.id for r in read_committed(spark, path).collect()} == {3}
    # snapshot isolation: the pre-commit reader still sees version 1
    assert {r.id for r in old_reader.collect()} == {1, 2}

    deleted = vacuum_versions(path)
    assert deleted == ["v0000000001"]
    assert {r.id for r in read_committed(spark, path).collect()} == {3}


def test_atomic_overwrite_crash_leaves_old_table_live(spark, tmp_path, monkeypatch):
    """Crash simulations: a writer that dies at ANY stage before the pointer
    flip — partial staging files, a complete-but-unmarked staging dir, or a
    kill between the _SUCCESS check and the pointer write — leaves the
    previously committed version exactly readable, and a retry succeeds."""
    import os

    import switchback_test_dag_spark.io as sio

    path = str(tmp_path / "tbl")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    sio.atomic_overwrite(v1, path)

    # crash A: killed mid-write — a partial staging dir with some files and
    # no _SUCCESS (simulated directly: Spark can't be killed between files
    # in-process, but the reader-side contract only depends on the on-disk
    # state a kill leaves behind)
    part = os.path.join(path, "v0000000002")
    os.makedirs(part)
    with open(os.path.join(part, "part-00000.parquet"), "wb") as fh:
        fh.write(b"\x00" * 10)  # truncated garbage, as a kill would leave
    assert sio.current_version(path) == "v0000000001"
    assert {r.id for r in sio.read_committed(spark, path).collect()} == {1, 2}

    # crash B: killed between the staging write and the pointer flip
    real_commit = sio._commit_pointer

    def dying_commit(p, v):
        raise RuntimeError("killed before pointer flip")

    monkeypatch.setattr(sio, "_commit_pointer", dying_commit)
    v2 = spark.createDataFrame([(9, "z")], "id long, s string")
    with pytest.raises(RuntimeError):
        sio.atomic_overwrite(v2, path)
    assert sio.current_version(path) == "v0000000001"
    assert {r.id for r in sio.read_committed(spark, path).collect()} == {1, 2}

    # retry after the crash commits cleanly (fresh version number, the two
    # orphaned staging dirs are skipped, then vacuumable)
    monkeypatch.setattr(sio, "_commit_pointer", real_commit)
    sio.atomic_overwrite(v2, path)
    assert {r.id for r in sio.read_committed(spark, path).collect()} == {9}
    deleted = set(sio.vacuum_versions(path))
    assert "v0000000002" in deleted and "v0000000001" in deleted


def test_vacuum_keep_counts_previous_committed_not_orphans(spark, tmp_path):
    """vacuum_versions(keep=2) keeps the current version plus ONE previous
    committed version; an orphaned staging dir NEWER than the pointer never
    counts against keep and is always swept."""
    import os

    import switchback_test_dag_spark.io as sio

    path = str(tmp_path / "tbl")
    for v in (1, 2, 3):
        sio.atomic_overwrite(
            spark.createDataFrame([(v,)], "id long"), path
        )
    # roll the pointer back to v2 by hand-committing, then plant an orphan v4
    sio._commit_pointer(path, "v0000000002")
    os.makedirs(os.path.join(path, "v0000000004"))
    deleted = set(sio.vacuum_versions(path, keep=2))
    # keep: v2 (current) + v1 (one previous); sweep v3 (superseded-newer is
    # not "previous") and v4 (orphan)
    assert deleted == {"v0000000003", "v0000000004"}
    assert {r.id for r in sio.read_committed(spark, path).collect()} == {2}


def test_atomic_overwrite_refuses_version_collision(spark, tmp_path, monkeypatch):
    """Two writers computing the SAME next-version number (simulated with a
    stale directory listing): the second staging write fails loudly at
    errorifexists on the immutable version dir — it never corrupts the other
    writer's staging or flips the pointer. A raced dir that is VISIBLE at
    numbering time is instead skipped (max+1), covered by the crash tests."""
    import switchback_test_dag_spark.io as sio

    path = str(tmp_path / "tbl")
    sio.atomic_overwrite(spark.createDataFrame([(1,)], "id long"), path)
    sio.atomic_overwrite(spark.createDataFrame([(2,)], "id long"), path)
    # stale listing: this writer believes only v1 exists, so it targets the
    # v2 directory the other writer already committed
    monkeypatch.setattr(sio, "_version_dirs", lambda p: [1])
    with pytest.raises(Exception, match="(?i)already exists"):
        sio.atomic_overwrite(spark.createDataFrame([(9,)], "id long"), path)
    assert sio.current_version(path) == "v0000000002"
    assert {r.id for r in sio.read_committed(spark, path).collect()} == {2}
