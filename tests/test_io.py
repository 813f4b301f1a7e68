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


def test_csv_roundtrip_flat_fixture_tables(spark, sf_dir, tmp_path):
    """CSV interchange: a flat fixture table written with write_csv_table and
    read back under its explicit schema is row-for-row identical — including
    NULL vs empty-string (the \\N convention) and embedded
    quotes/commas/newlines (quoted + multiLine read)."""
    from switchback_test_dag_spark.io import (
        load_table,
        read_csv_table,
        write_csv_table,
    )

    for name in ("nation", "orders"):
        src = load_table(spark, sf_dir, name)
        p = str(tmp_path / f"{name}_csv")
        write_csv_table(src, p)
        back = read_csv_table(spark, p, src.schema)
        assert back.schema == src.schema
        a = sorted(map(tuple, src.collect()))
        b = sorted(map(tuple, back.collect()))
        assert a == b, name

    # hostile flat rows: NULL vs '', embedded comma/quote/newline
    rows = [
        (1, None, 3.5),
        (2, "", -0.25),
        (3, 'comma, quote " and\nnewline', 0.0),
        (4, "\\N literal backslash-N text", None),
    ]
    hostile = spark.createDataFrame(rows, "id long, s string, x double")
    p = str(tmp_path / "hostile_csv")
    write_csv_table(hostile, p)
    back = read_csv_table(spark, p, hostile.schema)
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_csv_backslash_n_literal_collides_with_null(spark, tmp_path):
    """The documented limitation of the \\N NULL convention (io.py header):
    a string field whose WHOLE value is exactly the two characters
    backslash-N is emitted unquoted and read back as NULL — indistinguishable
    from a true NULL after one round trip. Values merely containing \\N
    survive (covered by the hostile-rows test). This pin asserts the
    limitation stays exactly this narrow, and that JSONL — the documented
    escape hatch for such data — round-trips the same value faithfully."""
    from switchback_test_dag_spark.io import (
        read_csv_table,
        read_jsonl_table,
        write_csv_table,
        write_jsonl_table,
    )

    rows = [(1, "\\N"), (2, None), (3, "x\\N"), (4, "\\Nx")]
    df = spark.createDataFrame(rows, "id long, s string")

    p = str(tmp_path / "nul_csv")
    write_csv_table(df, p)
    back = {r.id: r.s for r in read_csv_table(spark, p, df.schema).collect()}
    assert back[1] is None  # the collision: literal "\N" became NULL
    assert back[2] is None
    assert back[3] == "x\\N" and back[4] == "\\Nx"  # containment is safe

    pj = str(tmp_path / "nul_jsonl")
    write_jsonl_table(df, pj)
    backj = {r.id: r.s for r in read_jsonl_table(spark, pj, df.schema).collect()}
    assert backj[1] == "\\N" and backj[2] is None  # JSONL keeps them distinct


def test_csv_rejects_nested_and_failfast_rejects_malformed(spark, sf_dir, tmp_path):
    from switchback_test_dag_spark.io import (
        load_table,
        read_csv_table,
        write_csv_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="jsonl_table"):
        write_csv_table(emb, str(tmp_path / "nope"))

    # FAILFAST: a row whose type cannot be parsed must abort the read
    bad_dir = tmp_path / "bad_csv"
    bad_dir.mkdir()
    (bad_dir / "part-000.csv").write_text("id,x\n1,2.5\nnot_a_long,3.0\n")
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        read_csv_table(spark, str(bad_dir), "id long, x double").collect()


def test_jsonl_roundtrip_nested_and_events(spark, sf_dir, tmp_path):
    """JSONL interchange: nested data (embeddings array<float>) and the
    ts-normalized events contract survive a write/read round trip under the
    explicit schema."""
    from switchback_test_dag_spark.io import (
        load_table,
        read_jsonl_table,
        write_jsonl_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    p = str(tmp_path / "emb_jsonl")
    write_jsonl_table(emb, p)
    back = read_jsonl_table(spark, p, emb.schema)
    assert back.schema == emb.schema
    a = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    b = {r["vec_id"]: r["embedding"] for r in back.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == b[k], k  # float values bit-exact through JSON text

    ev = load_table(spark, sf_dir, "events")  # carries ts timestamp + ts_ns
    p = str(tmp_path / "ev_jsonl")
    write_jsonl_table(ev, p)
    back = read_jsonl_table(spark, p, ev.schema)
    a = sorted((r["event_id"], r["ts_ns"], r["ts"]) for r in ev.collect())
    b = sorted((r["event_id"], r["ts_ns"], r["ts"]) for r in back.collect())
    assert a == b


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


def test_run_script_materializes_stages_atomically(spark, sf_dir, tmp_path):
    """run_script(materialize_dir=...): CREATE OR REPLACE TABLE stages land
    as committed snapshot tables, downstream statements read the committed
    files, and re-running replaces each stage atomically (version 2)."""
    from switchback_test_dag_spark.io import (
        current_version,
        load_table,
        read_committed,
    )
    from switchback_test_dag_spark.sql_script import run_script

    for name in ("region", "nation"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    script = """
    CREATE OR REPLACE TABLE proj.ds.stage1 AS
      SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey;
    SELECT r_name, n FROM stage1 JOIN region ON n_regionkey = r_regionkey;
    """
    out = run_script(spark, script, materialize_dir=str(tmp_path))
    assert out.count() == 5
    assert current_version(str(tmp_path / "stage1")) == "v0000000001"
    run_script(spark, script, materialize_dir=str(tmp_path))
    assert current_version(str(tmp_path / "stage1")) == "v0000000002"
    assert read_committed(spark, str(tmp_path / "stage1")).count() == 5


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


def test_read_committed_time_travel(spark, tmp_path):
    """version= pins a past snapshot (time travel within un-vacuumed
    versions); versions newer than the pointer are refused as uncommitted
    staging, vacuumed versions raise FileNotFoundError."""
    import os

    import switchback_test_dag_spark.io as sio

    path = str(tmp_path / "tbl")
    for v in (1, 2):
        sio.atomic_overwrite(spark.createDataFrame([(v,)], "id long"), path)
    assert {r.id for r in sio.read_committed(spark, path).collect()} == {2}
    old = sio.read_committed(spark, path, version="v0000000001")
    assert {r.id for r in old.collect()} == {1}
    # staging dir newer than the pointer is not a snapshot
    os.makedirs(os.path.join(path, "v0000000003"))
    with pytest.raises(ValueError, match="uncommitted staging"):
        sio.read_committed(spark, path, version="v0000000003")
    sio.vacuum_versions(path)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        sio.read_committed(spark, path, version="v0000000001")


def test_read_committed_rejects_malformed_version_name(spark, tmp_path):
    """A non-canonical version name ('v1' instead of zero-padded) must fail
    loudly as malformed — the lexicographic newer-than-pointer guard would
    otherwise classify it as an uncommitted staging dir, a misleading
    error for what is really a caller typo."""
    import switchback_test_dag_spark.io as sio

    path = str(tmp_path / "tbl")
    sio.atomic_overwrite(spark.createDataFrame([(1,)], "id long"), path)
    with pytest.raises(ValueError, match="malformed version name"):
        sio.read_committed(spark, path, version="v1")

