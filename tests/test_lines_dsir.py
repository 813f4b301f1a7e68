"""Segment-level boilerplate removal (text/lines, CCNet-style):
hand-computed semantics, validation, plan shape, the CCNet stage-order pin
and empty inputs. (The module name dates from when it also tested DSIR
selection; it is kept so that these tests keep their ids.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from switchback_test_dag_spark.text import lines as L

ROWS = [
    (1, "a", ["nav bar", "alpha one", "beta two"]),
    (2, "a", ["nav bar", "gamma three", "alpha one"]),
    (3, "b", ["nav bar", "delta four", "nav bar"]),
    (4, "b", []),
]
SCHEMA = "doc_id long, source string, segs array<string>"


def _by_id(df):
    return {r["doc_id"]: r["segs"] for r in df.collect()}


def test_segment_df_counts_documents_not_occurrences(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = {r["segment"]: r["df"] for r in L.segment_df(df, "doc_id", "segs").collect()}
    # 'nav bar' appears twice inside doc 3 but df counts documents
    assert got["nav bar"] == 3 and got["alpha one"] == 2 and got["beta two"] == 1


def test_drop_boilerplate_thresholds_and_validation(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = _by_id(L.drop_boilerplate(df, "doc_id", "segs", min_df=3))
    assert got == {
        1: ["alpha one", "beta two"],
        2: ["gamma three", "alpha one"],  # df=2 segment survives everywhere
        3: ["delta four"],
        4: [],
    }
    # a threshold nothing reaches removes nothing
    intact = _by_id(L.drop_boilerplate(df, "doc_id", "segs", min_df=10))
    assert intact == {r[0]: r[2] for r in ROWS}
    with pytest.raises(ValueError, match="min_df"):
        L.drop_boilerplate(df, "doc_id", "segs", min_df=0)


def test_drop_boilerplate_plan_broadcasts_boiler_set(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    plan = (
        L.drop_boilerplate(df, "doc_id", "segs", min_df=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the anti join against the boilerplate set must be broadcast — the
    # corpus is never shuffled on segment for the removal itself
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_ccnet_order_scrub_before_dedup_is_load_bearing(spark):
    """The composed pipeline's stage order pin (CCNet, Wenzek et al. 2020):
    two documents that differ ONLY in boilerplate dedup together when
    scrubbing precedes fingerprinting, and leak through as duplicates when
    the order is flipped — the order is semantics, not style."""
    from switchback_test_dag_spark.text.dedup import exact_dedup

    B, X, Y = "cookie banner", "real content", "other words"
    rows = [(1, [B, X]), (2, [B, Y]), (3, [X]), (4, [B])]
    df = spark.createDataFrame(rows, "doc_id long, segs array<string>")

    def rebuilt(frame):
        return (
            frame.withColumn("text", F.concat_ws(" ", "segs"))
            .drop("segs")
            .filter(F.col("text") != "")
        )

    # CCNet order: scrub (B has df=3) -> fingerprint. Doc 1 collapses to
    # doc 3's text and the pair dedups to min id 1; doc 4 scrubs to nothing.
    ccnet = exact_dedup(
        rebuilt(L.drop_boilerplate(df, "doc_id", "segs", min_df=3)),
        "doc_id",
        "text",
    )
    assert sorted(r["doc_id"] for r in ccnet.collect()) == [1, 2]
    # flipped order: raw fingerprints all differ, so dedup keeps everything,
    # and scrubbing afterwards leaves docs 1 and 3 as UNCAUGHT duplicates
    flipped = rebuilt(
        L.drop_boilerplate(
            exact_dedup(df.withColumn("text", F.concat_ws(" ", "segs")),
                        "doc_id", "text").drop("text"),
            "doc_id",
            "segs",
            min_df=3,
        )
    )
    texts = [r["text"] for r in flipped.collect()]
    assert len(texts) != len(set(texts))  # duplicate leakage


def test_empty_frames_run_to_empty_not_crash(spark):
    """ANSI-mode hardening: zero-row corpora are routine at warehouse scale;
    the operators must run to empty output, never throw."""
    empty_docs = spark.createDataFrame([], SCHEMA)
    assert L.segment_df(empty_docs, "doc_id", "segs").count() == 0
    assert L.drop_boilerplate(empty_docs, "doc_id", "segs", 2).count() == 0
