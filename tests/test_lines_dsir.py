"""Segment-level dedup (text/lines, CCNet-style) and DSIR importance
weights (text/dsir): hand-computed semantics, determinism, plan shape, and
in-process DuckDB replays of the portable forms."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from switchback_test_dag_spark.text import dsir as DS
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


def test_dedup_segments_keep_first_semantics(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = _by_id(L.dedup_segments(df, "doc_id", "segs"))
    assert got == {
        1: ["nav bar", "alpha one", "beta two"],  # first occurrences all here
        2: ["gamma three"],
        3: ["delta four"],  # both 'nav bar' copies lost (doc 1 owns it)
        4: [],  # empty input preserved as empty output
    }
    # other columns pass through
    out = L.dedup_segments(df, "doc_id", "segs")
    assert set(out.columns) == {"doc_id", "source", "segs"}


def test_dedup_segments_partition_invariant(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    a = _by_id(L.dedup_segments(df, "doc_id", "segs"))
    b = _by_id(L.dedup_segments(df.repartition(7), "doc_id", "segs"))
    assert a == b


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


def test_dedup_segments_plan_single_segment_exchange_no_join(spark):
    """Scale pin: the only segment-keyed stage is the map-side-combined min
    agg — exactly ONE exchange on the segment key, preceded by a partial_min,
    and NO join keyed on the segment (the agg output IS the survivor set), so
    a billion-occurrence boilerplate segment can never pile onto one task."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    plan = (
        L.dedup_segments(df, "doc_id", "segs")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("hashpartitioning(_lseg_seg") == 1
    assert "partial_min" in plan
    # the one join in the plan is the doc-keyed reassembly left join; nothing
    # joins on the segment key
    for line in plan.splitlines():
        if "Join" in line:
            assert "_lseg_seg" not in line, line


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


def _dsir_fixture(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark table join join"),
            (2, "cat dog mouse bird"),
            (3, "spark table"),
            (4, None),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame([("spark table join",)], "text string")
    return docs, target


def test_dsir_weights_rank_target_like_docs_higher(spark):
    docs, target = _dsir_fixture(spark)
    w = {
        r["doc_id"]: r["log_weight"]
        for r in DS.dsir_log_weights(
            docs, target, "doc_id", "text", n_buckets=64, portable=True
        ).collect()
    }
    # NULL/empty texts are unscored; in-domain docs beat the out-of-domain one
    assert set(w) == {1, 2, 3}
    assert w[3] > w[2] and w[1] > w[2]


def test_dsir_portable_and_fast_hash_agree_on_ordering(spark):
    docs, target = _dsir_fixture(spark)

    def order(portable):
        rows = DS.dsir_log_weights(
            docs, target, "doc_id", "text", n_buckets=1024, portable=portable
        ).collect()
        return [r["doc_id"] for r in sorted(rows, key=lambda r: -r["log_weight"])]

    # with enough buckets the two hash families induce the same ranking on
    # clearly-separated docs (bucket collisions differ; the signal should not)
    assert order(True) == order(False)


def test_dsir_replays_in_duckdb(spark):
    docs, target = _dsir_fixture(spark)
    got = {
        r["doc_id"]: round(r["log_weight"], 6)
        for r in DS.dsir_log_weights(
            docs, target, "doc_id", "text", n_buckets=64, portable=True
        ).collect()
    }
    con = duckdb.connect()
    con.register("corpus", docs.toPandas())
    toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"
    want = {
        r[0]: round(r[1], 6)
        for r in con.execute(
            f"""
WITH tk AS (SELECT doc_id, {toks} AS toks FROM corpus),
g AS (
  SELECT doc_id, list_concat(toks,
    CASE WHEN len(toks) >= 2 THEN
      [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks) - 1)]
    ELSE CAST([] AS VARCHAR[]) END) AS grams
  FROM tk
), e AS (
  SELECT doc_id, ('0x' || substring(md5(unnest(grams)), 1, 15))::BIGINT % 64 AS b
  FROM g
), dc AS (SELECT doc_id, b, count(*) AS c FROM e GROUP BY doc_id, b),
spine AS (SELECT unnest(generate_series(0, 63)) AS b),
raw_n AS (SELECT spine.b, coalesce(sum(dc.c), 0) AS n FROM spine LEFT JOIN dc USING (b) GROUP BY spine.b),
tgt_n AS (
  SELECT spine.b, coalesce(sum(dc.c) FILTER (WHERE dc.doc_id IN (1, 3)), 0) AS n
  FROM spine LEFT JOIN dc USING (b) GROUP BY spine.b
), dl AS (
  SELECT raw_n.b,
         ln((tgt_n.n + 1) / ((SELECT sum(n) FROM tgt_n) + 64))
       - ln((raw_n.n + 1) / ((SELECT sum(n) FROM raw_n) + 64)) AS dl
  FROM raw_n JOIN tgt_n USING (b)
)
SELECT dc.doc_id, sum(dc.c * dl.dl) FROM dc JOIN dl USING (b) GROUP BY dc.doc_id
"""
        ).fetchall()
    }
    # target here = docs 1 and 3's text: "spark table join join" + "spark table"
    tgt2 = spark.createDataFrame(
        [("spark table join join",), ("spark table",)], "text string"
    )
    got2 = {
        r["doc_id"]: round(r["log_weight"], 6)
        for r in DS.dsir_log_weights(
            docs, tgt2, "doc_id", "text", n_buckets=64, portable=True
        ).collect()
    }
    assert got2 == want and len(want) == 3
    assert set(got) == set(want)


def test_dsir_fixed_point_weights_are_exact_integer_sums(spark):
    """fixed_point_scale makes the weight an integer Σ c_b·dl_fp — the
    order-independent form contracts rank on. Verify against the float path
    (same ordering, value within quantization error) and replay the integer
    weights exactly in DuckDB."""
    docs, target = _dsir_fixture(spark)
    fp = {
        r["doc_id"]: r["log_weight_fp"]
        for r in DS.dsir_log_weights(
            docs, target, "doc_id", "text", n_buckets=64, portable=True,
            fixed_point_scale=1_000_000,
        ).collect()
    }
    fl = {
        r["doc_id"]: r["log_weight"]
        for r in DS.dsir_log_weights(
            docs, target, "doc_id", "text", n_buckets=64, portable=True
        ).collect()
    }
    assert set(fp) == set(fl)
    for d, w in fp.items():
        assert isinstance(w, int)
        # within quantization error: each gram contributes <= 0.5e-6 rounding
        assert abs(w / 1e6 - fl[d]) < 1e-4
    con = duckdb.connect()
    con.register("corpus", docs.toPandas())
    toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"
    want = dict(
        con.execute(
            f"""
WITH tk AS (SELECT doc_id, {toks} AS toks FROM corpus),
g AS (
  SELECT doc_id, list_concat(toks,
    CASE WHEN len(toks) >= 2 THEN
      [array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks) - 1)]
    ELSE CAST([] AS VARCHAR[]) END) AS grams
  FROM tk
), e AS (
  SELECT doc_id, ('0x' || substring(md5(unnest(grams)), 1, 15))::BIGINT % 64 AS b
  FROM g
), dc AS (SELECT doc_id, b, count(*) AS c FROM e GROUP BY doc_id, b),
spine AS (SELECT unnest(generate_series(0, 63)) AS b),
raw_n AS (SELECT spine.b, coalesce(sum(dc.c), 0) AS n FROM spine LEFT JOIN dc USING (b) GROUP BY spine.b),
tgt_n AS (
  SELECT spine.b, coalesce(sum(dc.c) FILTER (WHERE dc.doc_id IN (1, 3)), 0) AS n
  FROM spine LEFT JOIN dc USING (b) GROUP BY spine.b
), dl AS (
  SELECT raw_n.b,
         CAST(round((ln((tgt_n.n + 1) / ((SELECT sum(n) FROM tgt_n) + 64))
                   - ln((raw_n.n + 1) / ((SELECT sum(n) FROM raw_n) + 64))) * 1000000)
              AS BIGINT) AS dl
  FROM raw_n JOIN tgt_n USING (b)
)
SELECT dc.doc_id, CAST(sum(dc.c * dl.dl) AS BIGINT) FROM dc JOIN dl USING (b) GROUP BY dc.doc_id
"""
        ).fetchall()
    )
    tgt2 = spark.createDataFrame(
        [("spark table join join",), ("spark table",)], "text string"
    )
    got2 = {
        r["doc_id"]: r["log_weight_fp"]
        for r in DS.dsir_log_weights(
            docs, tgt2, "doc_id", "text", n_buckets=64, portable=True,
            fixed_point_scale=1_000_000,
        ).collect()
    }
    assert got2 == want
    with pytest.raises(ValueError, match="fixed_point_scale"):
        DS.dsir_log_weights(
            docs, target, "doc_id", "text", fixed_point_scale=0
        ).collect()


def _select_fixture(spark):
    """40 docs, two sources; every third doc is target-like."""
    rows = [
        (
            i,
            "a" if i % 2 else "b",
            "spark table join query plan" if i % 3 == 0
            else "cat dog mouse bird fish tree",
        )
        for i in range(1, 41)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    target = spark.createDataFrame(
        [("spark table join",), ("query plan spark",)], "text string"
    )
    return docs, target


def test_dsir_select_semantics_and_determinism(spark):
    docs, target = _select_fixture(spark)
    kw = dict(k=4, strata=["source"], n_buckets=64, portable=True, seed=29)
    sel = DS.dsir_select(docs, target, "doc_id", "text", **kw)
    rows = sel.collect()
    # exactly k per stratum, and the selected set is overwhelmingly the
    # target-like docs (their importance weight is ~2^20x the off-domain ones)
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert sorted(len(v) for v in by_src.values()) == [4, 4]
    target_like = sum(1 for r in rows if r["doc_id"] % 3 == 0)
    assert target_like == len(rows)  # plenty of target-like docs per source
    assert set(sel.columns) == {"source", "doc_id", "log_weight_fp", "weight"}
    # membership is a pure function of (id, seed): partitioning-invariant
    sel2 = DS.dsir_select(docs.repartition(7), target, "doc_id", "text", **kw)
    assert sorted(r["doc_id"] for r in sel2.collect()) == sorted(
        r["doc_id"] for r in rows
    )
    # vs UNIFORM sampling at the same k/seed: the uniform draw picks
    # off-domain docs too (2/3 of the corpus) — importance resampling is
    # doing the selecting, not the sampler machinery
    from switchback_test_dag_spark.plans.sampling import stratified_exact_sample

    uni = stratified_exact_sample(
        docs, ["source"], "doc_id", k=4, seed=29, portable=True
    )
    uni_target_like = sum(1 for r in uni.collect() if r["doc_id"] % 3 == 0)
    assert uni_target_like < 8
    # validation
    with pytest.raises(ValueError, match="docs\\+target or weights"):
        DS.dsir_select(None, None, "doc_id", "text", k=2)
    w = DS.dsir_log_weights(
        docs, target, "doc_id", "text", n_buckets=64, portable=True,
        fixed_point_scale=1_000_000,
    )
    with pytest.raises(ValueError, match="strata"):
        DS.dsir_select(
            None, None, "doc_id", "text", k=2, strata=["source"], weights=w
        )
    # weights reuse path: same membership as the from-scratch run
    sel3 = DS.dsir_select(
        docs, None, "doc_id", "text", **kw, weights=w
    )
    assert sorted(r["doc_id"] for r in sel3.collect()) == sorted(
        r["doc_id"] for r in rows
    )


def test_dsir_select_plans_have_no_nested_loop_join(spark):
    """Both max-shift paths must avoid the scalar-attach
    BroadcastNestedLoopJoin: strata → BroadcastHashJoin on the real key
    columns; no strata → the single scalar is fetched driver-side and
    subtracted as a literal (a constant-column equi join would constant-fold
    into BNLJ)."""
    docs, target = _select_fixture(spark)
    for strata in (["source"], []):
        plan = (
            DS.dsir_select(
                docs, target, "doc_id", "text", k=3, strata=strata,
                n_buckets=64, portable=True, seed=29,
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" not in plan, strata
        assert "CartesianProduct" not in plan, strata
        assert "EvalPython" not in plan, strata


def test_dsir_select_empty_inputs(spark):
    """ANSI hardening: empty corpus selects nothing; empty target still
    selects (every bucket gets the smoothing floor) — no ln/div errors."""
    target = spark.createDataFrame([("spark table",)], "text string")
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert DS.dsir_select(empty, target, "doc_id", "text", k=3, n_buckets=64).count() == 0
    docs, _ = _select_fixture(spark)
    etgt = spark.createDataFrame([], "text string")
    assert DS.dsir_select(docs, etgt, "doc_id", "text", k=3, n_buckets=64).count() == 3


def test_dsir_select_replays_in_duckdb(spark):
    """The full selection contract — fixed-point weights, the
    round(exp(·)·2^20)+1 quantization, and the sampler's integer priority —
    replayed end-to-end in DuckDB: membership must match exactly."""
    docs, target = _select_fixture(spark)
    sel = DS.dsir_select(
        docs, target, "doc_id", "text", k=3, strata=["source"],
        n_buckets=64, portable=True, seed=29,
    )
    got = sorted((r["source"], r["doc_id"]) for r in sel.collect())
    con = duckdb.connect()
    con.register("corpus", docs.toPandas())
    con.register("tgt", target.toPandas())
    toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"
    grams = (
        "list_concat(toks, CASE WHEN len(toks) >= 2 THEN "
        "[array_to_string(toks[i:i+1], ' ') for i in generate_series(1, len(toks) - 1)] "
        "ELSE CAST([] AS VARCHAR[]) END)"
    )
    want = sorted(
        con.execute(
            f"""
WITH ctk AS (SELECT doc_id, source, {toks} AS toks FROM corpus),
cg AS (SELECT doc_id, source, {grams} AS grams FROM ctk),
ce AS (SELECT doc_id, source,
              ('0x' || substring(md5(unnest(grams)), 1, 15))::BIGINT % 64 AS b
       FROM cg),
dc AS (SELECT doc_id, source, b, count(*) AS c FROM ce GROUP BY doc_id, source, b),
ttk AS (SELECT 0 AS tid, {toks} AS toks FROM tgt),
tg AS (SELECT tid, {grams} AS grams FROM ttk),
te AS (SELECT ('0x' || substring(md5(unnest(grams)), 1, 15))::BIGINT % 64 AS b FROM tg),
spine AS (SELECT unnest(generate_series(0, 63)) AS b),
raw_n AS (SELECT spine.b, coalesce(sum(dc.c), 0) AS n
          FROM spine LEFT JOIN dc USING (b) GROUP BY spine.b),
tgt_n AS (SELECT spine.b, coalesce(count(te.b), 0) AS n
          FROM spine LEFT JOIN te USING (b) GROUP BY spine.b),
dl AS (
  SELECT raw_n.b,
         CAST(round((ln((tgt_n.n + 1) / ((SELECT sum(n) FROM tgt_n) + 64))
                   - ln((raw_n.n + 1) / ((SELECT sum(n) FROM raw_n) + 64))) * 1000000)
              AS BIGINT) AS dl
  FROM raw_n JOIN tgt_n USING (b)
), lw AS (
  SELECT dc.doc_id, dc.source, CAST(sum(dc.c * dl.dl) AS BIGINT) AS lwfp,
         max(CAST(sum(dc.c * dl.dl) AS BIGINT))
           OVER (PARTITION BY dc.source) AS mx
  FROM dc JOIN dl USING (b) GROUP BY dc.doc_id, dc.source
), ranked AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY
           -(((CAST(round(exp((lwfp - mx) / 1000000.0)
                          * 1048576) AS BIGINT) + 1) * 1099511627776)
             // greatest(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':29'), 1, 10))::BIGINT, 1)),
           doc_id) AS rk
  FROM lw
)
SELECT source, doc_id FROM ranked WHERE rk <= 3
"""
        ).fetchall()
    )
    assert got == want


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
    both operator families must run to empty output, never throw."""
    empty_docs = spark.createDataFrame([], SCHEMA)
    assert L.segment_df(empty_docs, "doc_id", "segs").count() == 0
    assert L.dedup_segments(empty_docs, "doc_id", "segs").count() == 0
    assert L.drop_boilerplate(empty_docs, "doc_id", "segs", 2).count() == 0
    empty_txt = spark.createDataFrame([], "doc_id long, text string")
    target = spark.createDataFrame([("spark table",)], "text string")
    assert DS.dsir_log_weights(empty_txt, target, "doc_id", "text").count() == 0
    # empty TARGET: every bucket gets the smoothing floor; weights still emit
    docs, _ = _dsir_fixture(spark)
    empty_target = spark.createDataFrame([], "text string")
    got = DS.dsir_log_weights(docs, empty_target, "doc_id", "text", n_buckets=64)
    assert got.count() == 3  # scored docs unchanged; no division/ln error


def test_dsir_scoring_join_is_broadcast(spark):
    docs, target = _dsir_fixture(spark)
    plan = (
        DS.dsir_log_weights(docs, target, "doc_id", "text", n_buckets=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the per-(doc, bucket) counts join the B-row log-ratio frame map-side;
    # the corpus is never shuffled on bucket for scoring
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_dsir_select_null_stratum_is_its_own_stratum(spark):
    """The sampler family documents a NULL stratum value as its own stratum
    (eqNullSafe rank machinery); the per-stratum max shift join must honor
    that too — a plain equi join would silently drop every NULL-source doc
    from selection."""
    w = spark.createDataFrame(
        [(i, None if i <= 10 else "a", i * 1000) for i in range(1, 21)],
        "doc_id long, source string, log_weight_fp long",
    )
    sel = DS.dsir_select(
        None, None, "doc_id", "text", k=3, strata=["source"],
        seed=7, weights=w,
    )
    by_src = {}
    for r in sel.collect():
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert len(by_src[None]) == 3 and len(by_src["a"]) == 3
    assert all(i <= 10 for i in by_src[None])
    assert set(sel.columns) == {"source", "doc_id", "log_weight_fp", "weight"}
