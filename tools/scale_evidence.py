#!/usr/bin/env python
"""Measure the scale-regime paths that the sf0.01 oracle fixtures never
exercise, on the manufactured 10× directory (`tools/make_scale.py`):

- ``components``: run connected components over the sf1 MinHash-LSH
  near-dup pair graph in ALL THREE regimes — bounded driver union-find (the
  production default at this pair count), the distributed min-label
  propagation loop (forced with ``driver_threshold=0``), and the alternating
  large-star/small-star contraction (forced with ``max_iter=0``, the
  diameter-independent fallback) — assert the three labelings are IDENTICAL
  row-for-row, and record edge count, rounds-to-convergence, and wall time
  per regime. This is the evidence the fallback regimes need: the oracled
  path always takes the driver branch because near-dup pair sets are tiny,
  so without this run their convergence behavior at a real pair graph is
  asserted only on unit fixtures.

Prints one JSON object per measurement AND merges every measurement — each
bracketed by its own host probes (this box has shown 10-100x transient
memory-subsystem swings; a number without its environment control is not
comparable round over round) — into the committed ``SCALE_evidence.json``,
so scale audits are machine-diffable like BENCH artifacts instead of living
only in SCALE.md prose.

Further measurements: ``spans``, ``decon``, ``selection`` (segment dedup +
DSIR contracts value-replayed in DuckDB at scale), ``span_removal`` and
``clean_corpus_full``.

Usage: python tools/scale_evidence.py [components|spans|decon|selection|
       span_removal|clean_corpus_full ...]
       [--sf DIR] [--no-write]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from switchback_test_dag_spark import text as _text  # noqa: E402,F401
from switchback_test_dag_spark.io import load_table  # noqa: E402
from switchback_test_dag_spark.session import get_spark  # noqa: E402
from switchback_test_dag_spark.text import dedup as TD  # noqa: E402


def _host_probe(trials: int = 2) -> dict:
    """Host environment control: this box's memory subsystem has shown
    10-100x transient swings on identical plans (SCALE.md round-7 audits), so
    every recorded measurement carries its own environment control — min
    times for a fixed BLAS matmul and a fixed 200 MB first-touch allocation.
    Healthy ballpark: matmul ~0.01 s, alloc ~0.1 s."""
    import numpy as np

    mm, al = [], []
    for _ in range(trials):
        a = np.random.rand(4000, 64)
        t0 = time.monotonic()
        s = a @ a.T
        mm.append(time.monotonic() - t0)
        t0 = time.monotonic()
        buf = np.ones(200_000_000 // 8)
        al.append(time.monotonic() - t0)
        del s, buf
    return {"matmul_s": round(min(mm), 3), "alloc200mb_s": round(min(al), 3)}


def measure_components(spark, sf_dir: str) -> dict:
    docs = load_table(spark, sf_dir, "documents")
    pairs = TD.minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_n=3, k=64, bands=16, threshold=0.85
    ).localCheckpoint()  # pair generation is not what this measures
    n_pairs = pairs.count()

    t0 = time.monotonic()
    driver_stats: dict = {}
    labels_driver = TD.connected_components(
        pairs, "doc_a", "doc_b", stats=driver_stats
    ).localCheckpoint()
    n_nodes = labels_driver.count()
    driver_s = time.monotonic() - t0

    t0 = time.monotonic()
    dist_stats: dict = {}
    labels_dist = TD.connected_components(
        pairs, "doc_a", "doc_b", driver_threshold=0, stats=dist_stats
    ).localCheckpoint()
    labels_dist.count()
    dist_s = time.monotonic() - t0

    # third regime: force the diameter-independent alternating-star fallback
    # (max_iter=0 skips every propagation round) on the same REAL graph —
    # the only regime whose at-scale behavior was previously evidenced by
    # property tests on random toy graphs alone
    t0 = time.monotonic()
    star_stats: dict = {}
    labels_star = TD.connected_components(
        pairs, "doc_a", "doc_b", max_iter=0, driver_threshold=0, stats=star_stats
    ).localCheckpoint()
    labels_star.count()
    star_s = time.monotonic() - t0

    def _mismatch(x, y):
        return x.exceptAll(y).unionAll(y.exceptAll(x)).count()

    mismatch = _mismatch(labels_driver, labels_dist)
    mismatch_star = _mismatch(labels_driver, labels_star)
    n_components = labels_driver.select("component").distinct().count()
    out = {
        "measurement": "components",
        "sf_dir": sf_dir,
        "pair_rows": n_pairs,
        "nodes": n_nodes,
        "components": n_components,
        "driver_regime": {"sec": round(driver_s, 2), **driver_stats},
        "distributed_regime": {"sec": round(dist_s, 2), **dist_stats},
        "alternating_star_regime": {"sec": round(star_s, 2), **star_stats},
        "label_mismatch_rows": mismatch,
        "label_mismatch_rows_star": mismatch_star,
    }
    assert mismatch == 0, f"regimes disagree on {mismatch} label rows"
    assert mismatch_star == 0, f"star regime disagrees on {mismatch_star} label rows"
    assert dist_stats.get("regime") == "propagation", dist_stats
    assert star_stats.get("regime") == "alternating_star", star_stats
    return out


def measure_spans(spark, sf_dir: str) -> dict:
    """Duplicated-span stats (text/spans) on the 10x documents, production
    xxhash64 keys — the path the oracle never times (it replays the portable
    md5 form at sf0.01)."""
    from switchback_test_dag_spark.text import spans as SP

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t0 = time.monotonic()
    st = SP.duplicated_span_stats(docs, "doc_id", "text", span_len=4)
    agg = st.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("n_dup_positions") > 0, 1)).alias("n_dup_docs"),
        F.round(F.avg("dup_token_frac"), 6).alias("avg_cov"),
    ).collect()[0]
    wall = time.monotonic() - t0
    return {
        "measurement": "spans",
        "sf_dir": sf_dir,
        "sec": round(wall, 2),
        "n_docs": agg["n_docs"],
        "n_dup_docs": agg["n_dup_docs"],
        "avg_dup_token_frac": float(agg["avg_cov"]),
    }


def measure_decon(spark, sf_dir: str) -> dict:
    """Decontamination (text/decontaminate) on the 10x documents against the
    doc_id % 13 eval slice: wall time + removal counts on the production
    (broadcast) path."""
    from switchback_test_dag_spark.text import decontaminate as DC

    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 13 == 0)
    n_docs = docs.count()
    t0 = time.monotonic()
    kept = DC.decontaminate(docs, eval_df, "doc_id", "text", n=4).count()
    wall = time.monotonic() - t0
    return {
        "measurement": "decon",
        "sf_dir": sf_dir,
        "sec": round(wall, 2),
        "n_docs": n_docs,
        "n_removed": n_docs - kept,
    }


def measure_selection(spark, sf_dir: str) -> dict:
    """Segment-level dedup (text/lines) + DSIR weights (text/dsir) on the 10x
    documents, VALUE-VERIFIED against a DuckDB replay of the same contracts.
    These live inside corpus_clean_stats' oracle at sf0.01, but that row is
    excluded from the 100x re-diff because its Jaccard CTE is the O(n^2)
    side — the selection contracts themselves are linear, so this check
    restores their at-scale value verification."""
    import duckdb

    from switchback_test_dag_spark.plans.sampling import _H as _KEY, _with_key_rank
    from switchback_test_dag_spark.queries_documents import (
        _DSIR_BUCKETS,
        _DSIR_FP_SCALE,
        _DSIR_SEL_SEED,
        _DSIR_TOPK,
        _DSIR_WBITS,
        _DUCK_SELECTION_CTES,
        _SEG_BOILER_DF,
        _SEG_CHUNK,
    )
    from switchback_test_dag_spark.text import dsir as DS
    from switchback_test_dag_spark.text import lines as LN

    docs = load_table(spark, sf_dir, "documents")
    toks = "filter(split(lower(text), '\\\\s+'), x -> x != '')"
    segs = (
        f"CASE WHEN size({toks}) = 0 THEN CAST(array() AS ARRAY<STRING>) ELSE "
        f"transform(sequence(1, size({toks}), {_SEG_CHUNK}), "
        f"i -> concat_ws(' ', slice({toks}, i, {_SEG_CHUNK}))) END"
    )
    seg_base = docs.select("doc_id", "source", F.expr(segs).alias("segs"))
    t0 = time.monotonic()
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.concat_ws("|", F.col("segs")),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    first = (
        LN.dedup_segments(seg_base, "doc_id", "segs")
        .groupBy("source")
        .agg(
            F.sum(F.size("segs")).cast("long").alias("n_kept_first"),
            F.sum(h).cast("long").alias("first_text_hash"),
        )
    )
    boiler = (
        LN.drop_boilerplate(seg_base, "doc_id", "segs", _SEG_BOILER_DF)
        .groupBy("source")
        .agg(
            F.sum(F.size("segs")).cast("long").alias("n_kept_boiler"),
            F.sum(h).cast("long").alias("boiler_text_hash"),
        )
    )
    seg_pdf = first.join(boiler, "source").toPandas()
    seg_s = time.monotonic() - t0

    t0 = time.monotonic()
    # fixed-point weights (the round-9 contract form), materialized once and
    # shared by the ranked top-k and the dsir_select resampling stage
    weights = DS.dsir_log_weights(
        docs,
        docs.filter(F.col("doc_id") % 13 == 0).select("text"),
        "doc_id",
        "text",
        n_buckets=_DSIR_BUCKETS,
        portable=True,
        fixed_point_scale=_DSIR_FP_SCALE,
    ).join(docs.select("doc_id", "source"), "doc_id").localCheckpoint()
    id_hash40 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    ranked = _with_key_rank(
        weights.withColumn(_KEY, -F.col("log_weight_fp")),
        ["source"],
        "doc_id",
    )
    ds_pdf = (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dsir_scored"),
            F.round(
                F.sum("log_weight_fp")
                / (F.count(F.lit(1)) * F.lit(float(_DSIR_FP_SCALE))),
                4,
            ).alias("avg_dsir_log_weight"),
            F.sum(F.when(F.col("_rk") <= _DSIR_TOPK, id_hash40))
            .cast("long")
            .alias("dsir_top_id_hash"),
        )
        .toPandas()
    )
    sel_pdf = (
        DS.dsir_select(
            None,
            None,
            "doc_id",
            "text",
            k=_DSIR_TOPK,
            strata=["source"],
            portable=True,
            seed=_DSIR_SEL_SEED,
            fixed_point_scale=_DSIR_FP_SCALE,
            weight_bits=_DSIR_WBITS,
            weights=weights,
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dsir_selected"),
            F.sum(id_hash40).cast("long").alias("dsir_sel_id_hash"),
        )
        .toPandas()
    )
    dsir_s = time.monotonic() - t0

    con = duckdb.connect()
    p = f"{sf_dir}/documents.parquet"
    if os.path.isdir(p):
        p = f"{p}/*.parquet"
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')")
    t0 = time.monotonic()
    odf = con.execute(
        f"""
WITH {_DUCK_SELECTION_CTES}
SELECT sgagg.source, sgagg.n_kept_first, sgagg.first_text_hash,
       sgagg.n_kept_boiler, sgagg.boiler_text_hash,
       dsagg.n_dsir_scored, dsagg.avg_dsir_log_weight, dsagg.dsir_top_id_hash,
       dsselagg.n_dsir_selected, dsselagg.dsir_sel_id_hash
FROM sgagg JOIN dsagg USING (source) JOIN dsselagg USING (source)
"""
    ).fetchdf()
    duck_s = time.monotonic() - t0
    got = seg_pdf.merge(ds_pdf, on="source").merge(sel_pdf, on="source")
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True).round(4).astype(str)
    o = odf[cols].sort_values(cols).reset_index(drop=True).round(4).astype(str)
    match = bool(g.equals(o))
    out = {
        "measurement": "selection",
        "sf_dir": sf_dir,
        "segment_dedup_sec": round(seg_s, 2),
        "dsir_sec": round(dsir_s, 2),
        "duckdb_replay_sec": round(duck_s, 2),
        "sources": int(len(got)),
        "value_match": match,
    }
    assert match, "selection contracts diverge from the DuckDB replay at scale"
    return out


def measure_span_removal(spark, sf_dir: str) -> dict:
    """Duplicated-span REMOVAL (text/spans.remove_duplicated_spans) on the
    10x documents, VALUE-VERIFIED against a DuckDB replay of the full cut
    (the same CTE chain the sf0.01 oracle hashes inside doc_text_profile:
    duplicated-window starts → running-max coverage over token rows →
    ordered string_agg reassembly). Portable md5 keys so both engines group
    identically; the compared values are docs-affected, tokens-cut, and the
    40-bit checksum SUM over every rebuilt text — a single moved or kept
    token at scale breaks the match."""
    import duckdb

    from switchback_test_dag_spark.queries_documents import _DUCK_SPANS
    from switchback_test_dag_spark.text import spans as SP

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    t0 = time.monotonic()
    cut = SP.remove_duplicated_spans(
        docs, "doc_id", "text", span_len=4, portable=True
    )
    h = F.conv(F.substring(F.md5(F.col("text")), 1, 10), 16, 10).cast("long")
    agg = cut.agg(
        F.count(F.when(F.col("spans_cut_tokens") > 0, 1)).alias("n_cut_docs"),
        F.sum("spans_cut_tokens").cast("long").alias("cut_tokens"),
        F.sum(F.when(F.col("spans_cut_tokens") > 0, h))
        .cast("long")
        .alias("cut_text_hash"),
    ).collect()[0]
    wall = time.monotonic() - t0

    con = duckdb.connect()
    p = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(p):
        p = f"{p}/*.parquet"
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')")
    t1 = time.monotonic()
    dk = con.execute(
        f"WITH {_DUCK_SPANS.strip()} "
        "SELECT count(*) AS n_cut_docs, "
        "CAST(sum(cut_toks) AS BIGINT) AS cut_tokens, "
        "CAST(sum(('0x' || substring(md5(new_text), 1, 10))::BIGINT) AS BIGINT)"
        "  AS cut_text_hash "
        "FROM srebuilt"
    ).fetchone()
    duck_wall = time.monotonic() - t1
    got = (agg["n_cut_docs"], agg["cut_tokens"], agg["cut_text_hash"])
    want = (dk[0], dk[1], dk[2])
    out = {
        "measurement": "span_removal",
        "sf_dir": sf_dir,
        "sec": round(wall, 2),
        "duck_sec": round(duck_wall, 2),
        "n_docs": n_docs,
        "n_cut_docs": agg["n_cut_docs"],
        "cut_tokens": agg["cut_tokens"],
        "cut_text_hash": agg["cut_text_hash"],
        "values_match": got == want,
    }
    assert got == want, f"span removal replay mismatch: spark={got} duck={want}"
    return out


def measure_clean_corpus_full(spark, sf_dir: str) -> dict:
    """The COMPOSED cleaning pipeline with EVERY stage on — quality filter →
    segment boilerplate scrub → duplicated-span REMOVAL → exact dedup →
    n-gram-Jaccard near-dup removal → decontamination — value-verified at
    scale against a DuckDB replay of the whole chain. The stages are each
    individually verified (sf0.01 oracle rows + the sf1 span_removal /
    selection replays), and corpus_clean_stats oracles the composition
    WITHOUT the span stage at sf0.01; this measurement closes the remaining
    gap: the full composition, span stage included, at 100× the oracle
    fixture. Compared per source: clean-survivor count, contaminated count,
    avg quality (of the RAW text, rounded 4), total span-cut tokens over all
    survivors, and 40-bit md5 checksum SUMS over the surviving docs' FINAL
    text and ids — a changed keeper, a moved token, or a flipped
    contamination flag anywhere in the chain breaks the match.

    Replay notes: the Spark span stage keys windows with xxhash64 and the
    replay groups by an md5 prefix — identical GROUPING (both are
    collision-free at this scale w.h.p.; duplication is decided by window
    content either way). The near-dup stage replays as an inverted-index
    join (unnest shingles → equi-join → per-pair intersection count) —
    set-identical to the quadratic self-join the sf0.01 oracle can afford,
    feasible at 50k docs."""
    import duckdb

    from switchback_test_dag_spark.caching import release_all
    from switchback_test_dag_spark.queries_documents import (
        _DUCK_QUALITY,
        _DUCK_TOKS,
        _SEG_BOILER_DF,
        _SEG_CHUNK,
    )
    from switchback_test_dag_spark.text.pipeline import clean_corpus

    # span_len must exceed decon_n (production: Lee et al. cut ~50-token
    # spans, decon checks 8-13-grams): with span_len == decon_n every 4-gram
    # shared with an eval doc is itself a corpus-duplicated window and the
    # span stage cuts it first, leaving the decon stage vacuously zero
    # decon at 3-grams: at sf1 every cross-doc 4-gram overlap sits inside a
    # duplicated span (>= 8 tokens) and is cut before decon sees it - 3-gram
    # matching keeps the decontamination stage non-vacuous at scale
    SPAN_L, DECON_N = 8, 3
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    n_docs = docs.count()
    # scale the boilerplate df threshold with the corpus (fixture chunks
    # repeat proportionally to doc count): at the fixed df>=20 of the sf0.01
    # oracle, a 100x corpus scrubs ALL repeated chunks as boilerplate and the
    # span stage downstream has nothing left to cut - every stage must do
    # real work for the composition evidence to mean anything
    boiler_df = max(_SEG_BOILER_DF, n_docs // 25)
    toks = "filter(split(lower(text), '\\\\s+'), x -> x != '')"
    segs = (
        f"CASE WHEN size({toks}) = 0 THEN CAST(array() AS ARRAY<STRING>) ELSE "
        f"transform(sequence(1, size({toks}), {_SEG_CHUNK}), "
        f"i -> concat_ws(' ', slice({toks}, i, {_SEG_CHUNK}))) END"
    )
    eval_df = docs.filter(F.col("doc_id") % 13 == 0)
    t0 = time.monotonic()
    flagged = clean_corpus(
        docs,
        "doc_id",
        "text",
        segmenter=F.expr(segs),
        quality_min=0.5,
        boiler_min_df=boiler_df,
        shingle_n=3,
        jaccard_threshold=0.85,
        eval_df=eval_df,
        decon_n=DECON_N,
        quality_col="qs",
        segment_policy="boilerplate",
        span_policy="remove",
        span_len=SPAN_L,
        span_min_count=2,
    )
    clean = ~F.col("contaminated")
    th = F.conv(F.substring(F.md5(F.col("text")), 1, 10), 16, 10).cast("long")
    ih = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    rows = (
        flagged.groupBy("source")
        .agg(
            F.sum(F.when(clean, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(clean, 0).otherwise(1)).cast("long").alias("n_contam"),
            F.round(F.avg(F.when(clean, F.col("qs"))), 4).alias("avg_quality"),
            F.sum("spans_cut_tokens").cast("long").alias("span_cut_tokens"),
            F.sum(F.when(clean, th)).cast("long").alias("kept_text_hash"),
            F.sum(F.when(clean, ih)).cast("long").alias("kept_id_hash"),
        )
        .orderBy("source")
        .collect()
    )
    wall = time.monotonic() - t0
    release_all()
    got = [tuple(r) for r in rows]

    con = duckdb.connect()
    p = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(p):
        p = f"{p}/*.parquet"
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')")
    duck_segs = (
        "CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[]) ELSE "
        f"[array_to_string(toks[i:i+{_SEG_CHUNK - 1}], ' ') "
        f"for i in generate_series(1, len(toks), {_SEG_CHUNK})] END"
    )
    sql = f"""
WITH q AS (
  SELECT doc_id, source, text, {_DUCK_QUALITY} AS qs
  FROM documents WHERE {_DUCK_QUALITY} >= 0.5
), qt AS (
  SELECT doc_id, source, qs, {_DUCK_TOKS} AS toks FROM q
), qsg AS MATERIALIZED (
  SELECT doc_id, source, qs, {duck_segs} AS segs FROM qt
), qse AS MATERIALIZED (
  SELECT doc_id, unnest(generate_series(1, len(segs))) AS pos, unnest(segs) AS seg
  FROM qsg
), qboiler AS (
  SELECT seg FROM qse GROUP BY seg HAVING count(DISTINCT doc_id) >= {boiler_df}
), qscrub AS MATERIALIZED (
  SELECT qsg.doc_id, qsg.source, qsg.qs, s.stext AS text
  FROM qsg JOIN (
    SELECT doc_id, array_to_string(list(seg ORDER BY pos), ' ') AS stext
    FROM qse ANTI JOIN qboiler USING (seg) GROUP BY doc_id
  ) s USING (doc_id)
  WHERE s.stext != ''
), soc AS MATERIALIZED (
  -- span stage input is the SCRUBBED text (already lowercase)
  SELECT doc_id, unnest(
    [struct_pack(pos := i - 1,
                 wk := substr(md5(array_to_string(stoks[i:i+{SPAN_L - 1}], ' ')), 1, 16))
     for i in generate_series(1, len(stoks) - {SPAN_L - 1})],
    recursive := true)
  FROM (SELECT doc_id, {_DUCK_TOKS} AS stoks FROM qscrub)
), sdup AS (
  SELECT wk FROM soc GROUP BY wk HAVING count(*) >= 2
), shit AS MATERIALIZED (
  SELECT soc.doc_id, soc.pos FROM soc JOIN sdup USING (wk)
), stok AS (
  SELECT doc_id, unnest(
    [struct_pack(pos := i - 1, tok := stoks[i])
     for i in generate_series(1, len(stoks))],
    recursive := true)
  FROM (SELECT doc_id, {_DUCK_TOKS} AS stoks FROM qscrub
        WHERE doc_id IN (SELECT DISTINCT doc_id FROM shit))
), smark AS (
  SELECT st.doc_id, st.pos, st.tok,
         max(sh.pos + {SPAN_L}) OVER (
           PARTITION BY st.doc_id ORDER BY st.pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce
  FROM stok st LEFT JOIN shit sh ON st.doc_id = sh.doc_id AND st.pos = sh.pos
), srebuilt AS (
  SELECT doc_id,
         coalesce(string_agg(CASE WHEN ce IS NULL OR pos >= ce THEN tok END,
                             ' ' ORDER BY pos), '') AS new_text,
         count(CASE WHEN ce IS NOT NULL AND pos < ce THEN 1 END) AS cut_toks
  FROM smark GROUP BY doc_id
), cutd AS MATERIALIZED (
  SELECT qs2.doc_id, qs2.source, qs2.qs,
         coalesce(sr.new_text, qs2.text) AS text,
         coalesce(sr.cut_toks, 0) AS cut_toks
  FROM qscrub qs2 LEFT JOIN srebuilt sr USING (doc_id)
  WHERE coalesce(sr.new_text, qs2.text) != ''
), fp AS (
  SELECT doc_id, source, qs, text, cut_toks,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
  FROM cutd
), k1 AS MATERIALIZED (
  SELECT * FROM fp WHERE doc_id IN (SELECT min(doc_id) FROM fp GROUP BY f)
), shx AS MATERIALIZED (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        for i in generate_series(1, len(toks) - 2)]) AS sh
  FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM k1)
  WHERE len(toks) >= 3
), she AS (
  SELECT doc_id, unnest(sh) AS s, len(sh) AS sz FROM shx
), ii AS (
  -- inverted-index near-dup: set-identical to the quadratic self-join,
  -- feasible at 50k docs (pairs sharing zero shingles cannot reach 0.85)
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i,
         any_value(a.sz) AS sza, any_value(b.sz) AS szb
  FROM she a JOIN she b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), near AS (
  SELECT DISTINCT db AS doc_id FROM ii
  WHERE i * 1.0 / (sza + szb - i) >= 0.85
), k2 AS MATERIALIZED (
  SELECT * FROM k1 WHERE doc_id NOT IN (SELECT doc_id FROM near)
), etk AS (
  SELECT {_DUCK_TOKS} AS toks FROM documents WHERE doc_id % 13 = 0
), ev AS MATERIALIZED (
  SELECT DISTINCT unnest(
    [array_to_string(toks[i:i+{DECON_N - 1}], ' ')
     for i in generate_series(1, len(toks) - {DECON_N - 1})]
  ) AS gram FROM etk
), k2g AS (
  SELECT doc_id, list_distinct(
    [array_to_string(toks[i:i+{DECON_N - 1}], ' ')
     for i in generate_series(1, len(toks) - {DECON_N - 1})]
  ) AS g
  FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM k2)
), contam AS (
  SELECT DISTINCT k2g.doc_id
  FROM k2g, unnest(k2g.g) AS u(gram) JOIN ev ON u.gram = ev.gram
)
SELECT k2.source,
       CAST(count(*) FILTER (WHERE c.doc_id IS NULL) AS BIGINT) AS n_kept,
       CAST(count(c.doc_id) AS BIGINT) AS n_contam,
       round(avg(qs) FILTER (WHERE c.doc_id IS NULL), 4) AS avg_quality,
       CAST(sum(cut_toks) AS BIGINT) AS span_cut_tokens,
       CAST(sum(CASE WHEN c.doc_id IS NULL THEN
             ('0x' || substring(md5(k2.text), 1, 10))::BIGINT END) AS BIGINT)
         AS kept_text_hash,
       CAST(sum(CASE WHEN c.doc_id IS NULL THEN
             ('0x' || substring(md5(CAST(k2.doc_id AS VARCHAR)), 1, 10))::BIGINT END)
            AS BIGINT) AS kept_id_hash
FROM k2 LEFT JOIN contam c USING (doc_id)
GROUP BY k2.source
ORDER BY k2.source
"""
    t1 = time.monotonic()
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    duck_wall = time.monotonic() - t1
    out = {
        "measurement": "clean_corpus_full",
        "sf_dir": sf_dir,
        "sec": round(wall, 2),
        "duck_sec": round(duck_wall, 2),
        "n_docs": n_docs,
        "n_sources": len(got),
        "n_kept_total": int(sum(r[1] for r in got)),
        "n_contam_total": int(sum(r[2] for r in got)),
        "span_cut_tokens_total": int(sum(r[4] for r in got)),
        "values_match": got == want,
    }
    assert got == want, (
        "clean_corpus full-composition replay mismatch:\n"
        f"spark={got[:3]}...\nduck ={want[:3]}..."
    )
    return out


_MEASURES = {
    "components": measure_components,
    "spans": measure_spans,
    "decon": measure_decon,
    "selection": measure_selection,
    "span_removal": measure_span_removal,
    "clean_corpus_full": measure_clean_corpus_full,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "what", nargs="*", default=["components"],
        choices=sorted(_MEASURES),
    )
    ap.add_argument("--sf", default=os.path.join(_REPO, ".scale", "sf1"))
    ap.add_argument(
        "--no-write", action="store_true",
        help="print only; skip merging into SCALE_evidence.json",
    )
    args = ap.parse_args()
    spark = get_spark(app_name="scale-evidence", cpus=32, shuffle_partitions=32)
    path = os.path.join(_REPO, "SCALE_evidence.json")
    # the default-sf (sf1) run owns the bare measurement key; a different
    # scale directory gets a suffixed key so e.g. the sf10 selection audit
    # accumulates BESIDE the sf1 one instead of replacing it
    sf_tag = os.path.basename(os.path.normpath(args.sf))
    results = {}
    for what in args.what or ["components"]:
        probe_start = _host_probe()
        res = _MEASURES[what](spark, args.sf)
        res["host"] = {"start": probe_start, "end": _host_probe()}
        res["recorded_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        print(json.dumps(res), flush=True)
        results[what if sf_tag == "sf1" else f"{what}_{sf_tag}"] = res
    if args.no_write:
        return
    # merge (not overwrite): separate invocations each own their measurement
    # keys, so the committed artifact accumulates the full audit set
    merged: dict = {}
    try:
        with open(path) as fh:
            merged = json.load(fh)
    except (OSError, ValueError):
        pass
    merged.setdefault("measurements", {}).update(results)
    with open(path, "w") as fh:
        json.dump(merged, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
