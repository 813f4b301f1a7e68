#!/usr/bin/env python
"""Measure the scale-regime paths that the sf0.01 oracle fixtures never
exercise, on the manufactured 10× directory (`tools/make_scale.py`):

- ``decon``: decontamination against the ``doc_id % 13`` eval slice;
- ``clean_corpus_full``: the composed cleaning chain, value-checked against
  a DuckDB replay of the whole chain.

Prints one JSON object per measurement AND merges every measurement — each
bracketed by its own host probes (this box has shown 10-100x transient
memory-subsystem swings; a number without its environment control is not
comparable round over round) — into the committed ``SCALE_evidence.json``,
so scale audits are machine-diffable like BENCH artifacts instead of living
only in SCALE.md prose.

Usage: python tools/scale_evidence.py {decon|clean_corpus_full} ...
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


def measure_clean_corpus_full(spark, sf_dir: str) -> dict:
    """The COMPOSED cleaning pipeline — quality filter → segment boilerplate
    scrub → exact dedup → n-gram-Jaccard near-dup removal →
    decontamination — value-verified at scale against a DuckDB replay of the
    whole chain. corpus_clean_stats oracles the composition at sf0.01; this
    measurement checks it at 100× the oracle fixture. Compared per source:
    clean-survivor count, contaminated count, avg quality (of the RAW text,
    rounded 4), and 40-bit md5 checksum SUMS over the surviving docs' FINAL
    text and ids — a changed keeper, a moved token, or a flipped
    contamination flag anywhere in the chain breaks the match.

    Replay note: the near-dup stage replays as an inverted-index join
    (unnest shingles → equi-join → per-pair intersection count) —
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

    # decon at 3-grams, the setting of the recorded sf1 runs
    DECON_N = 3
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    n_docs = docs.count()
    # scale the boilerplate df threshold with the corpus (fixture chunks
    # repeat proportionally to doc count): at the fixed df>=20 of the sf0.01
    # oracle, a 100x corpus scrubs ALL repeated chunks as boilerplate - every
    # stage must do real work for the composition evidence to mean anything
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
), fp AS (
  SELECT doc_id, source, qs, text,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
  FROM qscrub
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
        "values_match": got == want,
    }
    assert got == want, (
        "clean_corpus full-composition replay mismatch:\n"
        f"spark={got[:3]}...\nduck ={want[:3]}..."
    )
    return out


_MEASURES = {
    "decon": measure_decon,
    "clean_corpus_full": measure_clean_corpus_full,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "what", nargs="+", choices=sorted(_MEASURES),
    )
    ap.add_argument("--sf", default=os.path.join(_REPO, ".scale", "sf1"))
    ap.add_argument(
        "--no-write", action="store_true",
        help="print only; skip merging into SCALE_evidence.json",
    )
    args = ap.parse_args()
    spark = get_spark(app_name="scale-evidence")
    path = os.path.join(_REPO, "SCALE_evidence.json")
    # the default-sf (sf1) run owns the bare measurement key; a different
    # scale directory gets a suffixed key so e.g. an sf10 audit
    # accumulates BESIDE the sf1 one instead of replacing it
    sf_tag = os.path.basename(os.path.normpath(args.sf))
    results = {}
    for what in args.what:
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
