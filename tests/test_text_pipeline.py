"""text/pipeline.clean_corpus — the public CCNet-order cleaning chain
(whose at-scale values are oracled via corpus_clean_stats): end-to-end
semantics on a hand-computed fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from switchback_test_dag_spark.text.pipeline import clean_corpus

# fixture design (segments = newline-split lines):
# - docs 1..4 share the exact boilerplate line "cookie banner ok"
#   (df=4 >= min_df 3) at different positions
# - docs 1 and 2 are IDENTICAL once the banner is scrubbed -> exact dedup
#   keeps min id 1 (the CCNet-order effect: raw texts differ, scrubbed equal)
# - doc 4 is ONLY boilerplate -> scrubbed empty -> dropped
# - doc 5 is low quality (quality_score 0.004) -> dropped by the gate
# - doc 6 contains the eval 2-gram "secret eval" -> contaminated
ROWS = [
    (1, "cookie banner ok\nalpha beta gamma delta"),
    (2, "alpha beta gamma delta\ncookie banner ok"),
    (3, "cookie banner ok\nwholly different words here"),
    (4, "cookie banner ok"),
    (5, "@@ ## !!"),
    (6, "the secret eval phrase appears right here today"),
]


def _segmenter():
    return F.split(F.col("text"), "\n")


def _fix(spark):
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    eval_df = spark.createDataFrame([("secret eval",)], "text string")
    return docs, eval_df


def test_clean_corpus_end_to_end(spark):
    docs, eval_df = _fix(spark)
    out = clean_corpus(
        docs,
        "doc_id",
        "text",
        segmenter=_segmenter(),
        quality_min=0.5,
        boiler_min_df=3,
        rejoin_sep="\n",
        shingle_n=3,
        jaccard_threshold=0.9,
        eval_df=eval_df,
        decon_n=2,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 2 deduped into 1 (scrubbed-equal), 4 scrubbed empty, 5 low quality
    assert sorted(rows) == [1, 3, 6]
    # scrubbed text: boilerplate line gone everywhere
    assert rows[1]["text"] == "alpha beta gamma delta"
    assert rows[3]["text"] == "wholly different words here"
    assert rows[6]["contaminated"] is True
    assert rows[1]["contaminated"] is False and rows[3]["contaminated"] is False
    # quality score of the RAW text rides along
    assert set(out.columns) == {"doc_id", "text", "quality", "contaminated"}
    # eval_df=None path: same survivors, contaminated all False
    out2 = clean_corpus(
        docs,
        "doc_id",
        "text",
        segmenter=_segmenter(),
        quality_min=0.5,
        boiler_min_df=3,
        rejoin_sep="\n",
        jaccard_threshold=0.9,
    )
    rows2 = {r["doc_id"]: r["contaminated"] for r in out2.collect()}
    assert sorted(rows2) == [1, 3, 6] and not any(rows2.values())


def test_clean_corpus_partition_invariant(spark):
    docs, eval_df = _fix(spark)
    kw = dict(
        segmenter=_segmenter(), quality_min=0.5, boiler_min_df=3,
        rejoin_sep="\n", jaccard_threshold=0.9, eval_df=eval_df, decon_n=2,
    )
    a = {(r["doc_id"], r["text"], r["contaminated"])
         for r in clean_corpus(docs, "doc_id", "text", **kw).collect()}
    b = {(r["doc_id"], r["text"], r["contaminated"])
         for r in clean_corpus(docs.repartition(7), "doc_id", "text", **kw).collect()}
    assert a == b


def test_pretraining_recipe_clean_select_pack(spark):
    """Integration: the end-to-end pretraining-data recipe the extension
    operators exist for — clean_corpus (CCNet chain) → dsir_select
    (target-conditioned subset, ∝ importance weight) → pack_documents
    (fixed-budget training sequences) — composes deterministically, with
    every stage's membership a pure function of (id, seed)."""
    from switchback_test_dag_spark.plans.packing import pack_documents
    from switchback_test_dag_spark.text.dsir import dsir_select

    rows = []
    for i in range(1, 61):
        src = "a" if i % 2 else "b"
        body = (
            "spark shuffle partition broadcast join plan"
            if i % 3 == 0
            else "lorem ipsum dolor sit amet consectetur"
        )
        rows.append((i, src, f"nav bar home\n{body} {i}"))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    eval_df = spark.createDataFrame([("secret eval",)], "text string")
    target = spark.createDataFrame([("spark broadcast join plan",)], "text string")

    cleaned = clean_corpus(
        docs,
        "doc_id",
        "text",
        segmenter=_segmenter(),
        quality_min=0.0,
        boiler_min_df=30,  # "nav bar home" df=60 -> scrubbed everywhere
        rejoin_sep="\n",
        jaccard_threshold=0.95,
        eval_df=eval_df,
        decon_n=2,
    )
    survivors = cleaned.filter(~F.col("contaminated"))
    srows = survivors.collect()
    assert all("nav bar home" not in r["text"] for r in srows)

    sel = dsir_select(
        survivors, target, "doc_id", "text",
        k=5, strata=["source"], n_buckets=256, portable=True, seed=7,
    )
    sel_rows = sel.collect()
    by_src: dict = {}
    for r in sel_rows:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert sorted(len(v) for v in by_src.values()) == [5, 5]
    # the selected set is target-like (i % 3 == 0 bodies dominate the race)
    assert sum(1 for r in sel_rows if r["doc_id"] % 3 == 0) == len(sel_rows)

    chosen = sel.select("doc_id", "source").join(
        survivors.select(
            "doc_id",
            F.size(F.split("text", r"\s+")).cast("long").alias("toks"),
        ),
        "doc_id",
    )
    packed = pack_documents(
        chosen, "doc_id", "toks", budget=16, strata=["source"],
        n_buckets=2, seed=11, portable=True,
    ).localCheckpoint()
    # every selected doc lands in exactly one sequence; next-fit never
    # overflows the budget with a multi-doc sequence
    assert packed.count() == 10
    assert packed.select("doc_id").distinct().count() == 10
    fills = packed.groupBy("source", "bucket", "seq").agg(
        F.sum("toks").alias("fill"), F.count(F.lit(1)).alias("nd")
    )
    assert fills.filter((F.col("fill") > 16) & (F.col("nd") > 1)).count() == 0
    # the whole recipe is partitioning-invariant end-to-end
    sel2 = dsir_select(
        survivors.repartition(13), target, "doc_id", "text",
        k=5, strata=["source"], n_buckets=256, portable=True, seed=7,
    )
    assert sorted(r["doc_id"] for r in sel2.collect()) == sorted(
        r["doc_id"] for r in sel_rows
    )


def test_clean_corpus_segment_policy_dedup(spark):
    """CCNet's literal line-dedup through the public API: keep-FIRST
    occurrence corpus-wide. On the fixture: doc 1 keeps both its lines
    (first occurrences), doc 2's lines are both already seen -> scrubbed
    empty -> dropped, docs 3/4 lose the banner (first seen in doc 1)."""
    docs, eval_df = _fix(spark)
    out = clean_corpus(
        docs,
        "doc_id",
        "text",
        segmenter=_segmenter(),
        quality_min=0.5,
        rejoin_sep="\n",
        jaccard_threshold=0.9,
        eval_df=eval_df,
        decon_n=2,
        segment_policy="dedup",
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert sorted(rows) == [1, 3, 6]
    assert rows[1]["text"] == "cookie banner ok\nalpha beta gamma delta"
    assert rows[3]["text"] == "wholly different words here"
    assert rows[6]["contaminated"] is True
    import pytest

    with pytest.raises(ValueError, match="segment_policy"):
        clean_corpus(
            docs, "doc_id", "text", segmenter=_segmenter(),
            segment_policy="nope",
        )


def test_clean_corpus_dedup_policy_fingerprints_after_rejoin(spark):
    """The CCNet order pin holds for the dedup policy too: fingerprints are
    computed on the REJOINED scrubbed text, so two raw texts with different
    segmentations that rejoin equal ("x y" vs "x\\ny" with rejoin_sep " ")
    collapse to the min id — raw-text fingerprinting would miss them. (For
    shared segments the order is structurally self-enforcing under global
    keep-first: two survivors can never share a segment at all.)"""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta\ngamma delta")],
        "doc_id long, text string",
    )
    out = clean_corpus(
        docs,
        "doc_id",
        "text",
        segmenter=_segmenter(),
        quality_min=0.0,
        rejoin_sep=" ",
        jaccard_threshold=0.99,
        segment_policy="dedup",
    )
    rows = {r["doc_id"]: r["text"] for r in out.collect()}
    assert rows == {1: "alpha beta gamma delta"}


def test_clean_corpus_segment_policy_none(spark):
    """segment_policy=None skips the segment stage entirely: text passes
    through raw (all six fixture texts are raw-distinct, so only the
    quality gate drops anything) and the segmenter column is never
    evaluated."""
    docs, eval_df = _fix(spark)
    out = clean_corpus(
        docs,
        "doc_id",
        "text",
        segmenter=F.raise_error(F.lit("segmenter must not be evaluated")),
        quality_min=0.5,
        jaccard_threshold=0.9,
        eval_df=eval_df,
        decon_n=2,
        segment_policy=None,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert sorted(rows) == [1, 2, 3, 4, 6]
    assert rows[1]["text"] == ROWS[0][1]  # raw text untouched
    assert rows[6]["contaminated"] is True


def test_clean_corpus_span_policy_remove(spark):
    """span_policy='remove' cuts corpus-duplicated spans BEFORE
    fingerprinting (the order pin: two docs that become identical only
    after the cut must exact-dedup), drops docs cut to empty, carries the
    spans_cut_tokens column, and rejects unknown policies."""
    import pytest as _pytest

    # docs 10/11 share the 5-token run "one two three four five" (two
    # duplicated 4-windows cover it; the boundary windows differ between
    # the docs, so only the run is cut); the remainder "zz yy xx" is
    # IDENTICAL but SHORTER than span_len (3 < 4), so it is never a window
    # of its own — after the cut the docs are exact duplicates and the
    # fingerprint stage keeps min id 10 (the order pin: cut BEFORE
    # fingerprinting). doc 12 is ONLY a duplicated span (shared with 13's
    # prefix) -> cut to empty -> dropped; 13 keeps its unique tail.
    rows = [
        (10, "one two three four five zz yy xx"),
        (11, "zz yy xx one two three four five"),
        (12, "red orange yellow green blue"),
        (13, "red orange yellow green blue plus unique trailing words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = clean_corpus(
        docs,
        "doc_id",
        "text",
        segmenter=_segmenter(),
        quality_min=0.0,
        segment_policy=None,
        span_policy="remove",
        span_len=4,
        jaccard_threshold=0.95,
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert sorted(got) == [10, 13]
    assert got[10]["text"] == "zz yy xx"
    assert got[10]["spans_cut_tokens"] == 5
    assert got[13]["text"] == "plus unique trailing words here"
    assert got[13]["spans_cut_tokens"] == 5
    assert "spans_cut_tokens" in out.columns

    # default policy unchanged: no span column, no cutting
    out_none = clean_corpus(
        docs,
        "doc_id",
        "text",
        segmenter=_segmenter(),
        quality_min=0.0,
        segment_policy=None,
        jaccard_threshold=0.95,
    )
    assert "spans_cut_tokens" not in out_none.columns
    assert {r["doc_id"] for r in out_none.collect()} == {10, 11, 12, 13}

    with _pytest.raises(ValueError, match="span_policy"):
        clean_corpus(
            docs, "doc_id", "text", segmenter=_segmenter(),
            span_policy="trim",
        )


def test_clean_corpus_minhash_method_matches_jaccard(spark, sf_dir):
    """clean_corpus's exact-Jaccard near-dup stage keeps exactly what the
    same chain keeps with MinHash-LSH candidates (minhash_lsh_pairs, every
    candidate exact-verified) on the fixture corpus: the two can differ only
    by candidate recall, ~1 at the default banding above the threshold."""
    from switchback_test_dag_spark.caching import release_all
    from switchback_test_dag_spark.io import load_table
    from switchback_test_dag_spark.text import dedup as TD
    from switchback_test_dag_spark.text.analysis import quality_score

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    seg = F.expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")
    try:
        jaccard = {
            r["doc_id"]
            for r in clean_corpus(
                docs, "doc_id", "text", segmenter=seg, segment_policy=None,
            ).collect()
        }
        kept1 = TD.exact_dedup(
            docs.filter(quality_score("text") >= 0.5), "doc_id", "text"
        )
        near = TD.minhash_lsh_pairs(
            kept1, "doc_id", "text", shingle_n=3, threshold=0.85
        ).select(F.col("doc_b").alias("doc_id"))
        minhash = {
            r["doc_id"]
            for r in kept1.join(near, "doc_id", "left_anti").collect()
        }
    finally:
        release_all()
    assert jaccard == minhash and jaccard
    assert len(minhash) < kept1.count()  # the near-dup stage did drop docs
