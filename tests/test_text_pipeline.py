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
        jaccard_threshold=0.9,
    )
    rows2 = {r["doc_id"]: r["contaminated"] for r in out2.collect()}
    assert sorted(rows2) == [1, 3, 6] and not any(rows2.values())


def test_clean_corpus_partition_invariant(spark):
    docs, eval_df = _fix(spark)
    kw = dict(
        segmenter=_segmenter(), quality_min=0.5, boiler_min_df=3,
        jaccard_threshold=0.9, eval_df=eval_df, decon_n=2,
    )
    a = {(r["doc_id"], r["text"], r["contaminated"])
         for r in clean_corpus(docs, "doc_id", "text", **kw).collect()}
    b = {(r["doc_id"], r["text"], r["contaminated"])
         for r in clean_corpus(docs.repartition(7), "doc_id", "text", **kw).collect()}
    assert a == b


def test_clean_corpus_dedup_policy_fingerprints_after_rejoin(spark):
    """The CCNet order pin holds for the dedup stage: fingerprints are
    computed on the REJOINED scrubbed text, so two raw texts with different
    segmentations that rejoin equal ("x y" vs "x\\ny", rejoined with a
    space) collapse to the min id — raw-text fingerprinting would miss them.
    The scrub is a no-op here (boiler_min_df above the two-document count), so
    only the rejoin tells the texts apart from their raw forms."""
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
        boiler_min_df=3,
        jaccard_threshold=0.99,
    )
    rows = {r["doc_id"]: r["text"] for r in out.collect()}
    assert rows == {1: "alpha beta gamma delta"}


def test_pretraining_recipe_clean_select_pack(spark):
    """Integration: the cleaning stage of a pretraining-data recipe on a
    multi-source corpus — clean_corpus (CCNet chain) with an extra per-doc
    column riding through, then the clean, uncontaminated survivors with
    their token counts as a downstream selection or packing step would take
    them — composes deterministically: survivor membership and text are a
    pure function of the input rows, not of its partitioning."""
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

    def survivors(frame):
        cleaned = clean_corpus(
            frame,
            "doc_id",
            "text",
            segmenter=_segmenter(),
            quality_min=0.0,
            boiler_min_df=30,  # "nav bar home" df=60 -> scrubbed everywhere
            jaccard_threshold=0.95,
            eval_df=eval_df,
            decon_n=2,
        )
        return cleaned.filter(~F.col("contaminated")).select(
            "doc_id",
            "source",
            "text",
            F.size(F.split("text", r"\s+")).cast("long").alias("toks"),
        )

    srows = survivors(docs).collect()
    assert all("nav bar home" not in r["text"] for r in srows)
    # the numbered bodies are all distinct: nothing is a duplicate or
    # contaminated, so every doc survives, scrubbed, with its source
    assert sorted(r["doc_id"] for r in srows) == list(range(1, 61))
    assert all(r["source"] == ("a" if r["doc_id"] % 2 else "b") for r in srows)
    assert all(r["toks"] == 7 for r in srows)
    # the whole stage is partitioning-invariant end-to-end
    again = survivors(docs.repartition(13)).collect()
    assert sorted(tuple(r) for r in again) == sorted(tuple(r) for r in srows)
