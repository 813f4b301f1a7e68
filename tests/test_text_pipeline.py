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


def test_clean_corpus_dedup_policy_fingerprints_after_rejoin(spark):
    """The CCNet order pin holds for the dedup stage: fingerprints are
    computed on the REJOINED scrubbed text, so two raw texts with different
    segmentations that rejoin equal ("x y" vs "x\\ny" with rejoin_sep " ")
    collapse to the min id — raw-text fingerprinting would miss them. The
    scrub is a no-op here (boiler_min_df above the two-document count), so
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
        rejoin_sep=" ",
        jaccard_threshold=0.99,
    )
    rows = {r["doc_id"]: r["text"] for r in out.collect()}
    assert rows == {1: "alpha beta gamma delta"}


def test_pretraining_recipe_clean_select_pack(spark):
    """Integration: the end-to-end pretraining-data recipe the extension
    operators exist for — clean_corpus (CCNet chain) →
    weighted_priority_sample (token-count-weighted subset per source) →
    pack_documents (fixed-budget training sequences) — composes
    deterministically, with every stage's membership a pure function of
    (id, seed)."""
    from switchback_test_dag_spark.plans.packing import pack_documents
    from switchback_test_dag_spark.plans.sampling import weighted_priority_sample

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
    survivors = cleaned.filter(~F.col("contaminated")).select(
        "doc_id",
        "source",
        "text",
        F.size(F.split("text", r"\s+")).cast("long").alias("toks"),
    )
    srows = survivors.collect()
    assert all("nav bar home" not in r["text"] for r in srows)

    def sample(frame):
        return weighted_priority_sample(
            frame, ["source"], "doc_id", "toks", k=5, seed=7, portable=True
        )

    sel_rows = sample(survivors).collect()
    by_src: dict = {}
    for r in sel_rows:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert sorted(len(v) for v in by_src.values()) == [5, 5]
    # the sample draws from the clean survivors only
    assert {r["doc_id"] for r in sel_rows} <= {r["doc_id"] for r in srows}

    chosen = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["toks"]) for r in sel_rows],
        "doc_id long, source string, toks long",
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
    sel2 = sample(survivors.repartition(13))
    assert sorted(r["doc_id"] for r in sel2.collect()) == sorted(
        r["doc_id"] for r in sel_rows
    )
