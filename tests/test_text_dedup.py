"""Tests for the dedup operators beyond their registry oracles: the
prefix-filtered n-gram Jaccard against a brute-force reference, exact dedup
and its fold invariance, clean_corpus' near-dup keeper policy, cache
release and the n-gram array builder."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from switchback_test_dag_spark import caching
from switchback_test_dag_spark.io import load_table
from switchback_test_dag_spark.text import dedup as TD

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


def test_prefix_filter_is_exact(docs):
    """AllPairs prefix filtering must be a pure optimization: identical pair
    set and 4-dp jaccard values to a pure-Python brute-force Jaccard over
    distinct word 3-grams, on the fixture corpus and at a second (lower)
    threshold where more borderline pairs exist."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    sh = {}
    for r in docs.select("doc_id", "text").collect():
        toks = [
            t for t in re.split(r"\s+", (r["text"] or "").lower(), flags=re.ASCII)
            if t
        ]
        if len(toks) >= 3:
            sh[r["doc_id"]] = {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }
    ids = sorted(sh)
    for t in (0.85, 0.5):
        want = {}
        for x, a in enumerate(ids):
            for b in ids[x + 1 :]:
                inter = len(sh[a] & sh[b])
                j = inter / (len(sh[a]) + len(sh[b]) - inter)
                if j >= t:
                    # Spark's round(): HALF_UP on the double's decimal form
                    want[(a, b)] = float(
                        Decimal(repr(j)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
                    )
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in TD.ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=t
            ).collect()
        }
        assert want, f"fixture should contain pairs at threshold {t}"
        assert got == want, f"threshold={t}"


def test_exact_dedup_removes_unioned_copies(docs):
    base = docs.select("doc_id", "text")
    copies = base.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )
    n_copies = copies.count()
    unioned = base.unionByName(copies)
    kept = TD.exact_dedup(unioned, "doc_id", "text")
    assert kept.count() == unioned.count() - n_copies
    # keeper policy: the original (min id) survives
    assert kept.filter(F.col("doc_id") >= 10_000).count() == 0


def test_minhash_dedup_drops_one_side_per_pair(docs):
    """The pairwise near-dup keeper policy of clean_corpus drops the higher
    id (doc_b) of every n-gram Jaccard pair and nothing else. Exact dedup runs
    first inside clean_corpus, but an exact copy's keeper carries the same
    text and so the same pairs, which leaves the loser set unchanged."""
    from switchback_test_dag_spark.text.pipeline import clean_corpus

    pairs = TD.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.85)
    losers = {r["doc_b"] for r in pairs.collect()}
    # one segment per line, and a document-frequency threshold no segment
    # can reach: the boilerplate scrub passes every text through unchanged
    n_docs = docs.count()
    try:
        kept_ids = {
            r["doc_id"]
            for r in clean_corpus(
                docs.select("doc_id", "text"), "doc_id", "text",
                segmenter=F.split(F.col("text"), "\n"), quality_min=0.0,
                boiler_min_df=n_docs + 1, jaccard_threshold=0.85,
            ).select("doc_id").collect()
        }
    finally:
        caching.release_all()
    assert losers and losers.isdisjoint(kept_ids)
    assert len(kept_ids) == n_docs - len(losers)


def test_exact_dedup_incremental_fold_invariant_property(spark):
    """Hypothesis property: for ANY corpus of short docs and ANY id-ordered
    split into batches, running exact_dedup per batch and dropping the
    fingerprints an earlier batch already kept keeps exactly the docs
    exact_dedup keeps on the concatenation. The min-id keeper is what makes
    exact dedup foldable over an appended corpus."""
    from hypothesis import given, settings, strategies as st

    from switchback_test_dag_spark.text.analysis import content_fingerprint

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]

    @settings(max_examples=15, deadline=None)
    @given(
        texts=st.lists(
            st.lists(st.sampled_from(vocab), min_size=1, max_size=4),
            min_size=1, max_size=12,
        ),
        n_batches=st.integers(min_value=1, max_value=4),
    )
    def prop(texts, n_batches):
        rows = [(i, " ".join(t)) for i, t in enumerate(texts)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        full = {
            r["doc_id"] for r in TD.exact_dedup(docs, "doc_id", "text").collect()
        }
        seen: set[str] = set()
        kept: set[int] = set()
        for b in range(n_batches):
            batch = docs.filter(
                F.col("doc_id").between(
                    b * len(rows) // n_batches,
                    (b + 1) * len(rows) // n_batches - 1,
                )
            )
            surv = (
                TD.exact_dedup(batch, "doc_id", "text")
                .withColumn("fingerprint", content_fingerprint("text"))
                .filter(~F.col("fingerprint").isin(list(seen)))
                .collect()
            )
            kept |= {r["doc_id"] for r in surv}
            seen |= {r["fingerprint"] for r in surv}
        assert kept == full

    prop()


def test_release_caches_unpins_intermediates(docs, spark):
    TD.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.85).count()
    assert len(caching._PINNED) > 0
    caching.release_all()
    assert caching._PINNED == []
    # nothing left cached in the Spark context
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() == 0


def test_array_ngrams_regimes_identical_with_null_elements(spark):
    """The two _array_ngrams_sql regimes (element_at+concat for column
    identifiers, zip_with chain for expressions) must be value-identical
    even when the array carries NULL elements: both use concat, which
    propagates a NULL element into a NULL n-gram (the old concat_ws form
    silently skipped NULLs — regime-dependent values)."""
    from switchback_test_dag_spark.text.analysis import _array_ngrams_sql

    df = spark.createDataFrame(
        [(["a", None, "b", "c"],), (["x", "y"],), ([],), (None,)],
        "arr array<string>",
    )
    col_form = _array_ngrams_sql("arr", 2, " ")
    # identity expression defeats the identifier fast-path -> chain regime
    expr_form = _array_ngrams_sql("slice(arr, 1, size(arr))", 2, " ")
    rows = df.selectExpr(f"{col_form} as a", f"{expr_form} as b").collect()
    for r in rows:
        assert r["a"] == r["b"], (r["a"], r["b"])
    # spot-check the NULL-propagation semantics themselves
    assert rows[0]["a"] == [None, "b c"]
