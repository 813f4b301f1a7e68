"""Property tests for the approximate dedup paths that have no
SQL-expressible oracle: MinHash-LSH and SimHash recall against the exact
brute-force ground truth, winnowing guarantees and connected components."""

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


def _pair_set(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_minhash_lsh_equals_exact(docs):
    """At the fixture's similarity margins, LSH candidates must recover the
    exact-Jaccard result identically (miss prob < 1e-7 per planted pair)."""
    exact = _pair_set(TD.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.85))
    lsh = _pair_set(
        TD.minhash_lsh_pairs(docs, "doc_id", "text", k=64, bands=16, threshold=0.85)
    )
    assert exact, "fixture should contain planted near-dup pairs"
    assert lsh == exact


def test_prefix_filter_is_exact(docs):
    """AllPairs prefix filtering must be a pure optimization: identical pair
    set and jaccard values to the unfiltered inverted-index join, on the
    fixture corpus and at a second (lower) threshold where more borderline
    pairs exist."""
    for t in (0.85, 0.5):
        fast = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in TD.ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=t, prefix_filter=True
            ).collect()
        }
        slow = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in TD.ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=t, prefix_filter=False
            ).collect()
        }
        assert fast == slow


def test_simhash_recall_on_planted_dups(docs):
    """Most planted near-dups (Jaccard ≥ 0.95) appear among SimHash pairs at
    Hamming ≤ 7. Not all: the fixture corpus has a ~40-word vocabulary, so
    per-bit vote sums are near zero and a handful of token-count differences
    can flip many bits — an inherent SimHash property on low-entropy text
    (measured: 23/25 planted pairs within Hamming 7, outliers at 31/53)."""
    planted = _pair_set(
        TD.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.95)
    )
    sim = _pair_set(TD.simhash_pairs(docs, "doc_id", "text", max_hamming=7))
    assert planted, "fixture should contain planted near-dup pairs"
    recall = len(planted & sim) / len(planted)
    assert recall >= 0.85, f"simhash recall {recall:.2f}; missed {planted - sim}"


def test_winnow_df_cap_drops_boilerplate_only_pairs(spark):
    """MOSS's boilerplate rule: with max_df set, fingerprints present in many
    docs stop generating pairs — two docs sharing ONLY the common template
    text no longer match, while a genuinely-shared rare run still does."""
    from switchback_test_dag_spark.text.dedup import winnow_shared_pairs

    boiler = "this document is confidential and all rights are fully reserved"
    rare = "zebra quantum falcon meridian oxide trellis"
    rows = [(i, f"{boiler} filler{i}a filler{i}b filler{i}c") for i in range(8)]
    rows += [(100, f"{rare} alpha{0}"), (101, f"{rare} beta{1}")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in winnow_shared_pairs(
            docs, "doc_id", "text", min_shared=1
        ).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in winnow_shared_pairs(
            docs, "doc_id", "text", min_shared=1, max_df=3
        ).collect()
    }
    assert (100, 101) in uncapped and (100, 101) in capped  # rare run survives
    assert any(a < 8 and b < 8 for a, b in uncapped)  # boilerplate pairs exist
    assert not any(a < 8 and b < 8 for a, b in capped)  # ...and are suppressed


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
    id (doc_b) of every MinHash-LSH pair and nothing else. Exact dedup runs
    first inside clean_corpus, but an exact copy's keeper carries the same
    text and so the same pairs, which leaves the loser set unchanged."""
    from switchback_test_dag_spark.text.pipeline import clean_corpus

    pairs = TD.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.85)
    losers = {r["doc_b"] for r in pairs.collect()}
    try:
        kept_ids = {
            r["doc_id"]
            for r in clean_corpus(
                docs.select("doc_id", "text"), "doc_id", "text",
                segmenter=F.split(F.col("text"), "\n"), quality_min=0.0,
                segment_policy=None, jaccard_threshold=0.85,
            ).select("doc_id").collect()
        }
    finally:
        caching.release_all()
    assert losers and losers.isdisjoint(kept_ids)
    assert len(kept_ids) == docs.count() - len(losers)


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
    TD.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.85).count()
    assert len(caching._PINNED) > 0
    caching.release_all()
    assert caching._PINNED == []
    # nothing left cached in the Spark context
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() == 0


def test_winnowing_guarantee_and_selectivity(spark):
    """The winnowing guarantee: two docs sharing a run of window+n-1 = 6
    tokens must share at least one selected fingerprint; unrelated docs with
    disjoint vocabulary share none."""
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"intro one two three {shared} tail words here"),
        (2, f"{shared} completely different ending clause tokens"),
        (3, "unrelated vocabulary entirely disjoint from everything else okay"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {
        (r["doc"], r["fingerprint"])
        for r in TD.winnow_fingerprints(df, "doc_id", "text").collect()
    }
    by_doc = {}
    for doc, fp in fps:
        by_doc.setdefault(doc, set()).add(fp)
    assert by_doc[1] & by_doc[2], "shared 6-token run must yield a shared fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])

    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in TD.winnow_shared_pairs(
            df, "doc_id", "text", min_shared=1
        ).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


# --------------------------------------------------------------------------- #
# PII detection / redaction
# --------------------------------------------------------------------------- #


def test_pii_counts_and_redaction(spark):
    from pyspark.sql import functions as F

    from switchback_test_dag_spark.text import analysis as TA

    rows = [
        (1, "mail me at jo.doe+x@example.co.uk or call +49 170-555 1234 now"),
        (2, "server 10.0.42.7 billed card 4111 1111 1111 1111 yesterday"),
        (3, "clean text, nothing to scrub: 7 items at 3.50 each"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            TA.pii_counts("text").alias("hits"),
            TA.redact_pii("text").alias("red"),
        ).collect()
    }
    assert out[1]["hits"]["email"] == 1 and out[1]["hits"]["phone"] == 1
    assert out[2]["hits"]["ipv4"] == 1 and out[2]["hits"]["card"] == 1
    assert all(v == 0 for v in out[3]["hits"].values())
    # NULL text: counts are NULL per kind (not 0 — absence, not cleanliness)
    assert all(v is None for v in out[4]["hits"].values())
    assert out[4]["red"] is None
    r1, r2 = out[1]["red"], out[2]["red"]
    assert "<email>" in r1 and "@" not in r1
    assert "<phone>" in r1 and "555" not in r1
    assert "<ipv4>" in r2 and "10.0.42.7" not in r2
    assert "<card>" in r2 and "4111" not in r2
    # non-PII digits survive redaction (precision, not a digit nuke)
    assert "3.50" in out[3]["red"] and "7 items" in out[3]["red"]
    # scrubbing is a pure column expression: no Python eval nodes in the plan
    plan = (
        df.select(TA.redact_pii("text"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


def test_redact_pii_token_fmt_validation(spark):
    """Caller-supplied token formats: safe ones work (and stay un-re-matched),
    unsafe ones — group references, SQL-literal breakers, or tokens a later
    PII pattern would re-redact — raise up front instead of corrupting text."""
    import pytest

    from switchback_test_dag_spark.text import analysis as TA

    df = spark.createDataFrame(
        [(1, "mail a@b.com or call 170-555 1234")], "id long, text string"
    )
    red = df.select(TA.redact_pii("text", token_fmt="[{kind}]").alias("r")).first()["r"]
    assert "[email]" in red and "[phone]" in red and "@" not in red
    for fmt in ("${kind}", "x\\{kind}", "it's-{kind}", "555-1234-{kind}"):
        with pytest.raises(ValueError):
            TA.redact_pii("text", token_fmt=fmt)


def test_connected_components_matches_union_find(spark):
    """Min-label propagation must match a driver-side union-find on a graph
    with a long path (diameter 5 → several propagation rounds), a separate
    triangle, an isolated edge, and non-min-first edge orderings."""
    from switchback_test_dag_spark.text.dedup import connected_components

    edges = [
        (5, 4), (4, 3), (3, 2), (2, 1), (1, 0),   # path 0..5
        (10, 12), (12, 11), (10, 11),             # triangle
        (20, 21),                                 # isolated edge
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "a long, b long")
    for thresh in (1_000_000, 0):  # driver union-find AND distributed propagation
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                df, "a", "b", driver_threshold=thresh
            ).collect()
        }
        assert got == want, f"driver_threshold={thresh}"
        assert got[5] == 0 and got[12] == 10 and got[21] == 20


def test_connected_components_star_fallback_on_high_diameter(spark):
    """A path graph longer than the propagation budget must fall back to the
    alternating large-star/small-star contraction (no RuntimeError path) and
    still produce the exact union-find labeling."""
    from switchback_test_dag_spark.text.dedup import connected_components

    n = 40  # diameter 39 ≫ max_iter below
    edges = [(i, i + 1) for i in range(n - 1)] + [(100, 101), (101, 102)]
    df = spark.createDataFrame(edges, "a long, b long")
    stats: dict = {}
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            df, "a", "b", max_iter=3, driver_threshold=0, stats=stats
        ).collect()
    }
    want = {i: 0 for i in range(n)} | {100: 100, 101: 100, 102: 100}
    assert got == want
    # the audit hook must report the regime actually taken and its rounds
    assert stats["regime"] == "alternating_star" and stats["rounds"] >= 1


def test_alternating_star_matches_union_find_on_random_graphs(spark):
    """Property check: the star contraction must equal driver union-find on
    seeded random graphs of varying density (including multi-component,
    duplicate-edge, and self-loop inputs)."""
    import random

    from switchback_test_dag_spark.text.dedup import _components_alternating_star

    for seed in (0, 1, 2, 3):
        rng = random.Random(seed)
        n = rng.randint(5, 60)
        m = rng.randint(n // 2, 3 * n)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]  # self-loops and dup edges allowed on purpose
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        real_edges = [(a, b) for a, b in edges if a != b]
        for a, b in real_edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in parent}
        if not real_edges:
            continue
        df = spark.createDataFrame(real_edges, "a long, b long")
        got = {
            r["node"]: r["component"]
            for r in _components_alternating_star(df).collect()
        }
        assert got == want, f"seed={seed}"


def test_driver_threshold_bounds_presymmetrization_edges(spark):
    """driver_threshold is an UNDIRECTED edge-count bound: exactly
    threshold-many pair rows must still take the driver union-find branch
    (whose result is a local table, not a join tree)."""
    from switchback_test_dag_spark.text.dedup import connected_components

    df = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "a long, b long")
    out = connected_components(df, "a", "b", driver_threshold=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, "3 edges at threshold 3 must stay on the driver"
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_component_dedup_collapses_clusters(spark):
    """Cluster-canonical keeper from connected_components labels: {A~C, B~C}
    is ONE cluster labelled by its min id, so keeping every doc that is its
    own label (or in no pair) keeps only A, while the pairwise policy of
    clean_corpus would keep A and B."""
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 3), (2, 3)], "doc_a long, doc_b long")
    losers = (
        TD.connected_components(pairs, "doc_a", "doc_b")
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    kept = sorted(
        r["doc_id"] for r in docs.join(losers, "doc_id", "left_anti").collect()
    )
    assert kept == [1, 9]  # 2 and 3 collapse into cluster keeper 1; 9 untouched


def test_winnow_window_one_is_distinct_hashes(spark):
    """window=1 degenerates to 'every hash is a fingerprint': the general
    least()-lookup form cannot express it (least needs ≥2 args — analysis-
    time failure before the special case), so it must return exactly the
    distinct per-position shingle hashes; window<1 is a ValueError."""
    import hashlib

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta alpha beta gamma")],
        "doc_id long, text string",
    )
    got = {
        r["fingerprint"]
        for r in TD.winnow_fingerprints(
            df, "doc_id", "text", shingle_n=3, window=1
        ).collect()
    }
    toks = "alpha beta gamma delta alpha beta gamma".split()
    shingles = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
    expected = {
        hashlib.md5(s.encode()).hexdigest()[:16] for s in shingles
    }
    assert got == expected

    import pytest as _pytest

    with _pytest.raises(ValueError, match="window"):
        TD.winnow_fingerprints(df, "doc_id", "text", window=0)

    # a window=1 fingerprint set is a superset of any larger window's
    wide = {
        r["fingerprint"]
        for r in TD.winnow_fingerprints(
            df, "doc_id", "text", shingle_n=3, window=2
        ).collect()
    }
    assert wide <= got


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
    col_form = _array_ngrams_sql("arr", 2, " ", distinct=False)
    # identity expression defeats the identifier fast-path -> chain regime
    expr_form = _array_ngrams_sql("slice(arr, 1, size(arr))", 2, " ",
                                  distinct=False)
    rows = df.selectExpr(f"{col_form} as a", f"{expr_form} as b").collect()
    for r in rows:
        assert r["a"] == r["b"], (r["a"], r["b"])
    # spot-check the NULL-propagation semantics themselves
    assert rows[0]["a"] == [None, None, "b c"]
