"""Property tests for the approximate dedup / similarity paths that have no
SQL-expressible oracle: MinHash-LSH and SimHash recall against the exact
brute-force ground truth, and hyperplane-LSH ANN recall vs exact top-k."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from switchback_test_dag_spark import caching
from switchback_test_dag_spark.io import load_table
from switchback_test_dag_spark.text import dedup as TD
from switchback_test_dag_spark.vectors import similarity as VS

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


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


def test_minhash_oph_scheme_equals_classic_on_fixture(docs, spark):
    """scheme="oph" (one-permutation hashing + rotation densification — the
    k-independent-CPU signature for long documents; measured 3.2x executor
    CPU vs classic on 3000-token docs, SCALE.md) must recover the same
    verified pair set at the fixture's similarity margins, stay
    partitioning-invariant, and validate its scheme name. Short/NULL docs
    produce all-NULL signatures without ANSI errors, same as classic."""
    import pytest as _pytest

    classic = _pair_set(
        TD.minhash_lsh_pairs(docs, "doc_id", "text", k=64, bands=16, threshold=0.85)
    )
    oph = _pair_set(
        TD.minhash_lsh_pairs(
            docs, "doc_id", "text", k=64, bands=16, threshold=0.85, scheme="oph"
        )
    )
    assert classic and oph == classic
    oph2 = _pair_set(
        TD.minhash_lsh_pairs(
            docs.repartition(7), "doc_id", "text", k=64, bands=16,
            threshold=0.85, scheme="oph",
        )
    )
    assert oph2 == oph
    tiny = spark.createDataFrame(
        [(1, "a b"), (2, None)], "doc_id long, text string"
    )
    assert TD.minhash_lsh_pairs(tiny, "doc_id", "text", scheme="oph").count() == 0
    with _pytest.raises(ValueError, match="scheme"):
        TD.minhash_lsh_pairs(docs, "doc_id", "text", scheme="turbo")


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
    pairs = TD.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.85)
    losers = {r["doc_b"] for r in pairs.collect()}
    kept = TD.minhash_dedup(docs, "doc_id", "text", threshold=0.85)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert losers.isdisjoint(kept_ids)
    assert kept.count() == docs.count() - len(losers)


def test_lsh_topk_recall_vs_bruteforce(emb):
    """Multi-probe hyperplane LSH top-10 must recover ≥ 60% of the exact
    neighbors on the fixture (3 planes ⇒ 8 buckets over 500 vectors; measured
    recall 0.82 — the planes/recall dial is the operator's contract)."""
    queries_df = emb.filter(F.col("vec_id") < 5)
    exact = VS.cosine_topk_bruteforce(emb, queries_df, "vec_id", "embedding", k=10)
    approx = VS.hyperplane_lsh_topk(
        emb, queries_df, "vec_id", "embedding", k=10, n_planes=3
    )
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"ANN recall {recall:.2f} below floor"


def test_cosine_topk_self_excluded_and_ranked(emb):
    queries_df = emb.filter(F.col("vec_id") < 3)
    res = VS.cosine_topk_bruteforce(emb, queries_df, "vec_id", "embedding", k=5)
    rows = res.collect()
    assert len(rows) == 15
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
    # ranks are 1..5 per query with non-increasing cosine
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine"]))
    for q, rs in by_q.items():
        rs.sort()
        assert [x[0] for x in rs] == [1, 2, 3, 4, 5]
        cosines = [x[1] for x in rs]
        assert cosines == sorted(cosines, reverse=True)


def test_ivf_topk_recall_vs_bruteforce(emb):
    """IVF with n_probe=4 of 8 cells must recover most exact neighbors, and
    probing every cell must be exhaustive (recall 1.0) — the n_probe dial's
    two endpoints."""
    queries_df = emb.filter(F.col("vec_id") < 5)
    exact = VS.cosine_topk_bruteforce(emb, queries_df, "vec_id", "embedding", k=10)
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    approx = VS.ivf_topk(
        emb, queries_df, "vec_id", "embedding", k=10, n_cells=8, n_probe=4
    )
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"IVF recall {recall:.2f} below floor"

    full = VS.ivf_topk(
        emb, queries_df, "vec_id", "embedding", k=10, n_cells=8, n_probe=8
    )
    full_set = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert full_set == exact_set, "probing all cells must equal brute force"


def test_ivf_pq_topk_recall_rerank_exactness_and_code_size(emb):
    """The IVF-PQ memory dial: (a) recall@10 holds the registry's 0.7 bound,
    (b) every REPORTED cosine is exact — identical to the brute-force score
    for the same pair, because quantization only shortlists and the re-rank
    reads full vectors, (c) the stored code really is m bytes per vector
    (32× under dim=64 float32), and (d) with every cell probed and the
    refine window covering the whole corpus the result IS the brute force —
    the quantization endpoints, mirroring the plain-IVF endpoint test."""
    queries_df = emb.filter(F.col("vec_id") < 5)
    exact = VS.cosine_topk_bruteforce(emb, queries_df, "vec_id", "embedding", k=10)
    exact_rows = exact.collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact_rows}
    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact_rows
    }

    approx = VS.ivf_pq_topk(
        emb, queries_df, "vec_id", "embedding",
        k=10, n_cells=8, n_probe=5, m=8, refine=4,
    )
    rows = approx.collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(exact_set & got) / len(exact_set)
    assert recall >= 0.7, f"IVF-PQ recall {recall:.2f} below the registry bound"
    for r in rows:  # re-rank exactness: no quantized score ever surfaces
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert r["cosine"] == exact_scores[key]

    books = VS.train_pq_codebooks(emb, "vec_id", "embedding", m=8)
    assert books.shape == (8, 256, 8)  # dim=64 → 8 subspaces of 8
    code_len = (
        emb.select(VS._pq_encoder(books)(F.col("embedding")).alias("c"))
        .select(F.length("c").alias("n")).distinct().collect()
    )
    assert [r["n"] for r in code_len] == [8]  # 8 bytes vs 256 float32 bytes

    n = emb.count()
    full = VS.ivf_pq_topk(
        emb, queries_df, "vec_id", "embedding",
        k=10, n_cells=8, n_probe=8, m=8, refine=(n // 10) + 1,
    )
    full_set = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert full_set == exact_set, "all cells + full refine must equal brute force"


def test_recall_gate_pins_bound_and_surfaces_regressions(emb):
    """The hash-checked ANN contract: a perfect index emits exactly the bound;
    a degraded one (here: the approximate result with its best hits removed)
    emits a strictly lower recall that would fail the driver's value hash."""
    queries_df = emb.filter(F.col("vec_id") < 5)
    exact = VS.cosine_topk_bruteforce(emb, queries_df, "vec_id", "embedding", k=10)
    perfect = VS.recall_gate(exact, exact, k=10, bound=0.6).collect()
    assert len(perfect) == 5
    assert all(r["recall_floor"] == 0.6 and r["k"] == 10 for r in perfect)

    degraded = VS.recall_gate(
        exact.filter(F.col("rank") > 7), exact, k=10, bound=0.6
    ).collect()
    assert all(r["recall_floor"] == 0.3 for r in degraded)


def test_lsh_multiprobe_level2_supersets_level1(emb):
    """Distance-2 probing must only add candidates: every level-1 neighbor set
    is contained in the level-2 result unless displaced by a better hit, so
    per-query recall is monotone in the probe level."""
    queries_df = emb.filter(F.col("vec_id") < 5)
    exact = VS.cosine_topk_bruteforce(emb, queries_df, "vec_id", "embedding", k=10)
    r1 = VS.recall_gate(
        VS.hyperplane_lsh_topk(
            emb, queries_df, "vec_id", "embedding", k=10, n_planes=4, multiprobe=1
        ),
        exact, k=10, bound=1.0,
    ).collect()
    r2 = VS.recall_gate(
        VS.hyperplane_lsh_topk(
            emb, queries_df, "vec_id", "embedding", k=10, n_planes=4, multiprobe=2
        ),
        exact, k=10, bound=1.0,
    ).collect()
    rec1 = {r["query_id"]: r["recall_floor"] for r in r1}
    rec2 = {r["query_id"]: r["recall_floor"] for r in r2}
    assert all(rec2[q] >= rec1[q] for q in rec1)


def test_ivf_centroids_deterministic(emb):
    c1 = VS.train_ivf_centroids(emb, "vec_id", "embedding", n_cells=8)
    c2 = VS.train_ivf_centroids(emb, "vec_id", "embedding", n_cells=8)
    assert (c1 == c2).all()


def test_embedding_near_dup_cap_blocks_driver_collect(emb):
    """Above max_broadcast_rows the exact path must refuse to collect the
    corpus to the driver and point at the LSH path."""
    with pytest.raises(ValueError, match="embedding_near_dup_pairs_lsh"):
        TD.embedding_near_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.4, max_broadcast_rows=10
        )


def test_embedding_near_dup_lsh_recall_vs_exact(emb):
    """The bucketed path (no driver collect) recovers the exact pair set at the
    fixture's margins with high recall and introduces no false positives
    (candidates are verified with exact cosine)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in TD.embedding_near_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    lsh_df = TD.embedding_near_dup_pairs_lsh(
        emb, "vec_id", "embedding", threshold=0.4, n_planes=4
    )
    lsh = {(r["id_a"], r["id_b"]) for r in lsh_df.collect()}
    caching.release_all()
    assert exact, "fixture should contain near-dup pairs at threshold 0.4"
    assert lsh <= exact, f"false positives: {lsh - exact}"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.5, f"LSH recall {recall:.2f} too low"
    # OR-ed tables compound recall geometrically (independent plane families
    # via plane_offset) while exact verification keeps precision at 1
    multi = {
        (r["id_a"], r["id_b"])
        for r in TD.embedding_near_dup_pairs_lsh(
            emb, "vec_id", "embedding", threshold=0.4, n_planes=4, n_tables=8
        ).collect()
    }
    caching.release_all()
    assert multi <= exact, f"false positives: {multi - exact}"
    assert len(multi) >= len(lsh)
    assert len(multi & exact) / len(exact) >= 0.9, "multi-table recall too low"


def test_embedding_near_dup_lsh_empty_corpus(spark):
    """Empty corpus → empty pair frame with the full output schema (the dim
    probe has no row to infer plane width from; regression: the OR-ed-tables
    rewrite raised on plane_offset with an unknown dim)."""
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    out = TD.embedding_near_dup_pairs_lsh(
        empty, "vec_id", "embedding", threshold=0.4, n_planes=4, n_tables=8
    )
    assert out.columns == ["id_a", "id_b", "cosine"]
    assert out.count() == 0


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


def test_ivf_layout_prunes_partitions_and_matches_inline(spark, tmp_path):
    """The persisted cell-partitioned layout must (a) prune the scan to the
    probed cell directories — visible as a PartitionFilters entry and a
    reduced input-file set — and (b) return exactly what the inline IVF path
    returns for the same centroids/probes."""
    import os

    from switchback_test_dag_spark.io import load_table
    from switchback_test_dag_spark.vectors import similarity as VS

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = VS.train_ivf_centroids(emb, "vec_id", "embedding", n_cells=8)
    path = str(tmp_path / "ivf_layout")
    VS.ivf_persist_layout(emb, "vec_id", "embedding", path, cents)

    queries = emb.orderBy("vec_id").limit(1)
    out = VS.ivf_topk_from_layout(
        spark, path, queries, "embedding", cents, k=5, n_probe=2,
        query_id_col="vec_id",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    after = plan.split("PartitionFilters", 1)
    assert len(after) == 2 and "cell" in after[1][:200]

    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in out.collect()}
    # pruned read: at execution, only the probed cell directories are touched
    # (inputFiles() lists pre-pruning roots — input_file_name() is the honest
    # runtime probe)
    from pyspark.sql import functions as F

    n_dirs = len([d for d in os.listdir(path) if d.startswith("cell=")])
    touched = {
        r[0].split("cell=")[1].split("/")[0]
        for r in spark.read.parquet(path)
        .filter(F.col("cell").isin([0, 1]))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert 0 < len(touched) <= 2 < n_dirs

    # parity with the inline path (same centroid training, probes)
    inline = VS.ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, n_cells=8, n_probe=2
    )
    want = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in inline.collect()}
    assert got == want


def test_ivf_pq_layout_prunes_partitions_columns_and_matches_inline(
    spark, tmp_path
):
    """The persisted PQ layout: (a) partition-prunes to the probed cells,
    (b) COLUMN-prunes the ADC scan to (neighbor_id, code) — the float
    vector column never enters the candidate read (ReadSchema pin), and
    (c) returns exactly what the inline ivf_pq_topk returns for the same
    centroids/codebooks/probes."""
    from switchback_test_dag_spark.io import load_table
    from switchback_test_dag_spark.vectors import similarity as VS

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = VS.train_ivf_centroids(emb, "vec_id", "embedding", n_cells=8)
    books = VS.train_pq_codebooks(emb, "vec_id", "embedding", m=8)
    path = str(tmp_path / "ivf_pq_layout")
    VS.ivf_pq_persist_layout(emb, "vec_id", "embedding", path, cents, books)

    queries = emb.orderBy("vec_id").limit(1)
    out = VS.ivf_pq_topk_from_layout(
        spark, path, queries, "embedding", cents, books,
        k=5, n_probe=4, refine=8, query_id_col="vec_id",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1
    )[1][:200]
    # column pruning: the candidate (ADC) scan's ReadSchema carries code but
    # not cv — find the scan that reads `code` and pin cv's absence there
    adc_scans = [
        seg[:200] for seg in plan.split("ReadSchema: ")[1:] if "code" in seg[:200]
    ]
    assert adc_scans and all("cv" not in seg for seg in adc_scans)

    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in out.collect()}
    inline = VS.ivf_pq_topk(
        emb, queries, "vec_id", "embedding",
        k=5, n_cells=8, n_probe=4, m=8, refine=8,
    )
    want = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in inline.collect()}
    assert got == want


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
    """Cluster-canonical keeper: {A~C, B~C} is ONE cluster — component_dedup
    keeps only A, while the pairwise C4 policy would keep A and B."""
    from switchback_test_dag_spark.text.dedup import component_dedup

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 3), (2, 3)], "doc_a long, doc_b long")
    kept = sorted(r["doc_id"] for r in component_dedup(docs, "doc_id", pairs).collect())
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


def test_ivf_training_sample_unbiased_and_partition_invariant(emb):
    """The coarse-quantizer sample is ordered by xxhash64(id, seed) — a
    uniform permutation, not the lowest ids (id order correlates with
    shard/domain at corpus scale and would train the quantizer on one
    corner of the distribution). Pin: (a) identical centroids across
    repartitionings (the order is data-determined, not layout-determined),
    (b) a different seed draws a different sample when the corpus exceeds
    the sample budget, (c) the sample is NOT the lowest-id prefix."""
    c1 = VS.train_ivf_centroids(
        emb.repartition(7), "vec_id", "embedding", n_cells=8, sample_size=64
    )
    c2 = VS.train_ivf_centroids(
        emb.repartition(3), "vec_id", "embedding", n_cells=8, sample_size=64
    )
    assert (c1 == c2).all()
    c3 = VS.train_ivf_centroids(
        emb, "vec_id", "embedding", n_cells=8, sample_size=64, seed=7
    )
    assert not (c1 == c3).all()
    # the hash order must not reproduce the id order: the first 64 ids by
    # hash differ from the first 64 ids numerically
    from pyspark.sql import functions as F

    by_hash = [
        r["vec_id"]
        for r in emb.select("vec_id")
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(0)), "vec_id")
        .limit(64)
        .collect()
    ]
    by_id = sorted(r["vec_id"] for r in emb.select("vec_id").collect())[:64]
    assert set(by_hash) != set(by_id)


def test_component_dedup_keeper_by_priority(spark):
    """keeper_by keeps the highest-priority member per cluster (NULL lowest,
    ties to min id); default stays min-id; the corpus outside clusters is
    untouched either way."""
    docs = spark.createDataFrame(
        [
            (1, 0.2), (2, 0.9), (3, None),      # cluster {1,2,3}: best = 2
            (10, 0.5), (11, 0.5),               # cluster {10,11}: tie -> 10
            (20, None), (21, None),             # all-NULL cluster -> min id 20
            (99, 0.1),                          # unclustered: always kept
        ],
        "doc_id long, quality double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "doc_a long, doc_b long"
    )
    by_quality = {
        r["doc_id"]
        for r in TD.component_dedup(
            docs, "doc_id", pairs, keeper_by="quality"
        ).collect()
    }
    assert by_quality == {2, 10, 20, 99}
    by_min = {
        r["doc_id"] for r in TD.component_dedup(docs, "doc_id", pairs).collect()
    }
    assert by_min == {1, 10, 20, 99}


def test_exact_dedup_incremental_matches_batch(spark):
    """Folding id-ordered batches through exact_dedup_incremental keeps
    exactly what exact_dedup keeps on the full concatenation (the keep-first
    canon), and the index accumulates only survivors' fingerprints."""
    rows = [
        (1, "alpha beta gamma"),
        (2, "delta epsilon zeta"),
        (3, "ALPHA   beta GAMMA"),   # normalized-dup of 1 (same batch)
        (10, "delta epsilon zeta"),  # dup of 2 (earlier batch)
        (11, "eta theta iota"),
        (20, "eta theta iota"),      # dup of 11 (earlier batch)
        (21, "alpha beta gamma"),    # dup of 1 (two batches back)
        (22, "kappa lambda mu"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batches = [
        docs.filter(F.col("doc_id") < 10),
        docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)),
        docs.filter(F.col("doc_id") >= 20),
    ]
    index = None
    kept_ids: set[int] = set()
    for b in batches:
        surv, new_rows = TD.exact_dedup_incremental(b, "doc_id", "text", index)
        kept_ids |= {r["doc_id"] for r in surv.collect()}
        index = new_rows if index is None else index.unionByName(new_rows)
    full = {r["doc_id"] for r in TD.exact_dedup(docs, "doc_id", "text").collect()}
    assert kept_ids == full == {1, 2, 11, 22}
    # index holds exactly one fingerprint per kept doc
    assert index.distinct().count() == len(full)


def test_minhash_pairs_vs_index_finds_cross_batch_near_dups(spark):
    """Signature-index near-dup: cross-batch planted near-dups are found
    oriented (existing doc first), within-batch pairs are found, index×index
    pairs are NOT regenerated, and est_jaccard tracks exact jaccard within
    the k=64 estimate noise."""
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green turtles watch from a mossy log near the river bank today"
    )
    variant = base.replace("today", "tonight")
    rows_a = [(1, base), (2, "totally unrelated words about spacecraft "
                             "navigation systems and orbital mechanics here")]
    rows_b = [(100, variant),                      # near-dup of index doc 1
              (101, "fresh unique content on medieval bread baking and "
                    "stone oven construction methods in rural villages"),
              (102, variant + " extra")]           # near-dup of 100 (in-batch)
    A = spark.createDataFrame(rows_a, "doc_id long, text string")
    B = spark.createDataFrame(rows_b, "doc_id long, text string")
    sig_a = TD.minhash_signatures(A, "doc_id", "text")
    sig_b = TD.minhash_signatures(B, "doc_id", "text")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in TD.minhash_pairs_vs_index(
            sig_b, sig_a, k=64, bands=16, threshold=0.5
        ).collect()
    }
    assert (1, 100) in pairs, pairs          # cross-batch, index doc first
    assert (100, 102) in pairs               # within-batch
    assert all(a != 2 or b != 1 for a, b in pairs)  # no index-only pairs
    # estimate accuracy vs exact jaccard of the planted pair
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in TD.ngram_jaccard_pairs(
            A.unionByName(B), "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert abs(pairs[(1, 100)] - exact[(1, 100)]) < 0.2
    # no-index mode: within-batch pairs only
    only_new = {
        (r["doc_a"], r["doc_b"])
        for r in TD.minhash_pairs_vs_index(
            sig_b, None, k=64, bands=16, threshold=0.5
        ).collect()
    }
    assert only_new == {(100, 102)}


def test_simhash_pairs_vs_index_matches_batch(spark):
    """SimHash incremental twin differential: folding batches through
    simhash_signatures + simhash_pairs_vs_index reports exactly the pairs
    simhash_pairs reports on the full concatenation (as unordered id pairs
    with identical Hamming distances) — no estimate cliff exists because the
    signature IS the verifier. Cross-batch pairs arrive oriented with the
    EXISTING doc first; index×index pairs are not regenerated."""
    base = (
        "seventeen green turtles watch from a mossy log near the river "
        "bank while the quick brown fox jumps over the lazy dog today"
    )
    rows_a = [
        (1, base),
        (2, "completely different content about orbital mechanics and "
            "spacecraft navigation systems for deep space missions"),
        (3, base.replace("today", "tonight")),  # within-batch near-dup of 1
    ]
    rows_b = [
        (100, base.replace("river", "creek")),  # cross-batch near-dup of 1/3
        (101, "fresh unique prose on medieval bread baking and stone oven "
              "construction methods in rural mountain villages"),
        (102, base.replace("river", "creek").replace("dog", "cat")),
    ]
    A = spark.createDataFrame(rows_a, "doc_id long, text string")
    B = spark.createDataFrame(rows_b, "doc_id long, text string")
    full = A.unionByName(B)

    # prefix_bits=5 -> 12 chunks: pigeonhole-complete up to Hamming 11,
    # loose enough to pick up the planted near-dups
    HAM, PB = 11, 5
    batch = {
        frozenset((r["doc_a"], r["doc_b"])): r["hamming"]
        for r in TD.simhash_pairs(
            full, "doc_id", "text", max_hamming=HAM, prefix_bits=PB
        ).collect()
    }
    sig_a = TD.simhash_signatures(A, "doc_id", "text")
    sig_b = TD.simhash_signatures(B, "doc_id", "text")
    inc = {}
    oriented = {}
    for r in (
        TD.simhash_pairs_vs_index(
            sig_a, None, max_hamming=HAM, prefix_bits=PB
        ).collect()
        + TD.simhash_pairs_vs_index(
            sig_b, sig_a, max_hamming=HAM, prefix_bits=PB
        ).collect()
    ):
        inc[frozenset((r["doc_a"], r["doc_b"]))] = r["hamming"]
        oriented[(r["doc_a"], r["doc_b"])] = r["hamming"]
    assert inc == batch and batch  # identical pairs AND distances, non-empty
    # the planted cross-batch pair is oriented (index doc, new doc)
    cross = [p for p in oriented if p[0] <= 3 and p[1] >= 100]
    assert cross, oriented
    # pigeonhole guard: max_hamming must stay below the chunk count
    with pytest.raises(ValueError, match="pigeonhole"):
        TD.simhash_pairs_vs_index(sig_b, sig_a, max_hamming=4)


def test_minhash_vs_index_exact_verify_closes_estimate_band(spark):
    """The texts= option of minhash_pairs_vs_index: with exact verification
    on, the incremental operator reports EXACTLY the pairs whose true n-gram
    Jaccard clears the threshold (byte-identical values to the ground truth),
    while the default estimate path — judged on k=64 signature agreement —
    misclassifies some pairs sitting near the threshold (the documented
    ±0.037-sd band). This is the accuracy-cliff closure: flipping from batch
    to incremental loses nothing when texts are supplied."""
    # 20 disjoint-vocabulary (base, variant) pairs whose exact 3-gram Jaccard
    # brackets the 0.85 threshold: replacing one interior token of an
    # L-token doc changes 3 of L-2 shingles -> J = (L-5)/(L+1)
    rows = []
    for i, L in enumerate(range(28, 68, 2)):
        toks = [f"w{i}x{j}" for j in range(L)]
        var = list(toks)
        var[L // 2] = f"sub{i}"
        rows.append((1000 + i, " ".join(toks)))      # base (index side)
        rows.append((2000 + i, " ".join(var)))       # variant (new batch)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ground = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in TD.ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.85
        ).collect()
    }
    assert 0 < len(ground) < 20  # the threshold truly bisects the pairs

    index_docs = docs.filter(F.col("doc_id") < 2000)
    new_docs = docs.filter(F.col("doc_id") >= 2000)
    sig_i = TD.minhash_signatures(index_docs, "doc_id", "text")
    sig_n = TD.minhash_signatures(new_docs, "doc_id", "text")

    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in TD.minhash_pairs_vs_index(
            sig_n, sig_i, threshold=0.85, texts=docs, id_col="doc_id"
        ).collect()
    }
    assert exact == ground  # same pairs, same exact-jaccard values

    est = {
        (r["doc_a"], r["doc_b"])
        for r in TD.minhash_pairs_vs_index(sig_n, sig_i, threshold=0.85)
        .collect()
    }
    assert est != set(ground)  # the estimate band misjudges boundary pairs


def test_exact_verify_pushes_candidate_ids_into_text_scan(spark, tmp_path):
    """The year-scale streaming-verify contract: when texts= is a
    parquet-backed survivors table, the candidate-id set (bounded, collected
    under texts_pushdown_cap) is pushed into the SCAN as a literal IN filter
    — PushedFilters shows In(doc_id, ...) — so the text touch is
    O(candidates) row groups, never a full survivors scan per trigger.
    Above the cap the semi-join fallback still returns identical pairs."""
    base = ("the quick brown fox jumps over the lazy dog while seventeen "
            "green turtles watch from a mossy log near the river bank today "
            "as morning light settles across the quiet valley floor")
    rows = [(1, base), (2, "completely different prose about orbital "
                           "mechanics spacecraft navigation and deep space "
                           "missions beyond the asteroid belt today")]
    index_docs = spark.createDataFrame(rows, "doc_id long, text string")
    new_docs = spark.createDataFrame(
        [(10, base.replace("today", "tonight"))], "doc_id long, text string"
    )
    tpath = str(tmp_path / "texts")
    index_docs.unionByName(new_docs).sortWithinPartitions("doc_id").write.parquet(
        tpath
    )
    texts = spark.read.parquet(tpath)
    sig_i = TD.minhash_signatures(index_docs, "doc_id", "text")
    sig_n = TD.minhash_signatures(new_docs, "doc_id", "text")
    pairs = TD.minhash_pairs_vs_index(
        sig_n, sig_i, threshold=0.7, texts=texts, id_col="doc_id"
    )
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert got == {(1, 10)}
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "In(doc_id" in plan, "candidate-id IN filter not pushed to the scan"

    # cap exceeded -> semi-join fallback, same result, no IN pushdown
    fallback = TD.minhash_pairs_vs_index(
        sig_n, sig_i, threshold=0.7, texts=texts, id_col="doc_id",
        texts_pushdown_cap=1,
    )
    assert {(r["doc_a"], r["doc_b"]) for r in fallback.collect()} == {(1, 10)}
    fplan = fallback._jdf.queryExecution().executedPlan().toString()
    assert "In(doc_id" not in fplan


def test_winnow_pairs_vs_index_matches_batch(spark):
    """Winnowing incremental twin differential: folding batches through
    winnow_fingerprints + winnow_pairs_vs_index reports exactly the pairs
    winnow_shared_pairs reports on the full concatenation (unordered pairs,
    identical shared-fingerprint counts; fingerprints are per-doc so batch
    and index signatures are bit-identical). Cross pairs arrive oriented
    (existing doc first); the max_df boilerplate cap composes with the
    index (union-df semantics)."""
    base = ("the quick brown fox jumps over the lazy dog while seventeen "
            "green turtles watch from a mossy log near the river bank")
    rows_a = [
        (1, base + " today in spring"),
        (2, "unrelated prose about orbital mechanics and spacecraft "
            "navigation systems for deep space missions beyond mars"),
    ]
    rows_b = [
        (100, base + " tonight in autumn"),   # shares a long run with 1
        (101, "fresh words on medieval bread baking and stone oven "
              "construction methods in rural mountain villages"),
    ]
    A = spark.createDataFrame(rows_a, "doc_id long, text string")
    B = spark.createDataFrame(rows_b, "doc_id long, text string")
    full = A.unionByName(B)

    batch = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in TD.winnow_shared_pairs(full, "doc_id", "text", min_shared=2)
        .collect()
    }
    fa = TD.winnow_fingerprints(A, "doc_id", "text")
    fb = TD.winnow_fingerprints(B, "doc_id", "text")
    inc = {}
    for r in (
        TD.winnow_pairs_vs_index(fa, None, min_shared=2).collect()
        + TD.winnow_pairs_vs_index(fb, fa, min_shared=2).collect()
    ):
        inc[(r["doc_a"], r["doc_b"])] = r["n_shared"]
    assert inc == batch and batch  # same pairs AND counts, non-empty
    assert (1, 100) in inc  # cross-batch pair oriented index-first

    # the boilerplate cap: max_df=1 kills every shared fingerprint (each is
    # held by >= 2 docs by definition of a shared pair)
    assert TD.winnow_pairs_vs_index(fb, fa, min_shared=1, max_df=1).count() == 0


def test_embedding_pairs_vs_index_matches_batch(spark):
    """Embedding incremental twin differential: folding batches through
    embedding_index_buckets + embedding_near_dup_pairs_vs_index reports
    exactly the pairs embedding_near_dup_pairs_lsh reports on the full
    concatenation (unordered pairs, identical exact cosines) — candidate
    coverage is symmetric (probe(a) hits home(b) iff hamming(sig_a, sig_b)
    <= 1 iff probe(b) hits home(a)), and verification is the same exact
    kernel, so nothing is lost by never probing from the index side. Cross
    pairs arrive oriented (index id first)."""
    import math
    import random

    rng = random.Random(11)

    def unit(d=8):
        v = [rng.gauss(0, 1) for _ in range(d)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    def jitter(v, eps):
        w = [x + rng.gauss(0, eps) for x in v]
        n = math.sqrt(sum(x * x for x in w))
        return [x / n for x in w]

    bases = [unit() for _ in range(6)]
    rows_a = [(i, bases[i]) for i in range(6)]
    rows_b = (
        [(100 + i, jitter(bases[i], 0.02)) for i in range(3)]  # near-dups of A
        + [(200 + i, unit()) for i in range(4)]                # fresh
        + [(210, jitter(bases[0], 0.02))]                      # also near base0
    )
    A = spark.createDataFrame(rows_a, "vec_id long, embedding array<double>")
    B = spark.createDataFrame(rows_b, "vec_id long, embedding array<double>")
    full = A.unionByName(B)
    kw = dict(threshold=0.95, n_planes=4, multiprobe=True, n_tables=2)

    batch = {
        frozenset((r["id_a"], r["id_b"])): r["cosine"]
        for r in TD.embedding_near_dup_pairs_lsh(
            full, "vec_id", "embedding", **kw
        ).collect()
    }
    idx = TD.embedding_index_buckets(A, "vec_id", "embedding", n_planes=4, n_tables=2)
    inc, oriented = {}, {}
    for r in (
        TD.embedding_near_dup_pairs_vs_index(
            A, None, "vec_id", "embedding", **kw
        ).collect()
        + TD.embedding_near_dup_pairs_vs_index(
            B, idx, "vec_id", "embedding", **kw
        ).collect()
    ):
        inc[frozenset((r["id_a"], r["id_b"]))] = r["cosine"]
        oriented[(r["id_a"], r["id_b"])] = r["cosine"]
    assert inc == batch and batch  # same pairs AND exact cosines, non-empty
    cross = [p for p in oriented if p[0] < 100 <= p[1]]
    assert cross, oriented  # index id first on cross-batch pairs


def test_incremental_twins_plan_sanity(spark):
    """Every incremental twin's candidate generation stays a keyed equi-join:
    no CartesianProduct and no BroadcastNestedLoopJoin anywhere in the four
    signature-twin plans (the embedding twin's sieve is a grouped
    applyInPandas — also keyed). The 100 TB contract these operators sell is
    precisely that batch-vs-index work is hash-partitioned on uniform keys."""
    docs = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i} common tail tokens here") for i in range(8)],
        "doc_id long, text string",
    )
    A, B = docs.filter("doc_id < 4"), docs.filter("doc_id >= 4")

    plans = []
    _, fp_idx = TD.exact_dedup_incremental(A, "doc_id", "text")
    surv, _ = TD.exact_dedup_incremental(B, "doc_id", "text", fp_idx)
    plans.append(surv)
    plans.append(
        TD.minhash_pairs_vs_index(
            TD.minhash_signatures(B, "doc_id", "text"),
            TD.minhash_signatures(A, "doc_id", "text"),
        )
    )
    plans.append(
        TD.minhash_pairs_vs_index(
            TD.minhash_signatures(B, "doc_id", "text"),
            TD.minhash_signatures(A, "doc_id", "text"),
            texts=docs, id_col="doc_id",
        )
    )
    plans.append(
        TD.simhash_pairs_vs_index(
            TD.simhash_signatures(B, "doc_id", "text"),
            TD.simhash_signatures(A, "doc_id", "text"),
        )
    )
    plans.append(
        TD.winnow_pairs_vs_index(
            TD.winnow_fingerprints(B, "doc_id", "text"),
            TD.winnow_fingerprints(A, "doc_id", "text"),
            max_df=10,
        )
    )
    for df in plans:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_pq_plan_sanity(emb):
    """The IVF-PQ path keeps the same keyed-join discipline as the
    unquantized index: candidate generation is a cell-keyed equi-join
    (broadcast query side), ADC is a grouped applyInPandas, the re-rank
    joins on ids — no CartesianProduct, no BroadcastNestedLoopJoin."""
    queries_df = emb.filter(F.col("vec_id") < 3)
    out = VS.ivf_pq_topk(
        emb, queries_df, "vec_id", "embedding", k=5, n_cells=8, n_probe=4
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_fingerprint_index_joins_without_exchange(spark):
    """The daily-ops layout upgrade the incremental docstring names: a
    fingerprint index maintained as a BUCKETED catalog table joins into
    exact_dedup_incremental with one fewer Exchange than the same index read
    as plain parquet (the index-side shuffle is amortized into the bucketed
    writes), and both forms keep identical survivors. Broadcast is disabled
    for the comparison so AQE cannot hide the exchange on the tiny fixture."""
    import os
    import tempfile

    from switchback_test_dag_spark.plans.bucketing import (
        exchange_count,
        write_bucketed,
    )

    docs = spark.createDataFrame(
        [(i, f"text number {i % 6}") for i in range(30)],
        "doc_id long, text string",
    )
    A, B = docs.filter("doc_id < 15"), docs.filter("doc_id >= 15")
    _, fps = TD.exact_dedup_incremental(A, "doc_id", "text")

    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        spark.sql("DROP TABLE IF EXISTS fp_index_test")
        write_bucketed(fps, "fp_index_test", ["fingerprint"], 4)
        surv_b, _ = TD.exact_dedup_incremental(
            B, "doc_id", "text", spark.table("fp_index_test")
        )
        with tempfile.TemporaryDirectory() as d:
            fps.write.parquet(os.path.join(d, "idx"))
            surv_p, _ = TD.exact_dedup_incremental(
                B, "doc_id", "text", spark.read.parquet(os.path.join(d, "idx"))
            )
            nb, np_ = exchange_count(surv_b), exchange_count(surv_p)
            assert nb < np_, (nb, np_)
            got_b = {r["doc_id"] for r in surv_b.collect()}
            got_p = {r["doc_id"] for r in surv_p.collect()}
        assert got_b == got_p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql("DROP TABLE IF EXISTS fp_index_test")


def test_exact_dedup_incremental_fold_invariant_property(spark):
    """Hypothesis property: for ANY corpus of short docs and ANY id-ordered
    split into batches, folding through exact_dedup_incremental keeps exactly
    the docs exact_dedup keeps on the concatenation. Randomized duplicate
    structure and batch boundaries — the differential the example-based test
    pins, generalized."""
    from hypothesis import given, settings, strategies as st

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
        index = None
        kept: set[int] = set()
        for b in range(n_batches):
            batch = docs.filter(
                F.col("doc_id").between(
                    b * len(rows) // n_batches,
                    (b + 1) * len(rows) // n_batches - 1,
                )
            )
            surv, new_rows = TD.exact_dedup_incremental(
                batch, "doc_id", "text", index
            )
            kept |= {r["doc_id"] for r in surv.collect()}
            index = new_rows if index is None else index.unionByName(new_rows)
        assert kept == full

    prop()


def test_estimated_jaccard_fn_table_is_accurate():
    """The k-sizing table in estimated_jaccard's docstring (false-negative
    rate of `estimate >= 0.85` under matches ~ Binomial(k, J)) — pinned so
    the documented numbers cannot drift from the math index-mode users size
    k with."""
    from math import ceil, comb

    def fn_rate(k, J, t=0.85):
        need = ceil(t * k - 1e-9)
        return sum(comb(k, i) * J**i * (1 - J) ** (k - i) for i in range(need))

    assert abs(fn_rate(64, 0.90) - 0.103) < 0.002   # "10.3%"
    assert abs(fn_rate(64, 0.88) - 0.23) < 0.01     # "23%"
    assert abs(fn_rate(128, 0.90) - 0.030) < 0.002  # "3.0%"
    assert abs(fn_rate(256, 0.90) - 0.0054) < 0.0005  # "0.54%"
    assert fn_rate(64, 0.95) < 0.002                # "0.12%"
