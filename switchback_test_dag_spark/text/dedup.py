"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard and
embedding-cosine near-dup, designed for 100 TB corpora.

Scale design:
- **exact**: hash-groupBy on a content fingerprint — one shuffle keyed on the
  fingerprint, map-side combinable.
- **MinHash+LSH**: the classic k-permutation signature is an explode over the
  hashed shingles + k codegen'd MIN aggregates (higher-order-function lambdas
  are interpreted per element — measured 7.7× slower than the aggregate form
  on long documents); banding explodes k/r band keys per doc and self-joins
  on (band, band_hash) — the shuffle is keyed on band hashes, which are
  uniform by construction (no skew), and the band frame is persisted so the
  self-join cannot re-derive the signature pipeline per side. Candidates are
  then verified with the exact Jaccard on shingle sets. This is the shape of
  every published web-scale dedup (e.g. the C4/RefinedWeb pipelines):
  candidate generation cost O(docs · bands), never O(docs²).
- **SimHash**: per-bit ±1 votes folded as ``bits`` codegen'd SUM aggregates
  over the exploded token hashes (same interpreted-HOF avoidance), then
  near-dup detection by Hamming distance on signature prefixes.
- **brute-force variants** (n-gram Jaccard, embedding cosine) are quadratic and
  exist as the *oracle/verification* path and for small candidate pools —
  production flows go through LSH first.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from switchback_test_dag_spark.text.analysis import content_fingerprint, word_shingles

# The persist calls in this module are load-bearing CollapseProject barriers
# (see minhash_lsh_pairs), not optional caches — but they must still be
# releasable: repeated invocations (benchmark loops, long-lived services)
# would otherwise accumulate cached blocks for the session's lifetime. Pins
# live in the session-wide registry (caching.py).
# barrier (persist re-rooted at its InMemoryRelation), not plain persist:
# every _persist site here feeds a
# SELF-join or several consumers, and a persisted frame still embeds its full
# logical lineage once per reference — the analyzer then deep-copies one side
# of each such join (DeduplicateRelations), so plan size and per-
# transformation analysis cost compound multiplicatively down a pipeline
# (doc_ngram_jaccard_pairs alone reached 742 plan operators / 48 leaf scans
# of `documents`). The barrier truncates the plan at the pinned frame; the
# materialized data, execution path, and release discipline are persist()'s,
# bit-for-bit (see caching.barrier).
from switchback_test_dag_spark.caching import barrier as _persist  # noqa: E402


# --------------------------------------------------------------------------- #
# exact dedup
# --------------------------------------------------------------------------- #


def exact_duplicate_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Groups of byte-identical (after whitespace/case normalization) docs:
    fingerprint → groupBy → keep groups with >1 member. One shuffle."""
    return (
        df.select(F.col(id_col), content_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one representative (min id) per content fingerprint. The standard
    first pass of any corpus pipeline; shuffle keyed on the fingerprint."""
    w_keep = (
        df.select(F.col(id_col), content_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(w_keep, on=id_col, how="left_semi")


# --------------------------------------------------------------------------- #
# MinHash + LSH
# --------------------------------------------------------------------------- #


def _shingle_hash_frame(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, par: int = 0
) -> DataFrame:
    """(doc, int-hashed positional-distinct shingles) with the tokenization
    materialized FIRST, behind the repartition Exchange: the token
    split/filter expression would otherwise be re-evaluated once per
    argument-level reference of the n-gram zip_with chain (~shingle_n + 1
    times per row) — measured ~25% of the whole LSH pipeline. Post-exchange,
    the n-gram slices reference a plain column (cheap reads, no recompute).
    Int-hashed shingles: Jaccard-identical sets (collisions ~|sh|²/2⁶⁴),
    8-byte join keys instead of variable-length text.

    The repartition names only the key, never a partition COUNT: a
    REPARTITION_BY_COL shuffle lets AQE size the exchange from the data
    (``coalescePartitions`` with ``parallelismFirst``), so a small corpus
    collapses to a few partitions while a large one keeps the full width —
    pinning ``defaultParallelism`` here fanned tiny inputs into dozens of
    near-empty tasks, and every downstream hash-aggregate/join task pays a
    fixed buffer-allocation cost (measured: a 32-task partial aggregate
    over 100k rows burned ~9 s executor CPU vs 0.3 s on 4 tasks; guide
    §2.2's fewer-larger-partitions rule). ``par`` is retained for call
    compatibility and ignored."""
    from switchback_test_dag_spark.text.analysis import (
        TOKEN_SPLIT_RE,
        _array_ngrams_sql,
    )

    toks = f"filter(split(lower({text_col}), '{TOKEN_SPLIT_RE}'), x -> x != '')"
    return (
        df.select(F.col(id_col).alias("doc"), F.expr(toks).alias("tk"))
        .filter(F.size("tk") >= shingle_n)
        .repartition("doc")
        .select("doc", F.expr(_array_ngrams_sql("tk", shingle_n)).alias("sh_str"))
        .select("doc", hashed_shingles("sh_str").alias("sh"))
    )


def minhash_signature(shingle_col: str, k: int = 64) -> Column:
    """k-permutation MinHash signature as ``array<bigint>`` over an
    *integer-hashed* shingle column (``array<bigint>``, see
    :func:`hashed_shingles`): hash function j is ``xxhash64(h, j)``;
    signature[j] = min over shingles. Hashing each shingle string once and
    deriving the k permutations from the 8-byte hash (instead of k full string
    hashes) is the standard MinHash trick — O(|shingles|·k) fixed-width int
    mixing inside codegen, independent of shingle length."""
    return F.expr(
        f"""transform(sequence(0, {k - 1}),
                      j -> array_min(transform({shingle_col}, h -> xxhash64(h, j))))"""
    )


def minhash_signature_oph(shingle_col: str, k: int = 64, seed: int = 0) -> Column:
    """One-permutation MinHash signature (Li et al. 2012, "One Permutation
    Hashing") with densification (Shrivastava & Li 2014; public methods):
    ONE xxhash64 per shingle instead of k — the k-independent CPU form for
    long documents. Each shingle's single hash is binned by ``pmod(h, k)``;
    signature[j] is the minimum hash in bin j, and an EMPTY bin borrows the
    nearest non-empty bin's value cyclically WITH the paper's offset term:
    the borrowed value is mixed with the borrow distance
    (``xxhash64(v, d)`` — the ANSI-overflow-safe equivalent of the additive
    ``v + d·C``), so two documents collide on an empty bin only when they
    borrow the SAME value from the SAME distance. Without the offset,
    borrowed positions are correlated for sparse-bin documents (every empty
    bin of both docs borrows the same raw value) and the banding recall
    formula ``1−(1−s^r)^bands`` overstates detection; with it the
    densified collision probability tracks the Jaccard similarity and the
    classic banding math applies. Per-document cost drops from O(|sh|·k)
    hash mixes to O(|sh| log |sh| + k²) with k² a fixed 64²-op
    densification scan — at k=64 and a few hundred shingles, ~10× less
    mixing work.

    Everything is bound through single-element ``transform(array(e), x ->
    …)`` wrappers so the sorted pair array, the bin map, and the borrowed
    (value, distance) struct are each evaluated ONCE per row
    (CollapseProject would otherwise inline the sort into every reference).
    Empty shingle arrays produce all-NULL signatures, same as
    :func:`minhash_signature` (``try_element_at`` everywhere, and the
    offset mix is NULL-guarded — ANSI mode). Candidate semantics are
    interchangeable with the classic signature because
    :func:`minhash_lsh_pairs` verifies every candidate with exact Jaccard —
    only candidate RECALL depends on the scheme (differential-tested in
    ``tests/test_text_dedup.py``)."""
    hs = f"transform({shingle_col}, h -> xxhash64(h, {seed}))"
    pairs = f"array_sort(transform({hs}, h -> struct(pmod(h, {k}) AS bin, h AS v)))"
    return F.expr(
        f"""try_element_at(transform(array({pairs}), p ->
      try_element_at(transform(array(map_from_entries(
            filter(p, (x, i) -> i = 0 OR x.bin != element_at(p, i).bin))), m ->
        transform(sequence(0, {k - 1}), j ->
          coalesce(try_element_at(m, CAST(j AS BIGINT)),
                   try_element_at(transform(array(
                       try_element_at(filter(transform(sequence(1, {k}),
                           d -> struct(d AS d, try_element_at(m,
                               CAST(pmod(j + d, {k}) AS BIGINT)) AS v)),
                         x -> x.v IS NOT NULL), 1)), s ->
                     CASE WHEN s IS NULL THEN NULL
                          ELSE xxhash64(s.v, s.d) END), 1)))), 1)), 1)"""
    )


def hashed_shingles(shingle_col: str) -> Column:
    """Shingle strings → distinct ``array<bigint>`` ids (one xxhash64 per
    shingle). Set semantics survive hashing (collision probability ~|sh|²/2⁶⁴),
    so Jaccard on the hashed arrays equals Jaccard on the strings while
    intersections compare 8-byte ints instead of variable-length text."""
    return F.expr(f"transform({shingle_col}, s -> xxhash64(s))")


def lsh_band_keys(sig_col: str, bands: int, rows: int) -> Column:
    """Band keys: xxhash64 of each r-row slice of the signature →
    ``array<struct<band:int, key:bigint>>``. Docs agreeing on any band collide."""
    return F.expr(
        f"""transform(sequence(0, {bands - 1}),
                      b -> struct(b AS band,
                                  xxhash64(array_join(slice({sig_col}, b * {rows} + 1, {rows}), ',')) AS key))"""
    )


def exact_jaccard(a_col: str, b_col: str) -> Column:
    """|A∩B| / |A∪B| over two (distinct-element) array columns; 0.0 when the
    union is empty (ANSI-safe)."""
    inter = f"size(array_intersect({a_col}, {b_col}))"
    union = f"size({a_col}) + size({b_col}) - {inter}"
    return F.expr(
        f"CASE WHEN {union} = 0 THEN 0.0 ELSE CAST({inter} AS DOUBLE) / ({union}) END"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.85,
    scheme: str = "classic",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, exact Jaccard ≥ threshold) via
    MinHash-LSH candidate generation + exact verification.

    rows-per-band r = k/bands; detection prob of a pair with true Jaccard s is
    1−(1−s^r)^bands (defaults: ≥1−4e-8 at s=0.9). The candidate self-join is
    keyed on uniform band hashes — no skew; verification joins shingle sets
    back only for candidates (LSH output ≪ docs²).

    ``scheme="oph"`` swaps the k-permutation signature for one-permutation
    hashing with densification (:func:`minhash_signature_oph`) — one hash
    per shingle instead of k, the CPU-bound scale path for long documents.
    Final pair semantics are identical either way (every candidate is
    verified with exact Jaccard); only candidate recall depends on the
    scheme, and both schemes' banding detection math is the same.

    **Choosing the scheme — the crossover rule.** Signature cost is
    ~k hash-mins per shingle for classic vs ~1 hash per shingle plus O(k)
    densification per document for OPH, so OPH's win grows with
    shingles-per-document and shrinks with k. Measured on this engine
    (SCALE_evidence.json ``minhash_oph``: 1 200 docs, ~3 000 tokens/doc,
    k=64): OPH 1.88× less executor CPU with byte-identical verified pairs.
    Rule of thumb: prefer ``"oph"`` when typical documents carry more than
    ~10·k shingles (long-form corpora — the codegen'd classic aggregates
    close most of the gap below that, and at ≲k shingles OPH's bins are
    mostly empty so densification does the work for no saving); prefer
    ``"classic"`` for short-text corpora and wherever an external engine
    must replay the exact signature (the oracle replays classic).
    """
    if scheme not in ("classic", "oph"):
        raise ValueError(f"minhash_lsh_pairs: unknown scheme {scheme!r}")
    rows = k // bands
    # persist() is load-bearing, not a cache nicety: without the materialization
    # boundary CollapseProject inlines the O(tokens) shingle expression into the
    # signature lambda and it is re-evaluated k times per row (64× slowdown
    # measured). The shingle set is also reused by the verification join.
    # repartition: a few big parquet files would otherwise serialize the
    # CPU-heavy shingling/hashing onto as few cores; spread rows first.
    par = df.sparkSession.sparkContext.defaultParallelism
    shingled = _persist(_shingle_hash_frame(df, id_col, text_col, shingle_n, par))
    if scheme == "classic":
        # k-permutation signature via explode + k codegen'd MIN aggregates
        # instead of the nested-transform HOF of minhash_signature: the HOF
        # form is interpreted per element and allocates one k-hash array per
        # permutation per doc; the aggregate form keeps all k·|sh| xxhash64
        # mixes inside WholeStageCodegen. Identical values (min over the same
        # multiset — duplicates cannot move a min; `{j}` literals parse as
        # INT, matching sequence(0, k-1) element typing, so the seeded hashes
        # are bit-for-bit the HOF ones). The shingled frame is persisted and
        # hash-partitioned on doc, so the groupBy adds no Exchange.
        mins = (
            shingled.select("doc", F.explode("sh").alias("h"))
            .groupBy("doc")
            .agg(
                *[
                    F.min(F.expr(f"xxhash64(h, {j})")).alias(f"__m{j}")
                    for j in range(k)
                ]
            )
        )
        sig = mins.select(
            "doc", F.array(*[f"__m{j}" for j in range(k)]).alias("sig")
        )
    else:
        sig = shingled.select("doc", minhash_signature_oph("sh", k).alias("sig"))
    banded = sig.select(
        "doc", F.explode(lsh_band_keys("sig", bands, rows)).alias("bk")
    ).select("doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # persist the band-key frame: the candidate SELF-join otherwise plans the
    # whole signature pipeline (shingle scan → k-min aggregate → banding) as
    # two independent subtrees — the signature cost doubles. The cache is
    # docs × bands rows of three fixed-width columns, scale-safe.
    banded = _persist(banded)
    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    sh_a = shingled.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = shingled.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("jaccard", exact_jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def minhash_dedup(
    df: DataFrame, id_col: str, text_col: str, **lsh_kwargs
) -> DataFrame:
    """Drop near-duplicates: every doc appearing as the greater id of a
    near-dup pair is removed (greedy min-id keeper — the C4-style policy).
    For cluster-canonical semantics (one keeper per CONNECTED duplicate
    cluster, collapsing transitive chains) use :func:`component_dedup`."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, **lsh_kwargs)
    losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# --------------------------------------------------------------------------- #
# SimHash
# --------------------------------------------------------------------------- #


def simhash_from_hashes(hash_col: str, bits: int = 64) -> Column:
    """SimHash signature from *pre-hashed* tokens (``array<bigint>``): per-bit
    sum of ±1 votes read straight off each 64-bit token hash, sign-folded into
    a ``bits``-wide bigint. The per-row cost is O(tokens·bits) integer shifts —
    no string hashing inside the bit loop. Callers must materialize the hashed
    array behind a persist/shuffle boundary, or CollapseProject re-inlines the
    hashing into all ``bits`` lambda iterations."""
    return F.expr(
        f"""aggregate(
              transform(sequence(0, {bits - 1}),
                        i -> CASE WHEN aggregate({hash_col}, 0L,
                                    (acc, h) -> acc + CASE WHEN shiftright(h, i) % 2 != 0 THEN 1 ELSE -1 END) > 0
                             THEN shiftleft(1L, i) ELSE 0L END),
              0L, (acc, x) -> acc + x)"""
    )


def simhash(token_col: str, bits: int = 64) -> Column:
    """SimHash signature of a (string) token array — convenience form of
    :func:`simhash_from_hashes`; prefer the pre-hashed variant in pipelines
    (hashing once per token instead of once per token per bit)."""
    return simhash_from_hashes(f"transform({token_col}, t -> xxhash64(t))", bits)


def hamming64(a_col: str, b_col: str) -> Column:
    """Hamming distance between two 64-bit signatures: popcount of XOR."""
    return F.expr(f"bit_count({a_col} ^ {b_col})")


def _simhash_sig_frame(
    df: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """``(doc, sig)`` SimHash signature frame — the shared signature stage of
    :func:`simhash_pairs` (batch) and :func:`simhash_signatures` (the
    persistable incremental-index unit). Signature via explode + codegen'd
    aggregate, NOT the per-bit ``aggregate(...)`` lambda of
    :func:`simhash_from_hashes`: higher-order functions are interpreted per
    element (boxed lambda calls), so the HOF form costs ``bits`` interpreted
    passes over every token array. Exploding the token hashes once and
    folding the per-bit ±1 votes as ``bits`` SUM aggregates keeps the hot
    loop inside WholeStageCodegen — bit-for-bit the same signature (vote
    sums are order-independent integers). The repartition spreads the md5
    hashing across cores BEFORE the explode (the parquet scan may be a
    single file) and doubles as the partitioning the groupBy reuses, so
    there is exactly one Exchange in the signature stage.

    Portability: token hashes are the first 15 hex chars of md5 read as a
    60-bit bigint (same trick as :func:`winnow_fingerprints`), so the
    signature is bit-for-bit replayable in any engine with md5 + integer
    shifts."""
    from switchback_test_dag_spark.text.analysis import tokens

    th_rows = (
        df.select(F.col(id_col).alias("doc"), tokens(text_col).alias("__toks"))
        .filter(F.size("__toks") > 0)
        # key-only repartition: AQE sizes the exchange from the data
        # (see _shingle_hash_frame — pinning a count fans tiny corpora
        # into near-empty tasks whose aggregate-buffer setup dominates)
        .repartition("doc")
        .select(
            "doc",
            F.explode(
                F.expr(
                    "transform(__toks,"
                    " t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"
                )
            ).alias("h"),
        )
    )
    votes = th_rows.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.expr(f"shiftright(h, {i}) % 2 != 0"), 1).otherwise(-1)
            ).alias(f"__v{i}")
            for i in range(bits)
        ]
    )
    sig_sql = " + ".join(
        f"(CASE WHEN __v{i} > 0 THEN shiftleft(1L, {i}) ELSE 0L END)"
        for i in range(bits)
    )
    return votes.select("doc", F.expr(sig_sql).alias("sig"))


def simhash_chunk_keys(sig_col: str, prefix_bits: int, bits: int) -> Column:
    """Pigeonhole chunk keys derived from a SimHash signature:
    ``array<struct<chunk:int, val:bigint>>`` of the ``bits // prefix_bits``
    non-overlapping ``prefix_bits``-wide slices. Any pair within Hamming
    distance < bits//prefix_bits agrees on at least one chunk, so a join
    keyed on (chunk, val) generates complete candidates for the defaults
    (4 chunks, max_hamming 3). Derived at QUERY time — an index stores one
    bigint per doc, nothing else."""
    n_chunks = bits // prefix_bits
    return F.expr(
        f"""transform(sequence(0, {n_chunks - 1}),
                      c -> struct(c AS chunk,
                                  shiftright({sig_col}, c * {prefix_bits}) & {(1 << prefix_bits) - 1} AS val))"""
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    prefix_bits: int = 15,
    bits: int = 60,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of 4 signature chunks
    (pigeonhole: any pair within Hamming ≤ 3 agrees on ≥ 1 of 4 chunks),
    verified by full Hamming distance. Candidate join is keyed on
    (chunk index, chunk value) — uniform, skew-free.

    Portability: token hashes are the first 15 hex chars of md5 read as a
    60-bit bigint (same trick as :func:`winnow_fingerprints`), so the
    signature, the pigeonhole candidate set, and the Hamming verification are
    all bit-for-bit replayable in any engine with md5 + integer shifts — the
    DuckDB oracle replays the whole algorithm, not just an aggregate."""
    sigs = _simhash_sig_frame(df, id_col, text_col, bits)
    chunks = sigs.select(
        "doc",
        "sig",
        F.explode(simhash_chunk_keys("sig", prefix_bits, bits)).alias("ck"),
    ).select("doc", "sig", F.col("ck.chunk").alias("chunk"), F.col("ck.val").alias("val"))
    # persist the chunk frame: the pigeonhole SELF-join otherwise plans the
    # whole signature pipeline (token md5 → 60-sum vote aggregate → chunking)
    # as two independent subtrees — the signature cost doubles. The cache is
    # docs × n_chunks fixed-width rows, scale-safe.
    chunks = _persist(chunks)
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.expr("bit_count(a.sig ^ b.sig)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------- #
# winnowing (rolling-hash fingerprints)
# --------------------------------------------------------------------------- #


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """MOSS-style winnowing fingerprints: the rolling-hash document
    fingerprinting scheme (Schleimer/Wilkerson/Aiken, SIGMOD'03). Per doc:
    POSITIONAL word ``shingle_n``-grams (order kept, duplicates kept — unlike
    the Jaccard shingle set) → a rolling hash per position → the minimum hash
    in every ``window`` of consecutive positions → distinct selected
    fingerprints. Guarantees any shared run of ``window + shingle_n - 1``
    tokens yields at least one shared fingerprint, while storing ~2/(window+1)
    of all hashes.

    Portability: the hash is the 16-hex-char md5 prefix kept AS A STRING —
    lowercase hex compares lexicographically identically to its numeric value
    on any engine, so window minima (and therefore the selected fingerprints)
    are engine-portable; an oracle can replay the exact selection in SQL.

    Scale: everything is per-row array arithmetic in codegen until the final
    explode; the only shuffle is whatever the caller keys on the fingerprint.
    The hash stage is materialized behind a repartition boundary so
    CollapseProject cannot inline it into the window-min lambda (which would
    re-evaluate the md5 transform once per window — O(len·window) blowup).

    Returns (doc, fingerprint) rows, distinct per doc.
    """
    from switchback_test_dag_spark.text.analysis import (
        TOKEN_SPLIT_RE,
        _array_ngrams_sql,
    )

    toks = f"filter(split(lower({text_col}), '{TOKEN_SPLIT_RE}'), x -> x != '')"
    # positional n-grams: order kept, duplicates kept (distinct=False) —
    # the shared bind-once builder, unlike the Jaccard shingle SET
    acc = _array_ngrams_sql("tk", shingle_n, " ", distinct=False)
    hashed = (
        df.select(F.col(id_col).alias("doc"), F.expr(toks).alias("tk"))
        .filter(F.size("tk") >= shingle_n + window - 1)
        .select("doc", F.expr(acc).alias("sh"))
        .select(
            "doc",
            F.expr("transform(sh, s -> substring(md5(s), 1, 16))").alias("h"),
        )
        # Exchange: blocks CollapseProject inlining; key-only so AQE sizes
        # the partition count from the data (see _shingle_hash_frame)
        .repartition("doc")
    )
    # window minimum as least(element_at(...)) over the fixed window width:
    # the per-position lambda body is allocation-free O(1) lookups instead
    # of slice() materializing a fresh window-length array that array_min
    # then re-traverses with an ordering object — measured 2.9× less
    # executor CPU on the selection stage at sf0.1, value-identical (least
    # and array_min share the binary string ordering; every element_at is
    # in-bounds by the sequence upper limit, so no NULLs enter).
    if window < 1:
        raise ValueError(f"winnowing window must be >= 1, got {window}")
    if window == 1:
        # degenerate window: every position is its own minimum, so the
        # fingerprint set is simply the distinct hashes (least() needs >= 2
        # args, so the general form below cannot express this case)
        sel = "array_distinct(h)"
    else:
        least = ", ".join(
            f"element_at(h, j + {k})" for k in range(1, window + 1)
        )
        sel = (
            f"array_distinct(transform(sequence(0, size(h) - {window}), "
            f"j -> least({least})))"
        )
    fps = hashed.select("doc", F.explode(F.expr(sel)).alias("fingerprint"))
    return fps


def winnow_shared_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Doc pairs sharing ≥ ``min_shared`` winnowing fingerprints — the
    plagiarism-detector join: inverted index on the fingerprint, join volume
    Σ_f df(f)² (proportional to actual sharing, never docs²).

    ``max_df`` applies MOSS's boilerplate rule (Schleimer et al. §4: ignore
    matches that "occur in many documents"): fingerprints whose document
    frequency exceeds the cap are dropped BEFORE the pair join. This is the
    scale lever for the df² term — a fingerprint shared by n docs contributes
    n² join rows, and template/boilerplate text is exactly where huge n comes
    from — at the documented cost that pairs sharing ONLY boilerplate no
    longer surface (the algorithm's own intent). ``None`` keeps the exact
    all-sharing semantics the oracle replays."""
    fps = _persist(winnow_fingerprints(df, id_col, text_col, shingle_n, window))
    if max_df is not None:
        rare = (
            fps.groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("fingerprint")
        )
        # persist the capped postings too: the pair SELF-join below otherwise
        # plans the df-cap join (cache scan + df aggregate + join) once per
        # side — the whole boilerplate-cap stage would run twice
        fps = _persist(fps.join(rare, "fingerprint"))
    return (
        fps.alias("a")
        .join(
            fps.alias("b"),
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------------------------------- #
# brute-force verification paths
# --------------------------------------------------------------------------- #


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.85,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard pairs (jaccard ≥ threshold > 0) via an inverted
    index with AllPairs-style **prefix filtering**.

    The naive inverted-index self-join's output is Σ_s df(s)² — quadratic in
    the document frequency of COMMON shingles, which is exactly what blows up
    under scale (measured: a 10× corpus made the unfiltered join ~80× slower;
    one shingle shared by n docs contributes n²). Prefix filtering (Bayardo et
    al., "Scaling Up All Pairs Similarity Search", WWW'07) restores linearity
    while staying EXACT: order every doc's shingles by ascending global df
    (ties by hash — one total order for all docs) and index only the first
    ``|d| − ⌈t·|d|⌉ + 1``. Any pair with Jaccard ≥ t must share at least one
    PREFIX shingle (if all shared shingles sat outside both prefixes, the
    intersection would be too small to reach t), so candidate generation keyed
    on prefix shingles misses nothing; exact verification via
    ``array_intersect`` on the full shingle sets then computes the true
    Jaccard. Hot shingles land at the END of the df order — outside most
    prefixes — so df² collapses to the rare-shingle postings.

    Shuffles: df count + re-join (by shingle; map-side-combined groupBy, NOT a
    window — see inline comment) + prefix rank (by doc) + candidate join
    (by prefix shingle) + verification (by doc) — all keyed, no all-pairs.
    ``prefix_filter=False`` keeps the single-join form (fine for small or
    low-overlap corpora; differential-tested equal)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    shingled = _persist(_shingle_hash_frame(df, id_col, text_col, shingle_n, par))
    sizes = shingled.select("doc", F.size("sh").alias("sz"))
    ex = shingled.select("doc", F.explode("sh").alias("h"))

    if prefix_filter:
        from pyspark.sql import Window

        # df(h) via groupBy + re-join, NOT count().over(Window.partitionBy("h")):
        # h is a NATURAL key with Zipfian skew (a stop-word shingle can appear
        # in a large fraction of all docs), and WindowExec routes every posting
        # of a key to ONE task with no skew mitigation — a straggler/OOM at
        # scale. groupBy("h").count() partial-aggregates map-side (the hot key
        # collapses to one row per map partition before the exchange), and the
        # join back on h is the shape AQE skew-join splitting handles.
        # prefix bound |d| − ⌈t·|d|⌉ + 1 in EXACT integer arithmetic: the
        # threshold is interpreted as the decimal the caller wrote (0.85 =
        # 17/20), and ⌈num·sz/den⌉ = (num·sz + den − 1) div den — a float
        # t·sz product can round a hair above an integral value and make
        # ceil() overshoot, shortening the prefix below what the AllPairs
        # lemma requires for pairs at exactly the threshold
        from fractions import Fraction

        tfrac = Fraction(str(threshold))
        num, den = tfrac.numerator, tfrac.denominator
        prefix_bound = (
            F.col("sz") - F.expr(f"(({num} * sz + {den} - 1) div {den})") + F.lit(1)
        )
        dfc = ex.groupBy("h").agg(F.count(F.lit(1)).alias("dfr"))
        pref = (
            ex.join(dfc, "h")
            .withColumn(
                "rn",
                F.row_number().over(Window.partitionBy("doc").orderBy("dfr", "h")),
            )
            .join(sizes, "doc")
            .filter(F.col("rn") <= prefix_bound)
            .select("doc", "h")
        )
        # persist the prefix postings: the candidate SELF-join otherwise
        # plans the df-count window + prefix-rank window (two sorts over all
        # postings) as two independent subtrees — the indexing cost doubles.
        # The cache is the prefix postings only (≤ (1−t)·|sh|+1 per doc).
        pref = _persist(pref)
        cand = (
            pref.alias("a")
            .join(
                pref.alias("b"),
                (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(
                F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
            )
            .distinct()
        )
        verified = (
            cand.join(
                shingled.select(
                    F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a")
                ),
                "doc_a",
            )
            .join(
                shingled.select(
                    F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")
                ),
                "doc_b",
            )
            .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                F.col("inter")
                / (
                    F.size("sh_a") + F.size("sh_b") - F.col("inter")
                ).cast("double"),
            )
        )
        return verified.filter(F.col("jaccard") >= threshold).select(
            "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")
        )

    common = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc", "doc_a"), "doc_a")
        .withColumnRenamed("sz", "sz_a")
        .join(sizes.withColumnRenamed("doc", "doc_b"), "doc_b")
        .withColumnRenamed("sz", "sz_b")
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def vec_dot(a_col: str, b_col: str) -> Column:
    """Dot product of two float-array columns (zip_with/aggregate, codegen)."""
    return F.expr(
        f"aggregate(zip_with({a_col}, {b_col}, (x, y) -> CAST(x AS DOUBLE) * y), "
        "0D, (acc, v) -> acc + v)"
    )


def vec_norm(col: str) -> Column:
    """L2 norm of a float-array column."""
    return F.expr(
        f"sqrt(aggregate({col}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * v))"
    )


def cosine_sim(a_col: str, b_col: str) -> Column:
    """Cosine similarity of two float-array columns via zip_with/aggregate dot
    products (JVM-side; no UDF). 0.0 for zero-norm inputs (ANSI-safe).

    Per-pair cost is O(dim) for the dot *and* both norms; in all-pairs flows
    precompute per-row norm columns behind a shuffle/persist boundary and
    combine :func:`vec_dot` with them instead (norms once per row, not per
    pair)."""
    dot = f"aggregate(zip_with({a_col}, {b_col}, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, v) -> acc + v)"
    na = f"sqrt(aggregate({a_col}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * v))"
    nb = f"sqrt(aggregate({b_col}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * v))"
    return F.expr(
        f"CASE WHEN {na} = 0 OR {nb} = 0 THEN 0.0 ELSE {dot} / ({na} * {nb}) END"
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    max_broadcast_rows: int = 250_000,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ threshold), exact.

    Dense all-pairs similarity is the one operator where Spark's built-in array
    expressions genuinely lose: ``zip_with``/``aggregate`` evaluate interpreted
    per element, so pairs × dim interpreted steps (measured ~100× slower than
    BLAS). This is the sanctioned Pandas-UDF case — one side is L2-normalized
    into a dense float64 matrix and broadcast (all-pairs is only feasible when
    one side fits in memory *by definition*), the other side streams through
    ``mapInPandas`` in Arrow batches doing one blocked matmul per batch. Scales
    linearly across executors in the streamed side; no shuffle beyond the
    initial spread.

    **Scale guard**: the broadcast side is the WHOLE input, so driver memory is
    O(corpus). The collect is gated at ``max_broadcast_rows`` (default 250k ≈
    256 MB at 128-dim float64) and raises with a pointer to
    :func:`embedding_near_dup_pairs_lsh`, the bucketed path that never
    materializes the corpus on the driver."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    side = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    n_rows = side.count()
    if n_rows > max_broadcast_rows:
        raise ValueError(
            f"embedding_near_dup_pairs: input has {n_rows} rows > "
            f"max_broadcast_rows={max_broadcast_rows}; the exact all-pairs path "
            "collects one full side to the driver. Use "
            "embedding_near_dup_pairs_lsh (bucketed candidates, no driver "
            "collect) for large corpora, or raise the cap explicitly."
        )
    pdf = side.toPandas()
    if pdf.empty:  # empty corpus → empty pair set (np.stack cannot take [])
        return spark.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, cosine double"
        )
    # One Arrow batch per ~2k rows keeps each task a real blocked matmul;
    # 32 near-empty tasks would pay Python-worker overhead per task instead.
    par = max(
        1, min(spark.sparkContext.defaultParallelism, len(pdf) // 2048 + 1)
    )
    ids_b = pdf["id"].to_numpy()
    mat_b = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat_b, axis=1)
    norms[norms == 0] = np.inf  # zero-norm rows score cosine 0 with everything
    bc = spark.sparkContext.broadcast((ids_b, mat_b / norms[:, None]))
    thr = float(threshold)

    def score(batches):
        all_ids, normed = bc.value
        for batch in batches:
            if batch.empty:
                continue
            ids_a = batch["id"].to_numpy()
            mat_a = np.stack(batch["v"].to_numpy()).astype(np.float64)
            na = np.linalg.norm(mat_a, axis=1)
            na[na == 0] = np.inf
            normed_a = mat_a / na[:, None]
            # block over the broadcast side: a full batch×corpus sims matrix
            # (plus its threshold/ordering masks) is hundreds of MB of fresh
            # allocations per task — blocked scoring keeps the working set
            # cache-sized, which measures dramatically faster under memory
            # pressure and identical when memory is cheap
            out_a, out_b, out_c = [], [], []
            for j0 in range(0, normed.shape[0], 4096):
                blk_ids = all_ids[j0 : j0 + 4096]
                sims = normed_a @ normed[j0 : j0 + 4096].T
                ia, ib = np.nonzero(
                    (sims >= thr) & (ids_a[:, None] < blk_ids[None, :])
                )
                out_a.append(ids_a[ia])
                out_b.append(blk_ids[ib])
                out_c.append(np.round(sims[ia, ib], 4))
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "cosine": np.concatenate(out_c),
                }
            )

    return side.repartition(par, "id").mapInPandas(
        score, schema=f"id_a {id_type}, id_b {id_type}, cosine double"
    )


def _pair_cosine_arrow():
    """Arrow-batched exact cosine for candidate PAIRS (va, vb side by side):
    one einsum per batch instead of an interpreted zip_with per element —
    the measured ~100× JVM-interpreted penalty is exactly why the exact
    all-pairs path already uses numpy; candidate verification at scale has
    the same profile (millions of pairs × dim interpreted steps)."""

    @F.pandas_udf("double")
    def pair_cosine(va: pd.Series, vb: pd.Series) -> pd.Series:
        if va.empty:
            return pd.Series([], dtype="float64")
        a = np.stack(va.to_numpy()).astype(np.float64)
        b = np.stack(vb.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", a, b)
        den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        return pd.Series(np.where(den == 0, 0.0, num / np.where(den == 0, 1, den)))

    return pair_cosine


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    multiprobe: bool = True,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at corpus scale: hyperplane-LSH bucketed
    candidate generation + exact cosine verification — no driver-side collect,
    no O(n²) pair materialization.

    Vectors sharing a sign pattern over ``n_planes`` pseudo-random hyperplanes
    (``vectors.similarity.hyperplane_signature``) become candidates; with
    ``multiprobe`` one side also probes every Hamming-1 neighbor bucket, so a
    pair survives a table unless its members disagree on ≥ 2 of its planes.
    ``n_tables`` ORs that many INDEPENDENT plane families (plane_offset =
    t·n_planes — recall compounds exactly as MinHash bands do): a pair is a
    candidate if ANY table surfaces it, so the per-pair miss probability
    decays geometrically (miss_one_table^n_tables). For cosine ≥ 0.95
    (θ ≤ 18.2°) each plane splits the pair with prob θ/π ≤ 0.101, giving
    per-table recall ≥ 1 − C(8,2)·0.101² ≈ 0.81 at n_planes=8; three tables
    push the floor past 0.99. Shuffle is keyed on (table, bucket); per-bucket
    candidate cost is Σ_b |b|² per table — the classic LSH tradeoff, tuned so
    buckets hold ~corpus/2^n_planes vectors.

    Physical shape: the candidate PAIR set is never materialized as rows.
    Each (table, bucket) group gets its member vectors once (shuffle volume
    O(corpus · tables · (1 + probes) · dim) — linear in the corpus, like the
    MinHash band shuffle) and a per-group BLAS matmul sieves the |bucket|²
    pair expansion INSIDE numpy, emitting only id pairs that clear the
    threshold (minus an ulp margin). An earlier id-pair-join formulation
    materialized Σ_b |b|² candidate rows through a join + global dedup —
    ~500M rows at a 20k-vector corpus with 4-plane tables, measured 11×
    SLOWER than the broadcast-exact path it exists to replace; the sieve
    turns that volume into ~10¹¹ BLAS flops and emits ~|true pairs| rows.
    Survivors are deduped (tables/probes re-hit pairs), re-attached to their
    vectors (joins sized by the TRUE pair count), and re-scored by the
    canonical per-pair kernel so emitted cosines are independent of bucket
    shapes and partitioning — the group matmul is only ever a sieve, so
    1-ulp blocked-summation differences cannot flip a hash.

    Few-huge-groups hazard: one (table, bucket) group is one task, so bucket
    occupancy must be controlled via ``n_planes`` (target ≈ log2(corpus /
    desired_bucket)); run exact dedup first so identical-vector masses
    cannot pile into one bucket."""
    import numpy as np
    import pandas as pd
    from switchback_test_dag_spark.vectors.similarity import (
        _vec_dim,
        hyperplane_signature,
    )

    dim = _vec_dim(df, vec_col)
    if dim is None:  # empty corpus: no pairs, and no dim to build planes from
        id_type = df.schema[id_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, cosine double"
        )
    sig_cols = [
        hyperplane_signature(vec_col, n_planes, dim, plane_offset=t * n_planes).alias(
            f"sig{t}"
        )
        for t in range(n_tables)
    ]
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), *sig_cols)
    base = _persist(base)  # signatures are O(dim·planes·tables); compute once
    if multiprobe:
        probe_arrays = [
            f"transform(array_union(array(sig{t}), "
            f"transform(sequence(0, {n_planes - 1}), p -> sig{t} ^ shiftleft(1L, p))), "
            f"b -> struct({t} AS t, b AS bucket))"
            for t in range(n_tables)
        ]
    else:
        probe_arrays = [
            f"array(struct({t} AS t, sig{t} AS bucket))" for t in range(n_tables)
        ]
    id_type = df.schema[id_col].dataType.simpleString()
    a = base.select(
        "id",
        "v",
        F.explode(F.expr("concat(" + ", ".join(probe_arrays) + ")")).alias("tb"),
        F.lit(True).alias("probe"),
    )
    b_arr = ", ".join(f"struct({t} AS t, sig{t} AS bucket)" for t in range(n_tables))
    b = base.select(
        "id",
        "v",
        F.explode(F.expr(f"array({b_arr})")).alias("tb"),
        F.lit(False).alias("probe"),
    )
    both = a.unionByName(b).select(
        F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"),
        "id", "v", "probe",
    )
    thr = float(threshold)

    def sieve(pdf: pd.DataFrame) -> pd.DataFrame:
        pa, pb = pdf[pdf["probe"]], pdf[~pdf["probe"]]
        if pa.empty or pb.empty:
            return pd.DataFrame({"id_a": [], "id_b": []})
        ma = np.stack(pa["v"].to_numpy()).astype(np.float64)
        mb = np.stack(pb["v"].to_numpy()).astype(np.float64)
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
        na[na == 0] = np.inf
        nb[nb == 0] = np.inf
        sims = (ma / na[:, None]) @ (mb / nb[:, None]).T
        ids_a = pa["id"].to_numpy()
        ids_b = pb["id"].to_numpy()
        # 1e-7 margin: the sieve must never REJECT a pair the canonical
        # per-pair kernel would accept; blocked-matmul summation order can
        # differ from the einsum by ulps, never by 1e-7 at unit norms
        ia, ib = np.nonzero(
            (sims >= thr - 1e-7) & (ids_a[:, None] < ids_b[None, :])
        )
        return pd.DataFrame({"id_a": ids_a[ia], "id_b": ids_b[ib]})

    cand = (
        both.groupBy("t", "bucket")
        .applyInPandas(sieve, schema=f"id_a {id_type}, id_b {id_type}")
        .dropDuplicates(["id_a", "id_b"])  # multiprobe/extra tables re-hit pairs
    )
    vecs = base.select("id", "v")
    return (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        # final filter on the UNROUNDED canonical cosine (the exact path's and
        # the oracle's convention), rounded only for display: round-then-filter
        # admitted boundary pairs (cosine ∈ [threshold−5e-5, threshold)) the
        # exact path rejects — 112 spurious "false positives" on the sf1 audit
        .withColumn("cosine", _pair_cosine_arrow()("va", "vb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


# --------------------------------------------------------------------------- #
# connected components over near-dup pair graphs (cluster -> canonical keeper)
# --------------------------------------------------------------------------- #


def connected_components(
    pairs: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 50,
    driver_threshold: int = 1_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) labeling of the undirected pair graph — the step a
    production dedup pipeline needs BETWEEN pair generation and keeper
    selection: pairwise drop-the-greater (``minhash_dedup``) can orphan
    transitive duplicates (A~B, B~C but A!~C keeps A and C), while a
    component gives one canonical keeper (its min id) per duplicate CLUSTER.

    Regimes, chosen by measured UNDIRECTED edge count (``driver_threshold``
    bounds the pre-symmetrization pair rows; the edge list is materialized
    once up front either way — ``pairs`` is usually the output of a full
    candidate-generation pipeline, and re-deriving it per round would re-run
    MinHash-LSH every iteration):

    - ``≤ driver_threshold`` edges: path-compressed union-find on the
      driver. Near-dup PAIR sets are tiny relative to the corpus (pairs are
      the exception, not the rule — a corpus that produced 10⁹ near-dup
      pairs has a different problem), and the distributed loop's per-round
      fixed job cost dominates at this size (measured: 6+ jobs ≈ 2.5 s for
      a 250-edge graph). The collect is bounded by the threshold — ~16 MB —
      the same bounded-by-contract shape as the IVF centroid sample.
    - larger: iterative distributed min-label propagation — each round every
      node takes the min of its own and its neighbors' labels; one shuffle
      per round, converging in O(graph diameter) rounds (dedup graphs are
      dense clusters, diameter ≈ 2). Each round ends in ``localCheckpoint``
      — load-bearing: it truncates the lineage so the plan does not double
      per iteration.
    - a graph that has NOT converged after ``max_iter`` propagation rounds
      (diameter beyond the dedup-cluster assumption) falls back to the
      alternating large-star/small-star algorithm (Kiveris et al.,
      "Connected Components in MapReduce and Beyond"), which contracts any
      graph in O(log² n) rounds regardless of diameter — a slower per-round
      regime, never a failure.

    ``stats``, when provided, is populated in place with the measured run
    shape — ``{"regime", "edges", "rounds"}`` — so scale audits can record
    rounds-to-convergence without re-instrumenting the loop.
    """
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .localCheckpoint()
    )
    n_edges = edges.count()
    if stats is not None:
        stats.update(regime="driver", edges=n_edges, rounds=0)
    if n_edges <= driver_threshold:
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        # toPandas()/Arrow in, pandas/Arrow out — NOT collect() + tuple
        # createDataFrame: the per-row pickled paths cost seconds at the
        # threshold edge count (measured 5 s collect + 40 s createDataFrame
        # for a 125k-edge sf1 graph vs < 1 s via Arrow batches), and one job
        # per partition rules out toLocalIterator. The result is bounded by
        # driver_threshold either way — union-find needs each undirected
        # edge once, so no symmetrization of the transfer.
        import pandas as pd

        epdf = edges.toPandas()
        # .tolist() yields native Python scalars (hashable, exact) for the
        # dict keys regardless of the id dtype (int64 or string)
        for a, b in zip(epdf["a"].tolist(), epdf["b"].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        node_t = edges.schema["a"].dataType
        out_schema = StructType(
            [
                StructField("node", node_t, False),
                StructField("component", node_t, False),
            ]
        )
        nodes = list(parent)
        out_pdf = pd.DataFrame(
            {"node": nodes, "component": [find(n) for n in nodes]}
        )
        return pairs.sparkSession.createDataFrame(out_pdf, out_schema)
    if stats is not None:
        stats["regime"] = "propagation"
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for round_no in range(1, max_iter + 1):
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("node").alias("b"), F.col("component").alias("nc")
                ),
                "b",
            )
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("nc").alias("nbr"))
        )
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if stats is not None:
            stats["rounds"] = round_no
        if changed == 0:
            return labels
    # diameter exceeded the propagation budget: contract with the
    # diameter-independent algorithm instead of failing
    if stats is not None:
        stats["regime"] = "alternating_star"
    return _components_alternating_star(edges, stats=stats)


def _canonical_edges(df: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (hi, lo) orientation, self-loops and
    duplicates removed. Columns must be named (u, v)."""
    return (
        df.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
    )


def _components_alternating_star(
    edges: DataFrame, max_rounds: int = 256, stats: dict | None = None
) -> DataFrame:
    """Connected components by alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14
    — public algorithm): converges in O(log² n) rounds for ANY graph, so it
    has no diameter assumption — the fallback regime behind
    :func:`connected_components` when min-label propagation would need too
    many rounds (e.g. long path graphs).

    - large-star(u): for every neighbor v > u, emit (v, m) where
      m = min(Γ(u) ∪ {u}) — big nodes re-attach to their neighborhood min;
    - small-star(u) on (hi→lo)-oriented edges: attach every smaller neighbor
      and u itself to m = min(N(u) ∪ {u}).

    Both steps preserve connectivity; the fixpoint is a star forest whose
    centers are the component minima. Each round is two keyed shuffles over
    the CURRENT edge set (which only shrinks toward one edge per non-root
    node); ``localCheckpoint`` truncates lineage per round. The safety bound
    is far beyond the O(log² n) guarantee for any physical input.

    ``stats``, when provided, records ``rounds`` (large+small-star rounds to
    the star-forest fixpoint) in place — the same audit hook as
    :func:`connected_components`."""
    cur = _canonical_edges(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
    ).localCheckpoint()
    # every node of the ORIGINAL graph needs a label row even if contraction
    # drops all its edges early (isolated-after-canonicalization is impossible
    # here — edges.count() > 0 in this regime — but roots lose their edges)
    all_nodes = (
        cur.select(F.col("u").alias("node"))
        .unionByName(cur.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_cur = cur.count()
    for round_no in range(1, max_rounds + 1):
        if stats is not None:
            stats["rounds"] = round_no
        # large-star over the symmetrized neighborhood
        sym = cur.unionByName(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        large = _canonical_edges(large)
        # small-star on (hi, lo) orientation (canonical form already is)
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smins.select(F.col("u"), F.col("m").alias("v")))
        )
        nxt = _canonical_edges(small).localCheckpoint()
        n_nxt = nxt.count()
        if n_nxt == n_cur and nxt.exceptAll(cur).isEmpty():
            cur = nxt
            break
        cur, n_cur = nxt, n_nxt
    else:
        raise RuntimeError(
            f"alternating-star did not converge in {max_rounds} rounds — "
            "beyond the O(log² n) guarantee; the input is not a well-formed "
            "edge frame"
        )
    # fixpoint is a star forest: (u=non-root, v=component root)
    return (
        all_nodes.join(
            cur.select(F.col("u").alias("node"), F.col("v").alias("root")),
            "node",
            "left",
        )
        .select("node", F.coalesce("root", F.col("node")).alias("component"))
    )


def component_dedup(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    keeper_by: str | None = None,
) -> DataFrame:
    """Cluster-canonical dedup: keep exactly ONE doc per connected duplicate
    cluster. The policy complement of :func:`minhash_dedup`'s pairwise
    drop-the-greater (C4-style): pairwise keeps every doc that never appears
    as a pair's greater side, so a cluster {A~C, B~C} retains both A and B;
    cluster-canonical collapses the whole component to its keeper — the
    usual choice when near-dup clusters represent one underlying document.

    Keeper policy: by default the MIN ID (deterministic, replayable — the
    component label itself). ``keeper_by`` names a column of ``df`` to keep
    the BEST member instead — highest value wins, NULL sorts lowest, ties
    break to the min id — the production choice when a quality/length score
    exists and the canonical copy should be the best one, not the first one
    (e.g. ``keeper_by="quality"`` after ``TA.quality_score``).

    Cost: the O(diameter) component rounds plus one broadcast-able anti-join
    of the loser ids; the ``keeper_by`` variant adds one |clustered-nodes|-
    bounded join to fetch priorities and a per-component ``max_by`` — all
    |pairs|-bounded, tiny relative to the corpus. The corpus itself is only
    ever touched by the final anti-join."""
    comp = connected_components(pairs, src, dst)
    if keeper_by is None:
        losers = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
    else:
        pri = df.select(
            F.col(id_col).alias("node"), F.col(keeper_by).alias("_pri")
        )
        members = comp.join(pri, "node")
        # argmax by (non-NULL first, priority), then MIN ID among the tied
        # best — two tiny per-component aggs instead of a negated-id max_by,
        # so ids only need to be ORDERABLE (the same contract
        # connected_components' min-label already imposes), not numeric
        rank = F.struct(F.col("_pri").isNotNull().alias("_nn"), F.col("_pri"))
        best = members.groupBy("component").agg(F.max(rank).alias("_best"))
        keep = (
            members.join(best, "component")
            .filter(rank.eqNullSafe(F.col("_best")))
            .groupBy("component")
            .agg(F.min("node").alias("_keep"))
        )
        losers = (
            members.join(keep, "component")
            .filter(F.col("node") != F.col("_keep"))
            .select(F.col("node").alias(id_col))
        )
    return df.join(losers, on=id_col, how="left_anti")


# --------------------------------------------------------------------------- #
# incremental dedup (batch-vs-index — the daily-ops pattern at corpus scale)
# --------------------------------------------------------------------------- #
#
# A production corpus is not deduplicated once; it GROWS. Re-running full
# dedup over corpus+batch every day is O(corpus) daily — the index pattern
# makes it O(batch + collisions): persist a small per-doc summary
# (fingerprint / minhash signature), dedup each arriving batch against the
# index and within itself, then APPEND the survivors' summaries. Append-only
# writes — no read-modify-write of a 100 TB table, and candidate joins stay
# keyed on uniform hashes exactly like the batch operators.


def exact_dedup_incremental(
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    index: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Exact dedup of a NEW batch against a persisted fingerprint index.

    ``index`` carries one ``fingerprint`` string column (the summaries of
    every previously-kept doc; None = first batch). Returns
    ``(survivors, new_index_rows)``: survivors are batch rows that are the
    min-id first occurrence WITHIN the batch and whose fingerprint is absent
    from the index; ``new_index_rows`` are exactly the survivors'
    fingerprints — append them to the stored index (append-only; the next
    batch reads the union).

    Invariant (pytest-differential): folding batches B1..Bn through this —
    ids increasing across batches, the keep-first canon — keeps exactly the
    docs ``exact_dedup`` keeps on the full concatenation.

    Scale shape: one fingerprint shuffle over the BATCH, one anti-join
    against the index keyed on the fingerprint (uniform hash — no skew), no
    touch of historical text. At index sizes where the daily anti-join's
    index-side shuffle dominates, maintain the index as a BUCKETED catalog
    table on ``fingerprint`` (``plans/bucketing.write_bucketed`` + bucketed
    appends) and pass ``spark.table(...)`` here: the bucketed scan reports
    its partitioning, so the join plans with NO index-side Exchange — each
    daily append shuffles only the batch into its buckets
    (tests/test_text_dedup.py::test_bucketed_fingerprint_index_joins_without_exchange)."""
    fp = new_docs.select(
        F.col(id_col), content_fingerprint(text_col).alias("fingerprint")
    )
    keep = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    if index is not None:
        keep = keep.join(
            index.select("fingerprint").distinct(), "fingerprint", "left_anti"
        )
    survivors = new_docs.join(keep.select(id_col), on=id_col, how="left_semi")
    return survivors, keep.select("fingerprint")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    k: int = 64,
    scheme: str = "classic",
) -> DataFrame:
    """Per-doc MinHash signature frame ``(doc, sig array<bigint>)`` — the
    persistable near-dup index unit (parquet-append per batch; band keys are
    DERIVED from the signature at query time, so the index stores k longs
    per doc and nothing else). Same signature math as
    :func:`minhash_lsh_pairs` (classic: k codegen'd seeded-min aggregates;
    oph: one-permutation + densification), so signatures indexed by
    different batches are comparable as long as (shingle_n, k, scheme)
    match."""
    if scheme not in ("classic", "oph"):
        raise ValueError(f"minhash_signatures: unknown scheme {scheme!r}")
    par = df.sparkSession.sparkContext.defaultParallelism
    shingled = _shingle_hash_frame(df, id_col, text_col, shingle_n, par)
    if scheme == "classic":
        mins = (
            shingled.select("doc", F.explode("sh").alias("h"))
            .groupBy("doc")
            .agg(
                *[
                    F.min(F.expr(f"xxhash64(h, {j})")).alias(f"__m{j}")
                    for j in range(k)
                ]
            )
        )
        return mins.select(
            "doc", F.array(*[f"__m{j}" for j in range(k)]).alias("sig")
        )
    return shingled.select("doc", minhash_signature_oph("sh", k).alias("sig"))


def estimated_jaccard(a_col: str, b_col: str) -> Column:
    """Signature-agreement Jaccard estimate: the fraction of equal MinHash
    components. Unbiased (each component agrees with probability J);
    sd = sqrt(J(1−J)/k) — at k=64 and J≈0.9, ±0.037. The index-mode
    verification tradeoff: shingle sets are not stored, so cross-batch pairs
    are judged on the estimate, not exact Jaccard.

    Sizing k for an estimate-gated threshold: matches ~ Binomial(k, J), so
    the FALSE-NEGATIVE rate of ``estimate >= t`` for a truly-duplicate pair
    is P(Binom(k, J) < ceil(t·k)). At the default t=0.85 that is, per true J:

    ====  ======  ======  ======  ======
    k     J=0.86  J=0.88  J=0.90  J=0.95
    ====  ======  ======  ======  ======
    64    41%     23%     10.3%   0.12%
    128   33%     13%     3.0%    ~0
    256   31%     7.1%    0.54%   ~0
    ====  ======  ======  ======  ======

    (False positives mirror symmetrically below t.) Pairs NEAR the threshold
    are inherently coin-flips for any unbiased estimator; raise k to narrow
    the band, or pass ``texts=`` to :func:`minhash_pairs_vs_index` to verify
    candidates with exact Jaccard and remove the band entirely."""
    return F.expr(
        f"size(filter(zip_with({a_col}, {b_col}, (x, y) -> x = y), v -> v)) "
        f"/ cast(size({a_col}) as double)"
    )


def minhash_pairs_vs_index(
    new_sigs: DataFrame,
    index_sigs: DataFrame | None,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.85,
    texts: DataFrame | None = None,
    id_col: str = "doc",
    text_col: str = "text",
    shingle_n: int = 3,
    texts_pushdown_cap: int = 10_000,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against itself AND a persisted
    signature index (``minhash_signatures`` frames; disjoint doc ids by
    caller contract). index×index pairs are deliberately NOT regenerated
    (they were reported when those batches arrived — that is the whole
    point of the index).

    Two verification contracts, chosen by ``texts``:

    - ``texts=None`` (default): returns ``(doc_a, doc_b, est_jaccard)``
      with est_jaccard ≥ threshold — judged on the k-component signature
      ESTIMATE (:func:`estimated_jaccard`; its docstring tabulates the
      false-negative rate near the threshold, e.g. ~10% at k=64 for a
      true-J=0.90 pair at t=0.85). Zero text touch.
    - ``texts=<DataFrame>`` (``id_col``/``text_col`` rows covering every doc
      id that can appear in a candidate — batch AND index): candidates are
      semi-joined back to text and verified with EXACT Jaccard over
      ``shingle_n``-gram shingle sets — byte-identical semantics to the
      batch operator :func:`minhash_lsh_pairs` (same ``_shingle_hash_frame``
      + :func:`exact_jaccard`), so flipping from batch to incremental loses
      no accuracy. Returns ``(doc_a, doc_b, jaccard)``. Text touch is
      O(candidate ids), not O(corpus): only docs colliding in some band are
      shingled, AND — when the candidate-id count is at most
      ``texts_pushdown_cap`` — the id set is collected and pushed into the
      ``texts`` SCAN as a literal IN filter, so a parquet-backed survivors
      table is row-group-pruned at the source instead of fully scanned
      into the semi-join (the year-scale streaming-verify path; plan-pinned
      in tests). Above the cap the semi-join alone carries the pruning
      (still correct, one full text scan). ``shingle_n`` must match the
      value used for the signatures.

    Scale shape: band keys derived from signatures (narrow maps), candidate
    joins keyed on uniform band hashes — new×new via self-join, new×index
    via band join against the index's band frame; per-batch cost is
    O(|batch| · bands + collisions), never O(corpus²); historical text is
    touched only in exact-verify mode and only for colliding ids."""
    rows = k // bands
    band = lambda s: s.select(  # noqa: E731 - tiny local shaper
        "doc", F.explode(lsh_band_keys("sig", bands, rows)).alias("bk")
    ).select("doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    bn = _persist(band(new_sigs))
    a, b = bn.alias("a"), bn.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
    )
    if index_sigs is not None:
        bi = band(index_sigs)
        n, i = bn.alias("n"), bi.alias("i")
        # orient cross pairs (index, new) so doc_a is the EXISTING doc — the
        # keeper under the first-arrival canon
        cross = (
            n.join(
                i,
                (F.col("n.band") == F.col("i.band"))
                & (F.col("n.key") == F.col("i.key")),
            )
            .select(F.col("i.doc").alias("doc_a"), F.col("n.doc").alias("doc_b"))
        )
        cand = cand.unionByName(cross)
    cand = cand.distinct()
    if texts is not None:
        # exact verification on candidates only: shingle just the ids that
        # collided in some band (semi-join prunes the text scan), then the
        # batch operator's verification verbatim
        cand = _persist(cand)  # consumed by the id set and the final join
        ids = _persist(
            cand.select(F.col("doc_a").alias("doc"))
            .unionByName(cand.select(F.col("doc_b").alias("doc")))
            .distinct()
        )
        par = texts.sparkSession.sparkContext.defaultParallelism
        id_rows = ids.limit(texts_pushdown_cap + 1).collect()
        if len(id_rows) <= texts_pushdown_cap:
            # candidate set is small (the normal case — collisions only):
            # a literal IN filter reaches the parquet scan and prunes row
            # groups at the source; no text row outside the candidate set
            # is read at all
            texts = texts.filter(
                F.col(id_col).isin([r["doc"] for r in id_rows])
            )
        cand_texts = texts.join(
            ids.withColumnRenamed("doc", id_col), on=id_col, how="left_semi"
        )
        # plain persist, NOT the plan-truncating barrier: the pushed IN
        # filter on the texts parquet scan is a plan-pinned scale contract
        # (tests assert it from the RETURNED plan), and the candidate-texts
        # tree is small — no re-reference blowup to truncate here
        from switchback_test_dag_spark.caching import pin as _cache_pin

        shingled = _cache_pin(
            _shingle_hash_frame(cand_texts, id_col, text_col, shingle_n, par)
        )
        sh_a = shingled.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
        sh_b = shingled.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
        return (
            cand.join(sh_a, "doc_a")
            .join(sh_b, "doc_b")
            .withColumn("jaccard", exact_jaccard("sh_a", "sh_b"))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
        )
    all_sigs = (
        new_sigs if index_sigs is None
        else new_sigs.unionByName(index_sigs)
    )
    sa = all_sigs.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = all_sigs.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", estimated_jaccard("sig_a", "sig_b"))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("est_jaccard", 4).alias("est_jaccard"))
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
) -> DataFrame:
    """Per-doc SimHash signature frame ``(doc, sig bigint)`` — the
    persistable near-dup index unit for the cheapest signature scheme: ONE
    64-bit integer per document (vs k longs for MinHash), parquet-append per
    batch. Chunk keys are DERIVED from the signature at query time
    (:func:`simhash_chunk_keys`), so the index stores the signature and
    nothing else. Same signature math as :func:`simhash_pairs`
    (:func:`_simhash_sig_frame`: md5-15-hex token hashes, codegen'd per-bit
    vote sums), so signatures indexed by different batches are comparable as
    long as ``bits`` matches — and, unlike MinHash, the signature IS the
    verifier (Hamming distance is computed exactly from two signatures), so
    the incremental twin has no estimate-accuracy cliff at all."""
    return _simhash_sig_frame(df, id_col, text_col, bits)


def simhash_pairs_vs_index(
    new_sigs: DataFrame,
    index_sigs: DataFrame | None,
    max_hamming: int = 3,
    prefix_bits: int = 15,
    bits: int = 60,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against itself AND a persisted SimHash
    signature index (``simhash_signatures`` frames; disjoint doc ids by
    caller contract). Returns ``(doc_a, doc_b, hamming)`` with
    hamming ≤ max_hamming; cross pairs are oriented (index, new) so doc_a is
    the EXISTING doc — the keeper under the first-arrival canon. index×index
    pairs are deliberately NOT regenerated (they were reported when those
    batches arrived).

    Verification is EXACT by construction: the full Hamming distance is
    computed from the two stored signatures (``bit_count(a ^ b)``) — no
    estimate, no text touch, so batch (:func:`simhash_pairs`) and
    incremental report identical pairs over the same docs
    (fold-of-batches == full-batch, pytest-differential). Candidate
    completeness is the same pigeonhole argument as the batch operator: any
    pair within Hamming ≤ max_hamming agrees on at least one of the
    ``bits // prefix_bits`` chunks whenever ``max_hamming <
    bits // prefix_bits`` (defaults: 3 < 4).

    Scale shape: chunk keys derived from signatures (integer shifts on one
    bigint), candidate joins keyed on (chunk, val) — uniform, skew-free;
    per-batch cost is O(|batch| · n_chunks + collisions), never O(corpus²)
    and never a rescan of historical text."""
    n_chunks = bits // prefix_bits
    if max_hamming >= n_chunks:
        raise ValueError(
            f"simhash_pairs_vs_index: max_hamming={max_hamming} needs more "
            f"chunks than bits//prefix_bits={n_chunks} provides (pigeonhole "
            "requires max_hamming < n_chunks)"
        )
    chunk = lambda s: s.select(  # noqa: E731 - tiny local shaper
        "doc",
        "sig",
        F.explode(simhash_chunk_keys("sig", prefix_bits, bits)).alias("ck"),
    ).select(
        "doc", "sig", F.col("ck.chunk").alias("chunk"), F.col("ck.val").alias("val")
    )
    cn = _persist(chunk(new_sigs))
    a, b = cn.alias("a"), cn.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.expr("bit_count(a.sig ^ b.sig)").alias("hamming"),
        )
    )
    if index_sigs is not None:
        ci = chunk(index_sigs)
        n, i = cn.alias("n"), ci.alias("i")
        cross = (
            n.join(
                i,
                (F.col("n.chunk") == F.col("i.chunk"))
                & (F.col("n.val") == F.col("i.val")),
            )
            .select(
                F.col("i.doc").alias("doc_a"),
                F.col("n.doc").alias("doc_b"),
                F.expr("bit_count(n.sig ^ i.sig)").alias("hamming"),
            )
        )
        pairs = pairs.unionByName(cross)
    return pairs.distinct().filter(F.col("hamming") <= max_hamming)


def winnow_pairs_vs_index(
    new_fps: DataFrame,
    index_fps: DataFrame | None,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Winnowing twin of :func:`minhash_pairs_vs_index` /
    :func:`simhash_pairs_vs_index`, completing the incremental set: the
    persistable index unit is the ``(doc, fingerprint)`` frame
    :func:`winnow_fingerprints` already emits (~2/(window+1) of the rolling
    hashes per doc; parquet-append per batch). Returns
    ``(doc_a, doc_b, n_shared)`` pairs sharing ≥ ``min_shared`` fingerprints
    — new×new via self-join plus new×index oriented (index doc first, the
    first-arrival canon); index×index pairs are deliberately not
    regenerated. Verification is EXACT by construction (shared-fingerprint
    counts come straight off the stored postings — no estimate cliff), so
    fold-of-batches == full-batch when ``max_df`` is None
    (pytest-differential).

    ``max_df`` (MOSS's boilerplate rule) counts document frequency over the
    UNION of index and batch postings — a map-side-combinable groupBy over
    the index's (doc, fingerprint) rows, O(index postings) but never a text
    rescan. Under the cap, incremental results are time-of-arrival
    dependent (an early pair judged before a fingerprint crossed the cap
    stays reported — the same arrival-order semantics as the exact/minhash
    twins' keep-first canon); batch equivalence holds only for
    ``max_df=None``."""
    fps = _persist(new_fps.select("doc", "fingerprint"))
    if max_df is not None:
        all_fps = (
            fps if index_fps is None
            else fps.unionByName(index_fps.select("doc", "fingerprint"))
        )
        rare = (
            all_fps.groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("fingerprint")
        )
        rare = _persist(rare)
        fps = _persist(fps.join(rare, "fingerprint"))
    a, b = fps.alias("a"), fps.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
    )
    if index_fps is not None:
        idx = index_fps.select("doc", "fingerprint")
        if max_df is not None:
            idx = idx.join(rare, "fingerprint")
        n, i = fps.alias("n"), idx.alias("i")
        cross = (
            n.join(i, F.col("n.fingerprint") == F.col("i.fingerprint"))
            .select(F.col("i.doc").alias("doc_a"), F.col("n.doc").alias("doc_b"))
        )
        pairs = pairs.unionByName(cross)
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def embedding_index_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 8,
    n_tables: int = 1,
) -> DataFrame:
    """Home-bucket rows ``(t, bucket, id, v)`` for a batch of embeddings —
    the persistable unit of the embedding incremental twin (parquet-append
    per batch, ideally partitioned by ``bucket``). The hyperplanes are
    DETERMINISTIC functions of (dim, plane offset)
    (``vectors.similarity.hyperplane_signature``), so bucket keys computed
    by different batches are comparable as long as (n_planes, n_tables)
    match, and nothing beyond the vectors themselves needs storing — the
    bucket columns are a materialized convenience that saves re-signing the
    whole index every run."""
    from switchback_test_dag_spark.vectors.similarity import (
        _vec_dim,
        hyperplane_signature,
    )

    dim = _vec_dim(df, vec_col)
    if dim is None:
        id_type = df.schema[id_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"t int, bucket bigint, id {id_type}, v {df.schema[vec_col].dataType.simpleString()}"
        )
    sig_cols = [
        hyperplane_signature(vec_col, n_planes, dim, plane_offset=t * n_planes)
        .alias(f"sig{t}")
        for t in range(n_tables)
    ]
    b_arr = ", ".join(f"struct({t} AS t, sig{t} AS bucket)" for t in range(n_tables))
    return (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), *sig_cols)
        .select(
            "id", "v", F.explode(F.expr(f"array({b_arr})")).alias("tb")
        )
        .select(
            F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"), "id", "v"
        )
    )


def embedding_near_dup_pairs_vs_index(
    new_df: DataFrame,
    index_buckets: DataFrame | None,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    multiprobe: bool = True,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding incremental twin, completing the set (exact / MinHash /
    SimHash / winnowing / embeddings): near-dup pairs of a NEW embedding
    batch against itself AND a persisted home-bucket index
    (:func:`embedding_index_buckets` frames; disjoint ids by caller
    contract). Returns ``(id_a, id_b, cosine)`` with EXACT cosine ≥
    threshold — the batch operator's verification kernel verbatim
    (``_pair_cosine_arrow``), so there is no estimate cliff; cross pairs are
    oriented (index id first, the first-arrival canon); index×index pairs
    are deliberately not regenerated.

    Candidate shape mirrors :func:`embedding_near_dup_pairs_lsh`: the new
    batch PROBES (its own buckets plus Hamming-1 neighbors under
    ``multiprobe``) while home rows come from the new batch and the index;
    the per-(table, bucket) BLAS sieve never materializes the |bucket|² pair
    expansion as rows. Per-run cost: O(|batch|·tables·(1+probes)·dim)
    probe shuffle + one scan of the index bucket frame (no re-signing, no
    index×index work) + the collision sieve — the same O(batch + collisions)
    discipline as the other twins."""
    import numpy as np
    import pandas as pd

    from switchback_test_dag_spark.vectors.similarity import (
        _vec_dim,
        hyperplane_signature,
    )

    dim = _vec_dim(new_df, vec_col)
    id_type = new_df.schema[id_col].dataType.simpleString()
    if dim is None:
        return new_df.sparkSession.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, cosine double"
        )
    sig_cols = [
        hyperplane_signature(vec_col, n_planes, dim, plane_offset=t * n_planes)
        .alias(f"sig{t}")
        for t in range(n_tables)
    ]
    base = _persist(
        new_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), *sig_cols)
    )
    if multiprobe:
        probe_arrays = [
            f"transform(array_union(array(sig{t}), "
            f"transform(sequence(0, {n_planes - 1}), p -> sig{t} ^ shiftleft(1L, p))), "
            f"b -> struct({t} AS t, b AS bucket))"
            for t in range(n_tables)
        ]
    else:
        probe_arrays = [
            f"array(struct({t} AS t, sig{t} AS bucket))" for t in range(n_tables)
        ]
    probes = base.select(
        "id",
        "v",
        F.explode(F.expr("concat(" + ", ".join(probe_arrays) + ")")).alias("tb"),
    ).select(
        F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"),
        "id", "v",
        F.lit(True).alias("probe"), F.lit(False).alias("is_index"),
    )
    b_arr = ", ".join(f"struct({t} AS t, sig{t} AS bucket)" for t in range(n_tables))
    home_new = base.select(
        "id", "v", F.explode(F.expr(f"array({b_arr})")).alias("tb")
    ).select(
        F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"),
        "id", "v",
        F.lit(False).alias("probe"), F.lit(False).alias("is_index"),
    )
    both = probes.unionByName(home_new)
    if index_buckets is not None:
        both = both.unionByName(
            index_buckets.select(
                "t", "bucket", "id", "v",
                F.lit(False).alias("probe"), F.lit(True).alias("is_index"),
            )
        )
    thr = float(threshold)

    def sieve(pdf: pd.DataFrame) -> pd.DataFrame:
        pa = pdf[pdf["probe"]]
        pb = pdf[~pdf["probe"]]
        if pa.empty or pb.empty:
            return pd.DataFrame({"id_a": [], "id_b": []})
        ma = np.stack(pa["v"].to_numpy()).astype(np.float64)
        mb = np.stack(pb["v"].to_numpy()).astype(np.float64)
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
        na[na == 0] = np.inf
        nb[nb == 0] = np.inf
        sims = (ma / na[:, None]) @ (mb / nb[:, None]).T
        ids_a = pa["id"].to_numpy()
        ids_b = pb["id"].to_numpy()
        idx_b = pb["is_index"].to_numpy()
        near = sims >= thr - 1e-7  # same never-reject ulp margin as the batch op
        # cross pairs (home is index): always emit, oriented (index, new);
        # within-batch pairs: emit once via the id order
        accept = near & (idx_b[None, :] | (ids_a[:, None] < ids_b[None, :]))
        ia, ib = np.nonzero(accept)
        cross = idx_b[ib]
        return pd.DataFrame(
            {
                "id_a": np.where(cross, ids_b[ib], ids_a[ia]),
                "id_b": np.where(cross, ids_a[ia], ids_b[ib]),
            }
        )

    cand = (
        both.groupBy("t", "bucket")
        .applyInPandas(sieve, schema=f"id_a {id_type}, id_b {id_type}")
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = base.select("id", "v")
    if index_buckets is not None:
        vecs = vecs.unionByName(
            index_buckets.select("id", "v").dropDuplicates(["id"])
        )
    return (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .withColumn("cosine", _pair_cosine_arrow()("va", "vb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )
