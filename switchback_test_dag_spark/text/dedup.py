"""Deduplication operators — exact, MinHash+LSH, SimHash, winnowing and
n-gram Jaccard near-dup, designed for 100 TB corpora.

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
- **n-gram Jaccard** is the exact verification path: an inverted index with
  prefix filtering, so candidate generation stays keyed, never all-pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from switchback_test_dag_spark.text.analysis import content_fingerprint

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
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
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
    §2.2's fewer-larger-partitions rule)."""
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
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, exact Jaccard ≥ threshold) via
    MinHash-LSH candidate generation + exact verification.

    rows-per-band r = k/bands; detection prob of a pair with true Jaccard s is
    1−(1−s^r)^bands (defaults: ≥1−4e-8 at s=0.9). The candidate self-join is
    keyed on uniform band hashes — no skew; verification joins shingle sets
    back only for candidates (LSH output ≪ docs²).
    """
    rows = k // bands
    # persist() is load-bearing, not a cache nicety: without the materialization
    # boundary CollapseProject inlines the O(tokens) shingle expression into the
    # signature lambda and it is re-evaluated k times per row (64× slowdown
    # measured). The shingle set is also reused by the verification join.
    shingled = _persist(_shingle_hash_frame(df, id_col, text_col, shingle_n))
    # k-permutation signature via explode + k codegen'd MIN aggregates instead
    # of a nested-transform HOF (j -> array_min(transform(sh, h -> xxhash64(h,
    # j)))): the HOF form is interpreted per element and allocates one k-hash
    # array per permutation per doc; the aggregate form keeps all k·|sh|
    # xxhash64 mixes inside WholeStageCodegen. Identical values (min over the
    # same multiset — duplicates cannot move a min; `{j}` literals parse as
    # INT, matching sequence(0, k-1) element typing, so the seeded hashes are
    # bit-for-bit the HOF ones). The shingled frame is persisted and
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
    sig = mins.select("doc", F.array(*[f"__m{j}" for j in range(k)]).alias("sig"))
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


# --------------------------------------------------------------------------- #
# SimHash
# --------------------------------------------------------------------------- #


def _simhash_sig_frame(
    df: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """``(doc, sig)`` SimHash signature frame — the signature stage of
    :func:`simhash_pairs`. Signature via explode + codegen'd aggregate, NOT
    a per-bit ``aggregate(...)`` lambda over the token hashes: higher-order
    functions are interpreted per element (boxed lambda calls), so the HOF
    form costs ``bits`` interpreted passes over every token array.
    Exploding the token hashes once and folding the per-bit ±1 votes as
    ``bits`` SUM aggregates keeps the hot loop inside WholeStageCodegen —
    bit-for-bit the same signature (vote sums are order-independent
    integers). The repartition spreads the md5
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
# exact n-gram Jaccard (the verification path)
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
    shingled = _persist(_shingle_hash_frame(df, id_col, text_col, shingle_n))
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
    selection: pairwise drop-the-greater (the C4-style policy) can orphan
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
      a 250-edge graph). The collect is bounded by the threshold — ~16 MB.
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
