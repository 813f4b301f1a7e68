"""Deduplication operators — exact fingerprint dedup and exact n-gram
Jaccard near-dup, designed for 100 TB corpora.

Scale design:
- **exact**: hash-groupBy on a content fingerprint — one shuffle keyed on the
  fingerprint, map-side combinable.
- **n-gram Jaccard**: an inverted index with prefix filtering, so candidate
  generation stays keyed, never all-pairs; candidates are verified with the
  exact Jaccard on the hashed shingle sets.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from switchback_test_dag_spark.text.analysis import content_fingerprint

# The persist calls in this module are load-bearing materialization points
# (see ngram_jaccard_pairs), not optional caches — but they must still be
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
# hashed shingles
# --------------------------------------------------------------------------- #


def _shingle_hash_frame(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(doc, int-hashed positional-distinct shingles) with the tokenization
    materialized FIRST, behind the repartition Exchange: the token
    split/filter expression would otherwise be re-evaluated once per
    argument-level reference of the n-gram zip_with chain (~shingle_n + 1
    times per row). Post-exchange, the n-gram slices reference a plain
    column (cheap reads, no recompute).
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


# --------------------------------------------------------------------------- #
# exact n-gram Jaccard
# --------------------------------------------------------------------------- #


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.85,
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
    (by prefix shingle) + verification (by doc) — all keyed, no all-pairs."""
    shingled = _persist(_shingle_hash_frame(df, id_col, text_col, shingle_n))
    sizes = shingled.select("doc", F.size("sh").alias("sz"))
    ex = shingled.select("doc", F.explode("sh").alias("h"))

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
