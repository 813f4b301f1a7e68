"""Segment-level (line/paragraph) boilerplate removal — the CCNet-style
cleaning stage (Wenzek et al. 2020, "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data"; public method) that the document-
level dedup family cannot express: web corpora repeat SEGMENTS (nav bars,
cookie banners, boilerplate headers/footers) across documents that are not
themselves duplicates, and the published fix is per-segment — drop segments
whose document frequency marks them as boilerplate.

Operators take an ``array<string>`` segments column rather than re-splitting
text so the segmentation policy stays with the caller (production splits on
``\\n`` / paragraph breaks; fixtures without newlines can chunk tokens —
see ``queries_documents.corpus_clean_stats``).

Scale shape (100 TB design point): the segment document-frequency table
(:func:`segment_df`) is map-side-combined per-doc-distinct counts; only
segments with ``df >= min_df`` survive the filter — at any honest threshold
a SMALL set (boilerplate is few distinct strings repeated everywhere),
broadcast for a map-side anti join, so the corpus is never shuffled on
segment at all; reassembly is a single doc-keyed shuffle (the broadcast is
pinned in ``tests/test_lines_dsir.py``).

Reference tie-in: extends the exact/near dedup family of ``text/dedup``
(reference corpus-cleaning role, SURVEY §2 training-data extensions) one
granularity below the document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

_POS, _SEG = "_lseg_pos", "_lseg_seg"


def _exploded(docs: DataFrame, id_col: str, segs_col: str) -> DataFrame:
    """(id, pos, seg) rows, one per segment occurrence, 1-based positions."""
    return docs.select(
        F.col(id_col), F.posexplode(segs_col).alias(_POS, _SEG)
    ).withColumn(_POS, F.col(_POS) + 1)


def segment_df(docs: DataFrame, id_col: str, segs_col: str) -> DataFrame:
    """Document frequency of every distinct segment: ``(segment, df)``.
    A segment repeated inside one document counts that document once."""
    return (
        _exploded(docs, id_col, segs_col)
        .select(id_col, _SEG)
        .distinct()
        .groupBy(F.col(_SEG).alias("segment"))
        .agg(F.count(F.lit(1)).alias("df"))
    )


def _reassembled(
    docs: DataFrame, kept: DataFrame, id_col: str, segs_col: str
) -> DataFrame:
    """Rebuild per-doc ordered survivor arrays from (id, pos, seg) rows; the
    left join keeps docs whose every segment lost (or whose input array was
    empty) with an empty array, and passes every non-segment column through."""
    rebuilt = kept.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(_POS, _SEG))),
            lambda s: s[_SEG],
        ).alias("_lseg_out")
    )
    # fused single select (vs withColumn + drop): one fewer analyzer pass
    # over the caller's upstream tree per reassembly
    return (
        docs.drop(segs_col)
        .join(rebuilt, id_col, "left")
        .select(
            *[c for c in docs.columns if c != segs_col],
            F.coalesce(
                "_lseg_out", F.array().cast("array<string>")
            ).alias(segs_col),
        )
    )


def drop_boilerplate(
    docs: DataFrame, id_col: str, segs_col: str, min_df: int
) -> DataFrame:
    """Remove segments whose document frequency is ``>= min_df`` (boilerplate:
    nav/footer/banner strings shared across many documents). NO occurrence
    survives — a segment frequent enough to be boilerplate is noise
    everywhere, including its first document.

    Returns ``docs`` with ``segs_col`` replaced by the surviving segments in
    original order (other columns pass through)."""
    if min_df <= 0:
        raise ValueError(f"drop_boilerplate: min_df must be positive, got {min_df}")
    boiler = broadcast(
        segment_df(docs, id_col, segs_col)
        .filter(F.col("df") >= min_df)
        .select(F.col("segment").alias(_SEG))
    )
    seg = _exploded(docs, id_col, segs_col)
    kept = seg.join(boiler, _SEG, "left_anti")
    return _reassembled(docs, kept, id_col, segs_col)
