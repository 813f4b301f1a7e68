"""Segment-level (line/paragraph) corpus deduplication — the CCNet-style
cleaning stage (Wenzek et al. 2020, "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data"; public method) that the document-
level dedup family cannot express: web corpora repeat SEGMENTS (nav bars,
cookie banners, boilerplate headers/footers) across documents that are not
themselves duplicates, and the published fix is per-segment — keep one
occurrence of each distinct segment corpus-wide, and/or drop segments whose
document frequency marks them as boilerplate.

Operators take an ``array<string>`` segments column rather than re-splitting
text so the segmentation policy stays with the caller (production splits on
``\\n`` / paragraph breaks; fixtures without newlines can chunk tokens —
see ``queries_documents.doc_segment_dedup_stats``).

Scale shape (100 TB design point):

- :func:`dedup_segments` (keep-first): ONE shuffle of (doc, pos, seg) rows
  keyed on the segment — ``min(struct(doc, pos))`` per segment, map-side
  combinable — and the aggregate's output IS the survivor set (the min is a
  total order, so the keeper row equals the agg result; no join back to the
  occurrences is ever needed), then ONE shuffle keyed on the doc id
  reassembles ordered survivor arrays. Nothing quadratic, no driver state,
  and no hot-key straggler: a segment repeated a billion times reduces to
  one ``min`` per partition before the exchange and to a single row after
  it — no plan step ever gathers a hot segment's occurrences into one task
  (the plan is pinned in ``tests/test_lines_dsir.py``).
- :func:`drop_boilerplate` (df threshold): the segment document-frequency
  table is map-side-combined per-doc-distinct counts; only segments with
  ``df >= min_df`` survive the filter — at any honest threshold a SMALL set
  (boilerplate is few distinct strings repeated everywhere), broadcast for
  a map-side anti join, so the corpus is never shuffled on segment at all;
  reassembly is the same single doc-keyed shuffle.

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


def dedup_segments(docs: DataFrame, id_col: str, segs_col: str) -> DataFrame:
    """Keep-first segment dedup: corpus-wide, each distinct segment survives
    only at its FIRST occurrence — minimum ``(id, position)``, a total order,
    so the result is deterministic and partitioning-independent (CCNet's
    line-dedup semantics; repeats inside one document collapse to the
    earliest position too).

    Returns ``docs`` with ``segs_col`` replaced by the survivor array in
    original order (possibly empty — callers filter empty docs downstream;
    every other column passes through). Documents with empty input arrays
    are preserved with empty output arrays.

    The survivor set needs NO join: ``min(struct(doc, pos))`` is a total
    order over occurrences, so each segment's aggregate row (segment, first
    doc, first pos) IS its unique keeper — the only segment-keyed stage is
    the map-side-combined min itself, which reduces even a
    billion-occurrence boilerplate segment to one row per input partition
    before the exchange (no hot-key straggler task).
    """
    seg = _exploded(docs, id_col, segs_col)
    firsts = seg.groupBy(_SEG).agg(
        F.min(F.struct(F.col(id_col), F.col(_POS))).alias("_first")
    )
    kept = firsts.select(
        F.col(f"_first.{id_col}").alias(id_col),
        F.col(f"_first.{_POS}").alias(_POS),
        _SEG,
    )
    return _reassembled(docs, kept, id_col, segs_col)


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
    docs: DataFrame,
    id_col: str,
    segs_col: str,
    min_df: int,
    broadcast_boiler: bool = True,
) -> DataFrame:
    """Remove segments whose document frequency is ``>= min_df`` (boilerplate:
    nav/footer/banner strings shared across many documents). Unlike
    :func:`dedup_segments` NO occurrence survives — a segment frequent enough
    to be boilerplate is noise everywhere, including its first document.

    Returns ``docs`` with ``segs_col`` replaced by the surviving segments in
    original order (other columns pass through). ``broadcast_boiler=False``
    exists for a pathological threshold that makes the boilerplate set too
    big to broadcast (the join then shuffles — still linear)."""
    if min_df <= 0:
        raise ValueError(f"drop_boilerplate: min_df must be positive, got {min_df}")
    boiler = (
        segment_df(docs, id_col, segs_col)
        .filter(F.col("df") >= min_df)
        .select(F.col("segment").alias(_SEG))
    )
    if broadcast_boiler:
        boiler = broadcast(boiler)
    seg = _exploded(docs, id_col, segs_col)
    kept = seg.join(boiler, _SEG, "left_anti")
    return _reassembled(docs, kept, id_col, segs_col)
