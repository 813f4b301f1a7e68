"""Composable corpus-cleaning pipeline — the CCNet-order chain as a public
API (quality filter → segment-level boilerplate removal → exact dedup →
near-dup removal → train/eval decontamination), the stage order published by
Wenzek et al. 2020 (segment scrubbing must precede document-level dedup
because it changes fingerprints) with the decontamination stage of Brown et
al. 2020 App. C appended.

This is the same chain the registry's ``corpus_clean_stats`` contract
value-hashes against its DuckDB oracle at every scale factor — the query
CALLS this function, so the public API and the oracled contract can never
drift apart.

Reference tie-in: the reference has no corpus pipeline (it is an experiment
DAG); this composes the mandated training-data extension operators
(``text/lines``, ``text/dedup``, ``text/decontaminate``, ``text/analysis``)
into the shape a pretraining data job actually runs.

Scale shape: every stage keeps its own audited plan (boilerplate set
broadcast, fingerprint shuffle, AllPairs-filtered Jaccard self-join,
broadcast eval grams); the chain adds nothing wide. Intermediates that are
consumed by several downstream stages (the scrubbed corpus; the flagged
survivor frame) are pinned via ``caching.pin`` so one evaluation of the
result does not replay the quality/segment or Jaccard subtrees per
consumer — call ``caching.release_all()`` after materializing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# barrier, not persist: each pinned frame here is consumed by several
# downstream branches (and the dedup stage self-joins), so a lazy persist
# keeps the full lineage in every reference and the analyzer's duplicate-
# relation copies compound down the chain — the barrier truncates the plan
# at each stage boundary (see caching.barrier)
from switchback_test_dag_spark.caching import barrier as pin
from switchback_test_dag_spark.text import analysis as TA
from switchback_test_dag_spark.text import decontaminate as DC
from switchback_test_dag_spark.text import dedup as TD
from switchback_test_dag_spark.text import lines as LN


def clean_corpus(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    segmenter: Column,
    quality_min: float = 0.5,
    boiler_min_df: int = 20,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.85,
    eval_df: DataFrame | None = None,
    decon_n: int = 13,
    quality_col: str = "quality",
) -> DataFrame:
    """Run the full cleaning chain; returns one row per SURVIVING document
    (quality-passed, scrubbed non-empty, fingerprint-unique, no near-dup
    with a lower id) carrying every input column except ``text_col`` —
    which is REPLACED by the boilerplate-scrubbed text — plus
    ``quality_col`` (the score of the RAW text, computed before scrubbing)
    and a ``contaminated`` boolean (all False when ``eval_df`` is None;
    callers decide whether to drop or just count contaminated docs).

    ``segmenter`` is a Column producing ``array<string>`` segments from the
    document (production: ``F.split(F.col(text), '\\n')``; token-chunk
    policies work too — segmentation stays with the caller, as in
    ``text/lines``). The segment stage drops every segment whose document
    frequency is ≥ ``boiler_min_df`` (``lines.drop_boilerplate``); scrubbed
    text is the surviving segments joined with single spaces, and documents
    scrubbed to nothing are dropped. The stage runs BEFORE fingerprinting —
    the CCNet order pin (scrubbing changes fingerprints), load-bearing-tested
    in ``tests/test_lines_dsir.py``.
    """
    scored = docs.withColumn(quality_col, TA.quality_score(text_col)).filter(
        F.col(quality_col) >= quality_min
    )
    # CCNet order: scrub BEFORE fingerprinting. seg frame pinned — the
    # boilerplate stage traverses its input three times (df table,
    # occurrence explode, reassembly base)
    seg = pin(scored.withColumn("_cc_segs", segmenter).drop(text_col))
    kept_segs = LN.drop_boilerplate(seg, id_col, "_cc_segs", boiler_min_df)
    scrubbed = pin(
        kept_segs.select(
            *[c for c in kept_segs.columns if c != "_cc_segs"],
            F.concat_ws(" ", "_cc_segs").alias(text_col),
        ).filter(F.col(text_col) != "")
    )
    kept1 = TD.exact_dedup(scrubbed, id_col, text_col)
    near = (
        TD.ngram_jaccard_pairs(
            kept1, id_col, text_col, shingle_n=shingle_n,
            threshold=jaccard_threshold,
        )
        .select(F.col("doc_b").alias(id_col))
        .distinct()
    )
    kept2 = kept1.join(near, id_col, "left_anti")
    if eval_df is None:
        return kept2.withColumn("contaminated", F.lit(False))
    bad = DC.contaminated_ids(kept2, eval_df, id_col, text_col, n=decon_n).select(
        id_col, F.lit(True).alias("_cc_contam")
    )
    # pinned: survivor stats and any downstream selection each evaluate this
    # frame, and every evaluation would replay the Jaccard/decon subtrees
    # fused single select (vs withColumn + drop): the join output's tree is
    # the entire pipeline — every extra transformation re-walks it
    return pin(
        kept2.join(bad, id_col, "left").select(
            *kept2.columns,
            F.coalesce("_cc_contam", F.lit(False)).alias("contaminated"),
        )
    )
