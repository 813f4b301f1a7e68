"""Train/eval decontamination — remove corpus documents that textually
overlap a benchmark (evaluation) set, the stage every published pretraining
pipeline runs before training (the n-gram-collision method of Brown et al.
2020 Appendix C / Chowdhery et al. 2022 §6; public method: a document is
contaminated when it shares at least one word ``n``-gram with any eval
document; n = 8–13 in the papers).

Scale shape (the 100 TB design point): the two sides are wildly asymmetric —
benchmarks are megabytes, the corpus is the 100 TB side — so the plan must
never shuffle the corpus on gram:

- eval side: tokens → distinct n-grams → global distinct. Tiny (≤ a few
  million grams for every published benchmark combined); broadcast.
- corpus side: ONE narrow map stage (tokens → per-doc distinct n-grams →
  explode) into a broadcast hash join against the eval gram set. Only
  MATCHING (doc, gram) rows — a vanishing fraction at any honest n —
  reach the per-doc count shuffle, and the final removal is a left-anti
  join against the contaminated-id frame (small, AQE broadcasts it).

Nothing in the plan carries a corpus×corpus or corpus-shuffle term; explode
amplification is bounded by tokens-per-document, and per-doc ``array_distinct``
(built into the shingle expression) caps repeated grams inside one document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from switchback_test_dag_spark.text.analysis import word_shingles

_GRAM = "_decon_gram"


def eval_ngrams(eval_df: DataFrame, text_col: str, n: int) -> DataFrame:
    """The distinct word n-gram set of the eval side: one column ``gram``.
    Documents shorter than ``n`` tokens contribute nothing; NULL text rows
    contribute nothing (NULL shingle arrays explode to no rows)."""
    return (
        eval_df.select(F.explode(word_shingles(text_col, n)).alias("gram"))
        .distinct()
    )


def contaminated_ids(
    docs: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Ids of corpus documents sharing at least one word n-gram with the
    eval set, with the per-doc hit count (``id_col``, ``n_eval_grams``). Grams are distinct per document, so
    ``n_eval_grams`` counts distinct contaminated grams — a repeated gram in
    one document is one hit (the papers' collision semantics).

    Short (< n tokens) and NULL-text corpus documents cannot be contaminated
    and never appear in the output."""
    ev = eval_ngrams(eval_df, text_col, n).withColumnRenamed("gram", _GRAM)
    corpus_grams = docs.select(
        F.col(id_col), F.explode(word_shingles(text_col, n)).alias(_GRAM)
    )
    return (
        corpus_grams.join(broadcast(ev), _GRAM)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_eval_grams"))
        .filter(F.col("n_eval_grams") >= 1)
    )


def decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """The corpus minus contaminated documents (schema unchanged). The anti
    side is the contaminated-id frame — small by construction, so AQE turns
    the removal into a broadcast anti join."""
    bad = contaminated_ids(docs, eval_df, id_col, text_col, n).select(id_col)
    return docs.join(bad, id_col, "left_anti")
