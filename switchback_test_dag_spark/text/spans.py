"""Exact duplicated-span detection — the fixed-length approximation of
suffix-array substring dedup (Lee et al. 2021, "Deduplicating Training Data
Makes Language Models Better"; public method): a token position is
*duplicated* when the length-``span_len`` token window starting there occurs
at least ``min_count`` times in the whole corpus (within- or cross-document).
The headline signal is per-document **duplicated-token coverage** — the
fraction of a document's tokens inside at least one duplicated window — the
filter/score substring-level dedup pipelines act on (drop or trim documents
whose coverage exceeds a threshold).

Scale shape: true suffix arrays are their own infrastructure at 100 TB; the
fixed-L windowed form is three bounded shuffles, all on uniform keys:

1. one narrow map explodes each document into ``(doc, pos, window-hash)``
   occurrence rows (amplification = tokens/doc, the same bound as any
   tokenizing op);
2. a count-by-hash (map-side combinable) keeps hashes with total occurrence
   count ≥ ``min_count`` — the *duplicated window* set, a small fraction of
   distinct windows at any honest L;
3. occurrences semi-join the duplicated set on the hash (uniform key — no
   skew beyond genuinely viral spans, which are exactly the signal), and a
   per-document fold merges the surviving position intervals
   ``[p, p+L)`` into the covered-token count — per-doc state is bounded by
   document length, never corpus size.

Windows are keyed by ``xxhash64`` of the joined token window in production
(64-bit collisions are noise at the duplicated-set scale, the standard
trade); ``portable=True`` keys by an md5 prefix instead so an external
engine (the DuckDB oracle) replays the EXACT same grouping, collisions and
all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from switchback_test_dag_spark.text.analysis import TOKEN_SPLIT_RE, _array_ngrams_sql

_TOKS, _PS = "_dspan_toks", "_dspan_ps"


def _window_key(gram_col, portable: bool):
    if portable:
        return F.substring(F.md5(gram_col), 1, 16)
    return F.xxhash64(gram_col)


def duplicated_span_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    span_len: int,
    min_count: int = 2,
    portable: bool = False,
) -> DataFrame:
    """Per-document duplicated-span statistics:
    ``(id_col, n_tokens bigint, n_dup_positions bigint, dup_token_frac
    double)``. Every input row is preserved (left join back): documents with
    no duplicated window — including short (< span_len tokens) and NULL-text
    documents — score 0 / 0.0.

    ``n_dup_positions`` counts window START positions whose window is
    duplicated; ``dup_token_frac`` is the interval-union coverage of those
    windows over the document's tokens (windows overlap — the union, not
    n_dup_positions * span_len, is the honest numerator)."""
    L = span_len
    toks_sql = f"filter(split(lower({text_col}), '{TOKEN_SPLIT_RE}'), x -> x != '')"
    grams_sql = _array_ngrams_sql(toks_sql, L, " ", distinct=False)
    base = docs.select(
        F.col(id_col), F.expr(f"size({toks_sql})").alias("_nt"), F.expr(grams_sql).alias(_TOKS)
    )
    occ = base.select(
        id_col, F.posexplode(_TOKS).alias("_pos", "_gram")
    ).withColumn("_wk", _window_key(F.col("_gram"), portable)).drop("_gram")
    dup = (
        occ.groupBy("_wk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_count)
        .select("_wk")
    )
    hits = occ.join(dup, "_wk").groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_positions"),
        F.sort_array(F.collect_list("_pos")).alias(_PS),
    )
    covered = F.expr(
        f"""aggregate(
              {_PS},
              struct(cast(0 as bigint) as cov, cast(-{L} as bigint) as e),
              (acc, p) -> struct(
                acc.cov + cast({L} as bigint)
                  - greatest(cast(0 as bigint),
                             least(cast({L} as bigint), acc.e - p)),
                greatest(acc.e, cast(p as bigint) + cast({L} as bigint))),
              acc -> acc.cov)"""
    )
    stats = hits.withColumn("_cov", covered).drop(_PS)
    out = (
        base.select(id_col, "_nt")
        .join(stats, id_col, "left")
        .select(
            F.col(id_col),
            F.greatest(F.coalesce(F.col("_nt"), F.lit(0)), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
            F.coalesce(F.col("n_dup_positions"), F.lit(0))
            .cast("long")
            .alias("n_dup_positions"),
            F.when(
                F.coalesce(F.col("_nt"), F.lit(0)) > 0,
                F.coalesce(F.col("_cov"), F.lit(0)).cast("double") / F.col("_nt"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_token_frac"),
        )
    )
    return out
