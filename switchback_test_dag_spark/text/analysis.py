"""Text analysis — tokenization, shingling, language ID, quality scoring,
token counting and document fingerprinting, all as native Spark SQL expressions.

Scale notes: every function here is a pure column expression evaluated inside
whole-stage codegen — no UDF, no shuffle, no driver round-trip. Shingling uses
``transform(sequence(...))`` (one array allocation per row) instead of exploding,
so a 100 TB corpus scan stays a single narrow stage.

Expressions are built with ``F.expr`` format strings keyed on a column name; use
``df.withColumn("text", ...)`` style aliasing if the source column is computed.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic. These are deliberately short, high-frequency function words; at
# production scale they'd be replaced by per-language frequency tables, but the
# operator shape (score = |tokens ∩ profile| per language, argmax) is identical.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pas"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "no"),
}

# NB: these are spliced into Spark SQL string literals inside F.expr(...);
# Spark's SQL parser processes backslash escapes, so the literal needs a
# doubled backslash for the regex engine to receive `\s`.
TOKEN_SPLIT_RE = r"\\s+"
# BPE-ish unit: a run of word chars OR a single non-word non-space char.
BPE_TOKEN_RE = r"[a-zA-Z0-9_]+|[^a-zA-Z0-9_\\s]"


def tokens(text_col: str) -> Column:
    """Whitespace tokens of the lowercased text, empties removed."""
    return F.expr(
        f"filter(split(lower({text_col}), '{TOKEN_SPLIT_RE}'), x -> x != '')"
    )


def token_count(text_col: str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text_col))


def bpe_token_count(text_col: str) -> Column:
    """BPE-ish token count: word runs + individual punctuation marks, the usual
    cheap proxy for subword token counts in corpus budgeting."""
    return F.expr(f"size(regexp_extract_all({text_col}, '{BPE_TOKEN_RE}', 0))")


def _array_ngrams_sql(arr_sql: str, n: int, sep: str = " ") -> str:
    """Distinct n-gram array (shingle semantics) over an array expression via
    a zip_with chain of slices.

    Performance-critical shape, two regimes:

    - ``arr_sql`` is a plain COLUMN identifier → per-position ``concat``
      over ``element_at`` lookups (column references inside a lambda body
      are BoundReference reads, not re-evaluated expressions) —
      allocation-free, measured ~25% less executor CPU than the
      zip_with-of-slices chain. This is the form the hot dedup paths hit
      (they materialize the token array behind an Exchange first).
    - ``arr_sql`` is a composite EXPRESSION → the zip_with chain with every
      occurrence at *argument* level (evaluated once per row per
      occurrence, ~n+2 total). A lambda-BODY reference to an expression is
      re-evaluated per element — an O(len²) blowup measured at 64×+ — and
      the bind-once ``transform(array(e), a -> ...)`` wrapper that would
      avoid it produces NESTED lambdas, which Spark 4.1 cannot feed into
      Python-UDF arguments (UDF extraction fails with INTERNAL_ERROR), so
      the chain stays the expression-input form.

    Values are identical across regimes INCLUDING arrays carrying NULL
    elements: both forms use ``concat``, which propagates a NULL element
    into a NULL n-gram (the earlier ``concat_ws`` form silently SKIPPED
    NULLs, so an identifier-named caller with NULL elements would have
    gotten regime-dependent n-grams). Short and NULL inputs yield
    ``array()`` in both.
    """
    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", arr_sql):
        elems = [f"element_at({arr_sql}, i + {k})" for k in range(n)]
        joiner = f", '{sep}', " if sep else ", "
        acc = (
            f"transform(sequence(1, size({arr_sql}) - {n - 1}), "
            f"i -> concat({joiner.join(elems)}))"
        )
    else:
        ln = f"size({arr_sql}) - {n - 1}"
        acc = f"slice({arr_sql}, 1, {ln})"
        for k in range(2, n + 1):
            acc = (
                f"zip_with({acc}, slice({arr_sql}, {k}, {ln}), "
                f"(a, b) -> concat(a, '{sep}', b))"
            )
    return (
        f"CASE WHEN size({arr_sql}) >= {n} THEN array_distinct({acc}) "
        "ELSE array() END"
    )


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined), the near-dup input unit.
    Documents shorter than ``n`` words yield an empty array (callers must guard
    any division by |shingles| — ANSI mode)."""
    toks = f"filter(split(lower({text_col}), '{TOKEN_SPLIT_RE}'), x -> x != '')"
    return F.expr(_array_ngrams_sql(toks, n, " "))


def _profile_score(text_col: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        f"size(filter(filter(split(lower({text_col}), '{TOKEN_SPLIT_RE}'), x -> x != ''),"
        f" x -> array_contains(array({lst}), x)))"
    )


def lang_id(text_col: str, min_hits: int = 1) -> Column:
    """Stopword-profile language ID: per-language hit count over
    :data:`LANG_PROFILES`, argmax wins (ties broken by profile order), below
    ``min_hits`` → 'und' (undetermined).

    The classic cheap lang-ID heuristic (stopword/n-gram overlap); the operator
    shape matches what a production fastText-style scorer needs: one pass,
    per-row arithmetic, groupable output. Pure CASE/greatest expression —
    portable verbatim to the DuckDB oracle."""
    scores = {lang: _profile_score(text_col, ws) for lang, ws in LANG_PROFILES.items()}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    cases = " ".join(
        f"WHEN {expr} = {best} THEN '{lang}'" for lang, expr in scores.items()
    )
    return F.expr(
        f"CASE WHEN {best} < {min_hits} THEN 'und' ELSE CASE {cases} END END"
    )


def stopword_ratio(text_col: str, lang: str = "en") -> Column:
    """Share of tokens that are (English, by default) stopwords — a quality
    signal: natural prose has ~0.3-0.5, keyword spam ~0."""
    hits = _profile_score(text_col, LANG_PROFILES[lang])
    ntok = f"size(filter(split(lower({text_col}), '{TOKEN_SPLIT_RE}'), x -> x != ''))"
    return F.expr(
        f"CASE WHEN {ntok} = 0 THEN 0.0 ELSE CAST({hits} AS DOUBLE) / {ntok} END"
    )


def punct_ratio(text_col: str) -> Column:
    """Share of non-alphanumeric, non-space characters."""
    total = f"length({text_col})"
    punct = f"length(regexp_replace({text_col}, '[a-zA-Z0-9\\\\s]', ''))"
    return F.expr(
        f"CASE WHEN {total} = 0 THEN 0.0 ELSE CAST({punct} AS DOUBLE) / {total} END"
    )


def mean_word_len(text_col: str) -> Column:
    ntok = f"size(filter(split(lower({text_col}), '{TOKEN_SPLIT_RE}'), x -> x != ''))"
    chars = f"length(regexp_replace({text_col}, '{TOKEN_SPLIT_RE}', ''))"
    return F.expr(
        f"CASE WHEN {ntok} = 0 THEN 0.0 ELSE CAST({chars} AS DOUBLE) / {ntok} END"
    )


def quality_score(text_col: str) -> Column:
    """Composite [0,1] document quality score: length saturation, stopword
    ratio, low punctuation, sane mean word length — the standard cheap filters
    a pretraining pipeline applies before expensive model-based scoring."""
    length_term = F.expr(f"least(1.0, length({text_col}) / 500.0)")
    sw = stopword_ratio(text_col)
    punct = punct_ratio(text_col)
    mwl = mean_word_len(text_col)
    mwl_term = F.when((mwl >= 3) & (mwl <= 10), F.lit(1.0)).otherwise(F.lit(0.0))
    return (
        0.25 * length_term
        + 0.25 * F.least(F.lit(1.0), sw * 4)
        + 0.25 * (1 - F.least(F.lit(1.0), punct * 5))
        + 0.25 * mwl_term
    )


def content_fingerprint(text_col: str) -> Column:
    """Exact-dup content fingerprint: md5 of whitespace-normalized lowercased
    text. md5 exists verbatim in DuckDB → oracle parity; at scale swap for
    xxhash64 (cheaper, same grouping semantics)."""
    return F.md5(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    )
