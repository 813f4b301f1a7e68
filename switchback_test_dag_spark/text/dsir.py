"""Data Selection with Importance Resampling (DSIR) — hashed-n-gram
importance weights for targeted corpus selection (Xie et al. 2023, "Data
Selection for Language Models via Importance Resampling"; public method):
score every raw-corpus document by how much more likely its hashed n-gram
features are under a TARGET distribution (a small high-quality / in-domain
set) than under the RAW corpus distribution, then select by weight. The
selection stage composes with the repo's deterministic samplers — the
published estimator's feature side is what this module adds.

Method (paper's hashed generative mini-model):

- features: word unigrams AND bigrams, hashed into ``n_buckets`` buckets
  (hashing makes the parameter space fixed-size regardless of vocabulary —
  the trick that lets the fit be two aggregations);
- both distributions are bucket unigram models with add-one smoothing:
  ``p[b] = (count[b] + 1) / (total + B)``;
- a document's log importance weight is
  ``sum_b c_b(doc) * (ln p_target[b] - ln p_raw[b])``.

Scale shape (100 TB design point): the raw corpus is the big side and it is
touched by exactly ONE narrow map (tokens → grams → bucket) into a map-side-
combinable ``(doc, bucket)`` count; both fitted distributions are ``B`` rows
— metadata — broadcast back for the scoring join, so nothing ever shuffles
the corpus on gram and no driver-side state exceeds ``n_buckets`` rows.
Scoring is pure JVM (ln/sum built-ins); the one float stage (log-ratio sum)
is bounded per doc by its gram count.

``portable=True`` swaps xxhash64 bucketing for the md5-prefix form that
exists verbatim in DuckDB/BigQuery/Trino, so an external engine replays
bucket assignment exactly.

Cross-engine weight determinism: bucket assignment and gram counts replay
exactly, but a float ``log_weight`` is a sum of doubles whose accumulation
order Spark does not fix — two runs (or two engines) can differ in the last
ulp, which matters the moment a contract rounds the weight into a rank key.
``fixed_point_scale`` closes that: the per-bucket log-ratio is rounded ONCE
into an integer (``dl_fp = round((ln pt − ln pr) · scale)`` — B values, each
a deterministic function of exact integer counts), and the per-document
weight becomes the exact integer sum ``Σ c_b · dl_fp[b]`` — associative,
order-independent, replayable bit-for-bit. The only residual cross-engine
risk is a libm ``ln``/``exp`` differing by an ulp exactly at a rounding
boundary of one of the B constants — measure-zero in practice, and confined
to a single bucket constant rather than compounding over a document's grams.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from switchback_test_dag_spark.text.analysis import TOKEN_SPLIT_RE

_B, _CNT = "_dsir_b", "_dsir_c"


def _gram_buckets(text_col: str, n_buckets: int, portable: bool):
    """Array of bucket ids, one per word unigram AND bigram occurrence (NOT
    distinct — the model is a count model)."""
    toks = f"filter(split(lower({text_col}), '{TOKEN_SPLIT_RE}'), x -> x != '')"
    # bind-once wrapper: the bigram lambda's BODY references the token array
    # twice, and a lambda-body reference to a composite expression is
    # re-evaluated PER ELEMENT (the O(len²) blowup documented at
    # text/analysis._array_ngrams_sql) — so the document would be
    # re-tokenized ~2×|tokens| times. transform(array(e), tk -> ...) binds
    # the tokenizer result once per row; the nested lambda is safe because
    # no Python UDF consumes this column.
    grams = (
        f"element_at(transform(array({toks}), tk -> "
        f"concat(tk, CASE WHEN size(tk) >= 2 THEN "
        f"transform(sequence(1, size(tk) - 1), "
        f"i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1))) "
        f"ELSE array() END)), 1)"
    )
    if portable:
        # conv() yields a string; the 15-hex-digit prefix fits BIGINT exactly
        bucket = (
            f"x -> pmod(CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT),"
            f" {n_buckets})"
        )
    else:
        bucket = f"x -> pmod(xxhash64(x), {n_buckets})"
    return F.expr(f"transform({grams}, {bucket})")


def doc_bucket_counts(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 256,
    portable: bool = False,
) -> DataFrame:
    """Per-document hashed-gram bucket counts ``(id_col, bucket, cnt)``.
    NULL/empty texts contribute no rows (their weight is 0 by definition)."""
    return (
        docs.select(
            F.col(id_col),
            F.explode(_gram_buckets(text_col, n_buckets, portable)).alias(_B),
        )
        .groupBy(id_col, _B)
        .agg(F.count(F.lit(1)).alias(_CNT))
    )


def _bucket_distribution(counts: DataFrame, n_buckets: int) -> DataFrame:
    """Add-one-smoothed bucket log-probabilities ``(bucket, logp)`` over a
    (doc, bucket, cnt) frame — missing buckets get the smoothing floor via a
    dense bucket spine so the scoring join never drops a bucket."""
    spark = counts.sparkSession
    totals = counts.groupBy(_B).agg(F.sum(_CNT).alias("n"))
    spine = spark.range(n_buckets).select(F.col("id").cast("long").alias(_B))
    dense = spine.join(totals, _B, "left").select(
        _B, F.coalesce("n", F.lit(0)).alias("n")
    )
    # the grand total rides a global window over the DENSE frame — B rows of
    # metadata, so the single-task window is free, and it avoids the scalar
    # crossJoin shape (BroadcastNestedLoopJoin) the repo's plan pins forbid
    # so an accidental O(n^2) can never hide behind a scalar attach
    from pyspark.sql import Window

    t = F.sum("n").over(Window.partitionBy())
    return dense.select(
        _B,
        F.log((F.col("n") + 1) / (t + F.lit(n_buckets))).alias("logp"),
    )


def dsir_log_weights(
    docs: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 256,
    portable: bool = False,
    fixed_point_scale: int | None = None,
) -> DataFrame:
    """``(id_col, log_weight)`` for every document with at least one token:
    the DSIR log importance weight under hashed unigram+bigram features.
    Positive means the document looks more like ``target`` than like the raw
    corpus average. ``target`` needs only ``text_col``.

    With ``fixed_point_scale`` set (e.g. ``10**6``), returns
    ``(id_col, log_weight_fp)`` instead — the EXACT integer sum
    ``Σ c_b · round(dl_b · scale)`` whose value is independent of float
    accumulation order and replays bit-for-bit in an external engine (the
    form value-hashed contracts and :func:`dsir_select` use; see module
    docstring)."""
    dc = doc_bucket_counts(docs, id_col, text_col, n_buckets, portable)
    raw_dist = _bucket_distribution(dc, n_buckets)
    tgt_counts = doc_bucket_counts(
        target.select(F.lit(0).alias("_tid"), F.col(text_col)),
        "_tid",
        text_col,
        n_buckets,
        portable,
    )
    tgt_dist = _bucket_distribution(tgt_counts, n_buckets)
    dl = F.col("lt") - F.col("lr")
    if fixed_point_scale is not None:
        if fixed_point_scale <= 0:
            raise ValueError(
                f"dsir_log_weights: fixed_point_scale must be positive, "
                f"got {fixed_point_scale}"
            )
        dl = F.round(dl * F.lit(int(fixed_point_scale))).cast("long")
    ratio = (
        tgt_dist.withColumnRenamed("logp", "lt")
        .join(raw_dist.withColumnRenamed("logp", "lr"), _B)
        .select(_B, dl.alias("dl"))
    )
    out_col = "log_weight" if fixed_point_scale is None else "log_weight_fp"
    return (
        dc.join(broadcast(ratio), _B)
        .groupBy(id_col)
        .agg(F.sum(F.col(_CNT) * F.col("dl")).alias(out_col))
    )


DSIR_WEIGHT_BITS = 20


def dsir_select(
    docs: DataFrame | None,
    target: DataFrame | None,
    id_col: str,
    text_col: str,
    k: int,
    strata: Sequence[str] = (),
    n_buckets: int = 256,
    portable: bool = False,
    seed: int = 0,
    fixed_point_scale: int = 1_000_000,
    weight_bits: int = DSIR_WEIGHT_BITS,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Importance RESAMPLING — the paper's selection stage (Xie et al. 2023
    §2): draw ``k`` documents per stratum with inclusion ≈ proportional to
    the importance weight ``exp(log_weight)``, deterministically, by
    composing :func:`dsir_log_weights` with
    ``plans/sampling.weighted_priority_sample``.

    The float-free quantization rule (replayable in any SQL engine):

    - ``log_weight_fp`` — the exact integer fixed-point weight (above);
    - per-stratum shift by ``max(log_weight_fp)`` so ``exp`` never
      overflows (weights only matter relatively within a stratum);
    - ``weight = round(exp((fp − max_fp)/scale) · 2^weight_bits) + 1`` —
      a BIGINT in ``[1, 2^weight_bits + 1]``. Documents more than
      ``weight_bits · ln 2`` nats (~14 at the default) below the stratum
      max clamp to weight 1: they are effectively out of the importance
      race anyway, and the clamp keeps every weight strictly positive so
      priority sampling stays well-defined.

    Priority sampling (Duffield–Lund–Thorup) then gives inclusion
    probability ≈ ``weight / Σ weight`` per stratum — the paper's
    sample-∝-importance semantics with the repo's deterministic,
    partitioning-independent machinery (same (id, seed) membership on any
    cluster; ``portable=True`` replays membership bit-for-bit externally).

    Returns ``(id_col, *strata, log_weight_fp, weight)`` for the selected
    rows. Pass ``weights`` (columns ``id_col, log_weight_fp`` and optionally
    the strata) to reuse an already-computed weight frame — ``docs`` is then
    only consulted for strata columns missing from it, and ``target`` may be
    None."""
    if weights is None:
        if docs is None or target is None:
            raise ValueError("dsir_select: pass docs+target or weights")
        weights = dsir_log_weights(
            docs,
            target,
            id_col,
            text_col,
            n_buckets,
            portable,
            fixed_point_scale=fixed_point_scale,
        )
    strata = list(strata)
    missing = [c for c in strata if c not in weights.columns]
    if missing:
        if docs is None:
            raise ValueError(
                f"dsir_select: strata {missing} absent from weights and no "
                "docs frame to join them from"
            )
        weights = weights.join(docs.select(id_col, *missing), id_col)
    # per-stratum max: metadata-sized (weights are relative within a
    # stratum; subtracting the max bounds exp in (0, 1]). With strata it is
    # an agg broadcast back on real key columns (BroadcastHashJoin), joined
    # eqNullSafe like _with_key_rank's offset join — the sampler family
    # documents a NULL stratum value as its own stratum, and a plain equi
    # join would silently drop those rows from selection. With NO
    # strata the max is a single scalar — a constant-column equi join would
    # constant-fold into the scalar-attach BroadcastNestedLoopJoin the
    # repo's plan pins forbid, so it is fetched driver-side instead (one
    # 1-row job of bounded metadata) and subtracted as a literal. Plan
    # pinned in tests/test_lines_dsir.py.
    if strata:
        mx = weights.groupBy(*strata).agg(
            F.max("log_weight_fp").alias("_dsir_mx")
        )
        mx = mx.select(
            *[F.col(c).alias(f"_dsir_s{i}") for i, c in enumerate(strata)],
            "_dsir_mx",
        )
        cond = F.lit(True)
        for i, c in enumerate(strata):
            cond = cond & F.col(c).eqNullSafe(F.col(f"_dsir_s{i}"))
        shifted = weights.join(broadcast(mx), cond)
        mx_col = F.col("_dsir_mx")
    else:
        row = weights.agg(F.max("log_weight_fp").alias("m")).collect()[0]
        shifted = weights
        mx_col = F.lit(row["m"] if row["m"] is not None else 0)
    w = (
        F.round(
            F.exp(
                (F.col("log_weight_fp") - mx_col)
                / F.lit(float(fixed_point_scale))
            )
            * F.lit(1 << weight_bits)
        ).cast("long")
        + 1
    )
    # fused single select (vs join-side drop + withColumn + drop): three
    # fewer analyzer passes over the corpus-weight tree
    eligible = shifted.select(*weights.columns, w.alias("weight"))
    from switchback_test_dag_spark.plans.sampling import weighted_priority_sample

    return weighted_priority_sample(
        eligible, strata, id_col, "weight", k, seed=seed, portable=portable
    )
