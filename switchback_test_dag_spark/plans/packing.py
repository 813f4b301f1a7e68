"""Token-budget sequence packing — the step that assembles fixed-budget
training sequences from variable-length documents (the last mile of a
pretraining data pipeline, between dedup/quality filtering and the trainer).

Packing is inherently sequential (whether doc i opens a new sequence depends
on every doc before it), so the scalable shape is NOT a global greedy pass —
it is per-bucket independence: each document is routed to one of
``n_buckets`` buckets by a seeded hash (within its stratum, e.g. source),
and a deterministic next-fit walk packs each bucket independently. One
shuffle (the groupBy), no global coordination, and the parallelism knob is
``n_buckets`` — sized so a bucket's documents fit one task comfortably
(corpus / n_buckets rows). Cross-bucket packing loss is bounded: next-fit
wastes at most one partially-filled trailing sequence PER BUCKET, so the
overhead is ``n_buckets × budget`` tokens — noise against a corpus that
needed distribution in the first place.

Determinism is the contract (same reasoning as ``plans/sampling``): bucket
and within-bucket order are pure functions of (id, seed) — never of
partitioning, cluster size, or arrival order — so the same recipe produces
the same sequences on any cluster, and an external engine can replay the
exact assignment (``portable=True`` swaps xxhash64 for the md5-prefix hash
that exists verbatim in DuckDB/BigQuery/Trino; the driver oracle replays the
next-fit walk itself as a recursive CTE).

Policy notes:
- next-fit (close the open sequence when the next doc would overflow) rather
  than first-fit-decreasing: FFD needs the whole bucket sorted by length and
  re-scannable per doc — O(n log n) with random access — for a ~10% fill
  improvement that shuffling docs into the model negates anyway; next-fit is
  one ordered pass and REPLAYABLE AS SQL.
- a document larger than ``budget`` gets its own sequence (truncation is the
  tokenizer's concern, not the packer's); it never shares.
- NULL token counts pack as 0 (metadata-only rows ride along).
"""

from __future__ import annotations

import logging
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_H, _BK = "_pkh", "bucket"


def _bucket_hash(id_col: str, seed: int, portable: bool):
    """Signed 60-bit (portable) / 64-bit (xxhash) per-row hash; bucket and
    within-bucket order both derive from it, so one expression carries the
    whole permutation."""
    if portable:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
    return F.xxhash64(F.col(id_col), F.lit(seed))


PACK_TARGET_ROWS_PER_BUCKET = 100_000


def pack_documents(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    strata: Sequence[str] = (),
    n_buckets: int | str = "auto",
    seed: int = 0,
    portable: bool = False,
    target_rows_per_bucket: int = PACK_TARGET_ROWS_PER_BUCKET,
) -> DataFrame:
    """Assign every row to a training sequence of at most ``budget`` tokens.

    Returns ``(id_col, *strata, tokens_col, bucket, seq)``: ``seq`` is the
    1-based sequence index within ``(strata..., bucket)`` — globally a
    sequence is identified by the tuple ``(strata..., bucket, seq)``.
    ``id_col`` must be unique per row; token counts must be non-negative.

    ``n_buckets="auto"`` (the default) sizes the parallelism knob from the
    data instead of trusting a fixed constant that silently stops fitting at
    corpus scale (a fixed 64 puts corpus/64 rows through ONE applyInPandas
    task — the same few-huge-groups hazard the samplers were rebuilt to
    avoid): one count() job derives
    ``max(defaultParallelism, ceil(rows / target_rows_per_bucket))``, so the
    MEAN bucket holds ≤ ``target_rows_per_bucket`` rows (100k by default —
    a bucket row is a handful of scalars, so ~MBs per task; uniform hashing
    keeps the max bucket within small constant factors of the mean) and a
    small corpus still fans out across the cluster. Pass an explicit int to
    skip the count() job — REQUIRED when the assignment is part of a
    value-hashed contract, because "auto" makes bucket ids (and therefore
    ``seq``) a function of the row count, not of (id, seed) alone.
    """
    if budget <= 0:
        raise ValueError(f"pack_documents: budget must be positive, got {budget}")
    if n_buckets == "auto":
        if target_rows_per_bucket <= 0:
            raise ValueError(
                "pack_documents: target_rows_per_bucket must be positive, "
                f"got {target_rows_per_bucket}"
            )
        n_rows = df.count()
        n_buckets = max(
            df.sparkSession.sparkContext.defaultParallelism,
            -(-n_rows // target_rows_per_bucket),
        )
        # auto sizing makes bucket/seq a function of the row count, not of
        # (id, seed) alone — log the derived value so an auto-sized run is
        # auditable/reproducible (value-hashed contracts pass explicit ints)
        logging.getLogger(__name__).info(
            "pack_documents: n_buckets='auto' derived %d buckets "
            "(%d rows, target %d rows/bucket)",
            n_buckets,
            n_rows,
            target_rows_per_bucket,
        )
    elif (
        isinstance(n_buckets, bool)  # bool IS an int: True would pack 1 bucket
        or not isinstance(n_buckets, int)
        or n_buckets <= 0
    ):
        raise ValueError(
            f'pack_documents: n_buckets must be a positive int or "auto", '
            f"got {n_buckets!r}"
        )
    strata = list(strata)
    toks = F.coalesce(F.col(tokens_col).cast("long"), F.lit(0))
    base = df.select(
        F.col(id_col),
        *strata,
        toks.alias(tokens_col),
        _bucket_hash(id_col, seed, portable).alias(_H),
    ).withColumn(_BK, F.pmod(F.col(_H), F.lit(n_buckets)).cast("int"))

    out_fields = [
        base.schema[id_col],
        *[base.schema[c] for c in strata],
        base.schema[tokens_col],
        base.schema[_BK],
    ]
    schema_str = (
        ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields)
        + ", seq int"
    )
    bud = int(budget)
    keep = [id_col, *strata, tokens_col, _BK]

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([_H, id_col], kind="mergesort")
        seqs, fill, seq = [], 0, 0
        for t in pdf[tokens_col]:
            t = int(t)
            if seq == 0 or fill + t > bud:
                seq, fill = seq + 1, t
            else:
                fill += t
            seqs.append(seq)
        out = pdf[keep].copy()
        out["seq"] = seqs
        return out

    return base.groupBy(*strata, _BK).applyInPandas(_pack, schema=schema_str)


def pack_stats(
    packed: DataFrame, tokens_col: str, budget: int, strata: Sequence[str] = ()
) -> DataFrame:
    """Per-stratum packing summary over :func:`pack_documents` output:
    sequence count, max sequence fill, and the count of OVERFLOWING
    multi-doc sequences (an invariant column — next-fit never lets a
    sequence exceed the budget unless it is a single oversized document, so
    it is always 0; emitted rather than asserted so a correctness harness
    value-hashes the invariant instead of trusting it)."""
    strata = list(strata)
    per_seq = packed.groupBy(*strata, "bucket", "seq").agg(
        F.sum(tokens_col).alias("_fill"), F.count(F.lit(1)).alias("_nd")
    )
    return per_seq.groupBy(*strata).agg(
        F.count(F.lit(1)).alias("n_sequences"),
        F.max("_fill").cast("long").alias("max_seq_fill"),
        F.count(
            F.when((F.col("_fill") > budget) & (F.col("_nd") > 1), 1)
        ).alias("n_overflow_seqs"),
    )
