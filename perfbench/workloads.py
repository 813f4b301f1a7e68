"""The benchmark workloads. Each job builds every plan fresh, calls the
package only through its public functions, collects every result, and wraps
each public call and each forcing action in a tracer span named after the
layer it enters.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from perfbench import reference
from perfbench.probes import Tracer

# 2-token chunk segments, the registry's corpus_clean_stats segmenter
SEGMENTER_SQL = (
    "element_at(transform(array(filter(split(lower(text), '\\\\s+'), x -> x != '')), tk -> "
    "CASE WHEN size(tk) = 0 THEN CAST(array() AS ARRAY<STRING>) ELSE "
    "transform(sequence(1, size(tk), 2), i -> concat_ws(' ', slice(tk, i, 2))) END), 1)"
)


@dataclass
class Context:
    spark: object
    data_dir: str
    out_dir: str
    tracer: Tracer


@dataclass
class Workload:
    name: str
    tables: tuple[str, ...]
    sizes: dict[str, dict]  # size name -> generator parameters
    generate: Callable[[str, int, dict], None]
    reference: Callable[[str, str], dict]
    job: Callable[[Context], dict]
    canonical: Callable[[dict], dict]
    mismatch: Callable[[dict, dict], str | None]


def _inputs():
    # numpy and pyarrow are imported only by the process that generates inputs
    from perfbench import inputs

    return inputs


# --------------------------------------------------------------------------- #
# the reference DAG's ELT + analysis chain
# --------------------------------------------------------------------------- #


def daily_job(ctx: Context) -> dict:
    from switchback_test_dag_spark import dag
    from switchback_test_dag_spark.operators.domain import (
        domain_configs_df,
        synthesize_orders_fact,
    )
    from switchback_test_dag_spark.pipeline import run_tests
    from switchback_test_dag_spark.queries_elt import elt_orders_fact

    tr, spark, d = ctx.tracer, ctx.spark, ctx.data_dir
    rows: dict[str, list] = {}

    def run_queries():
        with tr.span("dag.task.run_queries"):
            with tr.span("queries_elt.build"):
                elt = elt_orders_fact(spark, d)
            with tr.span("queries_elt.exec", action=True):
                rows["elt"] = elt.collect()

    def run_analysis():
        with tr.span("dag.task.run_analysis_script"):
            with tr.span("operators.domain.build"):
                fact = synthesize_orders_fact(spark, d)
                configs = domain_configs_df(spark)
            with tr.span("pipeline.build"):
                out = run_tests(fact, configs)
            for name in ("per_order", "totals", "p_values"):
                with tr.span(f"pipeline.{name}.exec", action=True):
                    rows[name] = out[name].collect()

    tasks = [
        dag.Task("run_queries", run_queries),
        dag.Task("run_analysis_script", run_analysis, depends_on=("run_queries",)),
    ]
    with tr.span("dag.run_dag"):
        result = dag.run_dag(tasks)
    rows["_retries"] = sum(result.attempts.values()) - len(tasks)
    return rows


# --------------------------------------------------------------------------- #
# design_sweep: the evaluate_test window x method sweep over seeded re-randomizations
# --------------------------------------------------------------------------- #


def sweep_job(ctx: Context) -> dict:
    from switchback_test_dag_spark import caching
    from switchback_test_dag_spark.queries_inference import fpr_by_window_size

    tr = ctx.tracer
    with tr.span("stats.permutation.build"):
        rates = fpr_by_window_size(ctx.spark, ctx.data_dir)
    with tr.span("stats.permutation.exec", action=True):
        rows = rates.collect()
    with tr.span("caching.release"):
        caching.release_all()
    return {"rates": rows}


# --------------------------------------------------------------------------- #
# the corpus release: clean a corpus, publish it atomically, read it back
# --------------------------------------------------------------------------- #


def corpus_job(ctx: Context) -> dict:
    from pyspark.sql import functions as F

    from switchback_test_dag_spark import caching, io
    from switchback_test_dag_spark.text.pipeline import clean_corpus

    tr, spark = ctx.tracer, ctx.spark
    with tr.span("io.load_table"):
        docs = io.load_table(spark, ctx.data_dir, "documents")
    with tr.span("text.pipeline.build"):
        flagged = clean_corpus(
            docs.select("doc_id", "source", "text"),
            "doc_id",
            "text",
            segmenter=F.expr(SEGMENTER_SQL),
            quality_min=0.5,
            boiler_min_df=20,
            shingle_n=3,
            jaccard_threshold=0.85,
            eval_df=docs.filter(F.col("doc_id") % 13 == 0),
            decon_n=4,
            quality_col="qs",
        )
    with tr.span("text.pipeline.exec", action=True):
        cleaned = flagged.collect()
    table = os.path.join(ctx.out_dir, "corpus_clean")
    with tr.span("io.atomic_overwrite", action=True) as sp:
        version_dir = io.atomic_overwrite(flagged, table)
    files = [f for f in os.listdir(version_dir) if f.startswith("part-")]
    sp.counts = {"io.files_written": len(files)}
    with tr.span("io.read_committed", action=True):
        published = io.read_committed(spark, table).collect()
    with tr.span("caching.release"):
        caching.release_all()
    return {"cleaned": cleaned, "published": published}


def _corpus_canonical(out: dict) -> dict:
    stats = reference.corpus_stats([r.asDict() for r in out["published"]])
    if sorted(r["doc_id"] for r in out["published"]) != sorted(r["doc_id"] for r in out["cleaned"]):
        stats["_published_ids"] = "differ from the cleaned output"
    return {"stats": stats}


# --------------------------------------------------------------------------- #
# daily_ops: the day's two batch jobs, one after the other in one session
# --------------------------------------------------------------------------- #


def daily_ops_job(ctx: Context) -> dict:
    return {**daily_job(ctx), **corpus_job(ctx)}


def _daily_ops_generate(out_dir: str, seed: int, size: dict) -> None:
    inputs = _inputs()
    inputs.write_orders_tables(out_dir, seed, size["orders"])
    inputs.write_documents(out_dir, seed, size["docs"])


def _daily_ops_reference(data_dir: str, tmp_dir: str) -> dict:
    daily = reference.daily_reference(data_dir, tmp_dir)
    corpus = reference.corpus_reference(data_dir, tmp_dir)
    return {**daily, **corpus, "work_units": daily["work_units"] + corpus["work_units"]}


def _daily_ops_mismatch(got: dict, ref: dict) -> str | None:
    return reference.daily_mismatch(got, ref) or reference.corpus_mismatch(got, ref)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="daily_ops",
            tables=("lineitem", "orders", "customer", "supplier", "nation", "documents"),
            sizes={
                "full": {"orders": 15_000, "docs": 200},
                "tiny": {"orders": 500, "docs": 60},
            },
            generate=_daily_ops_generate,
            reference=_daily_ops_reference,
            job=daily_ops_job,
            canonical=lambda out: {**reference.daily_canonical(out), **_corpus_canonical(out)},
            mismatch=_daily_ops_mismatch,
        ),
        Workload(
            name="design_sweep",
            tables=("events",),
            sizes={"full": {"periods": 12}, "tiny": {"periods": 1}},
            generate=lambda d, seed, size: _inputs().write_events(d, seed, size["periods"]),
            reference=reference.sweep_reference,
            job=sweep_job,
            canonical=reference.sweep_canonical,
            mismatch=reference.sweep_mismatch,
        ),
    )
}
