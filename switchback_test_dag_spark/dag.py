"""Orchestration shim — the reference's Airflow DAG re-expressed scheduler-
agnostically.

The reference wraps its two computational steps in a daily Airflow DAG with
one retry and success notifications (`dags/switchback_test_dag.py:14-29`:
``retries=1``, short ``retry_delay``, ``schedule_interval='@daily'``; task
chain dummy → run_queries → msg → run_analysis_script → msg). The
computational content of those tasks is already native here (the composed ELT
extraction and the switchback analysis battery); this module reproduces the
ORCHESTRATION semantics — dependency-ordered tasks, bounded retries with
delay, per-task status callbacks — without importing a scheduler, so the same
``Task`` list can be handed to Airflow/Dagster/cron by a thin adapter.

Scale note: tasks hold DataFrame *plans*; materialization happens inside the
task body (write/collect), so the runner adds no driver-side data movement.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class Task:
    """One DAG node: a name, a callable, and upstream dependencies."""

    name: str
    fn: Callable[[], object]
    depends_on: tuple[str, ...] = ()
    retries: int = 1  # reference default_args: retries=1
    retry_delay_sec: float = 6.0  # retry_delay=timedelta(minutes=0.1)


@dataclass
class RunResult:
    succeeded: list[str] = field(default_factory=list)
    attempts: dict = field(default_factory=dict)
    outputs: dict = field(default_factory=dict)


def run_dag(
    tasks: Sequence[Task],
    on_success: Callable[[str], None] | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> RunResult:
    """Execute tasks in dependency order with per-task bounded retries.

    Topological order via repeated ready-set sweeps (task lists are tiny —
    this orchestrates jobs, not rows). A task failing all its attempts raises,
    matching Airflow's fail-the-run default (``email_on_failure`` maps to the
    caller's exception handling); downstream tasks never run."""
    by_name = {t.name: t for t in tasks}
    unknown = {d for t in tasks for d in t.depends_on} - set(by_name)
    if unknown:
        raise ValueError(f"tasks depend on unknown tasks: {sorted(unknown)}")
    result = RunResult()
    pending = list(tasks)
    while pending:
        ready = [
            t for t in pending if all(d in result.succeeded for d in t.depends_on)
        ]
        if not ready:
            raise ValueError(
                f"dependency cycle among: {sorted(t.name for t in pending)}"
            )
        for t in ready:
            attempts = 0
            while True:
                attempts += 1
                try:
                    result.outputs[t.name] = t.fn()
                    break
                except Exception:
                    if attempts > t.retries:
                        result.attempts[t.name] = attempts
                        raise
                    sleep(t.retry_delay_sec)
            result.attempts[t.name] = attempts
            result.succeeded.append(t.name)
            if on_success is not None:
                # BashOperator 'echo The "<task>" task succeeded' equivalent
                on_success(t.name)
            pending.remove(t)
    return result


def daily_tasks(spark: SparkSession, sf_dir: str) -> list[Task]:
    """The reference DAG's task chain on this engine: extraction (the 8-stage
    composed ELT script standing in for run_sql_queries) then the switchback
    analysis battery (pipeline.run_tests standing in for
    automated_switchback_test_analysis_script). Each task returns its
    collected rows: the ELT signature, then the per_order / totals /
    p_values tables."""
    from switchback_test_dag_spark.operators.domain import (
        domain_configs_df,
        synthesize_orders_fact,
    )
    from switchback_test_dag_spark.pipeline import run_tests
    from switchback_test_dag_spark.queries_elt import elt_orders_fact

    # collect(), never count(): the outputs are a few dozen rows, and count()
    # lets Catalyst prune the work it forces (the MWU rank window included)
    def run_queries():
        # materialize the extraction like the reference's CREATE TABLE step
        return elt_orders_fact(spark, sf_dir).collect()

    def run_analysis():
        fact = synthesize_orders_fact(spark, sf_dir)
        out = run_tests(fact, domain_configs_df(spark))
        # the reference uploads these three tables to the warehouse
        return {name: df.collect() for name, df in out.items()}

    return [
        Task("run_queries", run_queries),
        Task("run_analysis_script", run_analysis, depends_on=("run_queries",)),
    ]


def run_daily(
    spark: SparkSession,
    sf_dir: str,
    on_success: Callable[[str], None] | None = None,
) -> RunResult:
    """One scheduled run of the reference DAG's computational chain."""
    return run_dag(daily_tasks(spark, sf_dir), on_success=on_success)
