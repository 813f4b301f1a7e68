"""Benchmark entry point: run one workload as a closed loop with one client.

    python3 perfbench/run.py --workload daily_ops --seed 1 --seconds 1 --trace 0

Run from the repository root. Per run it

1. probes the host (fixed matmul + 200 MB allocation) and records ``nproc``;
2. derives the workload's tables from ``--seed`` and the committed fixture
   sample under ``perfbench/.work`` and computes the reference outputs with
   the package's DuckDB oracle SQL, in a child process (both cached per
   seed and fingerprint, neither timed);
3. starts a ``local[nproc]`` session and runs a small warmup job
   (``setup_s`` is process start to the first timed job, minus steps 1-2);
4. runs jobs back to back for ``--seconds`` (at least one; four when
   tracing), building every plan fresh, collecting and verifying every
   result;
5. prints one JSON detail line, then the result line last.

``--trace 0`` reports the end-to-end metrics of job 0. ``--trace 1`` traces
job 0, then alternates untraced and traced jobs: traced jobs run every
action under its own Spark job group and read the status store after it.
The per-layer metrics are job 0's; ``trace.overhead_s`` is the median
traced minus the median untraced warm job time. Spans are written to
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "switchback_test_dag_spark"

# the run must end within this many seconds; jobs still running at the soft
# limit are cancelled (and count as failed)
SOFT_LIMIT_S = 150
HARD_LIMIT_S = 175


def _process_age_s() -> float:
    """Seconds since this process started, from the kernel's start time."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rpartition(")")[2].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


_T0 = time.perf_counter() - _process_age_s()

PER_LAYER = (
    "session.start_s", "session.warmup_s",
    "dag.overhead_s", "dag.retries",
    "queries_elt.build_s", "queries_elt.exec_s", "queries_elt.exec_cpu_s",
    "queries_elt.shuffle_write_mb",
    "operators.domain.build_s",
    "pipeline.build_s",
    "pipeline.per_order.exec_s", "pipeline.per_order.exec_cpu_s",
    "pipeline.totals.exec_s", "pipeline.totals.exec_cpu_s",
    "pipeline.p_values.exec_s", "pipeline.p_values.exec_cpu_s",
    "pipeline.p_values.shuffle_write_mb", "pipeline.p_values.spill_mb",
    "io.input_mb", "io.rescan_ratio", "io.atomic_overwrite_s", "io.files_written",
    "io.read_committed_s",
    "stats.permutation.build_s", "stats.permutation.exec_s",
    "stats.permutation.exec_cpu_s", "stats.permutation.max_stage_tasks",
    "stats.permutation.core_util", "stats.permutation.seeded_rows",
    "text.pipeline.build_s", "text.pipeline.exec_s", "text.pipeline.exec_cpu_s",
    "text.pipeline.py_worker_cpu_s",
    "caching.pinned_mb", "caching.release_s",
    "spark.stages", "spark.tasks", "spark.skipped_stages", "spark.failed_tasks",
    "spark.gc_s", "spark.spill_mb", "spark.shuffle_write_mb",
    "driver.build_share",
    "trace.overhead_s",
)


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_share", "_util")):
        return "ratio"
    return "count"


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the self-test")
    p.add_argument("--corrupt", action="store_true",
                   help="perturb every job's output before verifying it (self-test)")
    p.add_argument("--prepare", metavar="DIR",
                   help="only write the inputs and reference outputs to DIR")
    return p.parse_args(argv)


def _percentile_info(values: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    info = {"median": statistics.median(xs), "n": n, "tail_pct": None, "tail": None}
    if n > 10:
        pct = int(100 * (1 - 10 / n))
        info["tail_pct"] = pct
        info["tail"] = xs[min(n - 1, int(pct / 100 * n))]
    return info


def _corrupt(canon: dict) -> None:
    """Perturb one value of a canonical output in place."""
    table = next(v for v in canon.values() if isinstance(v, dict) and v)
    key = next(iter(table))
    v = table[key]
    if isinstance(v, list):
        v[-1] = (v[-1] or 0) + 1
    else:
        table[key] = (v or 0) + 1


def _fingerprint() -> str:
    """Hash of everything the inputs and references are derived from: the
    fixture sample, the generator and reference code, and the package
    sources that define the oracle SQL and KPI column lists."""
    h = hashlib.sha256()
    paths = [os.path.join(BENCH_DIR, f) for f in ("inputs.py", "reference.py", "workloads.py")]
    paths += sorted(glob.glob(os.path.join(BENCH_DIR, "fixtures", "*.parquet")))
    paths += sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True))
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _prepare(workload, seed: int, size_name: str, out_dir: str) -> None:
    """Write the inputs and their reference outputs to ``out_dir``."""
    workload.generate(out_dir, seed, workload.sizes[size_name])
    tmp = os.path.join(out_dir, "_duckdb_tmp")
    ref = workload.reference(out_dir, tmp)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(out_dir, "reference.json"), "w") as fh:
        json.dump(ref, fh)


def _inputs(workload, seed: int, size_name: str, work_dir: str) -> tuple[str, dict]:
    """The inputs and reference outputs, generated once per seed and
    fingerprint in a child process, so the measured process imports neither
    the generators nor the package before its session starts."""
    data_dir = os.path.join(
        work_dir, f"{workload.name}-{size_name}-{seed}-{_fingerprint()}"
    )
    done = os.path.join(data_dir, "reference.json")
    if not os.path.exists(done):
        staging = f"{data_dir}.{os.getpid()}.tmp"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", workload.name,
             "--seed", str(seed), "--seconds", "0", "--size", size_name,
             "--prepare", staging],
            check=True, timeout=SOFT_LIMIT_S / 2,
        )
        shutil.rmtree(data_dir, ignore_errors=True)
        os.replace(staging, data_dir)
    with open(done) as fh:
        return data_dir, json.load(fh)


def _warmup(spark, cores: int) -> None:
    """A small fixed job that shares no plan with any workload: it brings up
    the scheduler, the task threads and the shuffle path."""
    spark.range(0, 1_000, 1, cores).selectExpr("id % 7 AS k").groupBy("k").count().collect()


def _stop_jvm() -> None:
    """Shut down the JVM the session launched and wait until it has exited
    (it exits when its stdin closes; its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _layer_metrics(tracer, job: int, job_s: float, retries: int, ctx_info: dict) -> dict:
    from perfbench.probes import GroupMetrics, self_time

    m = {k: 0.0 for k in PER_LAYER}
    total = GroupMetrics()
    build_s = 0.0
    for idx, sp in enumerate(tracer.spans):
        if sp.job != job:
            continue
        name = sp.name
        if name.endswith(".build") or name == "io.load_table":
            build_s += sp.dur
            if name != "io.load_table":
                m[f"{name}_s"] += sp.dur
        elif name == "dag.run_dag":
            m["dag.overhead_s"] += self_time(tracer.spans, idx)
        elif name in ("io.atomic_overwrite", "io.read_committed", "caching.release"):
            m[f"{name}_s"] += sp.dur
        elif name.endswith(".exec"):
            m[f"{name}_s"] += sp.dur
            if f"{name}_cpu_s" in m:
                m[f"{name}_cpu_s"] += sp.spark.cpu_s
        for k, v in sp.counts.items():
            m[k] += v
        if sp.spark is not None:
            total.add(sp.spark)
            m["caching.pinned_mb"] = max(m["caching.pinned_mb"], sp.cached_mb)
            if name == "queries_elt.exec":
                m["queries_elt.shuffle_write_mb"] = sp.spark.shuffle_write_mb
            elif name == "pipeline.p_values.exec":
                m["pipeline.p_values.shuffle_write_mb"] = sp.spark.shuffle_write_mb
                m["pipeline.p_values.spill_mb"] = sp.spark.spill_mb
            elif name == "stats.permutation.exec":
                m["stats.permutation.max_stage_tasks"] = sp.spark.max_stage_tasks
                m["stats.permutation.core_util"] = sp.spark.cpu_s / (sp.dur * ctx_info["cores"])
            elif name == "text.pipeline.exec":
                m["text.pipeline.py_worker_cpu_s"] = sp.py_cpu_s
    m["dag.retries"] = retries
    m["io.input_mb"] = ctx_info["input_mb"]
    m["io.rescan_ratio"] = total.input_mb / ctx_info["input_mb"]
    m["stats.permutation.seeded_rows"] = ctx_info["seeded_rows"]
    for k in ("stages", "tasks", "skipped_stages", "failed_tasks", "gc_s", "spill_mb",
              "shuffle_write_mb"):
        m[f"spark.{k}"] = getattr(total, k)
    m["driver.build_share"] = build_s / job_s
    return m


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]

    # time spent on the benchmark's own imports, the host probe, inputs and
    # references: not part of setup_s
    t = time.perf_counter()
    from perfbench import probes
    from perfbench.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    size = workload.sizes[args.size]
    if args.prepare:
        _prepare(workload, args.seed, args.size, args.prepare)
        return 0
    cores = len(os.sched_getaffinity(0))  # nproc
    pid = os.getpid()
    work_dir = os.path.join(BENCH_DIR, ".work")
    run_dir = os.path.join(work_dir, f"run-{pid}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # keep every file Spark, its workers and DuckDB write inside the run dir
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")

    host_before = probes.host_probe()
    data_dir, ref = _inputs(workload, args.seed, args.size, work_dir)
    harness_s = time.perf_counter() - t
    input_mb = sum(
        os.path.getsize(os.path.join(data_dir, f"{n}.parquet")) for n in workload.tables
    ) / probes.MB

    from switchback_test_dag_spark.session import get_spark

    spark = None
    timers: list[threading.Timer] = []
    with probes.PeakRss(pid) as rss:
        try:
            t = time.perf_counter()
            spark = get_spark(
                app_name=f"perfbench-{workload.name}",
                cpus=cores,
                shuffle_partitions=cores,
                driver_memory="1g",
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            start_s = time.perf_counter() - t
            master = spark.sparkContext.master
            timers = [
                threading.Timer(SOFT_LIMIT_S - (time.perf_counter() - _T0),
                                spark.sparkContext.cancelAllJobs),
                threading.Timer(HARD_LIMIT_S - (time.perf_counter() - _T0),
                                lambda: os._exit(3)),
            ]
            for timer in timers:
                timer.daemon = True
                timer.start()

            tracer = probes.Tracer()
            store = probes.StatusStore(spark) if args.trace else None
            ctx = Context(spark, data_dir, run_dir, tracer)

            def run_job(job: int, traced: bool) -> dict:
                tracer.job = job
                tracer.store = store if traced else None
                cpu0 = probes.sample_tree(pid).cpu_s
                t0 = time.perf_counter()
                rec = {"job": job, "traced": traced, "ok": False, "retries": 0}
                try:
                    out = workload.job(ctx)
                    rec["wall_s"] = time.perf_counter() - t0
                    rec["retries"] = out.get("_retries", 0)
                    canon = workload.canonical(out)
                    if args.corrupt:
                        _corrupt(canon)
                    msg = workload.mismatch(canon, ref)
                    rec["ok"] = msg is None
                    if msg:
                        rec["error"] = f"verification: {msg}"[:300]
                except Exception as exc:  # noqa: BLE001 - a failed job is a measured outcome
                    rec["wall_s"] = time.perf_counter() - t0
                    rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                    traceback.print_exc(file=sys.stderr)
                rec["cpu_s"] = probes.sample_tree(pid).cpu_s - cpu0
                return rec

            t = time.perf_counter()
            _warmup(spark, cores)
            warmup_s = time.perf_counter() - t
            setup_s = time.perf_counter() - _T0 - harness_s

            # Job 0 is the session's first workload job, the one the
            # end-to-end metrics report: a scheduled batch run pays plan
            # compilation and JIT warm-up in every fresh process. Later jobs
            # within --seconds are warm and reported in the detail line.
            # Traced runs trace job 0 (the per-layer metrics), then alternate
            # untraced and traced warm jobs, so each traced warm job sits
            # between untraced neighbours, to measure the tracing overhead.
            min_jobs = 4 if args.trace else 1
            jobs = []
            t_loop = time.perf_counter()
            while time.perf_counter() - t_loop < args.seconds or len(jobs) < min_jobs:
                if time.perf_counter() - _T0 > SOFT_LIMIT_S:
                    break
                n = len(jobs)
                jobs.append(run_job(n, traced=bool(args.trace) and n % 2 == 0))
        finally:
            for timer in timers:
                timer.cancel()
            if spark is not None:
                spark.stop()
            _stop_jvm()

    host_after = probes.host_probe()
    failed = sum(not j["ok"] for j in jobs)
    first = jobs[0]
    warm_walls = [j["wall_s"] for j in jobs[1:] if not j["traced"]]
    warm = _percentile_info(warm_walls) if warm_walls else None
    detail = {
        "workload": workload.name, "seed": args.seed, "size": size, "trace": args.trace,
        "nproc": cores, "master": master, "host": {"before": host_before, "after": host_after},
        "degraded": host_before["degraded"] or host_after["degraded"],
        "session_start_s": start_s, "warmup_s": warmup_s, "warm_job_s": warm, "jobs": jobs,
    }
    print(json.dumps(detail, default=str))

    if args.trace:
        info = {
            "cores": cores,
            "input_mb": input_mb,
            "seeded_rows": ref.get("n_buckets", 0) * ref.get("n_seeds", 0),
        }
        values = _layer_metrics(tracer, 0, first["wall_s"], first["retries"], info)
        values["session.start_s"] = start_s
        values["session.warmup_s"] = warmup_s
        warm_traced = [j["wall_s"] for j in jobs[1:] if j["traced"]]
        # 0 when the time limit cut the run before a traced/untraced pair
        values["trace.overhead_s"] = (
            statistics.median(warm_traced) - warm["median"] if warm_traced and warm else 0.0
        )
        tracer.dump(os.path.join(work_dir, f"trace-{workload.name}-{args.seed}.jsonl"))
        metrics = {k: {"value": values[k], "unit": unit_of(k)} for k in PER_LAYER}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "job_s": {"value": first["wall_s"], "unit": "s"},
            "work_per_s": {"value": ref["work_units"] / first["wall_s"], "unit": "1/s"},
            "cpu_s": {"value": first["cpu_s"], "unit": "s"},
            "peak_rss_mb": {"value": rss.peak / probes.MB, "unit": "MB"},
            "verified_share": {"value": 1 - failed / len(jobs), "unit": "ratio"},
        }
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
