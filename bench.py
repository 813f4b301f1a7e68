#!/usr/bin/env python
"""Benchmark harness — runs EVERY registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced with a count() (full evaluation, no driver transfer cost);
a warmup query amortizes JVM/codegen startup so timings reflect plan execution.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from switchback_test_dag_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# per-query wall cap (seconds; 0 disables): a hung or runaway query at a big
# scale factor must cost its own slot, not the whole benchmark — the partial
# marker already makes an incomplete battery honest
QUERY_TIMEOUT = float(os.environ.get("SPARK_GRAFT_BENCH_TIMEOUT", "900"))


def _timed_count(spark, fn, name: str, timeout_s: float) -> int:
    """Run fn(spark, SF_DIR).count() with a wall cap, cancelling the query's
    job group on expiry (thread-local job groups — pinned-thread mode)."""
    import threading

    if not timeout_s:
        return fn(spark, SF_DIR).count()
    result: dict = {}

    def run() -> None:
        try:
            spark.sparkContext.setJobGroup(name, f"bench:{name}", True)
            result["n"] = fn(spark, SF_DIR).count()
        except Exception as exc:  # noqa: BLE001 - re-raised on the main thread
            result["exc"] = exc

    t = threading.Thread(target=run, daemon=True, name=f"bench-{name}")
    t.start()
    t.join(timeout_s)
    if t.is_alive():
        spark.sparkContext.cancelJobGroup(name)
        t.join(30)
        raise TimeoutError(f"exceeded {timeout_s:.0f}s; job group cancelled")
    if "exc" in result:
        raise result["exc"]
    return result["n"]

# The benched set IS the registry: every queries() entry runs, so a new
# operator can never silently drift out of the benchmark. The flagship runs
# first (it doubles as the warmup plan family); its name comes from the
# registry so bench.py can never drift from what entry() actually runs.
from switchback_test_dag_spark.queries import FLAGSHIP  # noqa: E402


def _host_probe(trials: int = 2) -> dict:
    """Host environment control: this box's memory subsystem has shown
    10-100x transient swings on identical plans (SCALE.md round-7 audits), so
    every recorded benchmark carries its own environment control — min times
    for a fixed BLAS matmul and a fixed 200 MB first-touch allocation.
    Healthy ballpark: matmul ~0.01 s, alloc ~0.1 s."""
    import numpy as np

    mm, al = [], []
    for _ in range(trials):
        a = np.random.rand(4000, 64)
        t0 = time.monotonic()
        s = a @ a.T
        mm.append(time.monotonic() - t0)
        t0 = time.monotonic()
        buf = np.ones(200_000_000 // 8)
        al.append(time.monotonic() - t0)
        del s, buf
    return {"matmul_s": round(min(mm), 3), "alloc200mb_s": round(min(al), 3)}


def _make_cpu_reader(spark):
    """Box-independent measurement: per-stage executor CPU time from the UI
    REST status store (the driver host's wall clock has shown 10-100x
    transient swings on identical plans, but CPU consumed by the plan's tasks
    is a property of the plan + data, not of the memory subsystem's mood).
    Returns a zero-arg callable yielding {(stageId, attemptId): cpu_ns} over
    COMPLETED stages, or None when the UI is off. Per-query attribution is
    the delta of NEW stage ids between two reads — old-stage eviction can't
    perturb it, and `spark.ui.retainedStages` is raised far past one query's
    stage count so new stages are never evicted before the post-read.

    Caveat recorded here once: executorCpuTime counts JVM task CPU only —
    Python/Arrow worker CPU (mapInPandas/pandas_udf stages) is outside it, so
    UDF-heavy queries under-report. As a round-over-round comparison signal
    per query this is still valid (same blind spot every round).

    Second caveat: the AppStatusStore is updated ASYNCHRONOUSLY from the
    event bus, so a stage completing exactly at a query boundary can be
    absent from an immediate read and its CPU would land in the NEXT
    query's delta — snapshots must go through _stable_cpu_read (below),
    which polls until two consecutive reads agree on the stage-id set."""
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    app_id = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app_id}/stages?status=complete"

    def read():
        try:
            with urllib.request.urlopen(url, timeout=10) as resp:
                stages = json.load(resp)
            return {
                (s["stageId"], s["attemptId"]): s.get("executorCpuTime", 0)
                for s in stages
            }
        except Exception:  # noqa: BLE001 - CPU metrics are best-effort
            return None

    return read


def _stable_cpu_read(cpu_read, tries: int = 5, sleep_s: float = 0.15):
    """Take a status-store snapshot only once the completed-stage-id set has
    stopped moving (two consecutive reads agree), bounding the event-bus lag
    window described in _make_cpu_reader. The sleeps sit OUTSIDE the timed
    span, so per-query wall timings are unaffected; a read that never
    stabilizes within ``tries`` returns the last view (best-effort, same as
    a transient REST failure)."""
    cur = cpu_read()
    for _ in range(tries):
        if cur is None:
            return None
        time.sleep(sleep_s)
        nxt = cpu_read()
        if nxt is None:
            return cur
        if set(nxt) == set(cur):
            return nxt
        cur = nxt
    return cur


# a probe past these bounds means the box, not the code, is being measured
# (round-7 lesson: 35 of 41 byte-identical queries recorded >=1.3x slower on
# a degraded host and the artifact history briefly read as a code regression)
_HEALTHY_MATMUL_S = 0.05
_HEALTHY_ALLOC_S = 0.30


def _probe_degraded(probe: dict) -> bool:
    return (
        probe["matmul_s"] > _HEALTHY_MATMUL_S
        or probe["alloc200mb_s"] > _HEALTHY_ALLOC_S
    )


def _wait_for_healthy_host(budget_s: float) -> dict:
    """Act on the environment control instead of just recording it: re-probe
    every 30 s up to ``budget_s`` until the host is healthy, returning the
    last probe. With budget 0 (default) this is a single probe — the run
    proceeds either way, but a degraded probe marks the artifact
    ``"degraded": true`` so it can never masquerade as a plan regression."""
    probe = _host_probe()
    waited = 0.0
    while _probe_degraded(probe) and waited < budget_s:
        step = min(30.0, budget_s - waited)
        print(
            f"bench: host degraded (matmul {probe['matmul_s']}s, "
            f"alloc200mb {probe['alloc200mb_s']}s); retrying probe in "
            f"{step:.0f}s ({waited:.0f}/{budget_s:.0f}s waited)",
            file=sys.stderr,
        )
        time.sleep(step)
        waited += step
        probe = _host_probe()
    return probe


def _stdout_payload(out: dict) -> dict:
    """The one-line JSON printed to stdout: the full artifact minus the raw
    best-of-N arrays ("runs"/"cpu_runs" — ~10 KB at 50 queries). The
    round-13 driver's bounded stdout capture kept only the last 2000 chars
    of the full line, so PERF_r13 could parse no prev-round bench and
    computed no round-over-round speedups. The per-query minima
    ("queries"/"cpu"), totals, host probes and error map all stay on stdout
    (same headline contract, same keys the driver reads); the raw arrays
    remain in the FULL artifact file — nothing is dropped from the durable
    record, only from the bounded pipe."""
    return {k: v for k, v in out.items() if k not in ("runs", "cpu_runs")}


def main() -> None:
    import __spark_entry__ as entry_mod

    # SPARK_GRAFT_BENCH_WAIT_HEALTHY=<seconds> holds the run until the host
    # probe is inside healthy bounds (or the budget runs out) — the loop mode
    # for recording comparable round-over-round artifacts
    wait_budget = float(os.environ.get("SPARK_GRAFT_BENCH_WAIT_HEALTHY", "0"))
    probe_start = _wait_for_healthy_host(wait_budget)
    spark = get_spark(
        app_name="switchback-bench",
        cpus=CPUS,
        shuffle_partitions=CPUS,
        # the UI is normally off; bench turns it on (random port) for the
        # REST status store that carries per-stage executor CPU time — the
        # box-independent number recorded next to every wall timing
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedStages": "20000",
            "spark.ui.retainedJobs": "20000",
        },
    )
    cpu_read = _make_cpu_reader(spark)
    queries = entry_mod.queries()
    # optional exclusions (comma-separated) for big-scale-factor runs where a
    # query's cost is quadratic BY DESIGN (e.g. the document-pair queries at
    # 100×, whose oracle replay is itself the all-pairs side) — excluded names
    # are recorded in the output so a smaller battery is never silent
    requested_excl = [
        n for n in os.environ.get("SPARK_GRAFT_BENCH_EXCLUDE", "").split(",") if n
    ]
    excluded = sorted(n for n in requested_excl if n in queries)
    # a typo'd exclusion must not silently run the heavy query anyway — warn
    # and record the unmatched names so the recorded intent is auditable
    unmatched_excl = sorted(n for n in requested_excl if n not in queries)
    for n in unmatched_excl:
        print(
            f"bench: SPARK_GRAFT_BENCH_EXCLUDE entry {n!r} matches no "
            "registered query — ignored",
            file=sys.stderr,
        )
    names = [FLAGSHIP] + sorted(
        n for n in queries if n != FLAGSHIP and n not in excluded
    )

    # warmup: JVM, parquet footer reads, codegen, and Python/Arrow UDF workers
    # (first mapInPandas call spawns 32 workers importing pandas/numpy — that
    # one-time cost belongs to session startup, not whichever query hits it
    # first). Routed through _timed_count so a hung flagship at a big scale
    # factor costs one cancelled job group, not the whole benchmark; expiry
    # here is non-fatal — the measured runs below carry their own caps.
    try:
        _timed_count(spark, queries[names[0]], "warmup", QUERY_TIMEOUT)
    except Exception as exc:  # noqa: BLE001 - warmup is best-effort
        print(f"warmup: {type(exc).__name__}: {exc}", file=sys.stderr)
    spark.range(0, 1 << 10, 1, CPUS).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    # best-of-N (default 3): single runs on this box show up to 20x variance
    # from transient system noise on identical plans; the min measures plan
    # execution (the round-5 n=3 audit showed best-of-2 still conflates
    # first-touch warmup with plan cost — e.g. assignment_battery 3.45→0.63 s).
    # All raw runs are persisted under "runs" so the variance itself is
    # auditable. A query that errors is recorded (not fatal): the rest of the
    # battery still produces timings — a partial benchmark beats a crashed one.
    from switchback_test_dag_spark.caching import release_all

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    cpu: dict[str, float] = {}
    cpu_runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name in names:
        runs[name] = []
        cpu_runs[name] = []
        for _ in range(n_runs):
            before = _stable_cpu_read(cpu_read) if cpu_read else None
            t0 = time.perf_counter()
            try:
                _timed_count(spark, queries[name], name, QUERY_TIMEOUT)
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                break
            finally:
                runs[name].append(round(time.perf_counter() - t0, 3))
                # operators pin persisted intermediates (CollapseProject
                # barriers, shared-consumer frames); release so later runs
                # time the real plan and caches don't accumulate
                release_all()
            after = _stable_cpu_read(cpu_read) if before is not None else None
            if after is not None:
                delta_ns = sum(v for k, v in after.items() if k not in before)
                cpu_runs[name].append(round(delta_ns / 1e9, 3))
        if name not in errors:
            timings[name] = min(runs[name])
            if len(cpu_runs[name]) == len(runs[name]) and cpu_runs[name]:
                cpu[name] = min(cpu_runs[name])

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "registry_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n_queries": len(timings),
        # a total summed over a partial battery is not comparable across runs
        # with different error sets — carry an explicit marker next to value
        "partial": bool(errors),
        "n_errors": len(errors),
        "queries": timings,
        "runs": runs,
        # box-independent twin record: per-query executor CPU seconds (min of
        # the same best-of-N runs, raw arrays kept). cpu_total is the number
        # round-over-round comparisons should use on this degraded-prone box;
        # JVM-side only (Python UDF worker CPU is outside task metrics — the
        # same blind spot every round, so deltas stay comparable).
        "cpu": cpu,
        "cpu_runs": cpu_runs,
        "cpu_total": round(sum(cpu.values()), 3),
        "cpu_complete": bool(cpu) and set(cpu) == set(timings),
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
    }
    # environment control bracketing the run (see _host_probe); a run whose
    # bracket exceeds healthy bounds is explicitly marked so its timings are
    # never compared as if the code were what changed
    probe_end = _host_probe()
    out["host"] = {"start": probe_start, "end": probe_end}
    out["degraded"] = _probe_degraded(probe_start) or _probe_degraded(probe_end)
    if out["degraded"]:
        print(
            "bench: host probe outside healthy bounds — timings reflect the "
            "box, not the plans; artifact marked degraded=true",
            file=sys.stderr,
        )
    if excluded:
        out["excluded"] = excluded
    if unmatched_excl:
        out["excluded_unmatched"] = unmatched_excl
    if errors:
        out["errors"] = errors
    # round-4 capture truncated the recorded line from the FRONT, losing the
    # leading headline fields; repeat them as the LAST key so any front-
    # truncated tail still carries the totals
    out["headline"] = {
        "value": out["value"],
        "n_queries": out["n_queries"],
        "partial": out["partial"],
        "n_errors": out["n_errors"],
        "sf": out["sf"],
        "degraded": out["degraded"],
        "cpu_total": out["cpu_total"],
        "cpu_complete": out["cpu_complete"],
    }
    # the round-6 artifact lost the first ~8 queries' run arrays to the
    # driver's bounded stdout capture: persist the COMPLETE artifact to a
    # file as the durable record, and keep the stdout line compact
    # (separators strip ~15%) so the capture has the best shot at parsing
    # whole too. The DEFAULT path is a .gitignore'd scratch file
    # (.bench/BENCH_full.json) so driver-initiated and exploratory runs
    # never dirty the committed record (rounds 8-10 each left the tree
    # dirty this way); committing an anchor is a deliberate act — point
    # SPARK_GRAFT_BENCH_FULL at BENCH_full.json (or copy the scratch file)
    # when recording one. BASELINE.md "Anchor policy" states which artifact
    # series the cross-round gate reads.
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL",
        os.path.join(_REPO_DIR, ".bench", "BENCH_full.json"),
    )
    try:
        os.makedirs(os.path.dirname(full_path) or ".", exist_ok=True)
        with open(full_path, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    except OSError as exc:
        print(f"bench: could not write {full_path}: {exc}", file=sys.stderr)
    # totals FIRST as well as last: a back-truncated (bounded, head-keeping)
    # capture keeps this line, a front-truncated one keeps the trailing
    # "headline" key of the full line below — either way the totals survive
    print(json.dumps({"metric": "headline_first", **out["headline"]},
                     separators=(",", ":")))
    print(json.dumps(_stdout_payload(out), separators=(",", ":")))


if __name__ == "__main__":
    main()
