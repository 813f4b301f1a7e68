"""Measurement probes: process-tree CPU and memory from ``/proc``, the Spark
status store read per job group, a span tracer, and a host probe.

All probes observe the program from outside its public functions: nothing
here changes what the measured code does.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024 * 1024


# --------------------------------------------------------------------------- #
# process tree (/proc)
# --------------------------------------------------------------------------- #


@dataclass
class TreeSample:
    cpu_s: float  # user + system CPU of every live process, plus reaped children
    rss_bytes: int
    worker_cpu_s: float  # the same CPU sum restricted to Python worker processes


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out  # exited
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def sample_tree(root: int) -> TreeSample:
    """CPU and RSS summed over ``root`` and all its descendants: the Python
    process running the jobs, the JVM it launched, and the JVM's Python
    worker daemon and workers. Only the tree's own ``/proc`` entries are
    read."""
    cpu = worker = 0.0
    rss = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                head, _, rest = fh.read().rpartition(")")
        except OSError:
            continue  # exited since its parent listed it
        f = rest.split()
        ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        cpu += ticks / _CLK
        if pid != root and head.partition("(")[2].startswith("python"):
            worker += ticks / _CLK
        rss += int(f[21]) * _PAGE
        stack.extend(_children(pid))
    return TreeSample(cpu, rss, worker)


class PeakRss:
    """Background sampler of the process tree's resident memory."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self._root = root
        self._interval = interval_s
        self._stop = threading.Event()
        self.peak = 0
        self._thread = threading.Thread(target=self._run, daemon=True, name="peak-rss")

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sample_tree(self._root).rss_bytes)
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------- #
# Spark status store, per job group
# --------------------------------------------------------------------------- #


@dataclass
class GroupMetrics:
    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    max_stage_tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0

    def add(self, other: "GroupMetrics") -> None:
        for k in self.__dataclass_fields__:
            if k == "max_stage_tasks":
                self.max_stage_tasks = max(self.max_stage_tasks, other.max_stage_tasks)
            else:
                setattr(self, k, getattr(self, k) + getattr(other, k))


class StatusStore:
    """Reads Spark's application status store through the JVM gateway.
    Actions are attributed to a span by a job group set just before them."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        gw = self._sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._empty = gw.jvm.java.util.ArrayList()

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self._sc._jsc.clearJobGroup()

    def group(self, group: str) -> GroupMetrics:
        # listener events arrive asynchronously; drain them before reading
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        store = self._jsc.statusStore()
        m = GroupMetrics()
        for job_id in self._jsc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            m.jobs += 1
            m.skipped_stages += job.numSkippedStages()
            ids = job.stageIds()
            for i in range(ids.size()):
                attempts = store.stageData(
                    ids.apply(i), False, self._empty, False, self._no_quantiles
                )
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    if s.status().toString() == "SKIPPED":
                        continue
                    m.stages += 1
                    m.tasks += s.numTasks()
                    m.failed_tasks += s.numFailedTasks()
                    m.max_stage_tasks = max(m.max_stage_tasks, s.numTasks())
                    m.cpu_s += s.executorCpuTime() / 1e9
                    m.gc_s += s.jvmGcTime() / 1e3
                    m.shuffle_write_mb += s.shuffleWriteBytes() / MB
                    m.spill_mb += s.diskBytesSpilled() / MB
                    m.input_mb += s.inputBytes() / MB
        return m

    def cached_mb(self) -> float:
        """Storage (memory + disk) held by persisted data right now."""
        return sum(
            (r.memSize() + r.diskSize()) / MB for r in self._jsc.getRDDStorageInfo()
        )


# --------------------------------------------------------------------------- #
# spans
# --------------------------------------------------------------------------- #


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    job: int = 0
    spark: GroupMetrics | None = None
    py_cpu_s: float = 0.0  # Python worker CPU while the span ran (traced actions)
    cached_mb: float = 0.0  # storage held by persisted data when it ended
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records a span around each public call and each forcing action. With
    ``store`` unset (untraced runs) spans cost one clock read each way and no
    Spark calls; with it set every action span runs under its own job group
    and carries the status-store counters of the jobs it launched."""

    store: StatusStore | None = None
    spans: list[Span] = field(default_factory=list)
    job: int = 0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, action: bool = False):
        sp = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                  job=self.job)
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        if action and self.store is not None:
            sp.group = f"j{self.job}.s{idx}"
            self.store.set_group(sp.group)
            workers0 = sample_tree(os.getpid()).worker_cpu_s
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sp.group is not None:
                sp.py_cpu_s = sample_tree(os.getpid()).worker_cpu_s - workers0
                self.store.clear_group()
                sp.spark = self.store.group(sp.group)
                sp.cached_mb = self.store.cached_mb()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "group": s.group, "job": s.job,
                    "self_s": self_time(self.spans, i),
                }) + "\n")


def self_time(spans: list[Span], idx: int) -> float:
    """A span's duration minus the part of it its direct children cover."""
    covered = sum(s.dur for s in spans if s.parent == idx)
    return spans[idx].dur - covered


# --------------------------------------------------------------------------- #
# host probe
# --------------------------------------------------------------------------- #

# beyond these the host, not the code, is being measured: about 2.5x the
# matmul and 6x the allocation times of a healthy shared 4-core host
HEALTHY_MATMUL_S = 0.25
HEALTHY_ALLOC_S = 0.30


def host_probe(trials: int = 2) -> dict:
    """Best-of-``trials`` times for a fixed 4000x64 matmul and a 200 MB
    first-touch allocation; ``degraded`` flags a host outside healthy bounds."""
    import numpy as np

    mm, al = [], []
    rng = np.random.default_rng(0)
    for _ in range(trials):
        a = rng.random((4000, 64))
        t0 = time.perf_counter()
        s = a @ a.T
        mm.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        buf = np.ones(200_000_000 // 8)
        al.append(time.perf_counter() - t0)
        del s, buf
    probe = {"matmul_s": min(mm), "alloc200mb_s": min(al)}
    probe["degraded"] = probe["matmul_s"] > HEALTHY_MATMUL_S or probe["alloc200mb_s"] > HEALTHY_ALLOC_S
    return probe
