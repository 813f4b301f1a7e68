"""Self-test of the benchmark at the smallest input size.

    python3 perfbench/selftest.py

For every workload in ``BENCHMARK.json`` it checks that an untraced run
emits exactly the end-to-end metrics and a traced run exactly the per-layer
metrics, each with its declared unit, that both verify their outputs, and
that a run whose outputs are deliberately corrupted counts every job as
failed. Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def _run(workload: str, *extra: str) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--size", "tiny", *extra],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    if p.returncode != 0:
        raise RuntimeError(f"{workload} {extra}: exit {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def _check(workload: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for trace, declared in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
        result = _run(workload, "--trace", trace)
        units = {m["name"]: m["unit"] for m in declared}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != units:
            problems.append(f"trace {trace}: metrics/units differ from BENCHMARK.json: "
                            f"{sorted(set(got.items()) ^ set(units.items()))}")
        if not result["correct"] or result["failed"] or result["attempted"] < 1:
            problems.append(f"trace {trace}: outputs not verified: {result}")
    result = _run(workload, "--corrupt")
    if result["correct"] or result["failed"] != result["attempted"]:
        problems.append(f"corrupted outputs were not all counted as failed: {result}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        workloads = [w["name"] for w in json.load(fh)["workloads"]]
    failed = False
    for w in workloads:
        problems = _check(w)
        failed |= bool(problems)
        print(f"{w}: {'ok' if not problems else 'FAILED'}")
        for p in problems:
            print(f"  {p}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
