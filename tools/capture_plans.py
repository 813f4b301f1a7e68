#!/usr/bin/env python
"""Dev tool: capture `.explain("formatted")` for registry queries into
plans/<tag>/<query>_<suffix>.txt (the judge-auditable plan record).

Usage: python tools/capture_plans.py --tag r13 --suffix before [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from switchback_test_dag_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from switchback_test_dag_spark import queries as q
    from switchback_test_dag_spark.caching import release_all

    names = args.names or list(q.QUERIES)
    out_dir = os.path.join(_REPO, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture-plans")
    rc = 0
    for name in names:
        try:
            df = q.QUERIES[name](spark, args.sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            rc = 1
            continue
        finally:
            release_all()
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_ex = plan.count("Exchange")
        joins = [
            j
            for j in (
                "BroadcastHashJoin",
                "SortMergeJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
                "CartesianProduct",
            )
            if j in plan
        ]
        pyn = [
            p
            for p in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow")
            if p in plan
        ]
        print(f"{name}: {len(plan)}B Exchange~{n_ex} joins={joins} py={pyn}")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
