#!/usr/bin/env python
"""Registry-wide duplicated-scan audit: rank queries by how many MORE
parquet-scan nodes their executed plan carries than distinct tables read.

An unpersisted frame consumed by two downstream branches plans as two
independent subtrees — the whole upstream pipeline (scans included) runs
once per consumer. This is the defect class the round-10 audit caught three
times (exact_quantiles' totals re-scan, crse_ols' glob re-join); this tool
makes the sweep repeatable.

Caveats (read before acting on a row):
- Text counts include each cached relation's printed child description, so
  queries WITH InMemoryTableScans over-count: a scan that appears only
  inside an InMemoryRelation block runs once, at cache materialization.
  Rows with ``imts=0`` are the trustworthy suspects; for cached plans,
  check the tree by eye (``--show NAME``).
- Excess scans are not automatically defects: recall-contract queries scan
  the corpus for both the approximate and the exact path BY DESIGN, the
  ELT stage chain's re-reads are documented temp-view semantics, tiny dim
  tables re-scan harmlessly. The tool ranks; a human judges.

Usage: python tools/scan_audit.py [--sf DIR] [--show NAME]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from switchback_test_dag_spark.caching import release_all  # noqa: E402
from switchback_test_dag_spark.session import get_spark  # noqa: E402

_TABLE_RE = re.compile(r"/(\w+)\.parquet")


def audit_registry(spark, sf: str, on_error=None) -> list[tuple]:
    """One sweep over every registry query: build the executed plan (no
    execution) and return ``(excess, scans, n_tables, imts, name, dup)``
    rows for queries whose plan carries more parquet-scan nodes than
    distinct tables, sorted worst-first. Shared by the CLI below and the
    regression gate in tests/test_plans.py (``test_no_new_duplicated_scans``
    — a NEW uncached duplicated-scan row fails there, so the sweep is a
    failing test, not a periodic chore)."""
    from switchback_test_dag_spark import queries as q

    rows = []
    for name, fn in q.QUERIES.items():
        try:
            plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 - audit is best-effort per query
            if on_error:
                on_error(name, exc)
            continue
        finally:
            release_all()
        scans = plan.count("Scan parquet")
        tables = Counter(_TABLE_RE.findall(plan))
        imts = plan.count("InMemoryTableScan")
        excess = scans - len(tables)
        if excess > 0:
            dup = {t: c for t, c in tables.items() if c > 1}
            rows.append((excess, scans, len(tables), imts, name, dup))
    rows.sort(reverse=True)
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--show", help="print the full executed plan of one query")
    args = ap.parse_args()

    from switchback_test_dag_spark import queries as q

    spark = get_spark(app_name="scan-audit")
    if args.show:
        plan = (
            q.QUERIES[args.show](spark, args.sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        print(plan)
        return

    rows = audit_registry(
        spark,
        args.sf,
        on_error=lambda name, exc: print(
            f"{name}: ERROR {type(exc).__name__}: {exc}", file=sys.stderr
        ),
    )
    print(f"{'excess':>6} {'scans':>5} {'tables':>6} {'imts':>4}  query  (tables scanned >1x)")
    for excess, scans, ntab, imts, name, dup in rows:
        flag = "" if imts else "  <- uncached: real duplication"
        print(f"{excess:>6} {scans:>5} {ntab:>6} {imts:>4}  {name}  {dup}{flag}")


if __name__ == "__main__":
    main()
