#!/usr/bin/env python
"""Dev tool: run named registry queries (or all) against their DuckDB oracles
at a given scale factor — a fast local replica of the driver's correctness
gate. Usage: python tools/diffcheck.py [--sf DIR] [name ...]"""

from __future__ import annotations

import math
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import duckdb  # noqa: E402

from switchback_test_dag_spark.io import TABLES  # noqa: E402
from switchback_test_dag_spark.session import get_spark  # noqa: E402


def norm(df):
    df = df[sorted(df.columns)]
    rows = [
        tuple(
            None
            if (isinstance(v, float) and math.isnan(v))
            else (round(v, 6) if isinstance(v, float) else v)
            for v in r
        )
        for r in df.itertuples(index=False)
    ]
    return sorted(rows, key=lambda r: tuple(str(x) for x in r))


def main() -> int:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.01"
    if args and args[0] == "--sf":
        sf = args[1]
        args = args[2:]
    from switchback_test_dag_spark import queries as q

    names = args or list(q.QUERIES)
    spark = get_spark(app_name="diffcheck")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.isdir(p):  # Spark directory output (e.g. tools/make_scale.py)
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    failures = 0
    for name in names:
        try:
            sdf = q.QUERIES[name](spark, sf).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {type(exc).__name__}: {exc}")
            failures += 1
            continue
        oracle = q.ORACLES.get(name)
        if oracle is None:
            status = "rows-only" if len(sdf) > 0 else "ROWS-ONLY EMPTY (FAIL)"
            failures += len(sdf) == 0
            print(f"{name}: {status} ({len(sdf)} rows)")
            continue
        try:
            odf = con.execute(oracle).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ORACLE ERROR {type(exc).__name__}: {exc}")
            failures += 1
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            print(
                f"{name}: COLUMN MISMATCH {sorted(sdf.columns)} vs {sorted(odf.columns)}"
            )
            failures += 1
            continue
        s, o = norm(sdf), norm(odf)
        if len(s) != len(o):
            print(f"{name}: ROW COUNT {len(s)} vs {len(o)}")
            failures += 1
        elif s != o:
            bad = next((a, b) for a, b in zip(s, o) if a != b)
            print(f"{name}: VALUE MISMATCH first diff\n  spark: {bad[0]}\n  duck : {bad[1]}")
            failures += 1
        else:
            print(f"{name}: MATCH ({len(s)} rows)")
    print(f"-- {len(names) - failures}/{len(names)} ok")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
