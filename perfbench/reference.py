"""Per-seed reference outputs, computed once outside the timed loop by
replaying the package registry's DuckDB oracle SQL over the generated
inputs, and the comparisons that verify each job's output against them.

References are plain JSON-able dicts keyed by the output's grouping
columns, so a run can cache them beside its inputs.
"""

from __future__ import annotations

import math

# a verified value may differ from its reference by at most this much: the
# engines round at 2 (KPIs) or 4 (p-values, quality) decimals, and a double
# summed in another order can land on the other side of a rounding boundary
CENT = 0.0101
P_TOL = 1.01e-4


def _connect(data_dir: str, tables: tuple[str, ...], tmp_dir: str):
    import duckdb

    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB", "temp_directory": tmp_dir})
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _rows(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def key(*parts) -> str:
    return "|".join("" if p is None else str(p) for p in parts)


def _num(v):
    return None if v is None else float(v)


# --------------------------------------------------------------------------- #
# the daily DAG chain
# --------------------------------------------------------------------------- #


def daily_reference(data_dir: str, tmp_dir: str) -> dict:
    from switchback_test_dag_spark.pipeline import KPI_COLS, MONETARY_KPI_COLS
    from switchback_test_dag_spark.queries import ORACLES

    con = _connect(data_dir, ("lineitem", "orders", "customer", "supplier", "nation"), tmp_dir)
    try:
        elt = {
            key(r["test_name"], r["on_or_off_day"]): [
                r["n_orders"], r["n_vendor_zones"], _num(r["total_gfv"]),
                _num(r["total_revenue"]), _num(r["total_gross_profit"]),
            ]
            for r in _rows(con, ORACLES["elt_orders_fact"])
        }
        metrics = _rows(con, ORACLES["sb_metrics"])
        per_order = {
            key(r["test_name"], r["on_or_off_day"]): [_num(r[c]) for c in KPI_COLS]
            for r in metrics
        }
        totals = {
            key(r["test_name"], r["on_or_off_day"]): [_num(r[f"total_{c}"]) for c in MONETARY_KPI_COLS]
            for r in metrics
        }
        p_values = {
            key(r["test_name"], r["kpi"]): _num(r["p_value"])
            for r in _rows(con, ORACLES["sb_mwu_pvalues"])
        }
        n_lineitems = con.execute("SELECT count(*) FROM lineitem").fetchone()[0]
    finally:
        con.close()
    return {"elt": elt, "per_order": per_order, "totals": totals, "p_values": p_values,
            "work_units": n_lineitems}


def daily_canonical(out: dict) -> dict:
    """The job's collected rows in the reference's shape."""
    from switchback_test_dag_spark.pipeline import KPI_COLS, MONETARY_KPI_COLS

    return {
        "elt": {
            key(r["test_name"], r["on_or_off_day"]): [
                r["n_orders"], r["n_vendor_zones"], r["total_gfv"],
                r["total_revenue"], r["total_gross_profit"],
            ]
            for r in out["elt"]
        },
        "per_order": {
            key(r["test_name"], r["on_or_off_day"]): [r[c] for c in KPI_COLS]
            for r in out["per_order"]
        },
        "totals": {
            key(r["test_name"], r["on_or_off_day"]): [r[c] for c in MONETARY_KPI_COLS]
            for r in out["totals"]
        },
        "p_values": {key(r["test_name"], r["kpi"]): r["p_value"] for r in out["p_values"]},
    }


def daily_mismatch(got: dict, ref: dict) -> str | None:
    tol = {"elt": 1e-9, "per_order": CENT, "totals": CENT, "p_values": P_TOL}
    for table, t in tol.items():
        msg = _compare(got[table], ref[table], t)
        if msg:
            return f"{table}: {msg}"
    return None


# --------------------------------------------------------------------------- #
# design_sweep
# --------------------------------------------------------------------------- #


def sweep_reference(data_dir: str, tmp_dir: str) -> dict:
    from switchback_test_dag_spark.queries import ORACLES
    from switchback_test_dag_spark.queries_inference import N_SEEDS

    con = _connect(data_dir, ("events",), tmp_dir)
    try:
        rows = _rows(con, ORACLES["fpr_by_window_size"])
        n_buckets = con.execute(
            "SELECT count(DISTINCT (w, epoch_ns(ts) // (w * 60000000000))) FROM events, "
            "(SELECT unnest([30, 60, 120, 240, 1440]) AS w) WHERE value IS NOT NULL"
        ).fetchone()[0]
    finally:
        con.close()
    return {
        "rates": {
            key(r["window_minutes"], r["method"], r["metric"]): [_num(r["rate"]), r["n_sims"]]
            for r in rows
        },
        "n_seeds": N_SEEDS,
        "n_buckets": n_buckets,
        "work_units": len({r["window_minutes"] for r in rows}) * N_SEEDS,
    }


def sweep_canonical(out: dict) -> dict:
    return {
        "rates": {
            key(r["window_minutes"], r["method"], r["metric"]): [r["rate"], r["n_sims"]]
            for r in out["rates"]
        }
    }


def sweep_mismatch(got: dict, ref: dict) -> str | None:
    # one replicate may flip significance on a summation-order ULP
    msg = _compare(got["rates"], ref["rates"], 1.01 / ref["n_seeds"])
    return f"rates: {msg}" if msg else None


# --------------------------------------------------------------------------- #
# the corpus release
# --------------------------------------------------------------------------- #


def corpus_reference(data_dir: str, tmp_dir: str) -> dict:
    from switchback_test_dag_spark.queries import ORACLES

    # the registry oracle's survivor statistics only: its selection-contract
    # CTEs (segment dedup, DSIR) are then unreferenced and never evaluated
    sql = ORACLES["corpus_clean_stats"]
    sql = sql[: sql.rindex("\nSELECT k2.source,")] + """
SELECT k2.source,
       count(*) FILTER (WHERE c.doc_id IS NULL) AS n_kept,
       round(avg(qs) FILTER (WHERE c.doc_id IS NULL), 4) AS avg_quality,
       count(c.doc_id) AS n_contam
FROM k2 LEFT JOIN contam c USING (doc_id)
GROUP BY k2.source"""
    con = _connect(data_dir, ("documents",), tmp_dir)
    try:
        stats = {
            r["source"]: [r["n_kept"], _num(r["avg_quality"]), r["n_contam"]]
            for r in _rows(con, sql)
        }
        n_docs = con.execute("SELECT count(*) FROM documents").fetchone()[0]
    finally:
        con.close()
    return {"stats": stats, "work_units": n_docs}


def corpus_stats(rows: list[dict]) -> dict:
    """Per-source (kept, mean quality of kept, contaminated) from the
    published table, in the shape of the registry's ``corpus_clean_stats``."""
    acc: dict[str, list] = {}
    for r in rows:
        a = acc.setdefault(r["source"], [0, 0.0, 0])
        if r["contaminated"]:
            a[2] += 1
        else:
            a[0] += 1
            a[1] += r["qs"]
    return {
        s: [k, round(q / k, 4) if k else None, c] for s, (k, q, c) in acc.items()
    }


def corpus_mismatch(got: dict, ref: dict) -> str | None:
    msg = _compare(got["stats"], ref["stats"], P_TOL)
    return f"stats: {msg}" if msg else None


# --------------------------------------------------------------------------- #


def _close(a, b, tol: float) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y, tol) for x, y in zip(a, b))
    a, b = float(a), float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= tol + 1e-12 * abs(b)


def _compare(got: dict, ref: dict, tol: float) -> str | None:
    if set(got) != set(ref):
        return f"keys differ: {sorted(set(got) ^ set(ref))[:4]}"
    for k in ref:
        if not _close(got[k], ref[k], tol):
            return f"{k}: got {got[k]} expected {ref[k]}"
    return None
