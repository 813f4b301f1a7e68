"""Local replica of the driver's DuckDB-oracle differential gate: run every
registered query on Spark and its oracle SQL on DuckDB at sf0.001 (speed) and
compare row counts + sorted values (order-insensitive, column-name aligned)."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import math
from pathlib import Path

import duckdb
import pytest

from switchback_test_dag_spark.io import TABLES

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


def _normalize(df):
    """pandas frame → sorted list of row tuples with column-name ordering and
    float rounding, mimicking the driver's order-insensitive value hash."""
    df = df[sorted(df.columns)]

    def norm(v):
        if v is None:
            return None
        if isinstance(v, float):
            if math.isnan(v):
                return None
            return round(v, 6)
        return v

    rows = [tuple(norm(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple(str(x) for x in r))


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF).toPandas()
    assert len(sdf) >= 0  # smoke: runs
    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        assert len(sdf) > 0, f"rows-only query {name} returned no rows"
        return
    odf = duck.execute(oracle).fetchdf()
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} vs oracle {len(odf)}"
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    )
    s_rows, o_rows = _normalize(sdf), _normalize(odf)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    # flagship now carries the full MWU table: statistic half + p-value
    assert set(df.columns) == {
        "test_name", "kpi", "n_a", "n_b", "u_stat", "z", "p_value",
    }


def test_registry_fits_correctness_window():
    """The driver's correctness harness samples the FIRST 50 registered
    queries. The registry must stay within that window; a registration past
    the 50th would silently fall out of the hard oracle gate — merge into an
    existing suite instead (see COVERAGE.md)."""
    assert len(entry_mod.queries()) <= 50, (
        "registry exceeds the driver's 50-query check window; "
        "merge same-grain queries instead of appending"
    )
    # every oracle key must have a query (no orphaned oracles)
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())


def test_plan_captures_name_registry_queries():
    """Every captured plan ``plans/r13/<query>_{before,after}.txt`` names a
    registered query, so deleting a query cannot leave its captures behind."""
    root = Path(entry_mod.__file__).parent
    captures = sorted((root / "plans" / "r13").glob("*.txt"))
    assert captures
    names = set(entry_mod.queries())
    stale = []
    for path in captures:
        query, _, phase = path.stem.rpartition("_")
        if phase not in ("before", "after") or query not in names:
            stale.append(path.name)
    assert not stale, stale


def test_package_imports_resolve():
    """Every ``from switchback_test_dag_spark... import name`` in the package,
    the tools and the benchmark, module-level or function-local, names a
    module that imports and a name it has (attribute or submodule).
    Function-local imports and scripts only fail when they run, so a deleted
    module or name would otherwise go unnoticed until a caller reaches it."""
    root = Path(entry_mod.__file__).parent
    paths = [
        *(root / "switchback_test_dag_spark").rglob("*.py"),
        *(root / "tools").glob("*.py"),
        *(root / "perfbench").glob("*.py"),
    ]
    checked, broken = 0, []
    for path in sorted(paths):
        package = ".".join(path.relative_to(root).parent.parts)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.ImportFrom):
                continue
            module = importlib.util.resolve_name(
                "." * node.level + (node.module or ""), package
            )
            if not module.startswith("switchback_test_dag_spark"):
                continue
            checked += 1
            where = f"{path.relative_to(root)}:{node.lineno}"
            try:
                mod = importlib.import_module(module)
            except ImportError as exc:
                broken.append(f"{where}: {module} ({exc})")
                continue
            for alias in node.names:
                if alias.name == "*" or hasattr(mod, alias.name):
                    continue
                if not hasattr(mod, "__path__") or importlib.util.find_spec(
                    f"{module}.{alias.name}"
                ) is None:
                    broken.append(f"{where}: {module}.{alias.name}")
    assert checked > 110, checked
    assert not broken, broken


def test_no_unused_imports():
    """Every name the package and the tools import, module-level or
    function-local, is loaded somewhere in the same module. Imports kept for
    their side effect (the registry modules ``queries.py`` pulls in) carry
    ``# noqa: F401`` and are skipped; a package's re-exports count as loaded
    through its ``__all__``."""
    root = Path(entry_mod.__file__).parent
    paths = [
        *(root / "switchback_test_dag_spark").rglob("*.py"),
        *(root / "tools").glob("*.py"),
    ]
    unused = []
    for path in sorted(paths):
        src = path.read_text()
        lines = src.splitlines()
        tree = ast.parse(src, str(path))
        loaded = {
            n.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        for node in tree.body:
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
            ):
                loaded.update(ast.literal_eval(node.value))
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for alias in node.names:
                marks = lines[node.lineno - 1] + lines[alias.lineno - 1]
                if "noqa" in marks and "F401" in marks:
                    continue
                bound = alias.asname or alias.name.split(".")[0]
                if bound not in loaded:
                    unused.append(f"{path.relative_to(root)}:{alias.lineno}: {bound}")
    assert not unused, unused


# Top-level definitions that nothing outside tests calls, each kept on
# purpose. Any other such definition is code only tests reach: delete it.
_TEST_ONLY_ALLOWED = {
    "order_level_t": "reference implementation for differential tests",
    "bucket_level_t": "reference implementation for differential tests",
    "inject_additive_effect": "reference implementation for differential tests",
    "crse_from_cluster_moments": "reference implementation for differential tests",
    "run_daily": "the public DAG entry",
    "vacuum_versions": "retention for the atomic publish",
}


def test_no_test_only_definitions():
    """Every top-level ``def``/``class`` in the package is referenced
    somewhere in the package, ``tools/``, ``perfbench/`` or
    ``__spark_entry__.py`` — by a load, an attribute or an import alias —
    unless it is a ``@query`` (the registry reaches it) or allowlisted in
    ``_TEST_ONLY_ALLOWED``."""
    root = Path(entry_mod.__file__).parent
    package = sorted((root / "switchback_test_dag_spark").rglob("*.py"))
    paths = [
        *package,
        *(root / "tools").glob("*.py"),
        *(root / "perfbench").glob("*.py"),
        root / "__spark_entry__.py",
    ]
    trees = {path: ast.parse(path.read_text(), str(path)) for path in paths}
    referenced = set()
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                referenced.add(node.id)
            elif isinstance(node, ast.Attribute):
                referenced.add(node.attr)
            elif isinstance(node, ast.alias):
                referenced.add(node.name.rpartition(".")[2])

    def is_query(node):
        return any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
            for d in node.decorator_list
        )

    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    unreached = [
        f"{path.relative_to(root)}:{node.lineno}: {node.name}"
        for path in package
        for node in trees[path].body
        if isinstance(node, defs)
        and not is_query(node)
        and node.name not in referenced
        and node.name not in _TEST_ONLY_ALLOWED
    ]
    assert not unreached, unreached
