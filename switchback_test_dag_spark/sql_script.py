"""Multi-statement SQL script runner — SURVEY §2 S2.

The reference submits whole multi-statement BigQuery scripts in one call
(``py_scripts/run_sql_queries.py:5-18``) with ``DECLARE x ARRAY<STRING>; SET
x = [...]`` parameterization at the top (``sql_queries/data_extraction_queries_
automated_script.sql:3-4``). Spark SQL executes one statement at a time, so the
runner:

1. strips comments, splits the script on ``;`` outside string literals;
2. interprets ``DECLARE name TYPE`` / ``SET name = value`` statements into a
   variable environment;
3. substitutes each variable occurrence — including the BigQuery-ism
   ``IN UNNEST(name)`` — with a literal SQL rendering;
4. turns ``CREATE OR REPLACE TABLE name AS select`` into a temp view (staged
   materialization is a sink decision — Catalyst fuses stages unless the caller
   persists; see SURVEY §4 row 1) and runs everything else via ``spark.sql``.

Returns the DataFrame of the last statement (the reference's scripts end with
their final materialization).

Scale note: the runner only rewrites SQL text; every statement still goes
through Catalyst, so pushdown/pruning/AQE apply per stage, and chained temp
views give the optimizer the whole multi-stage tree to fuse.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_DECLARE_RE = re.compile(r"^\s*DECLARE\s+(\w+)\s+(.+)$", re.IGNORECASE | re.DOTALL)
_SET_RE = re.compile(r"^\s*SET\s+(\w+)\s*=\s*(.+)$", re.IGNORECASE | re.DOTALL)
_CREATE_RE = re.compile(
    r"^\s*CREATE\s+OR\s+REPLACE\s+(?:TEMP\s+VIEW|TABLE)\s+([\w.]+)\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)


def strip_comments(sql: str) -> str:
    """Remove ``--`` line comments and ``/* */`` block comments (quote-naive on
    purpose: the reference's scripts never embed comment markers in literals).
    ``/*+ ... */`` optimizer HINTS are kept — they are instructions to the
    planner (join strategy, broadcast), not commentary, and scripts rely on
    them to broadcast config-derived sides whose size estimates are
    pessimistic (see queries_elt's stage 6b/8)."""
    sql = re.sub(r"/\*(?!\+).*?\*/", " ", sql, flags=re.DOTALL)
    return re.sub(r"--[^\n]*", "", sql)


def split_statements(sql: str) -> list[str]:
    """Split on ``;`` outside single/double-quoted literals."""
    out: list[str] = []
    buf: list[str] = []
    quote: str | None = None
    for ch in sql:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch == ";":
            stmt = "".join(buf).strip()
            if stmt:
                out.append(stmt)
            buf = []
        else:
            buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        out.append(tail)
    return out


def render_literal(value) -> str:
    """Python value → SQL literal. Lists/tuples render as ``('a', 'b')`` so a
    substituted variable works directly after ``IN``."""
    if isinstance(value, (list, tuple)):
        return "(" + ", ".join(render_literal(v) for v in value) + ")"
    if isinstance(value, str):
        return "'" + value.replace("'", "''") + "'"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if value is None:
        return "NULL"
    return str(value)


def _parse_set_value(text: str):
    """Parse the right-hand side of a SET statement: ``['a', 'b']`` array
    literals, quoted strings, numbers."""
    text = text.strip()
    if text.startswith("[") and text.endswith("]"):
        inner = text[1:-1].strip()
        return [_parse_set_value(p) for p in re.split(r"\s*,\s*", inner)] if inner else []
    if len(text) >= 2 and text[0] in "'\"" and text[-1] == text[0]:
        return text[1:-1]
    try:
        return int(text)
    except ValueError:
        try:
            return float(text)
        except ValueError:
            return text  # raw SQL fragment (e.g. DATE '2022-07-19')


def substitute_variables(stmt: str, env: dict) -> str:
    """Replace ``IN UNNEST(var)`` and bare ``var`` identifiers with literals."""
    for name, value in env.items():
        lit = render_literal(value)
        stmt = re.sub(
            rf"\bIN\s+UNNEST\s*\(\s*{re.escape(name)}\s*\)",
            f"IN {lit if isinstance(value, (list, tuple)) else f'({lit})'}",
            stmt,
            flags=re.IGNORECASE,
        )
        stmt = re.sub(rf"\b{re.escape(name)}\b", lit, stmt)
    return stmt


def run_script(spark: SparkSession, script: str) -> DataFrame | None:
    """Execute a multi-statement script; returns the last statement's DataFrame
    (or None for a script of pure DDL/SET statements). CREATE OR REPLACE TABLE
    stages stay lazy temp views — one fused Catalyst plan end-to-end."""
    env: dict = {}
    last: DataFrame | None = None
    for stmt in split_statements(strip_comments(script)):
        m = _DECLARE_RE.match(stmt)
        if m:
            env.setdefault(m.group(1), None)
            continue
        m = _SET_RE.match(stmt)
        if m:
            env[m.group(1)] = _parse_set_value(m.group(2))
            continue
        stmt = substitute_variables(stmt, {k: v for k, v in env.items() if v is not None})
        m = _CREATE_RE.match(stmt)
        if m:
            name, select = m.group(1), m.group(2)
            last = spark.sql(select)
            last.createOrReplaceTempView(name.split(".")[-1])
        else:
            last = spark.sql(stmt)
    return last
