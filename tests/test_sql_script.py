"""Unit tests for the multi-statement SQL script runner (SURVEY §2 S2/S6)."""

from __future__ import annotations

from switchback_test_dag_spark.sql_script import (
    render_literal,
    run_script,
    split_statements,
    strip_comments,
    substitute_variables,
)


def test_split_respects_quotes():
    stmts = split_statements("SELECT 'a;b' AS x; SELECT \";\" AS y;  ")
    assert stmts == ["SELECT 'a;b' AS x", 'SELECT ";" AS y']


def test_strip_comments():
    sql = "SELECT 1 -- trailing\n/* block\nspanning */ , 2"
    cleaned = strip_comments(sql)
    assert "trailing" not in cleaned and "block" not in cleaned


def test_strip_comments_preserves_optimizer_hints():
    """``/*+ ... */`` is a planner instruction, not commentary: scripts use
    BROADCAST hints on config-derived join sides whose size estimates are
    pessimistic (queries_elt stages 6b/8), so stripping them would silently
    reintroduce four full-fact sort-merge shuffles on a 2-value key."""
    sql = "SELECT /*+ BROADCAST(v) */ a /* gone */ FROM t v -- note"
    cleaned = strip_comments(sql)
    assert "/*+ BROADCAST(v) */" in cleaned
    assert "gone" not in cleaned and "note" not in cleaned


def test_render_literal():
    assert render_literal(["a", "b"]) == "('a', 'b')"
    assert render_literal("o'hare") == "'o''hare'"
    assert render_literal(3) == "3"
    assert render_literal(None) == "NULL"


def test_substitute_in_unnest():
    out = substitute_variables(
        "SELECT * FROM t WHERE k IN UNNEST(my_var) AND x = other",
        {"my_var": ["p", "q"], "other": 7},
    )
    assert "IN ('p', 'q')" in out and "x = 7" in out


def test_run_script_stages(spark):
    spark.range(10).createOrReplaceTempView("src")
    result = run_script(
        spark,
        """
        DECLARE lim INT64;
        SET lim = 5;
        -- stage
        CREATE OR REPLACE TABLE small AS SELECT id FROM src WHERE id < lim;
        SELECT count(*) AS n FROM small
        """,
    )
    assert result.collect()[0]["n"] == 5
