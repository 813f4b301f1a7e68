"""Unit tests for the composed relational operators (as-of join semantics that
the oracle queries exercise only end-to-end)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from switchback_test_dag_spark.operators.relational import asof_join_backward


def _asof(spark, left_rows, right_rows, right_cols):
    left = spark.createDataFrame(left_rows, "k string, t long")
    right = spark.createDataFrame(
        right_rows, "k string, rt long, " + ", ".join(f"{c} string" for c in right_cols)
    )
    return asof_join_backward(
        left, right, on="k", left_time="t", right_time="rt", right_cols=right_cols
    )


def test_asof_backward_basic(spark):
    out = _asof(
        spark,
        [("a", 5), ("a", 15), ("a", 25), ("b", 1)],
        [("a", 10, "x10"), ("a", 20, "x20")],
        ["val"],
    ).collect()
    got = {(r["k"], r["t"]): r["val"] for r in out}
    assert got == {("a", 5): None, ("a", 15): "x10", ("a", 25): "x20", ("b", 1): None}


def test_asof_inclusive_at_equal_time(spark):
    out = _asof(spark, [("a", 10)], [("a", 10, "x10")], ["val"]).collect()
    assert out[0]["val"] == "x10"


def test_asof_no_row_tearing_with_null_right_cols(spark):
    """A NULL in one right column must NOT be filled from an *earlier* right
    row — all right values of an output row come from the same matched row
    (the struct-carry fix; per-column last(ignorenulls) would mix rows)."""
    out = _asof(
        spark,
        [("a", 30)],
        [("a", 10, "u10", "v10"), ("a", 20, "u20", None)],
        ["u", "v"],
    ).collect()
    assert out[0]["u"] == "u20"
    assert out[0]["v"] is None  # matched row's NULL, not v10 leaking forward


def test_asof_rejects_column_collision(spark):
    left = spark.createDataFrame([("a", 1, "clash")], "k string, t long, val string")
    right = spark.createDataFrame([("a", 1, "r")], "k string, rt long, val string")
    with pytest.raises(ValueError, match="right_cols"):
        asof_join_backward(
            left, right, on="k", left_time="t", right_time="rt", right_cols=["val"]
        )


# --- exact_quantiles: the bounded-memory percentile -----------------------------


def _q_diff(spark, rows, probs, by):
    """Differential harness: exact_quantiles must reproduce the builtin exact
    percentile — bit-for-bit when the interpolation weight is exact, and within
    1 ulp otherwise (the builtin's symmetric ``(1-frac)·lo + frac·hi`` form can
    differ by one ulp from the ``lo + frac·(hi-lo)`` form — which is what
    DuckDB ``quantile_cont``, the driver oracle, computes — for non-dyadic
    probs)."""
    import math

    from switchback_test_dag_spark.operators.relational import exact_quantiles

    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        tuple(r[k] for k in by): [r[f"q{i}"] for i in range(len(probs))]
        for r in exact_quantiles(df, "v", probs, by=by).collect()
    }
    ref_exprs = [
        F.expr(f"percentile(v, {p})").alias(f"q{i}") for i, p in enumerate(probs)
    ]
    ref_df = df.groupBy(*by).agg(*ref_exprs) if by else df.agg(*ref_exprs)
    want = {
        tuple(r[k] for k in by): [r[f"q{i}"] for i in range(len(probs))]
        for r in ref_df.collect()
    }
    assert set(got) == set(want)
    for k in want:
        for a, b in zip(got[k], want[k]):
            if a == b:  # covers None == None and exact matches
                continue
            assert a is not None and b is not None, (k, got[k], want[k])
            assert abs(a - b) <= math.ulp(max(abs(a), abs(b))), (
                k,
                got[k],
                want[k],
            )


def test_exact_quantiles_matches_builtin_grouped(spark):
    import random

    rng = random.Random(7)
    rows = []
    for g in ("a", "b", "c"):
        n = {"a": 101, "b": 64, "c": 1}[g]
        for _ in range(n):
            # heavy ties on purpose: duplicates must collapse, not shift ranks
            rows.append((g, float(rng.choice([1, 2, 2, 3, 5, 5, 5, 8, 13]))))
    rows.append(("a", None))  # NULLs ignored like the builtin
    _q_diff(spark, rows, [0.0, 0.25, 0.5, 0.75, 0.9, 1.0], by=["g"])


def test_exact_quantiles_matches_builtin_global(spark):
    """The by=() branch (range-partitioned parallel cumsum) must agree too."""
    import random

    rng = random.Random(11)
    rows = [("x", rng.uniform(-50, 50)) for _ in range(257)]
    # 0.1/0.9 are non-dyadic: rank = p·256 is non-integral and frac carries
    # rounding, surfacing the 1-ulp interpolation-form difference _q_diff
    # tolerates (the dyadic probs stay bit-exact)
    _q_diff(spark, rows, [0.1, 0.25, 0.5, 0.75, 0.9], by=[])


def test_exact_quantiles_plan_has_no_percentile_buffer(spark):
    """The point of the operator: the physical plan must contain NO exact
    `percentile` aggregate (whose buffer holds the whole group) — only
    scalable count/sum aggregates and a running-sum window."""
    from switchback_test_dag_spark.operators.relational import exact_quantiles

    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double")
    plan = exact_quantiles(df, "v", [0.25, 0.75], by=["g"])._jdf.queryExecution().executedPlan().toString()
    assert "percentile" not in plan.lower()


def test_iqr_bounds_multi_column_still_agrees(spark):
    """iqr_bounds now routes through exact_quantiles; its fences must equal
    the builtin-percentile formula for several KPI columns at once."""
    import random

    from switchback_test_dag_spark.operators.relational import iqr_bounds

    rng = random.Random(3)
    rows = [
        ("a" if i % 3 else "b", rng.uniform(0, 100), float(rng.randint(0, 9)))
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: r for r in iqr_bounds(df, ["x", "y"], by=["g"]).collect()}
    ref = df.groupBy("g").agg(
        F.expr("percentile(x, 0.25)").alias("xq1"),
        F.expr("percentile(x, 0.75)").alias("xq3"),
        F.expr("percentile(y, 0.25)").alias("yq1"),
        F.expr("percentile(y, 0.75)").alias("yq3"),
    )
    for r in ref.collect():
        g = got[r["g"]]
        assert g["x_lo"] == r["xq1"] - 1.5 * (r["xq3"] - r["xq1"])
        assert g["x_hi"] == r["xq3"] + 1.5 * (r["xq3"] - r["xq1"])
        assert g["y_lo"] == r["yq1"] - 1.5 * (r["yq3"] - r["yq1"])
        assert g["y_hi"] == r["yq3"] + 1.5 * (r["yq3"] - r["yq1"])


def test_iqr_bounds_single_pass_any_kpi_width(spark):
    """The melt-based iqr_bounds must cost the SAME number of shuffles no
    matter how many KPI columns are fenced (one exact_quantiles pass over the
    melted (group, kpi) frame — not one pipeline per column)."""
    from switchback_test_dag_spark.operators.relational import iqr_bounds

    df = spark.createDataFrame(
        [("a", 1.0, 2.0, 3.0), ("a", 4.0, 5.0, 6.0), ("b", 7.0, 8.0, 9.0)],
        "g string, x double, y double, z double",
    )

    def n_exchanges(cols):
        plan = (
            iqr_bounds(df, cols, by=["g"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        return plan.count("Exchange")

    assert n_exchanges(["x"]) == n_exchanges(["x", "y"]) == n_exchanges(["x", "y", "z"])


def test_exact_quantiles_null_group_key_kept(spark):
    """A NULL group key is a group (groupBy semantics): both cumsum strategies
    must emit its quantile row — the internal by-key joins are null-safe, so
    the NULL group cannot vanish the way a plain equi-join would drop it."""
    import random

    from switchback_test_dag_spark.operators.relational import exact_quantiles

    rng = random.Random(13)
    rows = [(None if i % 4 == 0 else ("a" if i % 2 else "b"), rng.uniform(0, 9))
            for i in range(61)]
    df = spark.createDataFrame(rows, "g string, v double")
    probs = [0.25, 0.5, 0.75]
    ref = {
        r["g"]: [r[f"q{i}"] for i in range(len(probs))]
        for r in df.groupBy("g").agg(
            *[F.expr(f"percentile(v, {p})").alias(f"q{i}") for i, p in enumerate(probs)]
        ).collect()
    }
    assert None in ref
    for wide in (False, True):
        got = {
            r["g"]: [r[f"q{i}"] for i in range(len(probs))]
            for r in exact_quantiles(df, "v", probs, by=["g"], wide_groups=wide).collect()
        }
        assert set(got) == set(ref) == {None, "a", "b"}, f"wide_groups={wide}"
        for g in ref:
            assert got[g] == ref[g], (wide, g)


def test_exact_quantiles_wide_groups_matches_grouped_window(spark):
    """wide_groups=True (range-partitioned parallel cumsum, now generalized to
    grouped quantiles) must agree with the per-group-window strategy exactly."""
    import random

    from switchback_test_dag_spark.operators.relational import exact_quantiles

    rng = random.Random(5)
    rows = [
        (g, rng.uniform(-10, 10))
        for g in ("a", "b")
        for _ in range(120 if g == "a" else 37)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    probs = [0.1, 0.25, 0.5, 0.75, 1.0]
    kw = dict(by=["g"], out_cols=[f"q{i}" for i in range(len(probs))])
    narrow = {r["g"]: r for r in exact_quantiles(df, "v", probs, **kw).collect()}
    wide = {
        r["g"]: r
        for r in exact_quantiles(df, "v", probs, wide_groups=True, **kw).collect()
    }
    assert set(narrow) == set(wide) == {"a", "b"}
    for g in narrow:
        for i in range(len(probs)):
            assert narrow[g][f"q{i}"] == wide[g][f"q{i}"], (g, i)


def test_iqr_filter_keeps_all_null_groups(spark):
    """A group whose rows are NULL in every KPI column produces no bounds row;
    iqr_filter must still keep its rows (NULL comparisons pass the fence)."""
    from switchback_test_dag_spark.operators.relational import iqr_filter

    rows = [("a", float(v)) for v in (1, 2, 3, 2, 1, 2, 3, 2, 1000)]
    rows += [("n", None), ("n", None)]
    df = spark.createDataFrame(rows, "g string, x double")
    out = iqr_filter(df, ["x"], by=["g"]).collect()
    assert sum(1 for r in out if r["g"] == "n") == 2  # survived, not inner-joined away
    assert 1000.0 not in {r["x"] for r in out}  # the fence still fences


# --- exact micro-unit money sums (wide accumulators) ---------------------------


def test_wide_micro_sum_forms_agree(spark):
    """The pushdown total (spark_wide_total_from_micro over pre-rounded
    per-group micro-unit partials, with its DECIMAL(38,0) accumulator) must
    produce the same cents as the row-level BIGINT form spark_micro_sum —
    the invariant the range-join aggregate pushdown rests on."""
    from switchback_test_dag_spark.exact import (
        spark_micro_sum,
        spark_wide_total_from_micro,
    )

    rows = [
        ("a", 1.005),
        ("a", 2.994999),
        ("a", -0.115),
        ("b", 123456.78),
        ("b", 0.004999),
        ("b", 7e9),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    base = df.agg(spark_micro_sum("v").alias("t")).collect()[0]["t"]
    # push partial micro sums below a "join" (per-group grain), re-aggregate
    partial = df.groupBy("g").agg(
        F.expr("sum(CAST(round(v * 1000000, 0) AS BIGINT))").alias("micro_sum")
    )
    pushed = partial.agg(
        spark_wide_total_from_micro("micro_sum").alias("t")
    ).collect()[0]["t"]
    assert pushed == base
