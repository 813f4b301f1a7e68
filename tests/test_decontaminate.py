"""Train/eval decontamination: hand-computed collision semantics on tiny
frames (exact-n-gram sharing, distinct hit counts, short/NULL-text docs),
plan shape (eval side broadcast, no corpus-side shuffle before the gram
join), and an in-process DuckDB replay on the real fixture table."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from switchback_test_dag_spark.io import load_table
from switchback_test_dag_spark.text.decontaminate import (
    contaminated_ids,
    decontaminate,
    eval_ngrams,
)

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id long, text string")


def test_collision_semantics_hand_computed(spark):
    eval_df = _docs(spark, [(100, "a b c d e")])
    docs = _docs(
        spark,
        [
            (1, "x y b c d e z"),  # contains eval 4-gram "b c d e" -> contaminated
            (2, "a b c x d e"),  # shares only shorter runs -> clean at n=4
            (3, "p q r s t u"),  # disjoint -> clean
            (4, "a b c"),  # < n tokens -> cannot be contaminated
            (5, None),  # NULL text -> cannot be contaminated
            (6, "b c d e b c d e"),  # repeated gram counts once (distinct)
        ],
    )
    hits = {
        r["id"]: r["n_eval_grams"]
        for r in contaminated_ids(docs, eval_df, "id", "text", n=4).collect()
    }
    assert hits == {1: 1, 6: 1}
    kept = {r["id"] for r in decontaminate(docs, eval_df, "id", "text", n=4).collect()}
    assert kept == {2, 3, 4, 5}


def test_hit_counts_are_distinct_grams(spark):
    eval_df = _docs(spark, [(100, "a b c d e f")])  # grams: abcd, bcde, cdef
    docs = _docs(
        spark,
        [
            (1, "a b c d e f"),  # all 3 eval grams
            (2, "z a b c d z z b c d e"),  # 2 distinct eval grams
            (3, "z a b c d z"),  # 1 eval gram
        ],
    )
    hits = {
        r["id"]: r["n_eval_grams"]
        for r in contaminated_ids(docs, eval_df, "id", "text", n=4).collect()
    }
    assert hits == {1: 3, 2: 2, 3: 1}


def test_empty_and_null_eval_side(spark):
    docs = _docs(spark, [(1, "a b c d e")])
    empty_eval = _docs(spark, []).filter(F.lit(False))
    assert contaminated_ids(docs, empty_eval, "id", "text", n=4).count() == 0
    assert decontaminate(docs, empty_eval, "id", "text", n=4).count() == 1
    null_eval = _docs(spark, [(9, None), (10, "x y")])  # nothing reaches n=4
    assert eval_ngrams(null_eval, "text", 4).count() == 0


def test_plan_broadcasts_eval_side(spark):
    docs = load_table(spark, SF, "documents")
    eval_df = docs.filter(F.col("doc_id") % 13 == 0)
    plan = contaminated_ids(docs, eval_df, "doc_id", "text", n=4)._jdf.queryExecution().executedPlan().toString()
    # the gram join must be a broadcast hash join (never a shuffle of the
    # corpus side on gram), pure JVM end to end
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan
    # exactly two shuffles total: the eval-side gram distinct (inside the
    # broadcast subtree) and the per-doc hit-count aggregation — the corpus
    # side itself is never exchanged
    assert plan.count("Exchange hashpartitioning") <= 2


def test_duckdb_replay_on_fixture(spark):
    docs = load_table(spark, SF, "documents")
    eval_df = docs.filter(F.col("doc_id") % 13 == 0)
    got = {
        (r["doc_id"], r["n_eval_grams"])
        for r in contaminated_ids(docs, eval_df, "doc_id", "text", n=4).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"
    want = set(
        map(
            tuple,
            con.execute(
                f"""
WITH tk AS (SELECT doc_id, {toks} AS toks FROM documents),
gr AS (
  SELECT doc_id, list_distinct(
    [array_to_string(toks[i:i+3], ' ') for i in generate_series(1, len(toks) - 3)]
  ) AS g FROM tk
),
ev AS (SELECT DISTINCT unnest(g) AS gram FROM gr WHERE doc_id % 13 = 0)
SELECT gr.doc_id, count(*) AS n
FROM gr, unnest(gr.g) AS u(gram) JOIN ev ON u.gram = ev.gram
GROUP BY gr.doc_id
"""
            ).fetchall(),
        )
    )
    assert got == want and len(got) > 0


def _planted_corpus(spark):
    """40 long (150-token) documents over doc-private vocabularies, with a
    verbatim 20-token eval passage injected mid-document into exactly k=3
    known docs — the papers' production regime (n=13) that the sf fixture's
    tiny vocabulary can't reach (it saturates at n=4)."""
    passages = [
        " ".join(f"ev{p}tok{j}" for j in range(20)) for p in range(3)
    ]
    planted = {5: 0, 17: 1, 29: 2}  # doc_id -> passage index
    rows = []
    for i in range(40):
        toks = [f"d{i}w{j}" for j in range(150)]
        if i in planted:
            toks = toks[:70] + passages[planted[i]].split() + toks[70:]
        rows.append((i, " ".join(toks)))
    eval_rows = [(1000 + p, passages[p]) for p in range(3)]
    return _docs(spark, rows), _docs(spark, eval_rows), planted


def test_planted_contamination_at_production_n13(spark):
    """Recall 100% / false flags 0 at the papers' n=13 on planted verbatim
    passages: exactly the k injected docs are flagged, each with the exact
    distinct-13-gram hit count (20-token passage -> 8 shared 13-grams)."""
    docs, eval_df, planted = _planted_corpus(spark)
    hits = {
        r["id"]: r["n_eval_grams"]
        for r in contaminated_ids(docs, eval_df, "id", "text", n=13).collect()
    }
    assert set(hits) == set(planted), "planted recall must be 100% with 0 false flags"
    assert all(v == 8 for v in hits.values())  # 20 - 13 + 1 grams per passage
    kept = {r["id"] for r in decontaminate(docs, eval_df, "id", "text", n=13).collect()}
    assert kept == set(range(40)) - set(planted)


def test_planted_contamination_n13_replays_in_duckdb(spark):
    """The same planted fixture replayed as the oracle-shaped SQL at n=13 —
    the production-n semantics the registry row (fixture-capped at n=4)
    cannot exercise."""
    docs, eval_df, _ = _planted_corpus(spark)
    got = {
        (r["id"], r["n_eval_grams"])
        for r in contaminated_ids(docs, eval_df, "id", "text", n=13).collect()
    }
    con = duckdb.connect()
    con.register("corpus", docs.toPandas())
    con.register("evals", eval_df.toPandas())
    toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"
    want = set(
        map(
            tuple,
            con.execute(
                f"""
WITH gr AS (
  SELECT id, list_distinct(
    [array_to_string(toks[i:i+12], ' ') for i in generate_series(1, len(toks) - 12)]
  ) AS g FROM (SELECT id, {toks} AS toks FROM corpus)
),
ev AS (
  SELECT DISTINCT unnest(
    [array_to_string(toks[i:i+12], ' ') for i in generate_series(1, len(toks) - 12)]
  ) AS gram FROM (SELECT {toks} AS toks FROM evals)
)
SELECT gr.id, count(*) AS n
FROM gr, unnest(gr.g) AS u(gram) JOIN ev ON u.gram = ev.gram
GROUP BY gr.id
"""
            ).fetchall(),
        )
    )
    assert got == want and len(got) == 3
