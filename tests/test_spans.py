"""Duplicated-span detection (fixed-L suffix-dedup approximation):
hand-computed interval-union coverage, within- vs cross-document duplication,
min_count, short/NULL docs, portable-vs-production key equivalence, and an
in-process DuckDB replay of the portable form on the fixture table."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from switchback_test_dag_spark.io import load_table
from switchback_test_dag_spark.text.spans import duplicated_span_stats

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id long, text string")


def _by_id(df):
    return {
        r["id"]: (r["n_tokens"], r["n_dup_positions"], round(r["dup_token_frac"], 6))
        for r in df.collect()
    }


def test_hand_computed_coverage(spark):
    docs = _docs(
        spark,
        [
            # "a b c" appears in docs 1 and 2 -> duplicated 3-gram.
            # doc 1: positions 0 ("a b c") dup; window covers tokens 0..2 of 5.
            (1, "a b c x y"),
            # doc 2: "a b c" at pos 2 -> covers tokens 2..4 of 5
            (2, "q w a b c"),
            # doc 3: within-doc repeat "t u v ... t u v": positions 0 and 4
            # both dup ("t u v" occurs twice in the corpus via this one doc);
            # union of [0,3) and [4,7) = 6 of 7 tokens
            (3, "t u v z t u v"),
            (4, "p q r s"),  # no duplicated window
            (5, "a b"),  # shorter than L -> no windows
            (6, None),  # NULL text
        ],
    )
    got = _by_id(duplicated_span_stats(docs, "id", "text", span_len=3))
    assert got == {
        1: (5, 1, round(3 / 5, 6)),
        2: (5, 1, round(3 / 5, 6)),
        3: (7, 2, round(6 / 7, 6)),
        4: (4, 0, 0.0),
        5: (2, 0, 0.0),
        6: (0, 0, 0.0),
    }


def test_overlapping_windows_union_not_sum(spark):
    # "a b c d" duplicated across docs: doc 1 has windows at 0 and 1
    # ("a b c" and "b c d" both duplicated) -> union covers 4 tokens, not 6
    docs = _docs(spark, [(1, "a b c d"), (2, "a b c d x")])
    got = _by_id(duplicated_span_stats(docs, "id", "text", span_len=3))
    assert got[1] == (4, 2, 1.0)
    assert got[2] == (5, 2, round(4 / 5, 6))


def test_min_count_threshold(spark):
    docs = _docs(spark, [(1, "a b c"), (2, "a b c"), (3, "a b c")])
    got2 = _by_id(duplicated_span_stats(docs, "id", "text", span_len=3, min_count=3))
    assert got2 == {1: (3, 1, 1.0), 2: (3, 1, 1.0), 3: (3, 1, 1.0)}
    got4 = _by_id(duplicated_span_stats(docs, "id", "text", span_len=3, min_count=4))
    assert got4 == {1: (3, 0, 0.0), 2: (3, 0, 0.0), 3: (3, 0, 0.0)}


def test_portable_matches_production_keys(spark):
    docs = load_table(spark, SF, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    prod = _by_id(duplicated_span_stats(docs, "id", "text", span_len=4))
    port = _by_id(duplicated_span_stats(docs, "id", "text", span_len=4, portable=True))
    assert prod == port
    assert any(v[1] > 0 for v in prod.values())  # non-trivial on the fixture


def test_duckdb_replay_on_fixture(spark):
    docs = load_table(spark, SF, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    got = _by_id(duplicated_span_stats(docs, "id", "text", span_len=4, portable=True))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"
    rows = con.execute(
        f"""
WITH tk AS (SELECT doc_id, {toks} AS toks FROM documents),
oc AS (
  SELECT doc_id, unnest(
    [struct_pack(pos := i - 1,
                 wk := substr(md5(array_to_string(toks[i:i+3], ' ')), 1, 16))
     for i in generate_series(1, len(toks) - 3)],
    recursive := true)
  FROM tk
),
dup AS (SELECT wk FROM oc GROUP BY wk HAVING count(*) >= 2),
hit AS (SELECT oc.doc_id, oc.pos FROM oc JOIN dup USING (wk)),
exp AS (SELECT doc_id, unnest(generate_series(pos, pos + 3)) AS t FROM hit),
cov AS (SELECT doc_id, count(DISTINCT t) AS covered FROM exp GROUP BY doc_id),
ndp AS (SELECT doc_id, count(*) AS n_dup FROM hit GROUP BY doc_id)
SELECT tk.doc_id, len(tk.toks) AS n_tokens,
       coalesce(ndp.n_dup, 0) AS n_dup_positions,
       coalesce(cov.covered, 0) AS covered
FROM tk LEFT JOIN cov USING (doc_id) LEFT JOIN ndp USING (doc_id)
"""
    ).fetchall()
    want = {
        r[0]: (
            r[1],
            int(r[2]),
            round(r[3] / r[1], 6) if r[1] else 0.0,
        )
        for r in rows
    }
    assert got == want and len(got) > 0
