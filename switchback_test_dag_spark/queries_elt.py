"""The composed 8-stage ELT run — the relational twin of the text pipeline's
``corpus_clean_stats``: one registered query that chains the reference's FULL
extraction script (``sql_queries/data_extraction_queries_automated_script.sql:
7-442``) over the driver fixtures, through the multi-statement script runner
(S2/S3/S6), ending in the cleaned fact table's aggregate signature.

Stage map (reference step → this script's staged view):

1. valid experiment names (``:7-22``)    → ``elt_valid_exp`` (DECLARE/SET
   array variable filters test names, exactly the script's
   ``IN UNNEST(entity_id_var)`` parameterization)
2. target groups (``:24-95``)            → ``elt_target_groups``
3. experiment zones (``:97-113``)        → ``elt_zone_excl`` (CSV exclusion
   list exploded to rows)
4. TG/variant/scheme combos (``:115-143``) → ``elt_schemes`` (string-encoded
   ``{110, 111}`` sets parsed to rows) + ``elt_combos`` (4.2's sorted
   distinct-combo string)
5. zone polygons (``:145-168``)          → ``elt_geo_zones`` (WKT rectangles
   + integer grid cell)
6. fact KPI join (``:170-357``)          → ``elt_fact`` / ``elt_orders``
   (lineitem⋈orders⋈customer⋈nation⋈supplier⋈nation with the domain KPI
   formulas; LEFT join on schemes so unknown-scheme rows survive to stage 8,
   as in the reference)
7. profit augmentation + vendor locations (``:358-435``) → ``elt_vendor_loc``
   + ``elt_augmented`` (point-in-zone append via the grid-cell equi-join)
8. keep/drop clean (``:436-442``)        → combos-LIKE flag, zone-exclusion
   anti-join, ``keep_drop_flag = 'Keep'`` filter → aggregate signature

Scale design: every stage is a temp view, so Catalyst sees the WHOLE 8-stage
tree and fuses it — config/TG/scheme/zone/combo sides are tiny and broadcast;
the only big-table work is the one fact join (shuffle on orderkey/custkey at
most) and the final partial-aggregated signature. The point-in-zone append is
an equi-join on the integer grid cell, not a range join, so it hash-joins and
broadcasts. Nothing is collected driver-side.

The DuckDB oracle replays the SAME eight stages as CTEs (dialect-translated;
config rows inlined as VALUES since the raw config is an in-memory frame), so
parity covers the full composition, not just the final aggregate.

Signature totals are computed in integer micro-units: each row's (identical
on both engines) double KPI is rounded to micro once, summed EXACTLY as
integers (order-independent — a plain ``round(sum(double), 2)`` drifted a
cent at sf0.1 from shuffle-order float accumulation), then half-up divided to
cents in integer arithmetic, so the 2-decimal total cannot differ between
engines. Bigint headroom: |micro sums| ≈ 2e14 at sf0.1, overflowing only past
~sf10⁴ (swap to DECIMAL sums there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from switchback_test_dag_spark.io import load_table
from switchback_test_dag_spark.operators.domain import (
    FACT_GROSS_PROFIT,
    FACT_ORDER_TIME,
    FACT_REVENUE,
    FACT_SCHEME_ID,
    RAW_CONFIG_ROWS,
    raw_config_df,
)
from switchback_test_dag_spark.queries import query

_SPARK_SCRIPT = f"""
DECLARE test_names ARRAY<STRING>;
SET test_names = ['sb_test_0', 'sb_test_1'];

-- Stage 1: valid experiment names, parameterized like the reference script
CREATE OR REPLACE TABLE elt_valid_exp AS
SELECT test_name, test_start, test_end, scheme_id_on, scheme_id_off,
       zone_name_vendor_excl
FROM elt_raw_config
WHERE test_name IN UNNEST(test_names);

-- Stage 2: customer -> target-group map
CREATE OR REPLACE TABLE elt_target_groups AS
SELECT c_custkey,
       CASE WHEN c_custkey % 10 = 0 THEN 'Non_TG'
            ELSE concat('TG', CAST((c_custkey % 3) + 1 AS STRING)) END AS target_group
FROM customer;

-- Stage 3: vendor-zone exclusion list, CSV exploded to rows
CREATE OR REPLACE TABLE elt_zone_excl AS
SELECT test_name, trim(z) AS zone_name
FROM elt_valid_exp
LATERAL VIEW explode(split(zone_name_vendor_excl, ',')) t AS z
WHERE zone_name_vendor_excl IS NOT NULL;

-- Stage 4.1: string-encoded scheme sets parsed to (test, variant, scheme) rows
CREATE OR REPLACE TABLE elt_schemes AS
SELECT test_name, 'On' AS variant, CAST(trim(s) AS INT) AS scheme_id
FROM elt_valid_exp
LATERAL VIEW explode(split(regexp_replace(scheme_id_on, '[{{}}]', ''), ',')) t AS s
UNION ALL
SELECT test_name, 'Off' AS variant, CAST(trim(s) AS INT) AS scheme_id
FROM elt_valid_exp
LATERAL VIEW explode(split(regexp_replace(scheme_id_off, '[{{}}]', ''), ',')) t AS s;

-- Stage 4.2: sorted distinct-combo string per test (feeds the keep/drop flag)
CREATE OR REPLACE TABLE elt_combos AS
SELECT test_name,
       array_join(array_sort(collect_set(concat(variant, '#', CAST(scheme_id AS STRING)))), ', ') AS combos
FROM elt_schemes GROUP BY test_name;

-- Stage 5: zone polygons (WKT rectangles) with their integer grid cell
CREATE OR REPLACE TABLE elt_geo_zones AS
SELECT n_name,
       CAST((n_nationkey % 5) * 10 AS DOUBLE) AS x0,
       CAST((n_nationkey div 5) * 10 AS DOUBLE) AS y0,
       concat('POLYGON ((', (n_nationkey % 5) * 10, ' ', (n_nationkey div 5) * 10,
              ', ', (n_nationkey % 5) * 10 + 10, ' ', (n_nationkey div 5) * 10,
              ', ', (n_nationkey % 5) * 10 + 10, ' ', (n_nationkey div 5) * 10 + 10,
              ', ', (n_nationkey % 5) * 10, ' ', (n_nationkey div 5) * 10 + 10,
              ', ', (n_nationkey % 5) * 10, ' ', (n_nationkey div 5) * 10, '))') AS zone_wkt,
       CAST(n_nationkey % 5 AS INT) AS cx,
       CAST(n_nationkey div 5 AS INT) AS cy
FROM nation;

-- Stage 6a: the big fact join with KPI formulas (per-row arithmetic from
-- operators/domain.py, the same strings synthesize_orders_fact projects)
CREATE OR REPLACE TABLE elt_fact AS
SELECT l_orderkey * 10 + l_linenumber AS order_id,
       concat('sb_test_', CAST(o_custkey % 2 AS STRING)) AS test_name,
       tg.target_group,
       {FACT_ORDER_TIME} AS order_placed_at_local,
       sn.n_name AS zone_name_vendor,
       {FACT_SCHEME_ID} AS scheme_id,
       l_suppkey AS supp_key,
       l_extendedprice AS gfv_local,
       {FACT_REVENUE} AS revenue_local,
       {FACT_GROSS_PROFIT} AS gross_profit_local
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN elt_target_groups tg ON o_custkey = tg.c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey;

-- Stage 6b: scheme variant (LEFT join keeps unknown schemes for stage 8),
-- test-window filter, TG filter. BROADCAST hints: the config-derived sides
-- are a handful of rows at ANY scale (#tests × #schemes), but they reach
-- the planner through explode/regexp chains whose size estimates default
-- pessimistic, so without the hint each of these joins plans as a
-- sort-merge that shuffles the ENTIRE fact by test_name — a 2-distinct-
-- value, maximally skewed key (measured at sf0.1: 4 such exchanges; AQE's
-- runtime SMJ→BHJ rescue still pays the fact-side shuffle write).
CREATE OR REPLACE TABLE elt_orders AS
SELECT /*+ BROADCAST(v), BROADCAST(sc) */ f.*, sc.variant
FROM elt_fact f
JOIN elt_valid_exp v ON f.test_name = v.test_name
LEFT JOIN elt_schemes sc ON f.test_name = sc.test_name AND f.scheme_id = sc.scheme_id
WHERE f.target_group <> 'Non_TG'
  AND CAST(f.order_placed_at_local AS DATE) BETWEEN v.test_start AND v.test_end;

-- Stage 7.2: vendor (supplier) locations
CREATE OR REPLACE TABLE elt_vendor_loc AS
SELECT s_suppkey,
       CAST((s_suppkey * 7) % 50 AS DOUBLE) + 0.5 AS px,
       CAST((s_suppkey * 13) % 50 AS DOUBLE) + 0.5 AS py,
       CAST(((s_suppkey * 7) % 50) div 10 AS INT) AS cx,
       CAST(((s_suppkey * 13) % 50) div 10 AS INT) AS cy
FROM supplier;

-- Stage 7.1 + 7.3: augment with the vendor's containing zone (grid-cell
-- equi-join; zones tile the cells exactly, so cell equality IS containment)
CREATE OR REPLACE TABLE elt_augmented AS
SELECT f.*, z.n_name AS vendor_zone
FROM elt_orders f
JOIN elt_vendor_loc vl ON f.supp_key = vl.s_suppkey
JOIN elt_geo_zones z ON vl.cx = z.cx AND vl.cy = z.cy;

-- Stage 8: zone-exclusion anti-join + combos-LIKE keep/drop flag + clean
-- (same BROADCAST rationale as stage 6b: per-test combo strings and the
-- exploded exclusion list are config-sized at any scale)
CREATE OR REPLACE TABLE elt_cleaned AS
SELECT /*+ BROADCAST(cb), BROADCAST(e) */ a.*,
       CASE WHEN cb.combos LIKE concat('%', a.variant, '#', CAST(a.scheme_id AS STRING), '%')
            THEN 'Keep' ELSE 'Drop' END AS keep_drop_flag
FROM elt_augmented a
JOIN elt_combos cb ON a.test_name = cb.test_name
LEFT ANTI JOIN elt_zone_excl e
  ON a.test_name = e.test_name AND a.zone_name_vendor = e.zone_name;

SELECT test_name, variant AS on_or_off_day,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT vendor_zone) AS BIGINT) AS n_vendor_zones,
       CAST((sum(CAST(round(gfv_local * 1000000, 0) AS BIGINT)) + 5000) div 10000 AS DOUBLE) / 100.0 AS total_gfv,
       CAST((sum(CAST(round(revenue_local * 1000000, 0) AS BIGINT)) + 5000) div 10000 AS DOUBLE) / 100.0 AS total_revenue,
       CAST((sum(CAST(round(gross_profit_local * 1000000, 0) AS BIGINT)) + 5000) div 10000 AS DOUBLE) / 100.0 AS total_gross_profit
FROM elt_cleaned
WHERE keep_drop_flag = 'Keep'
GROUP BY test_name, variant
"""


def _duck_config_values() -> str:
    rows = []
    for name, start, end, on, off, vex, _cex in RAW_CONFIG_ROWS:
        vex_lit = "NULL" if vex is None else f"'{vex}'"
        rows.append(
            f"('{name}', DATE '{start}', DATE '{end}', '{on}', '{off}', {vex_lit})"
        )
    return ",\n         ".join(rows)


_DUCK_SECS = "((l_orderkey % 86400) * 2654435761 + l_linenumber * 97) % 86400"
_DUCK_HR_PAR = f"(({_DUCK_SECS}) // 3600) % 2"

_DUCK_ELT = f"""
WITH raw_config(test_name, test_start, test_end, scheme_id_on, scheme_id_off,
                zone_name_vendor_excl) AS (
  VALUES {_duck_config_values()}
), valid AS (
  SELECT * FROM raw_config WHERE test_name IN ('sb_test_0', 'sb_test_1')
), tg AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN 'Non_TG'
              ELSE 'TG' || CAST((c_custkey % 3) + 1 AS VARCHAR) END AS target_group
  FROM customer
), zx AS (
  SELECT test_name, trim(z) AS zone_name
  FROM valid, unnest(string_split(zone_name_vendor_excl, ',')) AS t(z)
  WHERE zone_name_vendor_excl IS NOT NULL
), sc AS (
  SELECT test_name, 'On' AS variant, CAST(trim(s) AS INT) AS scheme_id
  FROM valid, unnest(string_split(replace(replace(scheme_id_on, '{{', ''), '}}', ''), ',')) AS t(s)
  UNION ALL
  SELECT test_name, 'Off' AS variant, CAST(trim(s) AS INT) AS scheme_id
  FROM valid, unnest(string_split(replace(replace(scheme_id_off, '{{', ''), '}}', ''), ',')) AS t(s)
), cb AS (
  SELECT test_name,
         string_agg(DISTINCT variant || '#' || CAST(scheme_id AS VARCHAR), ', '
                    ORDER BY variant || '#' || CAST(scheme_id AS VARCHAR)) AS combos
  FROM sc GROUP BY test_name
), gz AS (
  SELECT n_name, CAST(n_nationkey % 5 AS INT) AS cx,
         CAST(n_nationkey // 5 AS INT) AS cy
  FROM nation
), fact AS (
  SELECT l_orderkey * 10 + l_linenumber AS order_id,
         'sb_test_' || CAST(o_custkey % 2 AS VARCHAR) AS test_name,
         tg.target_group,
         to_timestamp(epoch(o_orderdate) + {_DUCK_SECS})::TIMESTAMP AS order_placed_at_local,
         sn.n_name AS zone_name_vendor,
         CAST(CASE WHEN l_orderkey % 97 = 0 THEN 999
                   WHEN o_custkey % 2 = 0 THEN
                     CASE WHEN {_DUCK_HR_PAR} = 0 THEN 110 + (l_orderkey % 2) ELSE 120 END
                   ELSE
                     CASE WHEN {_DUCK_HR_PAR} = 0 THEN 210 ELSE 220 + (l_orderkey % 2) END
              END AS INTEGER) AS scheme_id,
         l_suppkey AS supp_key,
         l_extendedprice AS gfv_local,
         (2.5 + l_quantity * 0.1) + l_extendedprice * l_discount
           + CASE WHEN l_orderkey % 5 = 0 THEN 1.5 ELSE 0.0 END + 0.99
           + CASE WHEN l_extendedprice >= 1000 THEN 0.0 ELSE 1000.0 - l_extendedprice END
           AS revenue_local,
         (2.5 + l_quantity * 0.1) + l_extendedprice * l_discount
           + CASE WHEN l_orderkey % 5 = 0 THEN 1.5 ELSE 0.0 END + 0.99
           + CASE WHEN l_extendedprice >= 1000 THEN 0.0 ELSE 1000.0 - l_extendedprice END
           - (3.0 + l_quantity * 0.15) AS gross_profit_local
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN tg ON o_custkey = tg.c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
), ords AS (
  SELECT f.*, sc.variant
  FROM fact f
  JOIN valid v ON f.test_name = v.test_name
  LEFT JOIN sc ON f.test_name = sc.test_name AND f.scheme_id = sc.scheme_id
  WHERE f.target_group <> 'Non_TG'
    AND CAST(f.order_placed_at_local AS DATE) BETWEEN v.test_start AND v.test_end
), vloc AS (
  SELECT s_suppkey, CAST(((s_suppkey * 7) % 50) // 10 AS INT) AS cx,
         CAST(((s_suppkey * 13) % 50) // 10 AS INT) AS cy
  FROM supplier
), aug AS (
  SELECT f.*, z.n_name AS vendor_zone
  FROM ords f
  JOIN vloc vl ON f.supp_key = vl.s_suppkey
  JOIN gz z ON vl.cx = z.cx AND vl.cy = z.cy
), cln AS (
  SELECT a.*,
         CASE WHEN cb.combos LIKE '%' || a.variant || '#' || CAST(a.scheme_id AS VARCHAR) || '%'
              THEN 'Keep' ELSE 'Drop' END AS keep_drop_flag
  FROM aug a
  JOIN cb ON a.test_name = cb.test_name
  WHERE NOT EXISTS (SELECT 1 FROM zx e
                    WHERE e.test_name = a.test_name
                      AND e.zone_name = a.zone_name_vendor)
)
SELECT test_name, variant AS on_or_off_day,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT vendor_zone) AS BIGINT) AS n_vendor_zones,
       ((sum(CAST(round(gfv_local * 1000000) AS BIGINT)) + 5000) // 10000) / 100.0 AS total_gfv,
       ((sum(CAST(round(revenue_local * 1000000) AS BIGINT)) + 5000) // 10000) / 100.0 AS total_revenue,
       ((sum(CAST(round(gross_profit_local * 1000000) AS BIGINT)) + 5000) // 10000) / 100.0 AS total_gross_profit
FROM cln
WHERE keep_drop_flag = 'Keep'
GROUP BY test_name, variant
"""


@query("elt_orders_fact", _DUCK_ELT)
def elt_orders_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full 8-stage extraction script end-to-end (see module docstring for
    the stage map against ``data_extraction_queries_automated_script.sql``),
    executed through the multi-statement runner with DECLARE/SET
    parameterization, returning the cleaned fact's aggregate signature."""
    from switchback_test_dag_spark.sql_script import run_script

    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    raw_config_df(spark).createOrReplaceTempView("elt_raw_config")
    return run_script(spark, _SPARK_SCRIPT)
