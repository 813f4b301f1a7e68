"""Deterministic domain-fixture synthesis: derive the reference's ``orders_fact``
(FIXTURES.md F1) and string-encoded config table (F5) from the driver's TPC-H-ish
parquet, entirely with portable column arithmetic.

Why synthesis exists: the reference's inputs are proprietary warehouse tables; the
driver fixtures are TPC-H-ish. This module maps them (FIXTURES.md F6) so the
*production pipeline* (pipeline.py ≈ ``automated_switchback_test_analysis_script.py``)
runs end-to-end on driver data. Every expression below also exists verbatim in
``ORACLE_FACT_CTE`` (DuckDB SQL) so pipeline outputs are oracle-checkable: identical
IEEE arithmetic in the same order on both engines.

KPI formulas follow the reference's fee semantics where cited:
- ``sof_local``: small-order fee = IF(gfv − mov ≥ 0, 0, mov − gfv)
  (``data_extraction_queries_automated_script.sql:264``), with mov = 1000.
- ``revenue_local``/``gross_profit_local``: fee-component sum minus costs
  (``...automated_script.sql:363-364``).
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from switchback_test_dag_spark.config import SwitchbackTestConfig, configs_to_df
from switchback_test_dag_spark.io import load_table

TEST_START = date(1996, 1, 1)
TEST_END = date(1999, 12, 31)

# two concurrent switchback tests with multi-scheme On/Off sets; test 1 also
# exercises the vendor-zone exclusion path (automated_...py:106-108)
DOMAIN_CONFIGS: list[SwitchbackTestConfig] = [
    SwitchbackTestConfig(
        "sb_test_0", TEST_START, TEST_END, (110, 111), (120,), (), ()
    ),
    SwitchbackTestConfig(
        "sb_test_1",
        TEST_START,
        TEST_END,
        (210,),
        (220, 221),
        ("NATION_3", "NATION_7"),
        (),
    ),
]

# string-encoded raw config rows (FIXTURES.md F5: parsing is part of the surface)
RAW_CONFIG_ROWS = [
    ("sb_test_0", TEST_START, TEST_END, "{110, 111}", "{120}", None, None),
    (
        "sb_test_1",
        TEST_START,
        TEST_END,
        "{210}",
        "{220, 221}",
        "NATION_3, NATION_7",
        None,
    ),
]
RAW_CONFIG_SCHEMA = (
    "test_name string, test_start date, test_end date, scheme_id_on string, "
    "scheme_id_off string, zone_name_vendor_excl string, zone_name_customer_excl string"
)


def raw_config_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(RAW_CONFIG_ROWS, schema=RAW_CONFIG_SCHEMA)


def synthesize_orders_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ nation (+ supplier nation) → orders_fact.

    Deterministic: timestamps spread into the day by integer arithmetic on the
    line keys (int64-safe at any scale factor); scheme ids alternate On/Off by
    hour parity so the switchback structure is real; ~1% of rows get an unknown
    scheme and some customers are 'Non_TG' so the pipeline's drop paths execute.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")

    df = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            nation.select(
                F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cn_name")
            ),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            nation.select(
                F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
    )

    return df.selectExpr(*_FACT_EXPRS)


# The wide projection as ONE selectExpr: the Column-by-Column build above it
# replaced cost ~300 py4j round-trips PER QUERY BUILD (every F.col/F.lit/
# operator/alias is a JVM call; the fact is rebuilt by each flagship-family
# query evaluation — measured 1.5 s of driver-side construction inside
# sb_mwu_pvalues at sf0.1). These strings parse JVM-side in one call into
# the SAME expression trees: double literals carry the D suffix (a bare
# `2.5` parses as DECIMAL in Spark SQL, but F.lit(2.5) was a double),
# integer literals keep Python's int32/int64 split naturally (2654435761
# exceeds int32 → BIGINT, matching F.lit), operator associativity is
# left-to-right in both forms, and every CAST mirrors the old .cast().
# Expression order continues to mirror ORACLE_FACT_CTE below so IEEE
# doubles agree bit-for-bit with the DuckDB oracle (hash-verified).
#
# The four per-row formulas below are public because ELT stage 6a
# (queries_elt._SPARK_SCRIPT) builds its fact from the same strings: each
# Spark KPI formula is defined once.
_FACT_SECS = (
    "(((l_orderkey % 86400) * 2654435761 + l_linenumber * 97) % 86400)"
)
_FACT_ON_HOUR = f"(FLOOR({_FACT_SECS} / 3600) % 2) = 0"
FACT_ORDER_TIME = (
    "timestamp_seconds(CAST(unix_timestamp(o_orderdate)"
    f" + {_FACT_SECS} AS BIGINT))"
)
FACT_SCHEME_ID = (
    "CAST(CASE WHEN l_orderkey % 97 = 0 THEN 999"
    f" WHEN o_custkey % 2 = 0 THEN (CASE WHEN {_FACT_ON_HOUR}"
    "  THEN 110 + (l_orderkey % 2) ELSE 120 END)"
    f" ELSE (CASE WHEN {_FACT_ON_HOUR}"
    "  THEN 210 ELSE 220 + (l_orderkey % 2) END)"
    " END AS INT)"
)
FACT_REVENUE = (
    "(2.5D + l_quantity * 0.1D)"
    " + l_extendedprice * l_discount"
    " + (CASE WHEN l_orderkey % 5 = 0 THEN 1.5D ELSE 0.0D END)"
    " + 0.99D"
    " + (CASE WHEN l_extendedprice >= 1000 THEN 0.0D"
    "    ELSE 1000.0D - l_extendedprice END)"
)
FACT_GROSS_PROFIT = f"{FACT_REVENUE} - (3.0D + l_quantity * 0.15D)"
_FACT_EXPRS = (
    "l_orderkey * 10 + l_linenumber AS order_id",
    "concat('sb_test_', CAST(o_custkey % 2 AS STRING)) AS test_name",
    "CASE WHEN o_custkey % 10 = 0 THEN 'Non_TG'"
    " ELSE concat('TG', CAST((o_custkey % 3) + 1 AS STRING)) END"
    " AS target_group",
    f"{FACT_ORDER_TIME} AS order_placed_at_local",
    "sn_name AS zone_name_vendor",
    "cn_name AS zone_name_customer",
    f"{FACT_SCHEME_ID} AS scheme_id",
    "2.5D + l_quantity * 0.1D AS actual_df_paid_by_customer",
    "l_extendedprice AS gfv_local",
    "l_extendedprice * (1.0D + l_tax) AS gmv_local",
    "l_extendedprice * l_discount AS commission_local",
    "CASE WHEN l_orderkey % 5 = 0 THEN 1.5D ELSE 0.0D END"
    " AS joker_vendor_fee_local",
    "CASE WHEN l_extendedprice >= 1000 THEN 0.0D"
    " ELSE 1000.0D - l_extendedprice END AS sof_local",
    "0.99D AS service_fee_local",
    "3.0D + l_quantity * 0.15D AS delivery_costs_local",
    f"{FACT_REVENUE} AS revenue_local",
    f"{FACT_GROSS_PROFIT} AS gross_profit_local",
    "CASE WHEN l_linenumber = 7 THEN CAST(NULL AS DOUBLE)"
    " ELSE 5.0D + (l_partkey % 100) * 0.3D END AS dps_mean_delay",
    "CASE WHEN l_partkey % 11 = 0 THEN CAST(NULL AS DOUBLE)"
    " ELSE CAST(l_partkey % 5000 AS DOUBLE) + 200.0D END"
    " AS delivery_distance_m",
    "CASE WHEN l_suppkey % 13 = 0 THEN CAST(NULL AS DOUBLE)"
    " ELSE 10.0D + CAST(l_orderkey % 40 AS DOUBLE) * 0.7D"
    " + CAST(l_linenumber AS DOUBLE) END AS actual_DT",
)


# The same synthesis as a DuckDB CTE (oracle side). Expression order mirrors the
# DataFrame build above so IEEE doubles agree bit-for-bit.
ORACLE_FACT_CTE = """
WITH orders_fact AS (
  SELECT
    l.l_orderkey * 10 + l.l_linenumber AS order_id,
    'sb_test_' || CAST(o.o_custkey % 2 AS VARCHAR) AS test_name,
    CASE WHEN o.o_custkey % 10 = 0 THEN 'Non_TG'
         ELSE 'TG' || CAST((o.o_custkey % 3) + 1 AS VARCHAR) END AS target_group,
    to_timestamp(epoch(o.o_orderdate)
      + ((l.l_orderkey % 86400) * 2654435761 + l.l_linenumber * 97) % 86400
    )::TIMESTAMP AS order_placed_at_local,
    sn.n_name AS zone_name_vendor,
    cn.n_name AS zone_name_customer,
    CAST(CASE
      WHEN l.l_orderkey % 97 = 0 THEN 999
      WHEN o.o_custkey % 2 = 0 THEN
        CASE WHEN (FLOOR((((l.l_orderkey % 86400) * 2654435761 + l.l_linenumber * 97) % 86400) / 3600) % 2) = 0
             THEN 110 + (l.l_orderkey % 2) ELSE 120 END
      ELSE
        CASE WHEN (FLOOR((((l.l_orderkey % 86400) * 2654435761 + l.l_linenumber * 97) % 86400) / 3600) % 2) = 0
             THEN 210 ELSE 220 + (l.l_orderkey % 2) END
    END AS INTEGER) AS scheme_id,
    2.5 + l.l_quantity * 0.1 AS actual_df_paid_by_customer,
    l.l_extendedprice AS gfv_local,
    l.l_extendedprice * (1.0 + l.l_tax) AS gmv_local,
    l.l_extendedprice * l.l_discount AS commission_local,
    CASE WHEN l.l_orderkey % 5 = 0 THEN 1.5 ELSE 0.0 END AS joker_vendor_fee_local,
    CASE WHEN l.l_extendedprice >= 1000 THEN 0.0 ELSE 1000.0 - l.l_extendedprice END AS sof_local,
    0.99 AS service_fee_local,
    3.0 + l.l_quantity * 0.15 AS delivery_costs_local,
    (2.5 + l.l_quantity * 0.1) + l.l_extendedprice * l.l_discount
      + CASE WHEN l.l_orderkey % 5 = 0 THEN 1.5 ELSE 0.0 END + 0.99
      + CASE WHEN l.l_extendedprice >= 1000 THEN 0.0 ELSE 1000.0 - l.l_extendedprice END
      AS revenue_local,
    (2.5 + l.l_quantity * 0.1) + l.l_extendedprice * l.l_discount
      + CASE WHEN l.l_orderkey % 5 = 0 THEN 1.5 ELSE 0.0 END + 0.99
      + CASE WHEN l.l_extendedprice >= 1000 THEN 0.0 ELSE 1000.0 - l.l_extendedprice END
      - (3.0 + l.l_quantity * 0.15) AS gross_profit_local,
    CASE WHEN l.l_linenumber = 7 THEN NULL
         ELSE 5.0 + (l.l_partkey % 100) * 0.3 END AS dps_mean_delay,
    CASE WHEN l.l_partkey % 11 = 0 THEN NULL
         ELSE CAST(l.l_partkey % 5000 AS DOUBLE) + 200.0 END AS delivery_distance_m,
    CASE WHEN l.l_suppkey % 13 = 0 THEN NULL
         ELSE 10.0 + CAST(l.l_orderkey % 40 AS DOUBLE) * 0.7 + CAST(l.l_linenumber AS DOUBLE) END AS actual_DT
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
),
sb_labeled AS (
  SELECT f.*,
    CASE WHEN (f.test_name = 'sb_test_0' AND f.scheme_id IN (110, 111))
           OR (f.test_name = 'sb_test_1' AND f.scheme_id IN (210)) THEN 'On'
         ELSE 'Off' END AS on_or_off_day
  FROM orders_fact f
  WHERE f.target_group <> 'Non_TG'
    AND ((f.test_name = 'sb_test_0' AND f.scheme_id IN (110, 111, 120))
      OR (f.test_name = 'sb_test_1' AND f.scheme_id IN (210, 220, 221)
          AND f.zone_name_vendor NOT IN ('NATION_3', 'NATION_7')))
    AND CAST(f.order_placed_at_local AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1999-12-31'
)
"""


def domain_configs_df(spark: SparkSession) -> DataFrame:
    return configs_to_df(spark, DOMAIN_CONFIGS)
