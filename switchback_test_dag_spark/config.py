"""Switchback test configuration: the typed config record and its table form.

The reference stores configs string-encoded in a BigQuery sheet
(``pricing.switchback_test_configs_bq``) and parses them driver-side
(``/root/reference/py_scripts/automated_switchback_test_analysis_script.py:27-70``);
here the ELT's config stage parses them in SQL (``queries_elt``), and typed
configs become a small table through :func:`configs_to_df`.

Configs are tiny (rows = number of running tests); unlike the reference, the
per-test *work* is not a driver loop — ``pipeline.label_orders`` pushes all tests
into one distributed plan via a broadcast join against the config table, and the
battery (``run_tests``, the registry's ``sb_metrics`` / ``sb_mwu_pvalues``) runs
over its output.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import date

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class SwitchbackTestConfig:
    test_name: str
    test_start: date
    test_end: date
    scheme_id_on: tuple[int, ...]
    scheme_id_off: tuple[int, ...]
    zone_name_vendor_excl: tuple[str, ...] = field(default_factory=tuple)
    zone_name_customer_excl: tuple[str, ...] = field(default_factory=tuple)


def configs_to_df(spark: SparkSession, configs: list[SwitchbackTestConfig]) -> DataFrame:
    """Typed config list → small DataFrame (array-typed scheme/zone sets) suitable
    for broadcasting into the fact table."""
    rows = [
        (
            c.test_name,
            c.test_start,
            c.test_end,
            list(c.scheme_id_on),
            list(c.scheme_id_off),
            list(c.zone_name_vendor_excl),
            list(c.zone_name_customer_excl),
        )
        for c in configs
    ]
    schema = (
        "test_name string, test_start date, test_end date, "
        "scheme_id_on array<int>, scheme_id_off array<int>, "
        "zone_name_vendor_excl array<string>, zone_name_customer_excl array<string>"
    )
    return spark.createDataFrame(rows, schema=schema)
