"""Switchback test configuration parsing.

The reference stores configs string-encoded in a BigQuery sheet
(``pricing.switchback_test_configs_bq``) and parses them driver-side
(``/root/reference/py_scripts/automated_switchback_test_analysis_script.py:27-70``):
scheme-id sets arrive as ``'{1234, 5678}'`` (curly-brace strings → ``re.findall``),
zone exclusion lists as ``'ZoneA, ZoneB'`` CSV, NULL → empty list.

Configs are tiny (rows = number of running tests), so like the reference we parse
them driver-side; unlike the reference, the per-test *work* is not a driver loop —
``pipeline.label_orders`` pushes all tests into one distributed plan via a broadcast
join against this parsed config table, and the battery (``run_tests``, the
registry's ``sb_metrics`` / ``sb_mwu_pvalues``) runs over its output.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import date

from pyspark.sql import DataFrame, SparkSession

_BRACES = re.compile(r"\{(.*?)\}")


@dataclass(frozen=True)
class SwitchbackTestConfig:
    test_name: str
    test_start: date
    test_end: date
    scheme_id_on: tuple[int, ...]
    scheme_id_off: tuple[int, ...]
    zone_name_vendor_excl: tuple[str, ...] = field(default_factory=tuple)
    zone_name_customer_excl: tuple[str, ...] = field(default_factory=tuple)


def _parse_scheme_set(raw: str | None) -> tuple[int, ...]:
    """``'{1234, 5678}'`` → ``(1234, 5678)``; None/no-match → empty."""
    if raw is None:
        return ()
    m = _BRACES.findall(raw)
    if not m or not m[0].strip():
        return ()
    return tuple(int(s) for s in m[0].split(", "))


def _parse_csv(raw: str | None) -> tuple[str, ...]:
    if raw is None or raw == "":
        return ()
    return tuple(raw.split(", "))


def parse_config_rows(rows) -> list[SwitchbackTestConfig]:
    """Parse collected config rows (pyspark Rows / dicts) into typed configs."""
    out = []
    for r in rows:
        d = r.asDict() if hasattr(r, "asDict") else dict(r)
        start = d["test_start"]
        end = d["test_end"]
        out.append(
            SwitchbackTestConfig(
                test_name=d["test_name"],
                test_start=start.date() if hasattr(start, "date") and not isinstance(start, date) else start,
                test_end=end.date() if hasattr(end, "date") and not isinstance(end, date) else end,
                scheme_id_on=_parse_scheme_set(d.get("scheme_id_on")),
                scheme_id_off=_parse_scheme_set(d.get("scheme_id_off")),
                zone_name_vendor_excl=_parse_csv(d.get("zone_name_vendor_excl")),
                zone_name_customer_excl=_parse_csv(d.get("zone_name_customer_excl")),
            )
        )
    return out


def load_configs(config_df: DataFrame) -> list[SwitchbackTestConfig]:
    """Collect + parse a config table (tiny by construction — SURVEY §1.1:
    'config tables as control flow')."""
    return parse_config_rows(config_df.collect())


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
