"""Seeded input generation for the benchmark workloads.

Every table is derived from the committed sample of the package's sf0.1
fixtures in ``perfbench/fixtures`` (drawn by ``sample_fixtures.py``) with a
seeded transform, so the inputs carry the fixtures' own value distributions,
text, duplicate shares and join densities. The transform remaps keys onto a
random subset of the fixtures' key range and shuffles rows; row counts, and
so the work one job does, are the same for every seed.
"""

from __future__ import annotations

import os
from datetime import timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
# key ranges of the sf0.1 fixtures the sample was drawn from
ORDER_KEYS = 150_000
CUSTOMER_KEYS = 15_000
DOC_IDS = 5_000
EVENT_DAYS = 30


def _read(name: str) -> pa.Table:
    return pq.read_table(os.path.join(FIXTURES, f"{name}.parquet"))


def _write(out_dir: str, name: str, table: pa.Table, rng: np.random.Generator) -> None:
    table = table.take(rng.permutation(table.num_rows))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _remap(table: pa.Table, cols: tuple[str, ...], old: np.ndarray, new: np.ndarray) -> pa.Table:
    """Replace each key of ``old`` by its partner in ``new`` in ``cols``."""
    order = np.argsort(old)
    for col in cols:
        keys = table[col].to_numpy()
        mapped = new[order][np.searchsorted(old[order], keys)]
        table = table.set_column(table.schema.get_field_index(col), col, pa.array(mapped))
    return table


def _head(table: pa.Table, n: int, rng: np.random.Generator) -> pa.Table:
    """``n`` rows drawn uniformly, or the whole table when ``n`` covers it."""
    if n >= table.num_rows:
        return table
    return table.take(np.sort(rng.choice(table.num_rows, n, replace=False)))


def write_orders_tables(out_dir: str, seed: int, n_orders: int) -> None:
    """``nation supplier customer orders lineitem``: ``n_orders`` sampled
    orders with all their line items. Order and customer keys move to a
    random subset of the fixtures' key ranges (the key-derived KPI
    arithmetic differs per seed), supplier keys are permuted."""
    rng = np.random.default_rng([seed, 1])
    orders = _head(_read("orders"), n_orders, rng)
    lineitem = _read("lineitem")
    lineitem = lineitem.filter(pc.is_in(lineitem["l_orderkey"], orders["o_orderkey"]))
    customer = _read("customer")
    customer = customer.filter(pc.is_in(customer["c_custkey"], orders["o_custkey"]))
    supplier = _read("supplier")

    old = orders["o_orderkey"].to_numpy()
    new = rng.choice(ORDER_KEYS, len(old), replace=False)
    orders = _remap(orders, ("o_orderkey",), old, new)
    lineitem = _remap(lineitem, ("l_orderkey",), old, new)
    old = customer["c_custkey"].to_numpy()
    new = rng.choice(CUSTOMER_KEYS, len(old), replace=False)
    customer = _remap(customer, ("c_custkey",), old, new)
    orders = _remap(orders, ("o_custkey",), old, new)
    old = supplier["s_suppkey"].to_numpy()
    new = rng.permutation(old)
    supplier = _remap(supplier, ("s_suppkey",), old, new)
    lineitem = _remap(lineitem, ("l_suppkey",), old, new)

    for name, table in (("nation", _read("nation")), ("supplier", supplier),
                        ("customer", customer), ("orders", orders), ("lineitem", lineitem)):
        _write(out_dir, name, table, rng)


def write_events(out_dir: str, seed: int, periods: int) -> None:
    """``events`` over ``periods`` back-to-back copies of the sample's 30
    days. Within each copy the event values are shuffled, so every seed and
    period has its own values at the fixtures' event times and density."""
    rng = np.random.default_rng([seed, 2])
    sample = _read("events")
    copies = []
    for p in range(periods):
        shifted = pc.add(sample["ts"], pa.scalar(timedelta(days=p * EVENT_DAYS)))
        copy = sample.set_column(sample.schema.get_field_index("ts"), "ts", shifted)
        values = copy["value"].take(rng.permutation(copy.num_rows))
        copies.append(copy.set_column(copy.schema.get_field_index("value"), "value", values))
    events = pa.concat_tables(copies)
    events = events.set_column(events.schema.get_field_index("event_id"), "event_id",
                               pa.array(np.arange(events.num_rows)))
    _write(out_dir, "events", events, rng)


def write_documents(out_dir: str, seed: int, n_docs: int) -> None:
    """``documents``: ``n_docs`` sampled documents with their ids moved to
    a random subset of the fixtures' id range (the ``doc_id % 13``
    evaluation slice differs per seed)."""
    rng = np.random.default_rng([seed, 3])
    docs = _head(_read("documents"), n_docs, rng)
    old = docs["doc_id"].to_numpy()
    docs = _remap(docs, ("doc_id",), old, rng.choice(DOC_IDS, len(old), replace=False))
    _write(out_dir, "documents", docs, rng)
