"""Draw the committed input sample in ``perfbench/fixtures`` from the
package's sf0.1 test fixtures.

    python3 perfbench/sample_fixtures.py <sf0.1 fixture dir>

The sample is uniform and drawn once with a fixed seed, so re-running this
script on the same fixtures reproduces the committed files exactly. It keeps
the fixtures' join densities: every sampled order brings all its line items,
and the sample holds every customer those orders reference, every supplier
and every nation. Each benchmark run then derives its inputs from this
sample with a seeded transform (``inputs.py``).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

SAMPLE_SEED = 20240101
ORDERS = 15_000  # of the fixtures' 150,000
EVENTS = 20_000  # of 100,000, over the fixtures' 30 days
DOCUMENTS = 300  # of 5,000

OUT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _take(table, n: int, rng: np.random.Generator):
    idx = np.sort(rng.choice(table.num_rows, n, replace=False))
    return table.take(idx)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    src = argv[0]
    rng = np.random.default_rng(SAMPLE_SEED)

    def read(name: str):
        return pq.read_table(os.path.join(src, f"{name}.parquet"))

    orders = _take(read("orders"), ORDERS, rng)
    lineitem = read("lineitem")
    lineitem = lineitem.filter(pc.is_in(lineitem["l_orderkey"], orders["o_orderkey"]))
    customer = read("customer")
    customer = customer.filter(pc.is_in(customer["c_custkey"], orders["o_custkey"]))
    events = _take(read("events"), EVENTS, rng)
    events = events.take(pc.sort_indices(events["ts"]))
    tables = {
        "nation": read("nation"),
        "supplier": read("supplier"),
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _take(read("documents"), DOCUMENTS, rng),
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(OUT_DIR, f"{name}.parquet"), compression="zstd")
        print(f"{name}: {table.num_rows} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
