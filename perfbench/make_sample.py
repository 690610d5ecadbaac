"""Draw the benchmark's committed reference sample.

    python3 perfbench/make_sample.py REFERENCE_DIR [OUT_DIR]

``REFERENCE_DIR`` is the repository's reference test data at scale
factor 0.1 (TESTDATA.md: one parquet file per table); ``OUT_DIR``
defaults to ``perfbench/sample``. The draw is seeded, so re-running it
on the same reference data writes the same files.

The sample is closed under foreign keys: a seeded ``FRACTION`` of the
customers, every order of those customers, every line item of those
orders, and the parts and suppliers those line items name. ``region``
and ``nation`` are copied whole, ``events`` is a seeded ``FRACTION`` of
its rows, and the LLM corpus (``documents``, ``embeddings``) is copied
whole because each operation samples its shard from it. Keys keep their
reference values; the benchmark key-shifts them per operation.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

SEED = 20240108
FRACTION = 0.05
HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    src = sys.argv[1]
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(HERE, "sample")
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(SEED)

    def read(name):
        return pq.read_table(os.path.join(src, f"{name}.parquet"))

    def keep(table, col, values):
        return table.filter(pc.is_in(table[col], value_set=values))

    def draw(table, col):
        picked = rng.choice(table[col].to_numpy(), round(FRACTION * table.num_rows), replace=False)
        return keep(table, col, pc.unique(pc.cast(np.sort(picked), table.schema.field(col).type)))

    tables = {name: read(name) for name in ("region", "nation", "documents", "embeddings")}
    tables["customer"] = draw(read("customer"), "c_custkey")
    tables["orders"] = keep(read("orders"), "o_custkey", tables["customer"]["c_custkey"])
    tables["lineitem"] = keep(read("lineitem"), "l_orderkey", tables["orders"]["o_orderkey"])
    tables["part"] = keep(read("part"), "p_partkey", pc.unique(tables["lineitem"]["l_partkey"]))
    tables["supplier"] = keep(read("supplier"), "s_suppkey", pc.unique(tables["lineitem"]["l_suppkey"]))
    tables["events"] = draw(read("events"), "event_id")
    for name, table in sorted(tables.items()):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"), compression="zstd")
        print(f"{name}: {table.num_rows} rows")


if __name__ == "__main__":
    main()
