"""Seeded inputs, drawn from the committed reference sample.

``perfbench/sample/`` holds a seeded, foreign-key-closed sample of the
repository's reference test data at scale factor 0.1 (written by
``make_sample.py``; README lists its row counts and measured figures).
Every input of a run is made from it by seeded sampling and
key-shifting, as ``tools/make_scale.py`` scales the reference data: the
program only ever sees rows of the reference data, moved to fresh keys
and batch dates. Nothing outside the checkout is read, so the same seed
gives the same files on any machine.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SAMPLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sample")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings")


def sample(name: str) -> pa.Table:
    return pq.read_table(os.path.join(SAMPLE, f"{name}.parquet"))


def next_key(table: pa.Table, col: str) -> int:
    """The first key above every key of ``col``: a key-shift offset."""
    return int(pc.max(table[col]).as_py()) + 1


def _set(table: pa.Table, col: str, values) -> pa.Table:
    i = table.schema.get_field_index(col)
    return table.set_column(i, table.schema.field(i), pa.array(values, table.schema.field(i).type))


def day_orders(rng: np.random.Generator, orders: pa.Table, date: str, first_key: int) -> pa.Table:
    """One batch day of new orders: every sample order of one seeded
    reference order date, so a day holds as many orders as a day of the
    reference does. Order keys move to ``first_key`` upward and the
    order date to ``date``; customers keep their reference keys."""
    dates = pc.unique(orders["o_orderdate"])
    picked = dates[int(rng.integers(0, len(dates)))]
    day = orders.filter(pc.equal(orders["o_orderdate"], picked))
    day = _set(day, "o_orderkey", np.arange(first_key, first_key + day.num_rows))
    return _set(day, "o_orderdate", [datetime.strptime(date, "%Y%m%d")] * day.num_rows)


def customer_changes(
    rng: np.random.Generator, customers: pa.Table, live_keys: np.ndarray, first_new: int, n: int, seq0: int
) -> pa.Table:
    """A Debezium-shaped customer change feed of ``n`` rows: updates and
    deletes of live keys and inserts of keys from ``first_new`` upward,
    70/10/20, with ``seq`` unique and increasing. Each changed row takes
    its values from a seeded reference customer."""
    n_ins, n_del = max(1, n // 5), max(1, n // 10)
    touched = rng.choice(live_keys, n - n_ins, replace=False)
    keys = np.concatenate([touched, np.arange(first_new, first_new + n_ins)])
    t = customers.take(rng.integers(0, customers.num_rows, len(keys)))
    t = _set(t, "c_custkey", keys)
    t = _set(t, "c_name", [f"Customer#{k:09d}" for k in keys])
    ops = ["U"] * (n - n_ins - n_del) + ["D"] * n_del + ["I"] * n_ins
    t = t.append_column("op", pa.array(ops, pa.string()))
    return t.append_column("seq", pa.array(np.arange(seq0, seq0 + n), pa.int64()))


def doc_shard(docs: pa.Table, rows: np.ndarray, first_id: int) -> pa.Table:
    """Reference documents ``rows``, renumbered from ``first_id``."""
    return _set(docs.take(rows), "doc_id", np.arange(first_id, first_id + len(rows)))


def vec_shard(rng: np.random.Generator, vecs: pa.Table, n: int) -> pa.Table:
    """``n`` seeded reference embeddings, ``vec_id`` dense from 0."""
    return _set(vecs.take(rng.choice(vecs.num_rows, n, replace=False)), "vec_id", np.arange(n))


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def day_date(start: datetime, day: int) -> str:
    return (start + timedelta(days=day)).strftime("%Y%m%d")
