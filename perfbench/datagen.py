"""Seeded lineitem slices with the schema of the package's test data.

The same seed gives byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _choice(rng, options, n):
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def _days(rng, lo, hi, n):
    return pa.array(EPOCH_1995 + rng.integers(lo, hi, n) * DAY_US, pa.timestamp("us"))


def lineitem(rng, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    per_order = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    n = len(orderkey)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    partkey = rng.integers(0, n_parts, n)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    unit = 900.0 + (partkey % 2000) * 0.6 + rng.integers(0, 100, n) * 0.01
    return pa.table({
        "l_orderkey": orderkey,
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * unit, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n),
        "l_linestatus": _choice(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, 1, 2499, n),
    })


def lineitem_slices(out_dir: str, n_slices: int, rows: int, seed: int) -> list[dict]:
    """n_slices parquet files of ~`rows` lineitem rows each, for appends.
    Returns per slice its path, row count and sum(l_quantity)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for i in range(n_slices):
        t = lineitem(rng, rows // 4, 20_000, 1_000)
        path = os.path.join(out_dir, f"slice-{i:03d}.parquet")
        pq.write_table(t, path)
        out.append({"path": path, "rows": t.num_rows,
                    "quantity": float(np.sum(t.column("l_quantity").to_numpy()))})
    return out
