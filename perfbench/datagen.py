"""Fixed benchmark tables with the schemas and row counts of the sf0.1 test
data: customer 15,000; supplier 1,000; nation 25.

The tables never depend on the workload seed (the seed picks statement
parameters only), so every run of every workload reads the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
ROWS = {"customer": 15_000, "supplier": 1_000, "nation": 25}
TABLES = tuple(ROWS)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _money(rng, n):
    return np.round(rng.uniform(-999.99, 9999.99, n), 2)


def _customer(rng):
    n = ROWS["customer"]
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def _supplier(rng):
    n = ROWS["supplier"]
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "s_suppkey": keys,
        "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n),
    })


def _nation():
    keys = np.arange(ROWS["nation"], dtype=np.int32)
    return pa.table({
        "n_nationkey": pa.array(keys, pa.int32()),
        "n_name": [f"NATION_{k}" for k in keys],
        "n_regionkey": pa.array(keys % 5, pa.int32()),
    })


def write_tables(out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    tables = {"customer": _customer(rng), "supplier": _supplier(rng),
              "nation": _nation()}
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
