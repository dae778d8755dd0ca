"""Seeded inputs for the benchmark.

The benchmark reads nothing outside its checkout, so it writes its own
sf0.1-shaped fixture tables (the TPC-H-like ``customer``, ``nation`` and
``orders`` the ingest and recommend pipelines read) and its own clustered
64-d embedding corpus. The same seed gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000  # sf0.1
N_ORDERS = 150_000  # sf0.1
N_NATION = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_VECTORS = 2_000  # sf0.1 embeddings
DIM = 64


def write_tables(sf_dir: str, seed: int, n_customer: int = N_CUSTOMER,
                 n_orders: int = N_ORDERS) -> None:
    """customer / nation / orders parquet files with the fixture schemas."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    nk = np.arange(N_NATION, dtype=np.int32)
    pq.write_table(
        pa.table({
            "n_nationkey": nk,
            "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": (nk % 5).astype(np.int32),
        }),
        os.path.join(sf_dir, "nation.parquet"),
    )
    ck = np.arange(n_customer, dtype=np.int64)
    pq.write_table(
        pa.table({
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, N_NATION, n_customer).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customer), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_customer)],
        }),
        os.path.join(sf_dir, "customer.parquet"),
    )
    start = np.datetime64(dt.datetime(1992, 1, 1), "us")
    days = rng.integers(0, 2405, n_orders).astype("timedelta64[D]")
    pq.write_table(
        pa.table({
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_customer, n_orders).astype(np.int64),
            "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
            "o_orderdate": (start + days).astype("datetime64[us]"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }),
        os.path.join(sf_dir, "orders.parquet"),
    )


def unit_rows(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


class VectorSource:
    """Seeded unit vectors shaped like the sf0.1 ``embeddings`` fixture,
    whose ten labels carry almost no geometry (mean cosine of a row to its
    label's centroid is about 0.06): rows are close to uniform on the
    sphere, so LSH band buckets, and with them the graph operators' work,
    have the same size distribution under every seed."""

    def __init__(self, seed: int, dim: int = DIM) -> None:
        self.rng = np.random.default_rng(seed)
        self.dim = dim

    def draw(self, n: int) -> np.ndarray:
        return unit_rows(self.rng.standard_normal((n, self.dim)))
