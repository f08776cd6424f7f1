"""Seeded generator for the benchmark's TPC-H-shaped input tables.

Writes the eight parquet tables that ``sources.tpch.build_graph``
reads (region, nation, customer, supplier, part, orders, lineitem,
events) with the row counts and value shapes of the sf0.01 fixture:
18,630 vertices and about 138k edges once the graph is derived. The
tables are a pure function of ``DATA_SEED``, so every run and every
workload seed sees the same graph; the workload seed only picks the
requests sent to it.

The tables are written once per checkout under ``perfbench/.data``
(ignored by git) and reused by later runs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_REGION, N_NATION, N_CUSTOMER = 5, 25, 1500
N_SUPPLIER, N_PART, N_ORDER = 100, 2000, 15_000
N_EVENT, N_EVENT_USER = 10_000, 150
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".data", f"tpch-{DATA_SEED}")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def _ts_us(base: np.datetime64, offsets_s: np.ndarray) -> pa.Array:
    us = (offsets_s * 1e6).astype(np.int64)
    return pa.array(base.astype("datetime64[us]") + us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def make_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(N_REGION), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(N_NATION), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATION)],
        "n_regionkey": pa.array(np.arange(N_NATION) % N_REGION, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, N_NATION, N_CUSTOMER),
                                pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2),
        "c_mktsegment": [SEGMENTS[i] for i in
                         rng.integers(0, len(SEGMENTS), N_CUSTOMER)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, N_NATION, N_SUPPLIER),
                                pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIER), 2)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": [f"part {i}" for i in range(N_PART)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": [["ECONOMY", "STANDARD", "PROMO"][k]
                   for k in rng.integers(0, 3, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(N_PART) * 0.1, 2)})
    base = np.datetime64("1992-01-01")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDER), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDER),
                              pa.int64()),
        "o_orderstatus": [["O", "F", "P"][k]
                          for k in rng.integers(0, 3, N_ORDER)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, N_ORDER), 2),
        "o_orderdate": _ts_us(base, rng.integers(0, 2400, N_ORDER)
                              .astype(np.float64) * 86400),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM",
                             "4-NOT SPECIFIED", "5-LOW"][k]
                            for k in rng.integers(0, 5, N_ORDER)]})
    lines = rng.integers(1, 8, N_ORDER)
    n_li = int(lines.sum())
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(N_ORDER), lines),
                               pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li),
                              pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]),
            pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [["A", "N", "R"][k]
                         for k in rng.integers(0, 3, n_li)],
        "l_linestatus": [["F", "O"][k] for k in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(base, rng.integers(0, 2500, n_li)
                             .astype(np.float64) * 86400)})
    offs = np.sort(rng.uniform(0, 30 * 86400, N_EVENT))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENT), pa.int64()),
        "ts": _ts_us(np.datetime64("2024-01-01"), offs),
        "user_id": pa.array(rng.integers(0, N_EVENT_USER, N_EVENT),
                            pa.int64()),
        "event_type": [EVENT_TYPES[k] for k in
                       rng.integers(0, len(EVENT_TYPES), N_EVENT)],
        "value": np.round(rng.uniform(0, 20, N_EVENT), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENT)]})
    return t


def ensure_tables(data_dir: str = DATA_DIR) -> str:
    """Write the tables under ``data_dir`` unless already there; the
    directory appears atomically, so a cut-off write is redone."""
    if os.path.isdir(data_dir):
        return data_dir
    tmp = data_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, data_dir)
    return data_dir
