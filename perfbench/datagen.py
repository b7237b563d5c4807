"""Seeded input generation for both workloads.

All inputs come from ``numpy.random.default_rng(seed)``: the same seed gives
byte-identical tables, batches and query parameters. Shapes follow the
TPC-H-style test tables the engine's registry reads (same column names and
types), scaled to what one benchmark run can load in a few seconds.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EPOCH = dt.date(1992, 1, 1)
N_DAYS = 2400  # order dates span 1992-01-01 .. 1998-07


def orders_frame(rng: np.random.Generator, keys: np.ndarray, n_cust: int) -> pd.DataFrame:
    """Orders rows for `keys`. The status (the partition column) is a pure
    function of the key, so an update never moves a key across partitions."""
    n = len(keys)
    return pd.DataFrame(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(1, n_cust + 1, n).astype(np.int64),
            "o_orderstatus": np.asarray(STATUSES)[keys % 3],
            "o_totalprice": np.round(rng.uniform(900.0, 450000.0, n), 2),
            "o_orderdate": pd.to_datetime(EPOCH)
            + pd.to_timedelta(rng.integers(0, N_DAYS, n), unit="D"),
            "o_orderpriority": np.asarray(PRIORITIES)[rng.integers(0, 5, n)],
        }
    )


def tpch_tables(seed: int, n_orders: int = 15000) -> dict[str, pd.DataFrame]:
    """A small TPC-H-shaped star schema (sf0.01 proportions), without the
    part table no benchmark query reads."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = n_orders // 10, max(10, n_orders // 150), n_orders // 7
    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    orders = orders_frame(rng, np.arange(1, n_orders + 1, dtype=np.int64), n_cust)
    lines_per = rng.integers(1, 8, n_orders)
    okeys = np.repeat(orders["o_orderkey"].to_numpy(), lines_per)
    odate = np.repeat(orders["o_orderdate"].to_numpy(), lines_per)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    n_li = len(okeys)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    shipdate = odate + pd.to_timedelta(rng.integers(1, 122, n_li), unit="D").to_numpy()
    cutoff = np.datetime64("1995-06-17")
    lineitem = pd.DataFrame(
        {
            "l_orderkey": okeys,
            "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
            "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": np.where(
                shipdate <= cutoff, np.asarray(["R", "A"])[rng.integers(0, 2, n_li)], "N"
            ),
            "l_linestatus": np.where(shipdate <= cutoff, "F", "O"),
            "l_shipdate": shipdate,
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
    }


def digest(df: pd.DataFrame, key: str, price: str) -> tuple[int, int, int]:
    """(rows, sum of prices in cents, sum of keys): the checksum a reader's
    ``count``/``sum`` aggregation must reproduce exactly."""
    cents = np.round(df[price].to_numpy() * 100).astype(np.int64)
    return len(df), int(cents.sum()), int(df[key].sum())


def write_parquet(out_dir: str, tables: dict[str, pd.DataFrame]) -> None:
    """One ``<name>.parquet`` per table, the layout ``sources/testdata`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        t = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), coerce_timestamps="us")
