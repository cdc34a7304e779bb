"""Seeded synthetic tables for the benchmark.

Every table is a pure function of ``(seed, rows)``: the same seed gives
byte-identical CSV bodies. Shapes follow the TPC-H-style tables the
engine is tested on (``orders``, ``lineitem``, ``customer``) plus the
reference's 14-column mixed string/int/float frame (``mixed14``) that
its memory benchmark stores.

Integral quantities are int columns: the CSV writer prints an
integral float without a decimal point, which the server's CSV type
inference would read back as int.
"""
from __future__ import annotations

import io

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pa_csv

PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
CATEGORIES = np.array([f"cat{i}" for i in range(10)])


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _dates(rng, n: int, start: str, days: int) -> np.ndarray:
    return (np.datetime64(start) + rng.integers(0, days, n)).astype(str)


def orders(seed: int, n: int, n_customers: int) -> pd.DataFrame:
    rng = _rng(seed, 1)
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_customers, n),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n),
            "o_totalprice": np.round(rng.uniform(900.0, 500000.0, n), 2),
            "o_orderdate": _dates(rng, n, "1992-01-01", 2400),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )


def lineitem(seed: int, n: int, n_orders: int) -> pd.DataFrame:
    """``(l_orderkey, l_linenumber)`` is unique, so ordered pages have
    a total order."""
    rng = _rng(seed, 2)
    per_order = max(1, n // max(1, n_orders))
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)[:n]
    linenumber = np.tile(np.arange(1, per_order + 1, dtype=np.int64), n_orders)[:n]
    n = len(orderkey)
    return pd.DataFrame(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, 20000, n),
            "l_suppkey": rng.integers(0, 1000, n),
            "l_linenumber": linenumber,
            "l_quantity": rng.integers(1, 51, n),
            "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": _dates(rng, n, "1992-01-01", 2500),
        }
    )


def customer(seed: int, n: int) -> pd.DataFrame:
    rng = _rng(seed, 3)
    keys = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "c_custkey": keys,
            "c_name": np.char.add("Customer#", np.char.zfill(keys.astype(str), 9)),
            "c_nationkey": rng.integers(0, 25, n),
            "c_acctbal": np.round(rng.uniform(-999.0, 9999.0, n), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )


def mixed14(seed: int, n: int, salt: int) -> pd.DataFrame:
    """The reference memory benchmark's 14-column mixed frame: five
    string columns (``cat`` has 10 values), five int, four float.
    ``id`` is a unique row key."""
    rng = _rng(seed, 1000 + salt)
    cols: dict = {"id": np.arange(n, dtype=np.int64), "cat": rng.choice(CATEGORIES, n)}
    for i in range(1, 5):
        cols[f"s{i}"] = np.char.add(f"v{i}_", rng.integers(0, 50 * i, n).astype(str))
    for i in range(1, 5):
        cols[f"i{i}"] = rng.integers(0, 1000, n)
    for i in range(1, 5):
        cols[f"f{i}"] = np.round(rng.uniform(0.0, 1000.0, n), 3)
    return pd.DataFrame(cols)


def to_csv(df: pd.DataFrame) -> bytes:
    buf = io.BytesIO()
    pa_csv.write_csv(
        pa.Table.from_pandas(df, preserve_index=False),
        buf,
        pa_csv.WriteOptions(quoting_style="needed"),
    )
    return buf.getvalue()
