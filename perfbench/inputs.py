"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``seed`` and the shape constants, so
the same seed gives the same inputs. Generation runs in this process
(numpy + pyarrow), not on Spark: the program under test only ever sees the
finished files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class StreamShape:
    """Shape of the control_stream backlog (recorded in BENCHMARK.json)."""

    n_keys: int = 2000
    batch_records: int = 20_000
    n_chunks: int = 2
    control_frac: float = 0.02
    #: share of sensor rows carrying the bad-record sentinel sensor_id = -1
    bad_frac: float = 0.001

    @property
    def records(self) -> int:
        return self.batch_records * self.n_chunks


#: Column order and types of ``operators.controller.unify_streams``.
UNIFIED_DDL = (
    "sensor_id int, record_kind int, temperature double, desired double, "
    "up_delta double, down_delta double, seq long"
)


def controller_backlog(seed: int, shape: StreamShape) -> list[pd.DataFrame]:
    """Ordered chunks of the tagged-union stream. A global ``seq`` runs
    across chunks. About ``control_frac`` of the rows are control records
    (record_kind 0) with setpoints drawn from 40.0–50.0; the rest are
    sensor readings scattered around 45.0, so the hysteresis band is
    crossed often enough to emit commands."""
    rng = np.random.default_rng(seed)
    n = shape.records
    seq = np.arange(n, dtype=np.int64)
    sensor_id = rng.integers(0, shape.n_keys, n).astype(np.int32)
    is_ctrl = rng.random(n) < shape.control_frac
    bad = ~is_ctrl & (rng.random(n) < shape.bad_frac)
    sensor_id[bad] = -1
    desired = np.where(is_ctrl, np.round(45.0 + rng.uniform(-5, 5, n), 1), np.nan)
    delta = np.where(is_ctrl, 1.0, np.nan)
    temperature = np.where(is_ctrl, np.nan, np.round(45.0 + rng.normal(0, 3.0, n), 2))
    df = pd.DataFrame(
        {
            "sensor_id": sensor_id,
            "record_kind": np.where(is_ctrl, 0, 1).astype(np.int32),
            "temperature": temperature,
            "desired": desired,
            "up_delta": delta,
            "down_delta": delta.copy(),
            "seq": seq,
        }
    )
    b = shape.batch_records
    return [df.iloc[i : i + b].reset_index(drop=True) for i in range(0, n, b)]


# ---------------------------------------------------------------------------
# Catalog tables for iterative_batch: the TPC-H-ish columns the four entries
# read, in the parquet types of the repository testdata (TESTDATA.md), at a
# size where every entry is bound by its Spark job count, not by data volume.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TableShape:
    customers: int = 150
    orders: int = 1500
    max_lines: int = 7
    suppliers: int = 20
    parts: int = 200
    #: parts are dealt round-robin into brands x sizes blocking keys, so
    #: every seed gives blocks of the same size for the fuzzy-match join
    brands: int = 10
    sizes: int = 2


_ADJ = ("cold", "small", "large", "blue", "red", "smooth", "hard", "light")
_NOUN = ("widget", "bolt", "rod", "gear", "valve", "spring", "panel")
_TYPES = ("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")


def catalog_tables(seed: int, shape: TableShape) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    i64 = np.int64
    supplier = pa.table(
        {
            "s_suppkey": np.arange(shape.suppliers, dtype=i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(shape.suppliers)],
            # round-robin nations: the SSSP entry seeds from s_nationkey < 4,
            # so every seed gets the same number of source suppliers
            "s_nationkey": (np.arange(shape.suppliers) % 25).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, shape.suppliers), 2),
        }
    )
    names = [
        f"{_ADJ[a]} {_NOUN[b]}"
        for a, b in zip(
            rng.integers(0, len(_ADJ), shape.parts),
            rng.integers(0, len(_NOUN), shape.parts),
        )
    ]
    part = pa.table(
        {
            "p_partkey": np.arange(shape.parts, dtype=i64),
            "p_name": names,
            "p_brand": [f"Brand#{k % shape.brands + 1}" for k in range(shape.parts)],
            "p_type": [_TYPES[t] for t in rng.integers(0, len(_TYPES), shape.parts)],
            "p_size": (np.arange(shape.parts) // shape.brands % shape.sizes + 1).astype(np.int32),
            "p_retailprice": np.round(900 + rng.uniform(0, 100, shape.parts), 2),
        }
    )
    day = np.datetime64("1995-01-01", "us")
    odate = day + rng.integers(0, 2500, shape.orders).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": np.arange(shape.orders, dtype=i64),
            "o_custkey": rng.integers(0, shape.customers, shape.orders).astype(i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], shape.orders),
            "o_totalprice": np.round(rng.uniform(1000, 400_000, shape.orders), 2),
            "o_orderdate": odate,
            "o_orderpriority": rng.choice(["1-URGENT", "3-MEDIUM", "5-LOW"], shape.orders),
        }
    )
    # a shuffled fixed multiset: every seed gives the same lineitem count
    n_lines = rng.permutation(np.arange(shape.orders) % shape.max_lines + 1)
    l_order = np.repeat(np.arange(shape.orders, dtype=i64), n_lines)
    n = len(l_order)
    first_line = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, shape.parts, n).astype(i64),
            "l_suppkey": rng.integers(0, shape.suppliers, n).astype(i64),
            "l_linenumber": (np.arange(n) - first_line + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 1000, n), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": np.repeat(odate, n_lines)
            + rng.integers(1, 120, n).astype("timedelta64[D]"),
        }
    )
    return {"supplier": supplier, "part": part, "orders": orders, "lineitem": lineitem}


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """One ``<name>.parquet`` file per table, the layout
    ``schemas.load_table`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
