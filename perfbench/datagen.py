"""Seeded TPC-H-style star schema and event stream for ``olap_mix``.

Same table and column names and types as the engine's fixture tables
(``region nation customer supplier orders lineitem events``), generated
with NumPy from the workload seed and written as one Parquet file per
table.  Money columns carry at most two decimals, discounts and taxes
whole percents, so the registry's exact-arithmetic aggregates match the
DuckDB oracle bit for bit.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "add_to_cart", "purchase", "error"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = np.datetime64("1992-01-01", "us").astype(np.int64)
_ORDER_DAYS = 2405  # 1992-01-01 .. 1998-08-02
_RETURN_CUTOFF = np.datetime64("1995-06-17", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    return rng.integers(lo_cents, hi_cents, n) / 100.0


def star_tables(seed: int, orders: int, customers: int, suppliers: int, events: int, users: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(len(NATIONS)), pa.int32()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    })
    ck = np.arange(1, customers + 1, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, len(NATIONS), customers), pa.int32()),
        "c_acctbal": _money(rng, -99_999, 999_999, customers),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), customers)],
    })
    sk = np.arange(1, suppliers + 1, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, len(NATIONS), suppliers), pa.int32()),
        "s_acctbal": _money(rng, -99_999, 999_999, suppliers),
    })
    ok = np.arange(1, orders + 1, dtype=np.int64) * 4
    odate = _EPOCH_1992 + rng.integers(0, _ORDER_DAYS, orders) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, customers + 1, orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
        "o_totalprice": _money(rng, 100_000, 45_000_000, orders),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), orders)],
    })
    per_order = rng.integers(1, 8, orders)
    n_lines = int(per_order.sum())
    l_order = np.repeat(np.arange(orders), per_order)
    starts = np.cumsum(per_order) - per_order
    l_number = (np.arange(n_lines) - np.repeat(starts, per_order) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_lines)
    ship = odate[l_order] + rng.integers(1, 122, n_lines) * _DAY_US
    returned = ship <= _RETURN_CUTOFF
    flag = np.where(returned, np.array(["R", "A"])[rng.integers(0, 2, n_lines)], "N")
    out["lineitem"] = pa.table({
        "l_orderkey": ok[l_order],
        "l_partkey": rng.integers(1, 20_001, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(1, suppliers + 1, n_lines).astype(np.int64),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": qty * rng.integers(90_000, 210_000, n_lines) / 100.0,
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": flag,
        "l_linestatus": np.where(returned, "F", "O"),
        "l_shipdate": _ts(ship),
    })
    ev_ts = np.datetime64("2024-03-01", "us").astype(np.int64) + rng.integers(0, 3 * 86_400, events) * 1_000_000
    out["events"] = pa.table({
        "event_id": np.arange(1, events + 1, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(1, users + 1, events).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), events)],
        "value": _money(rng, 0, 50_000, events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)],
    })
    return out


def write_star(sf_dir: str, tables: dict[str, pa.Table]) -> dict[str, int]:
    """Write each table as ``<sf_dir>/<name>.parquet``; returns rows per table."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
