"""Seeded input tables for the benchmark.

The tables follow the shapes of the driver's synthetic test data
(``events``, the TPC-H-like star tables and ``documents``): the same column
names, types and value domains, scaled by ``sf`` (sf0.1 = 100,000 events).
The same ``(seed, sf)`` always gives byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00
HOUR_US = 3600 * 1_000_000
EVENT_HOURS = 30 * 24  # events span 30 days of event time

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _day_us(rng, n, first_day, last_day):
    """Midnight timestamps (microseconds) uniform over [first_day, last_day]."""
    lo = np.datetime64(first_day, "D").astype("int64")
    hi = np.datetime64(last_day, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * 86_400 * 1_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def events(rng, sf: float) -> pa.Table:
    """``events(event_id, ts, user_id, event_type, value, props)``; event_id
    follows ts order, about 139 events per hour of event time at sf0.1."""
    n = max(int(1_000_000 * sf), 100)
    ts = np.sort(rng.integers(EPOCH_US, EPOCH_US + EVENT_HOURS * HOUR_US, n))
    users = max(int(15_000 * sf), 15)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, users, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": rng.integers(0, 56_000, n) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def star_tables(rng, sf: float) -> dict[str, pa.Table]:
    """region, nation, customer, orders and lineitem."""
    n_cust = max(int(150_000 * sf), 150)
    n_ord = max(int(1_500_000 * sf), 1500)
    n_li = max(int(6_000_000 * sf), 6000)
    n_part = max(int(200_000 * sf), 200)
    n_supp = max(int(10_000 * sf), 10)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": rng.integers(-99_999, 1_000_000, n_cust) / 100.0,
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_cust)],
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": rng.integers(100_000, 50_000_000, n_ord) / 100.0,
        "o_orderdate": _ts(_day_us(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n_li) / 100.0,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_day_us(rng, n_li, "1995-01-02", "2001-11-04")),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "orders": orders, "lineitem": lineitem}


def documents(rng, sf: float) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; 5% are near copies
    of another document with `` dup`` appended."""
    n = max(int(50_000 * sf), 500)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 101, n)]
    originals = list(texts)
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = originals[(i + 1 + rng.integers(0, n - 1)) % n] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, seed: int, sf: float, names: list[str]) -> dict:
    """Write the named tables as ``<out_dir>/<name>.parquet``; returns
    ``{name: (rows, bytes)}``. Each table family draws from its own
    stream so adding a table never changes another's contents."""
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    if "events" in names:
        tables["events"] = events(np.random.default_rng([seed, 1]), sf)
    if set(names) & {"region", "nation", "customer", "orders", "lineitem"}:
        tables.update(star_tables(np.random.default_rng([seed, 2]), sf))
    if "documents" in names:
        tables["documents"] = documents(np.random.default_rng([seed, 3]), sf)
    out = {}
    for name in names:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path)
        out[name] = (tables[name].num_rows, os.path.getsize(path))
    return out
