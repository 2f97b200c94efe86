"""Seeded generator for the parquet tables of the analytics phase.

Writes the tables the timed ``plans`` queries read, with the column
names and physical types of the repo's fixture tables (TESTDATA.md):

- ``lineitem`` (``q_tpch_q1``): TPC-H columns, ship dates spanning the
  query's 1998-09-02 cut-off so its filter keeps part of the rows;
- ``events`` and ``customer`` (``q_flagship_latest``): an event stream
  over a few hundred users, with exact duplicates of some
  (user, type, time) keys so the query's dedup has work to do.

Values are drawn from ``random.Random(seed)`` alone, so one seed gives
the same files on every host.
"""

from __future__ import annotations

import datetime as dt
import os
import random

#: Rows per table at the benchmark's size.
SIZES = {"lineitem": 40_000, "events": 10_000, "customer": 1_500}
N_USERS = 300
EVENT_TYPES = ("view", "click", "cart", "purchase", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
SHIP_EPOCH = dt.datetime(1995, 1, 1)
EVENT_EPOCH = dt.datetime(2024, 1, 1)


def _lineitem(rng: random.Random, n: int) -> dict:
    cols: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    )}
    order, line = 0, 7
    for _ in range(n):
        if line >= rng.randint(1, 7):
            order, line = order + 1, 0
        line += 1
        qty = rng.randint(1, 50)
        ship = SHIP_EPOCH + dt.timedelta(days=rng.randint(0, 2500))
        cols["l_orderkey"].append(order)
        cols["l_partkey"].append(rng.randint(1, 2000))
        cols["l_suppkey"].append(rng.randint(1, 100))
        cols["l_linenumber"].append(line)
        cols["l_quantity"].append(float(qty))
        cols["l_extendedprice"].append(round(qty * rng.uniform(900, 2000), 2))
        cols["l_discount"].append(rng.randint(0, 10) / 100)
        cols["l_tax"].append(rng.randint(0, 8) / 100)
        cols["l_returnflag"].append(rng.choice("RAN"))
        cols["l_linestatus"].append("F" if ship.year < 1998 else rng.choice("OF"))
        cols["l_shipdate"].append(ship)
    return cols


def _events(rng: random.Random, n: int) -> dict:
    cols: dict[str, list] = {k: [] for k in (
        "event_id", "ts", "user_id", "event_type", "value", "props")}
    for i in range(n):
        if i and rng.random() < 0.05:  # an exact re-send of an earlier event
            j = rng.randrange(i)
            ts, user, kind = cols["ts"][j], cols["user_id"][j], cols["event_type"][j]
        else:
            ts = EVENT_EPOCH + dt.timedelta(
                microseconds=rng.randrange(30 * 86_400 * 10**6))
            user, kind = rng.randrange(N_USERS), rng.choice(EVENT_TYPES)
        cols["event_id"].append(i)
        cols["ts"].append(ts)
        cols["user_id"].append(user)
        cols["event_type"].append(kind)
        cols["value"].append(round(rng.uniform(0, 100), 2))
        cols["props"].append('{"k": %d}' % rng.randrange(100))
    return cols


def _customer(rng: random.Random, n: int) -> dict:
    return {
        "c_custkey": list(range(n)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": [rng.randrange(25) for _ in range(n)],
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n)],
    }


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schemas = {
        "lineitem": pa.schema([
            ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()), ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ]),
        "events": pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string()),
        ]),
        "customer": pa.schema([
            ("c_custkey", pa.int64()), ("c_name", pa.string()),
            ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]),
    }
    makers = {"lineitem": _lineitem, "events": _events, "customer": _customer}
    os.makedirs(out_dir, exist_ok=True)
    for name, make in makers.items():
        # One stream per table, so resizing one leaves the others alone.
        cols = make(random.Random(f"{seed}/{name}"), SIZES[name])
        table = pa.table(cols, schema=schemas[name])
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
