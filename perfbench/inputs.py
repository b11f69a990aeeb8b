"""Seeded inputs for the benchmark.

``write_tables`` writes the fixture tables the benchmark's queries read
(the TPC-H-ish star schema and ``events``) with the same schemas and
value distributions as the test fixtures, scaled by ``sf``.
``cdc_lines`` turns ``events`` rows into Debezium-JSON change events,
the topic the streaming jobs read. The same seed always gives the same
tables and the same events.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
_SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_PART_TYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
_PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
_PART_NOUN = ["bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "nut"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")


def _write(df: pd.DataFrame, sf_dir: str, name: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def _days(rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, span_days, n).astype("timedelta64[D]")


def events_frame(seed: int, n: int) -> pd.DataFrame:
    """``events`` rows: ids in order, event times spread over 30 days."""
    rng = np.random.default_rng([seed, 1])
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _EPOCH_2024 + rng.integers(0, 30 * 86_400_000_000, n).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_tables(sf_dir: str, seed: int, sf: float) -> None:
    """Write every fixture table at scale ``sf`` into ``sf_dir``."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_orders, n_line = int(1_500_000 * sf), int(6_000_000 * sf)

    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}), sf_dir, "region")
    _write(
        pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        sf_dir,
        "nation",
    )
    _write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
            }
        ),
        sf_dir,
        "customer",
    )
    _write(
        pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        sf_dir,
        "supplier",
    )
    _write(
        pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(_PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
            }
        ),
        sf_dir,
        "part",
    )
    _write(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
                "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
                "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
                "o_orderdate": _days(rng, n_orders, 2400),
                "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
            }
        ),
        sf_dir,
        "orders",
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    flag = rng.integers(0, 6, n_line)
    _write(
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[flag // 2],
                "l_linestatus": np.array(["F", "O"])[flag % 2],
                "l_shipdate": _days(rng, n_line, 2500),
            }
        ),
        sf_dir,
        "lineitem",
    )
    _write(events_frame(seed, int(1_000_000 * sf)), sf_dir, "events")


def parsed_frame(events: pd.DataFrame) -> pd.DataFrame:
    """What ``parse_cdc_events`` yields for ``cdc_lines(events, ...)``."""
    k = np.array([float(json.loads(p)["k"]) for p in events["props"]])
    return pd.DataFrame(
        {
            "trade_id": events["event_id"].to_numpy(),
            "market": "M-" + events["user_id"].astype(str),
            "trade_price": events["value"].to_numpy(),
            "trade_volume": k,
            "trade_amount": events["value"].to_numpy() * k,
            "upbit_timestamp": events["ts"].to_numpy().astype("datetime64[ms]").astype(np.int64),
            "sequential_id": events["event_id"].to_numpy(),
            "op": np.where(events["event_type"] == "error", "d", "c"),
        }
    )


def cdc_lines(events: pd.DataFrame, stamps_ms: np.ndarray) -> list[str]:
    """Debezium-JSON change events for ``events`` rows, one per line.

    The same mapping as ``cdc.envelope.synthesize_cdc_json_from_events``
    (``error`` rows become deletes, ``user_id`` the market key), except
    that ``ts_ms`` and ``source.ts_ms`` carry ``stamps_ms``: the time
    the event was created.
    """
    out = []
    for row, stamp in zip(events.itertuples(index=False), stamps_ms.tolist()):
        k = float(json.loads(row.props)["k"])
        image = {
            "trade_id": row.event_id,
            "market": f"M-{row.user_id}",
            "trade_price": repr(row.value),
            "trade_volume": repr(k),
            "trade_amount": repr(row.value * k),
            "ask_bid": "BID" if row.event_type in ("click", "purchase") else "ASK",
            "upbit_timestamp": int(row.ts.value // 1_000_000),
            "sequential_id": row.event_id,
        }
        is_delete = row.event_type == "error"
        payload = {
            "before": image if is_delete else None,
            "after": None if is_delete else image,
            "source": {"ts_ms": stamp, "db": "crypto_db", "table": "crypto_trades"},
            "op": "d" if is_delete else "c",
            "ts_ms": stamp,
        }
        out.append(json.dumps({"payload": payload}))
    return out
