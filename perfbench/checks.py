"""Output checks. Each returns a list of problems; empty means correct."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from tools.check_correctness import value_hash


class Oracle:
    """DuckDB views over a fixture directory, to run registry oracles."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for f in sorted(os.listdir(sf_dir)):
            table, _ = os.path.splitext(f)
            path = os.path.join(sf_dir, f)
            self.con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")

    def compare(self, name: str, sql: str, rows, columns) -> list[str]:
        tbl = self.con.execute(sql).fetch_arrow_table()
        d_cols = list(tbl.column_names)
        d_rows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_rows else []
        if len(rows) != len(d_rows):
            return [f"{name}: {len(rows)} rows, oracle {len(d_rows)}"]
        if sorted(columns) != sorted(d_cols):
            return [f"{name}: columns {sorted(columns)}, oracle {sorted(d_cols)}"]
        if value_hash([tuple(r) for r in rows], list(columns)) != value_hash(d_rows, d_cols):
            return [f"{name}: value hash differs from oracle"]
        return []


def exactly_once(trade_ids: np.ndarray, n: int) -> tuple[int, int]:
    """(missing, extra) ids of ``trade_ids`` against ``range(n)``."""
    counts = np.bincount(trade_ids[(trade_ids >= 0) & (trade_ids < n)], minlength=n)
    outside = int(((trade_ids < 0) | (trade_ids >= n)).sum())
    return int((counts == 0).sum()), int(np.clip(counts - 1, 0, None).sum()) + outside


def replay_alerts(parsed: pd.DataFrame) -> pd.DataFrame:
    """The detector's alerts over ``parsed`` events, one key at a time in
    ``sequential_id`` order, as the stream sees them when every key's
    events arrive in order across micro-batches."""
    from cdc_realtime_pipeline_spark.streaming.anomaly_stateful import (
        detect_anomalies_batch_of_key,
    )

    out: list[dict] = []
    for market, pdf in parsed[parsed["op"] == "c"].groupby("market"):
        alerts, _ = detect_anomalies_batch_of_key(market, pdf, {})
        out.extend(alerts)
    return pd.DataFrame(out, columns=["market", "alert_type", "trade_id", "value",
                                      "threshold", "detected_at_ms"])


def same_alerts(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    key = ["market", "alert_type", "trade_id"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    if len(g) != len(w):
        return [f"alerts: {len(g)} rows, replay {len(w)}"]
    if not (g[key] == w[key]).all().all() or not (g["detected_at_ms"] == w["detected_at_ms"]).all():
        return ["alerts: keys differ from replay"]
    for c in ("value", "threshold"):
        if not np.allclose(g[c].to_numpy(float), w[c].to_numpy(float), rtol=1e-9, atol=0):
            return [f"alerts: {c} differs from replay"]
    return []


def merged_agg_matches(spark, raw_dir: str, merged) -> list[str]:
    """``read_merged_trade_agg`` against the same aggregate recomputed
    in one batch from the raw sink."""
    from pyspark.sql import functions as F

    raw = spark.read.parquet(raw_dir).filter(F.col("op").isNotNull())
    want = (
        raw.groupBy(F.window("ts", "5 minutes").alias("w"), "market")
        .agg(
            F.count("*").alias("trade_count"),
            F.sum(F.when(F.col("ask_bid") == "BID", 1).otherwise(0)).alias("bid_count"),
            F.sum("trade_amount").alias("total_amount"),
            F.sum("trade_volume").alias("total_volume"),
            F.min("trade_price").alias("min_price"),
            F.max("trade_price").alias("max_price"),
        )
        .select(F.col("w.start").alias("window_start"), "market", "trade_count", "bid_count",
                "total_amount", "total_volume", "min_price", "max_price")
        .toPandas()
    )
    key = ["window_start", "market"]
    got = merged.toPandas().sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    if len(got) != len(want) or not (got[key] == want[key]).all().all():
        return [f"merged aggregate: {len(got)} groups, recomputation {len(want)}"]
    for c in ("trade_count", "bid_count", "total_amount", "total_volume", "min_price", "max_price"):
        if not np.allclose(got[c].to_numpy(float), want[c].to_numpy(float), rtol=1e-9):
            return [f"merged aggregate: {c} differs from recomputation"]
    return []
