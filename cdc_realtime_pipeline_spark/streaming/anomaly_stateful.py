"""Stateful streaming anomaly detector — the reference's hardest operator.

Re-expresses AnomalyDetector.java (a Flink ``KeyedProcessFunction`` over
five per-market ValueStates — SURVEY.md §2.4 W2-W6) as
``groupBy(market).applyInPandasWithState``:

* state per key: last_price, ema, n_samples, window_start_ms,
  window_count (AnomalyDetector.java:79-97)
* LARGE_TRADE: amount ≥ θ(market)           (…:107-115)
* PRICE_SPIKE: |Δprice|/prev ≥ θ(market)    (…:117-131)
* VOLUME_SURGE: vol ≥ mult × EMA after ≥N samples; EMA seeded with the
  first value, updated e ← (1−α)e + αv      (…:133-154)
* RAPID_TRADES: reset-on-expiry event-time window counter firing
  exactly when the count *reaches* the threshold (``==`` — fire-once,
  …:156-175)

Per-key ordering: Flink processes events one-at-a-time in Kafka
partition order; Spark delivers each key's micro-batch as pandas
chunks, so the detector sorts each key's rows by ``sequential_id``
before applying the sequential rules (SURVEY.md §4 "NEEDS CARE" row —
the one real semantic gap between the engines).

Thresholds are imported from operators.anomaly so the batch analogs,
this detector, and the tests share one definition.

Scale: state is O(5 scalars × #keys), RocksDB-backed (session config);
throughput is Arrow-batched per key — no per-row Python crossings.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cdc_realtime_pipeline_spark.operators.anomaly import (
    _EMA_ALPHA,
    _LARGE_DEFAULT,
    _LARGE_T0,
    _LARGE_T1,
    _RAPID_COUNT,
    _RAPID_WINDOW_MS,
    _SPIKE_DEFAULT,
    _SPIKE_T0,
    _SURGE_MIN_SAMPLES,
    _SURGE_MULT,
)

ALERT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("market", T.StringType()),
        T.StructField("alert_type", T.StringType()),
        T.StructField("trade_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("threshold", T.DoubleType()),
        T.StructField("detected_at_ms", T.LongType()),
    ]
)

# The columns the rules read. Only these cross into Python: Spark turns
# every column of every key's rows into its own pandas Series, and a
# live micro-batch holds one or two rows for most keys.
RULE_INPUTS = (
    "market",
    "trade_id",
    "trade_price",
    "trade_volume",
    "trade_amount",
    "upbit_timestamp",
    "sequential_id",
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_price", T.DoubleType()),
        T.StructField("ema", T.DoubleType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("window_start_ms", T.LongType()),
        T.StructField("window_count", T.LongType()),
    ]
)


def _large_threshold(market: str) -> float:
    # per-market tiers (AnomalyDetector.java:182-186); numeric keys use
    # the fixture's %3 tiering so batch analogs agree.
    try:
        key = int(market.split("-")[-1])
    except (ValueError, IndexError):
        return _LARGE_DEFAULT
    return (_LARGE_T0, _LARGE_T1, _LARGE_DEFAULT)[key % 3]


def _spike_threshold(market: str) -> float:
    try:
        key = int(market.split("-")[-1])
    except (ValueError, IndexError):
        return _SPIKE_DEFAULT
    return _SPIKE_T0 if key % 3 == 0 else _SPIKE_DEFAULT


def detect_anomalies_batch_of_key(
    market: str, pdf: pd.DataFrame, st: dict[str, Any]
) -> tuple[list[dict], dict[str, Any]]:
    """Apply the four rules over one key's rows (sorted) given state.

    Pure function (pandas in, alerts + new state out) so unit tests can
    drive it without a streaming query.
    """
    alerts: list[dict] = []
    if len(pdf) > 1:
        pdf = pdf.sort_values("sequential_id")
    lt = _large_threshold(market)
    spt = _spike_threshold(market)
    # plain column lists: a live micro-batch holds one or two rows per
    # key, where itertuples' per-call namedtuple class dominated the cost
    rows = zip(
        *(pdf[c].tolist() for c in ("trade_price", "trade_volume", "trade_amount",
                                    "upbit_timestamp", "trade_id"))
    )
    for price, vol, amount, ts_ms, tid in rows:
        price = float(price)
        vol = float(vol)
        amount = float(amount)
        ts_ms = int(ts_ms)
        tid = int(tid)

        # LARGE_TRADE (stateless)
        if amount >= lt:
            alerts.append(
                dict(market=market, alert_type="LARGE_TRADE", trade_id=tid,
                     value=amount, threshold=lt, detected_at_ms=ts_ms)
            )
        # PRICE_SPIKE vs previous event's price
        last_price = st.get("last_price")
        if last_price is not None and last_price > 0:
            rate = abs(price - last_price) / last_price
            if rate >= spt:
                alerts.append(
                    dict(market=market, alert_type="PRICE_SPIKE", trade_id=tid,
                         value=rate, threshold=spt, detected_at_ms=ts_ms)
                )
        st["last_price"] = price

        # VOLUME_SURGE vs EMA of prior volumes (check before update)
        ema = st.get("ema")
        n = st.get("n_samples", 0)
        if ema is not None and n >= _SURGE_MIN_SAMPLES and ema > 0 and vol >= _SURGE_MULT * ema:
            alerts.append(
                dict(market=market, alert_type="VOLUME_SURGE", trade_id=tid,
                     value=vol, threshold=_SURGE_MULT * ema, detected_at_ms=ts_ms)
            )
        # EMA update: seed with first value (AnomalyDetector.java:149-153)
        st["ema"] = vol if ema is None else (1 - _EMA_ALPHA) * ema + _EMA_ALPHA * vol
        st["n_samples"] = n + 1

        # RAPID_TRADES: reset-on-expiry window counter, fire exactly at ==N
        wstart = st.get("window_start_ms")
        wcount = st.get("window_count", 0)
        if wstart is None or ts_ms - wstart > _RAPID_WINDOW_MS:
            wstart, wcount = ts_ms, 1
        else:
            wcount += 1
        if wcount == _RAPID_COUNT:
            alerts.append(
                dict(market=market, alert_type="RAPID_TRADES", trade_id=tid,
                     value=float(wcount), threshold=float(_RAPID_COUNT),
                     detected_at_ms=ts_ms)
            )
        st["window_start_ms"], st["window_count"] = wstart, wcount
    return alerts, st


def _detector(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    market = key[0]
    if state.exists:
        lp, ema, n, ws, wc = state.get
        st = {
            "last_price": lp,
            "ema": ema,
            "n_samples": n or 0,
            "window_start_ms": ws,
            "window_count": wc or 0,
        }
    else:
        st = {}
    chunks = list(pdfs)
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    alerts, st = detect_anomalies_batch_of_key(market, pdf, st)
    state.update(
        (
            st.get("last_price"),
            st.get("ema"),
            st.get("n_samples", 0),
            st.get("window_start_ms"),
            st.get("window_count", 0),
        )
    )
    if alerts:
        yield pd.DataFrame(alerts)


def apply_anomaly_detector(parsed: DataFrame) -> DataFrame:
    """parsed CDC events (stream or batch-shaped) → alert stream.

    Insert-only filter first (op='c', CdcPipelineJob.java:80), then
    keyed stateful processing over ``RULE_INPUTS`` only.
    """
    inserts = parsed.filter(F.col("op") == "c").select(*RULE_INPUTS)
    return inserts.groupBy("market").applyInPandasWithState(
        _detector,
        outputStructType=ALERT_OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
