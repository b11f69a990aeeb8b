"""The streaming pipeline job — read-once fan-out to three sinks.

Re-expresses CdcPipelineJob.java:52-91 (SURVEY.md §3.2): one CDC source
→ parse → {raw passthrough, 5-min window aggregate, anomaly alerts}.

The reference reads Kafka once and forwards to all three consumers
inside one Flink DAG; three independent Spark ``writeStream``s would
re-read the source, so raw + agg-partials go through a single
``foreachBatch`` that persists each micro-batch and writes both sinks
(read-once parity — SURVEY.md §4 row 1). The stateful alert stream
needs its own query (state lives in the streaming runtime, not in
foreachBatch).

Live (``synchronous=False``), both queries run on Spark's default
trigger: a micro-batch fires as soon as the previous one has committed
and new topic files exist. That is closer to the reference's
flush-every-200-rows-or-3-s JDBC sink (ClickHouseSinks.java:19-21) than
a fixed interval, which would add half its period to every event's
freshness.

Sinks are Parquet directories (the ClickHouse-tables analog,
clickhouse/init.sql:7-75), month-partitioned like the reference's
``PARTITION BY toYYYYMM``; checkpointing gives exactly-once into the
idempotent-by-batch-id layout (W9; reference: 60 s RocksDB checkpoints,
docker-compose.yml:224-228).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from cdc_realtime_pipeline_spark.cdc.envelope import parse_cdc_events
from cdc_realtime_pipeline_spark.operators.window_agg import trade_window_agg
from cdc_realtime_pipeline_spark.sources.cdc_file_source import read_cdc_stream
from cdc_realtime_pipeline_spark.streaming.anomaly_stateful import apply_anomaly_detector


def _with_event_time(parsed: DataFrame, time_mode: str = "event") -> DataFrame:
    # ``event`` (default): event time from the exchange timestamp —
    # the Spark idiom, strictly stronger than the reference.
    # ``ingest``: ingestion/processing time (current_timestamp at
    # parse), the reference's exact W1 semantics (Flink ran
    # processing-time windows, no watermarks — CdcPipelineJob.java:62,70).
    # Ingest mode is non-deterministic by nature, so only the
    # event-time path is oracle-gated; tests assert count preservation
    # and wall-clock containment for ingest mode.
    if time_mode == "ingest":
        return parsed.withColumn("ts", F.current_timestamp())
    if time_mode != "event":
        raise ValueError(f"unknown time_mode: {time_mode!r}")
    return parsed.withColumn("ts", F.timestamp_millis(F.col("upbit_timestamp")))


def run_cdc_fanout(
    spark: SparkSession,
    stream_dir: str,
    out_base: str,
    checkpoint_base: str,
    synchronous: bool = True,
    time_mode: str = "event",
):
    """Start the raw+agg fan-out query (and return it).

    ``synchronous=True`` processes all available input and stops — the
    test/bench mode. Otherwise batches fire on arrival: each starts when
    the previous one has committed and new files exist (the reference
    flushes every 200 rows or 3 s, ClickHouseSinks.java:19-21).
    ``time_mode`` — see ``_with_event_time`` (``ingest`` = strict
    reference parity).
    """
    raw_dir = os.path.join(out_base, "crypto_trades")
    agg_dir = os.path.join(out_base, "trade_agg_partials")

    parsed = _with_event_time(
        parse_cdc_events(read_cdc_stream(spark, stream_dir)), time_mode
    )

    def fanout(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            # Sink 1: raw passthrough (Stream 3, CdcPipelineJob.java:90-91),
            # month-partitioned at rest (clickhouse/init.sql:25).
            (
                batch_df.withColumn("month", F.date_format("ts", "yyyyMM"))
                .write.mode("append")
                .partitionBy("month")
                .parquet(raw_dir)
            )
            # Sink 2: per-batch window-aggregate *partials* (Stream 1).
            # Partials are re-mergeable at read (sum/min/max/count are
            # associative; avg carried as sum+count) — the
            # AggregatingMergeTree pattern without requiring stream state.
            partials = (
                batch_df.filter(F.col("op").isNotNull())
                .groupBy(F.window("ts", "5 minutes").alias("w"), "market")
                .agg(
                    F.count("*").alias("trade_count"),
                    F.sum(F.when(F.col("ask_bid") == "BID", 1).otherwise(0)).alias("bid_count"),
                    F.sum("trade_amount").alias("total_amount"),
                    F.sum("trade_volume").alias("total_volume"),
                    F.sum("trade_price").alias("price_sum"),
                    F.min("trade_price").alias("min_price"),
                    F.max("trade_price").alias("max_price"),
                )
                .select(
                    F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "market",
                    "trade_count",
                    "bid_count",
                    "total_amount",
                    "total_volume",
                    "price_sum",
                    "min_price",
                    "max_price",
                )
            )
            partials.write.mode("append").parquet(agg_dir)
        finally:
            batch_df.unpersist()

    writer = parsed.writeStream.foreachBatch(fanout).option(
        "checkpointLocation", os.path.join(checkpoint_base, "fanout")
    )
    return start_query(writer, synchronous)


def run_alert_stream(
    spark: SparkSession,
    stream_dir: str,
    out_base: str,
    checkpoint_base: str,
    synchronous: bool = True,
):
    """Start the stateful alert query (Stream 2, CdcPipelineJob.java:80-87)."""
    alerts_dir = os.path.join(out_base, "anomaly_alerts")
    parsed = _with_event_time(parse_cdc_events(read_cdc_stream(spark, stream_dir)))
    alerts = apply_anomaly_detector(parsed)
    writer = (
        alerts.writeStream.format("parquet")
        .option("path", alerts_dir)
        .option("checkpointLocation", os.path.join(checkpoint_base, "alerts"))
        .outputMode("append")
    )
    return start_query(writer, synchronous)


def start_query(writer: DataStreamWriter, synchronous: bool) -> StreamingQuery:
    """Start ``writer``. ``synchronous``: process all available input,
    then stop and return. Otherwise return the running query, whose
    batches fire on arrival (Spark's default trigger)."""
    if synchronous:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if synchronous:
        q.awaitTermination()
    return q


def debug_console_sink(df: DataFrame, label: str = "DEBUG", num_rows: int = 20):
    """S6: the reference's ``.print("AGG")`` debug sinks
    (CdcPipelineJob.java:74,85) — Spark's console format."""
    return (
        df.writeStream.format("console")
        .option("numRows", str(num_rows))
        .option("truncate", "true")
        .queryName(label)
    )


def write_sorted_at_rest(df: DataFrame, out_dir: str, month_col: str = "month") -> None:
    """O4: MergeTree's ``ORDER BY (market, ts, id)`` physical sort-key
    layout (clickhouse/init.sql:26) — month partitions with rows sorted
    within each file so parquet row-group min/max stats give the same
    range-scan locality MergeTree's primary index does."""
    # month leads the sort so the writer's required ordering (partition
    # columns first) is already satisfied — otherwise FileFormatWriter
    # inserts its own non-stable sort by month and scrambles the
    # secondary keys.
    (
        df.repartition(F.col(month_col))
        .sortWithinPartitions(month_col, "market", "upbit_timestamp", "trade_id")
        .write.mode("overwrite")
        .partitionBy(month_col)
        .parquet(out_dir)
    )


def read_merged_trade_agg(spark: SparkSession, out_base: str) -> DataFrame:
    """Merge-at-read of the fan-out's window-agg partials → final
    trade_aggregations relation (FIXTURES.md §A3 schema)."""
    partials = spark.read.parquet(os.path.join(out_base, "trade_agg_partials"))
    merged = partials.groupBy("window_start", "window_end", "market").agg(
        F.sum("trade_count").alias("trade_count"),
        F.sum("bid_count").alias("bid_count"),
        F.sum("total_amount").alias("total_amount"),
        F.sum("total_volume").alias("total_volume"),
        F.sum("price_sum").alias("price_sum"),
        F.min("min_price").alias("min_price"),
        F.max("max_price").alias("max_price"),
    )
    return merged.select(
        "market",
        "window_start",
        "window_end",
        "trade_count",
        "bid_count",
        (F.col("trade_count") - F.col("bid_count")).alias("ask_count"),
        "total_amount",
        "total_volume",
        (F.col("price_sum") / F.col("trade_count")).alias("avg_price"),
        "min_price",
        "max_price",
        F.when(F.col("total_volume") > 0, F.col("total_amount") / F.col("total_volume"))
        .otherwise(F.lit(0.0))
        .alias("vwap"),
    )
