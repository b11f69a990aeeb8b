"""Incrementally-maintained summary table (materialized-view analog).

The reference maintains per-minute CDC-latency stats in a ClickHouse
AggregatingMergeTree MV (``mv_latency_stats`` with avg/max/min/count
*State combinators, merged at read — clickhouse/init.sql:81-94,
SURVEY.md §2.3 A8).

Spark restatement: each micro-batch appends its per-minute **partials**
(sum, count, min, max — the associative state the *State combinators
carry) to a summary parquet table; reads merge partials and finalize
(avg = Σsum/Σcount). Append-only partials + merge-at-read is exactly
the AggregatingMergeTree contract, needs no stream-side state, and a
periodic compaction (``compact_latency_mv``) keeps the partial count
bounded — on a Delta/Iceberg deployment the compaction becomes a MERGE
upsert instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_realtime_pipeline_spark.streaming.job import start_query


def latency_partials(batch_df: DataFrame) -> DataFrame:
    """Per-minute latency partial state for one micro-batch
    (op IN ('c','u','d') filter — clickhouse/init.sql:93)."""
    return (
        batch_df.filter(F.col("op").isin("c", "u", "d"))
        .withColumn("minute", F.date_trunc("minute", F.col("ts")))
        .groupBy("minute")
        .agg(
            F.sum("cdc_latency_ms").alias("sum_latency"),
            F.count("*").alias("cnt"),
            F.min("cdc_latency_ms").alias("min_latency"),
            F.max("cdc_latency_ms").alias("max_latency"),
        )
    )


def start_latency_mv(
    spark: SparkSession, parsed_stream: DataFrame, mv_dir: str, checkpoint_dir: str,
    synchronous: bool = True,
):
    """Maintain the MV from a parsed CDC stream via foreachBatch."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        latency_partials(batch_df).write.mode("append").parquet(mv_dir)

    writer = parsed_stream.writeStream.foreachBatch(upsert).option(
        "checkpointLocation", checkpoint_dir
    )
    return start_query(writer, synchronous)


def read_latency_mv(spark: SparkSession, mv_dir: str) -> DataFrame:
    """Merge-at-read: finalize avg/min/max/count from partials
    (≙ avgMerge/minMerge/maxMerge/countMerge)."""
    partials = spark.read.parquet(mv_dir)
    return (
        partials.groupBy("minute")
        .agg(
            (F.sum("sum_latency") / F.sum("cnt")).alias("avg_latency"),
            F.min("min_latency").alias("min_latency"),
            F.max("max_latency").alias("max_latency"),
            F.sum("cnt").alias("n"),
        )
        .orderBy("minute")
    )


def compact_latency_mv(spark: SparkSession, mv_dir: str) -> None:
    """Fold accumulated partials into one row per minute (the merge the
    MergeTree engine does in the background). Atomic via staged rewrite."""
    partials = spark.read.parquet(mv_dir)
    compacted = partials.groupBy("minute").agg(
        F.sum("sum_latency").alias("sum_latency"),
        F.sum("cnt").alias("cnt"),
        F.min("min_latency").alias("min_latency"),
        F.max("max_latency").alias("max_latency"),
    )
    tmp = mv_dir.rstrip("/") + "__compact_tmp"
    compacted.write.mode("overwrite").parquet(tmp)
    import shutil

    shutil.rmtree(mv_dir)
    os.rename(tmp, mv_dir)
