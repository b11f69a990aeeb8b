"""Streaming runtime: fan-out job, exactly-once restart, stateful
alerts, MV maintenance (SURVEY.md §5 item 3).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from cdc_realtime_pipeline_spark.cdc.envelope import (
    parse_cdc_events,
    synthesize_cdc_json_from_events,
)
from cdc_realtime_pipeline_spark.session import load_table
from cdc_realtime_pipeline_spark.sources.cdc_file_source import (
    read_cdc_batch,
    write_cdc_json_files,
)
from cdc_realtime_pipeline_spark.streaming.job import (
    read_merged_trade_agg,
    run_alert_stream,
    run_cdc_fanout,
)
from cdc_realtime_pipeline_spark.streaming.mv import (
    compact_latency_mv,
    latency_partials,
    read_latency_mv,
    start_latency_mv,
)


def _make_stream(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="cdc_in_")
    write_cdc_json_files(synthesize_cdc_json_from_events(events), d)
    return d, events.count()


def test_fanout_raw_and_agg_sinks(spark, sf_dir):
    stream_dir, n_events = _make_stream(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="cdc_out_")
    ckpt = tempfile.mkdtemp(prefix="cdc_ck_")

    run_cdc_fanout(spark, stream_dir, out, ckpt)

    raw = spark.read.parquet(os.path.join(out, "crypto_trades"))
    assert raw.count() == n_events  # every change event lands raw
    assert "month" in raw.columns  # toYYYYMM-style partitioning

    merged = read_merged_trade_agg(spark, out)
    # merged partials must equal a direct batch aggregate of the parse
    batch = parse_cdc_events(read_cdc_batch(spark, stream_dir)).withColumn(
        "ts", F.timestamp_millis("upbit_timestamp")
    )
    expect = (
        batch.filter(F.col("op").isNotNull())
        .groupBy(F.window("ts", "5 minutes"), "market")
        .agg(F.count("*").alias("n"), F.sum("trade_amount").alias("amt"))
    )
    got = merged.agg(
        F.sum("trade_count").alias("n"), F.round(F.sum("total_amount"), 2).alias("amt")
    ).collect()[0]
    want = expect.agg(
        F.sum("n").alias("n"), F.round(F.sum("amt"), 2).alias("amt")
    ).collect()[0]
    assert got["n"] == want["n"]
    assert got["amt"] == want["amt"]


def test_fanout_exactly_once_on_restart(spark, sf_dir):
    # re-running with the same checkpoint must not duplicate output (W9)
    stream_dir, n_events = _make_stream(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="cdc_out_")
    ckpt = tempfile.mkdtemp(prefix="cdc_ck_")
    run_cdc_fanout(spark, stream_dir, out, ckpt)
    run_cdc_fanout(spark, stream_dir, out, ckpt)  # restart, nothing new
    raw = spark.read.parquet(os.path.join(out, "crypto_trades"))
    assert raw.count() == n_events


def test_alert_stream_matches_pure_function(spark, sf_dir):
    import pandas as pd

    from cdc_realtime_pipeline_spark.streaming.anomaly_stateful import (
        detect_anomalies_batch_of_key,
    )

    stream_dir, _ = _make_stream(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="cdc_out_")
    ckpt = tempfile.mkdtemp(prefix="cdc_ck_")
    run_alert_stream(spark, stream_dir, out, ckpt)
    got = (
        spark.read.parquet(os.path.join(out, "anomaly_alerts"))
        .select("market", "alert_type", "trade_id")
        .collect()
    )
    got_set = {(r["market"], r["alert_type"], r["trade_id"]) for r in got}

    # reference computation: one pass per key over the full ordered data
    batch = (
        parse_cdc_events(read_cdc_batch(spark, stream_dir))
        .filter(F.col("op") == "c")
        .toPandas()
    )
    want_set = set()
    for market, g in batch.groupby("market"):
        alerts, _ = detect_anomalies_batch_of_key(market, g, {})
        want_set |= {(a["market"], a["alert_type"], a["trade_id"]) for a in alerts}
    assert got_set == want_set


def test_snapshot_union_tail_backfill(spark, sf_dir):
    # S2: Debezium's snapshot-then-tail ≙ batch backfill ∪ streaming
    # tail (SURVEY.md §2.1). Split the topic files in two; batch-read
    # the "snapshot" half, stream the "tail" half, union must equal a
    # full batch read.
    import glob
    import shutil

    from cdc_realtime_pipeline_spark.streaming.stream_queries import _memory_sink

    stream_dir, n_events = _make_stream(spark, sf_dir)
    files = sorted(glob.glob(os.path.join(stream_dir, "part-*")))
    assert len(files) >= 2
    snap_dir = tempfile.mkdtemp(prefix="snap_")
    tail_dir = tempfile.mkdtemp(prefix="tail_")
    half = len(files) // 2
    for f in files[:half]:
        shutil.copy(f, snap_dir)
    for f in files[half:]:
        shutil.copy(f, tail_dir)

    snapshot = parse_cdc_events(read_cdc_batch(spark, snap_dir))
    tail = parse_cdc_events(spark.readStream.format("text").load(tail_dir))
    tail_materialized = _memory_sink(tail, "append")
    combined = snapshot.unionByName(tail_materialized)
    assert combined.count() == n_events
    assert combined.select("sequential_id").distinct().count() == n_events


def test_sorted_at_rest_layout(spark, sf_dir):
    # O4: MergeTree ORDER BY layout — files sorted by (market, ts, id)
    from cdc_realtime_pipeline_spark.streaming.job import write_sorted_at_rest

    stream_dir, _ = _make_stream(spark, sf_dir)
    parsed = parse_cdc_events(read_cdc_batch(spark, stream_dir)).withColumn(
        "ts", F.timestamp_millis("upbit_timestamp")
    )
    out = tempfile.mkdtemp(prefix="sorted_") + "/t"
    write_sorted_at_rest(parsed.withColumn("month", F.date_format("ts", "yyyyMM")), out)
    # within any single file, rows must be non-decreasing on the sort key
    import glob as g

    some_file = sorted(g.glob(os.path.join(out, "month=*", "*.parquet")))[0]
    pdf = spark.read.parquet(some_file).select("market", "upbit_timestamp").toPandas()
    key = list(zip(pdf["market"], pdf["upbit_timestamp"]))
    assert key == sorted(key)


def test_stateful_alert_stream_recovers_state_across_restart(spark, sf_dir):
    # W9 for the stateful path: stop after half the input, restart from
    # the checkpoint with the rest — alerts must equal a one-shot run
    # (PRICE_SPIKE/EMA state crosses the restart boundary)
    # split by event-id range (arrival order, like a time-ordered
    # topic) — an arbitrary file split would interleave each key's
    # sequence across batches, which no ordered transport does
    import shutil

    events = load_table(spark, sf_dir, "events")
    median = events.approxQuantile("event_id", [0.5], 0.0)[0]
    first = events.filter(F.col("event_id") <= median)
    second = events.filter(F.col("event_id") > median)

    staged = tempfile.mkdtemp(prefix="staged_")
    out = tempfile.mkdtemp(prefix="alerts_out_")
    ckpt = tempfile.mkdtemp(prefix="alerts_ck_")

    def _stage(df, tag):
        d = tempfile.mkdtemp(prefix=f"half_{tag}_")
        write_cdc_json_files(synthesize_cdc_json_from_events(df), d)
        for i, f in enumerate(sorted(os.listdir(d))):
            if not f.startswith("part-"):
                continue
            shutil.copy(os.path.join(d, f), os.path.join(staged, f"{tag}-{i}.txt"))

    _stage(first, "a")
    run_alert_stream(spark, staged, out, ckpt)
    _stage(second, "b")
    run_alert_stream(spark, staged, out, ckpt)  # restart: resumes state

    restarted = {
        (r["market"], r["alert_type"], r["trade_id"])
        for r in spark.read.parquet(os.path.join(out, "anomaly_alerts")).collect()
    }

    out2 = tempfile.mkdtemp(prefix="alerts_once_")
    ck2 = tempfile.mkdtemp(prefix="alerts_onceck_")
    oneshot_dir = tempfile.mkdtemp(prefix="oneshot_src_")
    write_cdc_json_files(synthesize_cdc_json_from_events(events), oneshot_dir)
    run_alert_stream(spark, oneshot_dir, out2, ck2)
    oneshot = {
        (r["market"], r["alert_type"], r["trade_id"])
        for r in spark.read.parquet(os.path.join(out2, "anomaly_alerts")).collect()
    }
    assert restarted == oneshot


def test_corrupt_records_mid_stream_do_not_kill_the_query(spark, sf_dir):
    # failure-injection analog (SURVEY §5): malformed JSON lines and
    # tombstones interleaved with good events — the stream completes
    # and parses exactly the good rows
    from cdc_realtime_pipeline_spark.streaming.stream_queries import _memory_sink

    stream_dir, n_events = _make_stream(spark, sf_dir)
    with open(os.path.join(stream_dir, "part-corrupt.txt"), "w") as f:
        f.write("{broken json\n\nnot json at all\n{\"payload\": null}\n")
    parsed = parse_cdc_events(spark.readStream.format("text").load(stream_dir))
    res = _memory_sink(parsed, "append")
    assert res.count() == n_events  # good rows all parsed, bad rows dropped


def test_latency_mv_merge_and_compact(spark, sf_dir):
    stream_dir, _ = _make_stream(spark, sf_dir)
    mv_dir = tempfile.mkdtemp(prefix="mv_") + "/t"
    ckpt = tempfile.mkdtemp(prefix="mv_ck_")
    parsed = parse_cdc_events(
        spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(stream_dir)
    ).withColumn("ts", F.timestamp_millis("upbit_timestamp"))
    start_latency_mv(spark, parsed, mv_dir, ckpt)

    # merge-at-read equals a direct batch aggregate
    batch = parse_cdc_events(read_cdc_batch(spark, stream_dir)).withColumn(
        "ts", F.timestamp_millis("upbit_timestamp")
    )
    direct = latency_partials(batch)
    mv = read_latency_mv(spark, mv_dir)
    d = direct.agg(F.sum("sum_latency").alias("s"), F.sum("cnt").alias("c")).collect()[0]
    m = mv.agg(F.sum(F.col("avg_latency") * F.col("n")).alias("s"), F.sum("n").alias("c")).collect()[0]
    assert m["c"] == d["c"]
    assert abs(m["s"] - d["s"]) < 1e-6

    # background-merge parity: compaction must not change answers
    before = {r["minute"]: r.asDict() for r in mv.collect()}
    compact_latency_mv(spark, mv_dir)
    after = {r["minute"]: r.asDict() for r in read_latency_mv(spark, mv_dir).collect()}
    assert before == after


def test_fanout_ingest_time_mode(spark, sf_dir):
    """W1 strict-parity mode: processing/ingestion-time windows (the
    reference ran processing time, no watermarks). Non-deterministic by
    nature, so assert the invariants instead of values: every event
    lands exactly once, and every assigned window covers wall-clock
    time inside the run's span."""
    import datetime

    stream_dir, n_events = _make_stream(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="cdc_out_ing_")
    ckpt = tempfile.mkdtemp(prefix="cdc_ck_ing_")

    t0 = datetime.datetime.now() - datetime.timedelta(minutes=5)
    run_cdc_fanout(spark, stream_dir, out, ckpt, time_mode="ingest")
    t1 = datetime.datetime.now() + datetime.timedelta(minutes=5)

    raw = spark.read.parquet(os.path.join(out, "crypto_trades"))
    assert raw.count() == n_events
    partials = spark.read.parquet(os.path.join(out, "trade_agg_partials"))
    assert partials.agg(F.sum("trade_count")).collect()[0][0] == n_events
    bad = partials.filter(
        (F.col("window_end") < F.lit(t0)) | (F.col("window_start") > F.lit(t1))
    )
    assert bad.count() == 0


def test_stream_topk_per_window_board_invariants(spark, sf_dir):
    from pyspark.sql import functions as F

    from cdc_realtime_pipeline_spark.session import load_table
    from cdc_realtime_pipeline_spark.streaming.stream_queries import (
        stream_topk_per_window,
    )

    rows = stream_topk_per_window(spark, sf_dir).collect()
    n_types = (
        load_table(spark, sf_dir, "events").select("event_type").distinct().count()
    )
    boards: dict = {}
    for r in rows:
        boards.setdefault(r.window_start, []).append(r)
    for win, board in boards.items():
        assert 1 <= len(board) <= min(3, n_types)
        assert [b.rk for b in board] == list(range(1, len(board) + 1))
        # counts non-increasing down the board; equal counts ordered by type
        for a, b in zip(board, board[1:]):
            assert a.n > b.n or (a.n == b.n and a.event_type < b.event_type)


# ---------------------------------------------------------------- live path

_OLD_CHECKPOINT_CONF = {
    # the settings checkpoints were written under before get_spark
    # switched manager and enabled RocksDB changelogs
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "false",
}


def _stage_waves(spark, sf_dir, n):
    """Split ``events`` by event-id range (arrival order) into ``n``
    waves, each one staged topic file, so every key's events stay in
    order however the live stream batches the waves."""
    events = load_table(spark, sf_dir, "events")
    cuts = events.approxQuantile("event_id", [i / n for i in range(1, n)], 0.0)
    bounds = [None, *cuts, None]
    waves = []
    for lo, hi in zip(bounds, bounds[1:]):
        wave = events
        if lo is not None:
            wave = wave.filter(F.col("event_id") > lo)
        if hi is not None:
            wave = wave.filter(F.col("event_id") <= hi)
        d = tempfile.mkdtemp(prefix="wave_")
        write_cdc_json_files(synthesize_cdc_json_from_events(wave), d, n_files=1)
        (part,) = [f for f in os.listdir(d) if f.startswith("part-")]
        waves.append(os.path.join(d, part))
    ids = sorted(r["event_id"] for r in events.select("event_id").collect())
    return waves, ids


def _publish(wave, topic, i):
    # one rename: the stream source never sees a partial file
    os.rename(wave, os.path.join(topic, f"wave-{i:02d}.json"))


def _pipeline_output(spark, out):
    """(raw trade ids, merged aggregate, alerts) of a fan-out + alert
    run, sorted for comparison."""
    raw = spark.read.parquet(os.path.join(out, "crypto_trades"))
    ids = sorted(r["trade_id"] for r in raw.select("trade_id").collect())
    agg_key = ["window_start", "market"]
    merged = read_merged_trade_agg(spark, out).toPandas()
    merged = merged.sort_values(agg_key).reset_index(drop=True)
    alert_key = ["market", "alert_type", "trade_id"]
    alerts = spark.read.parquet(os.path.join(out, "anomaly_alerts")).toPandas()
    alerts = alerts[[*alert_key, "value", "threshold", "detected_at_ms"]]
    alerts = alerts.sort_values(alert_key).reset_index(drop=True)
    return ids, merged, alerts


def test_live_fanout_and_alerts_across_waves_and_restart(spark, sf_dir):
    # synchronous=False: the live path, batches firing on arrival. Three
    # waves, a stop, then a restart on the same checkpoints with a fourth.
    import pandas as pd

    from cdc_realtime_pipeline_spark.streaming.anomaly_stateful import (
        detect_anomalies_batch_of_key,
    )

    waves, ids = _stage_waves(spark, sf_dir, 4)
    topic = tempfile.mkdtemp(prefix="live_topic_")
    out = tempfile.mkdtemp(prefix="live_out_")
    ckpt = tempfile.mkdtemp(prefix="live_ck_")

    def run_waves(wave_ids):
        queries = [
            run_cdc_fanout(spark, topic, out, ckpt, synchronous=False),
            run_alert_stream(spark, topic, out, ckpt, synchronous=False),
        ]
        try:
            for i in wave_ids:
                _publish(waves[i], topic, i)
                for q in queries:
                    q.processAllAvailable()
        finally:
            for q in queries:
                q.stop()

    run_waves([0, 1, 2])
    run_waves([3])

    got_ids, merged, alerts = _pipeline_output(spark, out)
    assert got_ids == ids  # every event exactly once

    # merged partials = one batch aggregate over the raw sink
    raw = spark.read.parquet(os.path.join(out, "crypto_trades")).filter(F.col("op").isNotNull())
    want_agg = (
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
        .sort_values(["window_start", "market"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        merged[list(want_agg.columns)], want_agg, check_exact=False, rtol=1e-9, check_dtype=False
    )

    # alerts = one pass of the detector per key over the whole topic
    batch = parse_cdc_events(read_cdc_batch(spark, topic)).filter(F.col("op") == "c").toPandas()
    replay = []
    for market, g in batch.groupby("market"):
        replay.extend(detect_anomalies_batch_of_key(market, g, {})[0])
    want_alerts = (
        pd.DataFrame(replay, columns=list(alerts.columns))
        .sort_values(["market", "alert_type", "trade_id"])
        .reset_index(drop=True)
    )
    assert len(want_alerts) > 0
    pd.testing.assert_frame_equal(alerts, want_alerts, check_exact=False, rtol=1e-9, check_dtype=False)


def _checkpoint_manager(spark, path):
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    return manager.create(jvm.org.apache.hadoop.fs.Path(path), conf).getClass().getSimpleName()


def _state_files(ckpt, suffix):
    return [f for _, _, fs in os.walk(os.path.join(ckpt, "alerts", "state")) for f in fs
            if f.endswith(suffix)]


def test_checkpoints_from_old_settings_resume_under_new_defaults(spark, sf_dir):
    # Recovery of checkpoints that predate get_spark's streaming confs:
    # half the topic under the old settings, the rest resumed under the
    # defaults, must equal one uninterrupted run.
    import pandas as pd

    waves, _ = _stage_waves(spark, sf_dir, 2)
    topic = tempfile.mkdtemp(prefix="compat_topic_")
    out = tempfile.mkdtemp(prefix="compat_out_")
    ckpt = tempfile.mkdtemp(prefix="compat_ck_")
    assert _checkpoint_manager(spark, ckpt) == "FileSystemBasedCheckpointFileManager"

    _publish(waves[0], topic, 0)
    saved = {k: spark.conf.get(k, None) for k in _OLD_CHECKPOINT_CONF}
    try:
        for k, v in _OLD_CHECKPOINT_CONF.items():
            spark.conf.set(k, v)
        assert _checkpoint_manager(spark, ckpt) == "FileContextBasedCheckpointFileManager"
        run_cdc_fanout(spark, topic, out, ckpt)
        run_alert_stream(spark, topic, out, ckpt)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # RocksDB wrote full snapshots, no changelogs, under the old settings
    assert _state_files(ckpt, ".zip") and not _state_files(ckpt, ".changelog")

    _publish(waves[1], topic, 1)
    run_cdc_fanout(spark, topic, out, ckpt)
    run_alert_stream(spark, topic, out, ckpt)
    assert _state_files(ckpt, ".changelog")  # resumed under the new defaults

    once_out = tempfile.mkdtemp(prefix="compat_once_out_")
    once_ckpt = tempfile.mkdtemp(prefix="compat_once_ck_")
    run_cdc_fanout(spark, topic, once_out, once_ckpt)
    run_alert_stream(spark, topic, once_out, once_ckpt)
    got, want = _pipeline_output(spark, out), _pipeline_output(spark, once_out)
    assert got[0] == want[0]
    for g, w in zip(got[1:], want[1:]):
        pd.testing.assert_frame_equal(g, w, check_exact=False, rtol=1e-9)
