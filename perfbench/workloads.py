"""The benchmark's workloads.

Each workload drives the pipeline only through the package's public
functions, measures for ``Run.seconds`` after an untimed warm-up,
checks every output, and records its metrics on the ``Run``.

Both workloads recover from a backlog, then take an open loop of
Debezium-JSON events into the fan-out and the alert query, beside one
closed-loop dashboard client, at two fixed rates (``LIVE``). End-to-end
metrics, per event:

* ``setup_s``: session start, input generation and warm-up.
* ``latency_p50_s`` / ``latency_p90_s``: freshness, from an event's
  creation stamp to the moment its row is readable in the raw sink.
* ``throughput_per_s``: rows made readable per second.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import dataclasses
import json
import os
import statistics
import threading
import time

import numpy as np

from perfbench import checks, inputs, probe

TICK_S = 0.2  # the generator writes one topic file per tick
REFRESH_PERIOD_S = 10.0  # the reference dashboard's refresh period
WARMUP_S = 3.0
QUERY_SF = 0.001
QUERY_PASSES = 2  # timed passes after the cold one
BACKLOG_EVENTS = 5_000
# One representative registry query per operator family, for the traced
# run of ``live_100tps`` (see perfbench/README.md).
LAYER_QUERIES = (
    "window_agg_5m",
    "alerts_rapid_trades_reset",
    "top_parts_per_supplier",
    "tpch_q8_like",
    "orders_dq_profile",
    "cdc_python_datasource_roundtrip",
)


@dataclasses.dataclass(frozen=True)
class Live:
    rate: float  # events per second
    # what the traced run probes besides the live phase: the operator
    # families' queries, or the CDC parser and the drain's core scaling
    traced_queries: bool


LIVE = {
    # Both rates stay at or below half the reference target (200
    # events/s). At 150 and 200 the fan-out's batches took most of its 3 s
    # trigger on 4 cores; when the host slowed they overran it, a backlog
    # formed, and freshness spread by 0.25-0.35 run to run.
    "live_100tps": Live(100.0, traced_queries=True),
    # half the rows per batch: the per-batch floor dominates
    "live_50tps": Live(50.0, traced_queries=False),
}

# Prefixes of the per-layer metrics of layers a workload does not run. A
# traced run reports those as 0; any other per-layer metric it fails to
# measure is a failed check.
_QUERY_LAYERS = ("batch.", "window_agg.", "anomaly.", "relational.", "relational_tpch.", "dq.",
                 "stream_queries.")
NOT_RUN = {
    "live_100tps": ("cdc.", "drain.speedup_vs_1core"),
    "live_50tps": _QUERY_LAYERS,
}


def _module(query) -> str:
    return query.__module__.rsplit(".", 1)[-1]


class Run:
    """State of one benchmark run: session, spans, metrics, checks."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.metrics: dict[str, float] = {}
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.spans: dict[str, list[tuple[float, float]]] = {}
        # streaming queries tag their jobs with their run id
        self.aliases: dict[str, str] = {}
        self.traced = False
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self, cpus: int | None = None, traced: bool = False) -> float:
        """Start (or restart) the Spark session; returns seconds taken.
        A traced session writes an uncompressed event log."""
        from cdc_realtime_pipeline_spark.session import get_spark

        self.stop_session()
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": str(traced).lower(),
        }
        if traced:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.dir"] = self.path("eventlog")
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
        self.spark.range(1).count()
        self.traced = traced
        self.spans, self.aliases = {}, {}
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits at end of input
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    @contextlib.contextmanager
    def span(self, group: str):
        """Tag the Spark jobs started inside with job group ``group`` and
        record the wall-clock span for the event-log fold."""
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.setdefault(group, []).append((t0, time.time()))
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def fold_trace(self) -> None:
        """Per-group task metrics from the event log, as ``<group>.<field>``."""
        self.stop_session()  # closes the event log
        folded = probe.fold_event_log(self.path("eventlog"), self.spans, self.aliases)
        for group, fields in folded.items():
            # a call that ran no tagged task means the tagging broke
            self.check([f"trace: job group {group} ran no tasks"] if not fields["tasks"] else [])
            for field, value in fields.items():
                self.metrics[f"{group}.{field}"] = value

    def check(self, problems: list[str], n: int = 1, bad: int | None = None) -> None:
        """Count ``n`` attempted operations; ``bad`` of them (default all)
        failed when ``problems`` is not empty."""
        self.attempted += n
        if problems:
            self.failed += n if bad is None else bad
            self.problems.extend(problems)


def _oracle_checks(run: Run, sf_dir: str, results: dict[str, tuple]) -> None:
    from cdc_realtime_pipeline_spark.plans.registry import all_oracles

    sqls = all_oracles()
    oracle = checks.Oracle(sf_dir)
    for name, (rows, columns) in results.items():
        if name in sqls:
            run.check(oracle.compare(name, sqls[name], rows, columns))


# ---------------------------------------------------------------- live


def _drain(run: Run, topic: str, base: str) -> dict[str, float]:
    """Drain the backlog with ``availableNow`` through the fan-out and
    the alert query at once, as a restart does, then read the merged
    aggregate. Returns seconds per step."""
    from cdc_realtime_pipeline_spark.streaming.job import (
        read_merged_trade_agg,
        run_alert_stream,
        run_cdc_fanout,
    )

    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    took: dict[str, float] = {}

    def drain(key: str, start) -> None:
        t = time.perf_counter()
        run.aliases[str(start(run.spark, topic, out, ckpt).runId)] = "drain"
        took[key] = time.perf_counter() - t

    with run.span("drain"):
        t0 = time.perf_counter()
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            alerts = pool.submit(drain, "alerts.drain_s", run_alert_stream)
            drain("fanout.drain_s", run_cdc_fanout)
            alerts.result()
        took["drain_s"] = time.perf_counter() - t0
        t = time.perf_counter()
        read_merged_trade_agg(run.spark, out).collect()
        took["agg.merge_read_s"] = time.perf_counter() - t
    return took


def _write_backlog(run: Run, base: str):
    """Write a seeded backlog of Debezium-JSON events as the topic
    ``base/topic``; returns the events."""
    from cdc_realtime_pipeline_spark.sources.cdc_file_source import (
        read_cdc_batch,
        write_cdc_json_files,
    )

    backlog = inputs.events_frame(run.seed + 1, BACKLOG_EVENTS)
    staging = os.path.join(base, "staging")
    os.makedirs(staging)
    with open(os.path.join(staging, "backlog.json"), "w") as f:
        f.write("\n".join(inputs.cdc_lines(backlog, np.zeros(len(backlog), dtype=np.int64))) + "\n")
    write_cdc_json_files(read_cdc_batch(run.spark, staging), os.path.join(base, "topic"))
    return backlog


def _check_drain(run: Run, backlog, out: str) -> None:
    from cdc_realtime_pipeline_spark.streaming.job import read_merged_trade_agg

    spark = run.spark
    raw_dir = os.path.join(out, "crypto_trades")
    ids = spark.read.parquet(raw_dir).select("trade_id").toPandas()["trade_id"].to_numpy()
    missing, extra = checks.exactly_once(ids, len(backlog))
    run.check([f"drained raw sink: {missing} missing, {extra} extra"] if missing or extra else [],
              len(backlog), missing + extra)
    got = spark.read.parquet(os.path.join(out, "anomaly_alerts")).toPandas()
    want = checks.replay_alerts(inputs.parsed_frame(backlog))
    run.check(checks.same_alerts(got, want), max(len(want), 1))
    run.check(checks.merged_agg_matches(spark, raw_dir, read_merged_trade_agg(spark, out)))


class Generator(threading.Thread):
    """Open-loop Debezium-JSON writer at ``rate`` events per second.

    Every ``TICK_S`` it writes the events that have fallen due into one
    file and renames it into the topic directory, so the stream source
    never sees a partial file. Event ``i`` is stamped with its due time
    ``t0 + i / rate``. After each write it polls the sinks.
    """

    def __init__(self, events, rate: float, topic: str, staging: str, watcher: probe.SinkWatcher):
        super().__init__(name="cdc-generator", daemon=True)
        self.events, self.rate, self.topic, self.staging = events, rate, topic, staging
        self.watcher = watcher
        self.t0 = 0.0
        self.written = 0
        self.late_s: list[tuple[float, float]] = []
        self.stop_writing = threading.Event()
        self.stop_polling = threading.Event()
        self.ready = threading.Event()
        self.error: Exception | None = None

    def stamps_ms(self, lo: int, hi: int) -> np.ndarray:
        return np.floor((self.t0 + np.arange(lo, hi) / self.rate) * 1000).astype(np.int64)

    def run(self) -> None:
        try:
            self._loop()
        except Exception as exc:  # re-raised by the main thread
            self.error = exc
            self.ready.set()

    def _loop(self) -> None:
        self.t0 = time.time()
        self.ready.set()
        tick = 0
        while not self.stop_polling.is_set():
            due = self.t0 + tick * TICK_S
            now = time.time()
            if not self.stop_writing.is_set():
                self.late_s.append((due, now - due))
                hi = int((now - self.t0) * self.rate) + 1
                if hi >= len(self.events):
                    raise RuntimeError("replay window exhausted")
                if hi > self.written:
                    lines = inputs.cdc_lines(
                        self.events.iloc[self.written : hi], self.stamps_ms(self.written, hi)
                    )
                    name = f"part-{tick:08d}.json"
                    tmp = os.path.join(self.staging, name)
                    with open(tmp, "w") as f:
                        f.write("\n".join(lines) + "\n")
                    os.rename(tmp, os.path.join(self.topic, name))
                    self.written = hi
            self.watcher.poll()
            tick += 1
            self.stop_polling.wait(max(0.0, self.t0 + tick * TICK_S - time.time()))


def _has_part_file(path: str) -> bool:
    return os.path.isdir(path) and any(f.startswith("part-") for f in os.listdir(path))


class DashboardClient(threading.Thread):
    """Closed-loop dashboard client over the live sink: every
    ``REFRESH_PERIOD_S``, or back-to-back when a read overruns, it reads
    the merged window aggregate."""

    def __init__(self, run: Run, out_base: str):
        super().__init__(name="dashboard-client", daemon=True)
        self.run_, self.out_base = run, out_base
        self.reads: list[tuple[float, float]] = []  # (start, seconds)
        self.stop = threading.Event()
        self.error: Exception | None = None

    def run(self) -> None:
        from cdc_realtime_pipeline_spark.streaming.job import read_merged_trade_agg

        partials = os.path.join(self.out_base, "trade_agg_partials")
        try:
            while not self.stop.is_set():
                start = time.time()
                # readable once the first batch has committed a file
                if _has_part_file(partials):
                    with self.run_.span("agg"):
                        read_merged_trade_agg(self.run_.spark, self.out_base).collect()
                    self.reads.append((start, time.time() - start))
                self.stop.wait(max(0.0, start + REFRESH_PERIOD_S - time.time()))
        except Exception as exc:  # re-raised by the main thread
            self.error = exc


def _live_phase(run: Run, rate: float, traced: bool) -> dict:
    """One live session: recover, warm up, measure, drain the tail."""
    from cdc_realtime_pipeline_spark.streaming.job import run_alert_stream, run_cdc_fanout

    t0 = time.perf_counter()
    get_spark_s = run.start_session(traced=traced)
    base = run.path("traced" if traced else "live")
    topic, staging = os.path.join(base, "topic"), os.path.join(base, "staging")
    out_base, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    for d in (topic, staging, out_base, ckpt):
        os.makedirs(d)
    events = inputs.events_frame(run.seed, int(rate * (WARMUP_S + run.seconds + 60)))
    # recovery: drain a backlog before going live, so the window starts
    # with warm code paths, Python workers and state store
    backlog = _write_backlog(run, os.path.join(base, "recovery"))
    drain = _drain(run, os.path.join(base, "recovery", "topic"), os.path.join(base, "recovery"))
    setup_s = time.perf_counter() - t0

    watcher = probe.SinkWatcher(
        os.path.join(out_base, "crypto_trades"), os.path.join(out_base, "anomaly_alerts")
    )
    gen = Generator(events, rate, topic, staging, watcher)
    dashboard = DashboardClient(run, out_base)
    fanout = run_cdc_fanout(run.spark, topic, out_base, ckpt, synchronous=False)
    alerts = run_alert_stream(run.spark, topic, out_base, ckpt, synchronous=False)
    run.aliases.update({str(fanout.runId): "fanout", str(alerts.runId): "alerts"})
    gen.start()
    gen.ready.wait()
    dashboard.start()
    measure = (gen.t0 + WARMUP_S, gen.t0 + WARMUP_S + run.seconds)
    try:
        time.sleep(max(0.0, measure[1] - time.time()))
        gen.stop_writing.set()
        dashboard.stop.set()
        fanout.processAllAvailable()
        alerts.processAllAvailable()
        time.sleep(2 * TICK_S)
    finally:
        dashboard.stop.set()
        gen.stop_polling.set()
        gen.join()
        progress = {
            "fanout": [json.loads(p.json) for p in fanout.recentProgress],
            "alerts": [json.loads(p.json) for p in alerts.recentProgress],
        }
        fanout.stop()
        alerts.stop()
        dashboard.join()
    for thread in (gen, dashboard):
        if thread.error is not None:
            raise thread.error
    watcher.poll()
    run.spans["fanout"] = run.spans["alerts"] = [measure]
    return dict(
        gen=gen, dashboard=dashboard, watcher=watcher, events=events, out_base=out_base,
        measure=measure, progress=progress, setup_s=setup_s, get_spark_s=get_spark_s,
        drain=drain, backlog=backlog, base=base,
    )


def _score_live(run: Run, ph: dict) -> None:
    from cdc_realtime_pipeline_spark.streaming.job import read_merged_trade_agg

    spark, gen, watcher = run.spark, ph["gen"], ph["watcher"]
    lo, hi = ph["measure"]
    n = gen.written
    stamps = gen.stamps_ms(0, n) / 1000.0
    m = run.metrics

    raw = spark.read.parquet(watcher.raw_dir).selectExpr("trade_id", "input_file_name() AS f").toPandas()
    ids = raw["trade_id"].to_numpy()
    missing, extra = checks.exactly_once(ids, n)
    run.check([f"raw sink: {missing} events missing, {extra} extra"] if missing or extra else [],
              n, missing + extra)
    seen = raw["f"].map(lambda u: watcher.raw_seen.get(probe.local_path(u), np.nan)).to_numpy()
    valid = (ids >= 0) & (ids < n)
    ids, seen = ids[valid], seen[valid]
    window = (stamps[ids] >= lo) & (stamps[ids] < hi)
    fresh = (seen - stamps[ids])[window]
    run.check(["raw sink file never seen by the watcher"] if np.isnan(fresh).any() else [])
    m["latency_p50_s"] = float(np.nanmedian(fresh))
    m["latency_p90_s"] = float(np.nanquantile(fresh, 0.9))
    m["freshness_p99_s"] = float(np.nanquantile(fresh, 0.99))
    # rows made readable per second: the slope of rows committed against
    # commit time over the window's commits. It is the offered rate while
    # the fan-out keeps up and its capacity when it falls behind.
    commits = np.array(sorted(t for t in set(watcher.raw_seen.values()) if lo <= t < hi))
    rows = np.cumsum([(seen == t).sum() for t in commits])
    m["throughput_per_s"] = float(np.polyfit(commits - lo, rows, 1)[0])

    got = spark.read.parquet(watcher.alerts_dir).selectExpr("*", "input_file_name() AS f").toPandas()
    want = checks.replay_alerts(inputs.parsed_frame(ph["events"].iloc[:n]))
    run.check(checks.same_alerts(got, want), max(len(want), 1))
    alert_seen = watcher.alert_file_seen()
    seen = got["f"].map(lambda u: alert_seen.get(probe.local_path(u), np.nan)).to_numpy()
    tid = got["trade_id"].to_numpy()
    window = (stamps[tid] >= lo) & (stamps[tid] < hi)
    afresh = (seen - stamps[tid])[window]
    m["alerts.freshness_p50_s"] = float(np.nanmedian(afresh))
    m["alerts.freshness_p99_s"] = float(np.nanquantile(afresh, 0.99))

    merged = read_merged_trade_agg(spark, ph["out_base"])
    run.check(checks.merged_agg_matches(spark, watcher.raw_dir, merged))
    reads = [took for start, took in ph["dashboard"].reads if lo <= start < hi]
    if reads:
        m["dashboard.merged_agg_s"] = statistics.median(reads)
    m["generator.late_ms_max"] = 1000 * max(late for due, late in gen.late_s if lo <= due < hi)
    for query in ("fanout", "alerts"):
        m.update(probe.progress_medians(ph["progress"][query], lo * 1000, query))
    m["session.get_spark_s"] = ph["get_spark_s"]
    m["setup_s"] = ph["setup_s"]
    m.update(ph["drain"])
    m["drain.rows_per_s"] = BACKLOG_EVENTS / ph["drain"]["drain_s"]
    _check_drain(run, ph["backlog"], os.path.join(ph["base"], "recovery", "out"))


def _parse_rate(run: Run, topic: str) -> float:
    from cdc_realtime_pipeline_spark.cdc.envelope import parse_cdc_events
    from cdc_realtime_pipeline_spark.sources.cdc_file_source import read_cdc_batch

    t = time.perf_counter()
    with run.span("cdc"):
        parse_cdc_events(read_cdc_batch(run.spark, topic)).write.format("noop").mode("overwrite").save()
    return BACKLOG_EVENTS / (time.perf_counter() - t)


def _query_layers(run: Run, base: str) -> None:
    """The operator families' layers, one registry query each, over
    seeded tables: a cold pass whose results are checked against the
    oracles, then ``QUERY_PASSES`` passes through the ``noop`` sink, each
    query scored by its fastest run."""
    from cdc_realtime_pipeline_spark.plans.registry import all_queries
    from cdc_realtime_pipeline_spark.session import release_caches

    sf_dir = os.path.join(base, "sf")
    inputs.write_tables(sf_dir, run.seed, QUERY_SF)
    registry = all_queries()
    queries, results = {}, {}
    for name in LAYER_QUERIES:
        try:
            df = registry[name](run.spark, sf_dir)
            results[name] = (df.collect(), df.columns)
        except Exception as exc:  # counted as a failed operation
            run.check([f"{name} raised {exc!r}"])
            continue
        finally:
            release_caches()
        queries[name] = registry[name]
    took = {name: [] for name in queries}
    passes = []
    rng = np.random.default_rng([run.seed, 3])
    for _ in range(QUERY_PASSES):
        t_pass = time.perf_counter()
        for name in rng.permutation(list(queries)):
            t = time.perf_counter()
            with run.span(_module(queries[name])):
                queries[name](run.spark, sf_dir).write.format("noop").mode("overwrite").save()
            release_caches()
            took[name].append(time.perf_counter() - t)
        passes.append(time.perf_counter() - t_pass)
    run.metrics["batch.pass_s"] = min(passes)
    for name, ts in took.items():
        run.metrics[f"{_module(queries[name])}.query_s"] = min(ts)
    _oracle_checks(run, sf_dir, results)


def live(run: Run, spec: Live) -> None:
    """Recover from a backlog, then take an open loop at ``spec.rate``
    into both streaming queries with their default triggers, beside one
    closed-loop dashboard client."""
    with probe.RssSampler() as rss:
        ph = _live_phase(run, spec.rate, traced=False)
    run.metrics["peak_rss_mb"] = rss.peak / 1e6
    _score_live(run, ph)
    if not run.trace:
        return
    untraced = run.metrics["fanout.add_batch_ms"]
    get_spark_s = run.metrics["session.get_spark_s"]
    ph = _live_phase(run, spec.rate, traced=True)
    _score_live(run, ph)
    run.metrics["session.get_spark_s"] = get_spark_s
    run.metrics["trace.overhead_s"] = (run.metrics["fanout.add_batch_ms"] - untraced) / 1000
    if spec.traced_queries:
        _query_layers(run, ph["base"])
        run.fold_trace()
        return
    topic = os.path.join(ph["base"], "recovery", "topic")
    run.metrics["cdc.parse_rows_per_s"] = _parse_rate(run, topic)
    run.fold_trace()
    # the drain on fresh sessions of one core and of all cores
    drain_s = []
    for cpus in (1, None):
        run.start_session(cpus=cpus)
        drain_s.append(_drain(run, topic, run.path(f"drain-{cpus}"))["drain_s"])
    run.metrics["drain.speedup_vs_1core"] = drain_s[0] / drain_s[1]
