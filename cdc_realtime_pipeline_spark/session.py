"""SparkSession factory.

Local test posture: single JVM, ``local[N]`` threads, AQE on, shuffle
partitions sized to cores (not the 200 default). At cluster scale the
same builder applies — only master/memory/shuffle-partition values
change; every operator in this package is partition-parallel and free
of driver-side collects, so the plans carry over unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cdc_realtime_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for core count. Pins session timezone
    to UTC so results are comparable with the DuckDB oracle (DuckDB
    timestamps are UTC-naive).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce shuffles UNDER persisted plans too — the
        # iterative operators (CC label propagation, BPE loop, k-means)
        # persist a small relation every round, and with this off each
        # round's joins are pinned at the full shuffle-partition count
        # regardless of size (pure task overhead at fixture scale)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # driver fixtures store ns-precision timestamps; read as long and
        # convert in load_table (Spark timestamps are µs)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # fixtures are tz-naive; read as session-tz TIMESTAMP (UTC below)
        # so time functions (unix_millis, window) apply and DuckDB's
        # naive-timestamp oracle semantics match
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        # Streaming commit floor. Without libhadoop, Hadoop's local
        # filesystem forks chmod/readlink/stat for file operations; the
        # default FileContext checkpoint manager pays that on every
        # offset/commit-log and state file: measured through Py4J on a
        # 4-core VM, a FileContext.rename(OVERWRITE) takes ~18 ms and 8
        # forks, a FileSystem.rename ~0.6 ms and none. Both end in the
        # same check-then-File.renameTo on the local FS, so the FileSystem
        # one loses no atomicity here (get_spark always runs a local[N]
        # master; ensure_engine_conf, which may be handed a session on
        # HDFS, deliberately leaves the manager alone).
        # Changelog checkpointing commits a RocksDB state version as a
        # small changelog file instead of a snapshot upload per batch.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        # Python workers fork from this package's daemon, which stops
        # them re-reading pyspark.zip's directory before every task
        # (see worker_daemon). Workers must be able to import this
        # package, as its own UDFs already require.
        .config("spark.python.daemon.module", "cdc_realtime_pipeline_spark.worker_daemon")
    )
    # Memory: only meaningful in local mode when the JVM hasn't started yet.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = builder.config("spark.driver.memory", driver_mem)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Make any externally-created SparkSession engine-ready.

    The driver contract hands us *its* session, not ours — so the
    runtime-settable requirements are applied here, idempotently, on
    every table load: ns-timestamp parquet reads (the fixtures store
    TIMESTAMP(NANOS), which Spark 4 otherwise refuses), UTC session
    timezone (oracle comparability), and AQE.
    """
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"),
        # the Python DataSource connector implements pushFilters
        # (SPARK-4.1 gates it behind this flag and ASSERTS if the
        # reader defines the method while the flag is off)
        ("spark.sql.python.filterPushdown.enabled", "true"),
    ):
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
    # Stateful streaming can't use AQE partition coalescing, so the
    # 200-partition default burns task overhead on small state. Only
    # touch it when it is exactly the untouched default — a deliberate
    # cluster-tuned value passes through.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver-generated parquet tables.

    ``events.ts`` is stored as TIMESTAMP(NANOS), which Spark reads as a
    long (``nanosAsLong``); convert to a proper µs TimestampType here
    (fixture values are µs-aligned, so the division is exact).
    """
    ensure_engine_conf(spark)
    return convert_ns_timestamps(
        spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    )


def convert_ns_timestamps(df):
    """Normalize fixture timestamps to µs TimestampType.

    Two storage generations exist: ns-precision (read as long via
    ``nanosAsLong``; integer ``div`` — double division would lose
    precision above 2^53 ns) and µs-precision tz-naive (read as
    TIMESTAMP_NTZ when NTZ inference is on, e.g. a driver session built
    before ``ensure_engine_conf`` ran; cast is exact under the UTC
    session timezone)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
    return df


# DataFrames persisted by operators while building a query plan. The
# contract returns un-collected plans, so the operator itself can never
# unpersist (the cache must outlive materialization by the caller);
# instead, loops that materialize many queries in one session (bench,
# correctness sweep) call release_caches() between queries so cached
# shingle/edge blocks don't accumulate across ~100 invocations.
_PERSISTED: list = []


def tracked_persist(df):
    """``df.persist()`` + registration for later ``release_caches()``."""
    df.persist()
    _PERSISTED.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked DataFrame; returns how many were released."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return n


# Session-scoped materialized intermediates — shared subplans several
# QUERIES build on (the near-dup shingle/candidate tables). Unlike
# tracked_persist, these SURVIVE release_caches(), so a session running
# the whole registry (bench, correctness sweep, the driver) pays for
# each shared stage once instead of once per consuming query. Bounded
# by construction: one entry per slot, keyed by (session, sf_dir) —
# a new session or a different fixture dir releases and rebuilds.
_MEMOIZED: dict[str, tuple[int, str, object]] = {}

# Scalar/side caches that ride the same static-fixture assumption as
# the memos (e.g. similarity's embeddings-count cache feeding the
# derived LSH geometry). Operator modules REGISTER their cache dicts
# here at import time so release_memos() clears them without the
# session layer importing operator modules (round-12 review: the
# dependency must point operator → session, not the reverse).
_SESSION_CACHES: list[dict] = []


def register_session_cache(cache: dict) -> dict:
    """Register a module-level cache dict to be cleared by
    ``release_memos()``. Returns the dict so it can be used inline:
    ``_MY_CACHE = register_session_cache({})``."""
    _SESSION_CACHES.append(cache)
    return cache


def memo_persist(slot: str, spark, sf_dir: str, build):
    """Return the memoized persisted DataFrame for ``slot`` at
    ``sf_dir``, building (and persisting) it on first use per
    (session, sf_dir). ``build`` is a zero-arg callable.

    STATIC-FIXTURE ASSUMPTION (ADVICE r8): entries survive
    release_caches() by design and are never invalidated on
    underlying-data change — the fixture dirs are immutable for the
    life of a session (the driver/bench/test contract). Any tool that
    REWRITES a fixture dir mid-session must call release_memos()
    afterwards or memoized shingle/candidate/PQ tables will serve
    stale results."""
    cur = _MEMOIZED.get(slot)
    sid = id(spark)
    if cur is not None and cur[0] == sid and cur[1] == sf_dir:
        return cur[2]
    if cur is not None:
        try:
            cur[2].unpersist()
        except Exception:  # previous session already stopped
            pass
    df = build()
    df.persist()
    _MEMOIZED[slot] = (sid, sf_dir, df)
    return df


def release_memos() -> int:
    """Unpersist every memoized intermediate (test/maintenance hook)."""
    n = 0
    for key in list(_MEMOIZED):
        _, _, df = _MEMOIZED.pop(key)
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    # registered scalar caches ride the same static-fixture assumption
    # as the memos — a tool that rewrites a fixture dir mid-session
    # (scale_probe._build) must not serve stale values (e.g. a stale
    # embeddings count into the derived LSH geometry)
    for cache in _SESSION_CACHES:
        cache.clear()
    return n


# Per-session scratch directories, one per tag, removed at interpreter
# exit — query functions must not leak a new mkdtemp per invocation
# (ADVICE r2: gate/bench loops invoke each query repeatedly).
_SCRATCH: dict = {}


def scratch_dir(tag: str) -> str:
    """Stable per-session scratch dir for ``tag`` (created lazily,
    rmtree'd via atexit). Callers overwrite in place on re-invocation
    instead of leaking fresh temp dirs."""
    if tag not in _SCRATCH:
        import atexit
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix=f"sg_{tag}_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _SCRATCH[tag] = d
    return _SCRATCH[tag]


def raw_schema(spark: SparkSession, sf_dir: str, name: str):
    """Parquet schema as Spark reads it (ts stays LongType ns) — for
    file-stream sources, which need the pre-conversion schema."""
    ensure_engine_conf(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
