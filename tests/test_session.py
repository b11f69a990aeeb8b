"""Session-level settings every query inherits, and the session-state
store every memo, scalar and registration shares."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_python_workers_fork_from_the_package_daemon(spark):
    # get_spark points spark.python.daemon.module at worker_daemon, so
    # a worker's per-task importlib.invalidate_caches() leaves the
    # directories of pyspark.zip and py4j's zip cached.
    assert spark.conf.get("spark.python.daemon.module") == (
        "cdc_realtime_pipeline_spark.worker_daemon"
    )

    @F.udf("string")
    def zip_invalidation(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__qualname__

    got = spark.range(8).repartition(4).select(zip_invalidation("id")).distinct().collect()
    assert [r[0] for r in got] == ["_keep_archive_directory"]


def _on_threads(n, fn):
    """Run ``fn`` on ``n`` threads released together, switching between
    them as often as the interpreter allows; returns their results."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    gate = threading.Barrier(n, timeout=60)

    def call(_):
        gate.wait()
        return fn()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=n) as pool:
            return list(pool.map(call, range(n), timeout=120))
    finally:
        sys.setswitchinterval(interval)


@pytest.fixture
def probe_memo(spark, monkeypatch):
    """A memo declared for the test only (kept out of the prewarm
    registry) whose builds and persists are counted."""
    import time

    from cdc_realtime_pipeline_spark import session

    monkeypatch.setattr(session, "MEMO_SLOTS", dict(session.MEMO_SLOTS))
    counts = {"build": 0, "persist": 0}
    df_type = type(spark.range(1))
    persist = df_type.persist

    def counting_persist(self, *a, **k):
        counts["persist"] += 1
        return persist(self, *a, **k)

    monkeypatch.setattr(df_type, "persist", counting_persist)

    @session.memo("_probe")
    def build(spark, sf_dir):
        counts["build"] += 1
        time.sleep(0.2)  # hold the key's lock while the others arrive
        # a distinct plan per build: the cache manager matches by plan
        return spark.range(counts["build"])

    yield build, counts
    entry = session._STATE.pop("_probe", None)
    if entry is not None:
        entry[2].unpersist()


def test_cold_memo_builds_once_under_threads(spark, probe_memo):
    build, counts = probe_memo
    got = _on_threads(8, lambda: build(spark, "/probe"))
    assert counts == {"build": 1, "persist": 1}
    assert all(df is got[0] for df in got)
    assert got[0].is_cached


def test_new_session_rebuilds_memo_and_unpersists_old(spark, probe_memo):
    from cdc_realtime_pipeline_spark import session

    build, counts = probe_memo
    old = build(spark, "/probe")
    old.count()
    assert build(spark, "/probe") is old
    fresh = spark.newSession()
    assert fresh._jsparkSession.sessionUUID() != spark._jsparkSession.sessionUUID()
    new = build(fresh, "/probe")
    assert new is not old and counts["build"] == 2
    assert session._STATE["_probe"][0] == fresh._jsparkSession.sessionUUID()
    assert not old.is_cached
    level = old.storageLevel
    assert not (level.useMemory or level.useDisk)


def test_datasource_registers_once_under_threads(spark, monkeypatch):
    import time

    from pyspark.sql.datasource import DataSourceRegistration

    from cdc_realtime_pipeline_spark.sources import cdc_python_datasource

    calls = []
    register = DataSourceRegistration.register

    def counting_register(self, cls):
        calls.append(cls)
        time.sleep(0.2)  # widen the window a racing second call would hit
        return register(self, cls)

    monkeypatch.setattr(DataSourceRegistration, "register", counting_register)
    # a fresh session: the shared one may have registered already
    fresh = spark.newSession()
    _on_threads(8, lambda: cdc_python_datasource.register(fresh))
    assert calls == [cdc_python_datasource.CdcEnvelopeDataSource]
