"""Session-level settings that every query inherits."""

from __future__ import annotations

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
