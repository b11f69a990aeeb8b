"""Python worker daemon for sessions built by ``session.get_spark``.

Spark starts one daemon per executor (``python -m <daemon module>``)
and forks the Python workers that run ``pyspark.worker`` from it.
Before every task a worker calls ``importlib.invalidate_caches()`` so
that files shipped with ``addPyFile`` become importable. On Python
3.11 each ``zipimporter`` answers by re-reading its archive's directory.
Workers import pyspark from ``pyspark.zip`` (about 1,300 entries), one
importer per package imported from it, so every task re-read that
directory about 17 times: ~0.28 s of CPU per task, measured on a 4-core
VM. The alert stream runs one task per state partition per
micro-batch, and those re-reads were the largest CPU cost of the live
pipeline.

The archives on a worker's path never change while it lives (a file
shipped with ``addPyFile`` arrives under a new path and gets a new
importer), so this daemon makes the zip re-read a no-op before it
forks any worker, then runs PySpark's own daemon loop.
"""

from __future__ import annotations

import zipimport


def _keep_archive_directory(self: zipimport.zipimporter) -> None:
    """The archive has not changed: keep its cached directory."""


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _keep_archive_directory

    from pyspark import daemon

    daemon.manager()
