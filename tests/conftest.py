from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from cdc_realtime_pipeline_spark.session import get_spark

    # half the host's physical memory, not get_spark's 16g default: on a
    # 16 GB host that default let the JVM's lazily collected heap grow
    # past 13 GB RSS and into the kernel's OOM killer
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    spark = get_spark(
        "tests",
        cpus=8,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": f"{host_mb // 2}m"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
