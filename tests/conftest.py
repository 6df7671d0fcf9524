from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from lakehouse_poc_spark.session import get_spark  # noqa: E402


def _driver_memory() -> str:
    """Heap for the one test JVM: ``SPARK_DRIVER_MEM`` if set, else a
    quarter of RAM within [2 GB, 8 GB]. The session default (48g) lets
    G1 grow the heap past the RAM of a small host instead of collecting,
    and the kernel's OOM killer then ends the JVM mid-suite."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{max(2048, min(8192, ram_mb // 4))}m"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        cpus=4,
        extra_conf={
            "spark.sql.shuffle.partitions": "4",
            "spark.driver.memory": _driver_memory(),
        },
    )
    yield s


@pytest.fixture()
def wh(spark, tmp_path):
    from lakehouse_poc_spark.sinks.warehouse import Warehouse

    return Warehouse(spark, str(tmp_path / "wh"))
