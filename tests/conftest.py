from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from lakehouse_poc_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        cpus=4,
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    yield s


@pytest.fixture()
def jobs_in_group(spark):
    """``run(group, fn)`` calls ``fn`` under Spark job group ``group``
    and returns ``(fn's result, the number of jobs it ran)``."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture()
def wh(spark, tmp_path):
    from lakehouse_poc_spark.sinks.warehouse import Warehouse

    return Warehouse(spark, str(tmp_path / "wh"))
