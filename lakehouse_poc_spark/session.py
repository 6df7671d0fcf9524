"""SparkSession factory.

Replaces the reference's ambient Databricks session (reference
notebooks/test.py:4, typings/__builtins__.pyi) with an explicit,
locally-runnable factory. Connect-compatible: no ``_jsparkSession``
internals anywhere in this package (the reference used
``spark._jsparkSession.catalog().tableExists`` — see reference
notebooks/pipeline_core.py:138; we use only public API).

Scale notes (100 TB / 1000 executors):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic broadcast-join conversion are the main levers that keep
  hand-tuning out of the query code.
- ``spark.sql.shuffle.partitions`` is a local-mode default only; on a
  real cluster AQE's coalescing makes the initial number mostly moot.
- Session timezone pinned to UTC so results are reproducible and
  comparable across engines (DuckDB oracle is UTC-naive).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _driver_memory() -> str:
    """Driver heap: ``SPARK_DRIVER_MEM`` if set, else a quarter of RAM
    within [2 GB, 8 GB]. A heap sized past the host's RAM lets G1 grow
    instead of collecting, and the kernel's OOM killer then ends the
    JVM mid-run."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{max(2048, min(8192, ram_mb // 4))}m"


def get_spark(
    app_name: str = "lakehouse_poc_spark",
    cpus: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state_store: bool = False,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this engine.

    In production the same conf block applies unchanged on a cluster —
    only ``master`` differs (supplied by spark-submit / the cluster
    manager, never hardcoded here).
    """
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.driver.memory", _driver_memory())
        # ContextCleaner frees shuffle files / broadcasts only when a
        # DRIVER GC collects their references; the default periodic-GC
        # interval (30min) is longer than a whole multi-hundred-query
        # session, so in local mode (driver == executor) stale shuffle
        # state accumulates for tens of GB and later queries run under
        # constant heap pressure (r10 optimization round: hybrid_rrf
        # measured 24.7s mid-suite vs 1.8s after a System.gc()). Two
        # minutes bounds that debt at negligible GC cost; on a real
        # cluster the same setting keeps long-lived drivers lean.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark 4 rejects parquet TIMESTAMP(NANOS) (events.ts fixture);
        # read as long nanos and convert in the reader (sources/readers.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark 4 whitelists CSV charsets; the reference's sources are
        # cp1252 (windows-1252) — allow full JVM charset set.
        .config("spark.sql.legacy.javaCharsets", "true")
    )
    if rocksdb_state_store or os.environ.get("SPARK_GRAFT_ROCKSDB") == "1":
        # Streaming state off-heap: at 100 TB the stateful operators
        # (sessions, dedup-in-watermark, stream-stream joins) hold state
        # proportional to the watermark window; the default HDFS-backed
        # in-memory provider OOMs executors long before RocksDB spills.
        # Changelog checkpointing keeps commit cost O(delta), not O(state).
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        ).config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    # Only force a master when none is configured (lets spark-submit win).
    if not os.environ.get("SPARK_MASTER") and "MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    else:
        builder = builder.master(os.environ.get("SPARK_MASTER", os.environ.get("MASTER", f"local[{cpus}]")))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        spark.sparkContext.setLogLevel("WARN")
    except Exception:  # Spark Connect: no driver-side SparkContext
        pass
    return spark


def overlap(*thunks: Callable[[], Any]) -> list[Any]:
    """Run independent Spark actions concurrently; return their results
    in order.

    The first thunk runs in the calling thread, the others in
    ``pyspark.InheritableThread``s, which copy the caller's JVM local
    properties: a branch's jobs carry the caller's job group, pool and
    description, so per-group job counts still see them. Every branch
    is waited for before the first error (in thunk order) is re-raised,
    so no job is left running when this returns. Nothing here touches
    a SQL conf: a conf the branches need is set once, around the call
    (two threads that each save and restore the shared session conf
    interleave and can leave the inner value behind). Classic sessions
    only: on Spark Connect an ``InheritableThread`` needs its session
    passed in."""
    from pyspark import InheritableThread

    results: list[Any] = [None] * len(thunks)
    errors: list[BaseException | None] = [None] * len(thunks)

    def run(i: int) -> None:
        try:
            results[i] = thunks[i]()
        except BaseException as e:  # re-raised below, after the join
            errors[i] = e

    branches = [
        InheritableThread(target=run, args=(i,), daemon=True)
        for i in range(1, len(thunks))
    ]
    for b in branches:
        b.start()
    run(0)
    for b in branches:
        b.join()
    for e in errors:
        if e is not None:
            raise e
    return results
