"""Streaming execution helpers: bounded runs (availableNow) into
memory/parquet sinks, and the foreachBatch→SCD2 bridge.

``availableNow`` processes everything currently in the source and
stops — the batch-bounded way to drive a streaming pipeline, used by
the query surface and tests. A production deployment would swap the
trigger for a processing-time one and the memory sink for Delta; the
dataflow is unchanged.

foreachBatch + SCD2 (SURVEY.md §7.1 stage 8 "late-upsert"): each
micro-batch of dimension snapshots is merged with the same canonical
two-effect SCD2 engine the batch pipeline uses (operators/scd2.py).
Exactly-once: the merge is idempotent per (business key, content) and
the checkpoint guarantees each batch is applied once; on Delta you'd
add txnAppId/txnVersion for cross-restart transactional dedup.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from ..config import PipelineConfig
from ..operators.scd2 import MergeStats, scd2_merge
from ..sinks.warehouse import Warehouse


@contextmanager
def _scoped_shuffle_partitions(spark: SparkSession, n: int | None):
    """Scope ``spark.sql.shuffle.partitions`` to one bounded streaming
    run. Stateful operators read the conf at query start and pin it
    into the checkpoint, so this is the only way to size their state
    partitioning (AQE cannot: it is disabled in stateful workloads).
    Callers pass a value derived from the SOURCE size
    (:func:`..streaming.windows.stream_state_partitions`) — never a
    constant. Restored on exit, and each query here starts a fresh
    checkpoint. The save/set/restore is on the SHARED session conf, so
    it is safe only when one thread enters it at a time: two threads
    interleaving their entries can restore each other's inner value
    and leave it set. Concurrent streams enter it once around the
    pool and pass ``None`` to each run."""
    if n is None:
        yield
        return
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def run_to_memory(
    sdf: DataFrame,
    mode: str = "complete",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Run a (typically aggregating) stream to completion into a memory
    sink; returns the sink contents as a batch DataFrame.

    Complete mode emits every window including ones still above the
    final watermark — append mode would withhold non-finalized windows,
    which is correct for an unbounded sink but surprising for a bounded
    correctness run.

    The memory sink already holds its rows on the driver; they are
    rebuilt into a local DataFrame with the sink's schema and the
    sink's temp view is dropped, so the session keeps no view.
    """
    spark = sdf.sparkSession
    name = f"sink_{uuid.uuid4().hex[:12]}"
    try:
        with _scoped_shuffle_partitions(spark, shuffle_partitions):
            q = (
                sdf.writeStream.outputMode(mode)
                .format("memory")
                .queryName(name)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        sink = spark.table(name)
        return spark.createDataFrame(sink.collect(), sink.schema)
    finally:
        spark.catalog.dropTempView(name)


def run_append_to_parquet(
    sdf: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Run an append-mode stream (row-wise ops: dedup, filters, maps)
    to completion into a parquet sink; returns the sink as a batch DF."""
    with _scoped_shuffle_partitions(sdf.sparkSession, shuffle_partitions):
        q = (
            sdf.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return sdf.sparkSession.read.parquet(sink_dir)


def run_foreach_batch(
    sdf: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
) -> None:
    """Run a stream to completion, handing each micro-batch to ``fn``.

    ``output_mode`` matters even under foreachBatch: stateful operators
    validate it (applyInPandasWithState in update mode requires an
    update-mode sink).

    Returns the terminated StreamingQuery so callers can read its
    progress metrics (e.g. ``numRowsDroppedByWatermark`` for the
    late-data audit); existing callers ignore the return value.
    """
    with _scoped_shuffle_partitions(sdf.sparkSession, shuffle_partitions):
        q = (
            sdf.writeStream.outputMode(output_mode)
            .foreachBatch(fn)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def scd2_stream(
    snapshots: DataFrame,
    wh: Warehouse,
    cfg: PipelineConfig,
    checkpoint_dir: str,
    run_ts_for_batch: Callable[[int], datetime | str],
) -> list[MergeStats]:
    """Merge a stream of dimension snapshots into an SCD2 table, one
    canonical two-effect merge per micro-batch.

    ``run_ts_for_batch`` maps batch id → validity timestamp so reruns
    are reproducible (the SURVEY §7.0.3 determinism rule, extended to
    streams). Returns the per-batch merge stats.
    """
    stats: list[MergeStats] = []

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        stats.append(
            scd2_merge(wh, cfg, batch_df, run_ts=run_ts_for_batch(batch_id))
        )

    run_foreach_batch(snapshots, apply, checkpoint_dir)
    return stats


def rollup_stream(
    events: DataFrame,
    wh: Warehouse,
    table: str,
    checkpoint_dir: str,
    dims: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
    txn_app_id: str | None = None,
) -> None:
    """foreachBatch → incremental hourly rollup: each micro-batch is
    merged into the rollup with operators/rollup.py (partial aggregate
    + affected-partition rewrite). The streaming form of continuous
    aggregate maintenance: state lives in the rollup table itself, so
    no streaming state store is needed and restarts resume from the
    checkpoint.

    ``txn_app_id`` arms the warehouse transaction registry
    (Delta txnAppId/txnVersion emulation): a rollup upsert is NOT
    content-idempotent (re-applying a batch double-counts), so
    re-delivered batch ids — a lost or rebuilt checkpoint, a job
    retry — are detected and skipped instead of re-applied. See
    ``Warehouse.txn_applied`` for the atomicity fine print."""
    from ..operators.rollup import upsert_hourly_rollup

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if txn_app_id is not None and wh.txn_applied(txn_app_id, batch_id):
            return
        upsert_hourly_rollup(
            wh, table, batch_df, ts_col=ts_col, dims=dims, value_col=value_col
        )
        if txn_app_id is not None:
            wh.txn_commit(txn_app_id, batch_id)

    run_foreach_batch(events, apply, checkpoint_dir)


def run_with_metrics(
    sdf: DataFrame, sink_dir: str, checkpoint_dir: str
) -> tuple[DataFrame, list[dict]]:
    """Run an append stream to completion AND collect per-micro-batch
    progress telemetry from the engine's own StreamingQueryProgress
    (batch id, input rows, processed-rows/sec, batch duration, state
    rows when stateful, watermark) — the observability surface an
    operator dashboards: lag shows up as rising inputRows with flat
    processedRowsPerSecond; state leaks as monotonically growing
    numRowsTotal. Returns (sink contents, progress dicts). Progress
    objects are driver-side metadata (one small dict per micro-batch),
    never data-sized.
    """
    # Collect progress via a StreamingQueryListener DURING the run:
    # q.recentProgress is capped at
    # spark.sql.streaming.numRecentProgressUpdates (default 100)
    # most-recent entries, so a source with more micro-batches would
    # silently truncate the telemetry and row-count reconciliation
    # against the sink would mismatch. The listener sees every
    # onQueryProgress event regardless of batch count.
    from pyspark.sql.streaming import StreamingQueryListener

    spark = sdf.sparkSession
    collected: list[dict] = []

    class _Collector(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            state = p.stateOperators or []
            collected.append(
                {
                    "query_id": str(p.id),
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "batch_duration_ms": (p.durationMs or {}).get(
                        "triggerExecution"
                    ),
                    "watermark": (p.eventTime or {}).get("watermark"),
                    "state_rows_total": (
                        state[0].numRowsTotal if state else None
                    ),
                }
            )

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    listener = _Collector()
    spark.streams.addListener(listener)
    try:
        q = (
            sdf.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Listener events are delivered asynchronously on the JVM's
        # listener-bus thread; drain what arrived, then fall back to
        # recentProgress for any batch the bus hasn't flushed yet
        # (union by batch_id keeps both sources' entries, capped
        # history only fills gaps the listener already covers).
        import time as _time

        qid = str(q.id)
        recent = {p.get("batchId") for p in q.recentProgress}
        deadline = _time.monotonic() + 10.0
        while (
            {m["batch_id"] for m in collected if m["query_id"] == qid}
            < recent
            and _time.monotonic() < deadline
        ):
            _time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    metrics = [
        {k: v for k, v in m.items() if k != "query_id"}
        for m in collected
        if m["query_id"] == qid
    ]
    seen = {m["batch_id"] for m in metrics}
    for p in q.recentProgress:  # gap-fill only; listener is primary
        if p.get("batchId") in seen:
            continue
        state = p.get("stateOperators") or []
        metrics.append(
            {
                "batch_id": p.get("batchId"),
                "num_input_rows": p.get("numInputRows"),
                "batch_duration_ms": (p.get("durationMs") or {}).get(
                    "triggerExecution"
                ),
                "watermark": (p.get("eventTime") or {}).get("watermark"),
                "state_rows_total": (
                    state[0].get("numRowsTotal") if state else None
                ),
            }
        )
    metrics.sort(key=lambda m: m["batch_id"])
    return spark.read.parquet(sink_dir), metrics
