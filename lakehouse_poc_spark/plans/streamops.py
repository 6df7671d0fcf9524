"""Structured Streaming queries (§7.1 stage 8 extension — the
reference has no streaming surface, SURVEY.md §2.11).

Each query REALLY runs Structured Streaming: a file-source stream over
the fixture parquet, watermarked stateful operators, an availableNow
bounded run into a sink, and the sink read back as the result
DataFrame. Bounded runs over deterministic input make the results
reproducible, so every query still carries a full SQL oracle — the
oracle states the *batch-equivalent semantics* of the streaming op.

Determinism notes:
- complete-mode memory sinks emit every window (append would withhold
  windows above the final watermark — correct for unbounded sinks,
  wrong for a bounded correctness run);
- the dedup and SCD2 queries copy fixture files into a fresh temp dir
  per invocation, so checkpoints never leak state between runs;
- micro-batch order for the SCD2 query is forced by running two
  bounded streams against one checkpoint (write snapshot A, drain,
  write snapshot B, drain) — not by file-listing order.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..session import overlap
from ..sinks.warehouse import Warehouse
from ..sources.readers import (
    ensure_session_confs,
    normalize_event_ts,
    read_parquet_table,
)
from ..streaming.runner import (
    _scoped_shuffle_partitions,
    run_append_to_parquet,
    run_foreach_batch,
    run_to_memory,
    scd2_stream,
)
from ..streaming.windows import (
    stage_ordered_batches,
    cached_fixture,
    dedup_within_watermark,
    session_agg,
    stream_events,
    stream_parquet,
    stream_scratch,
    stream_state_partitions,
    windowed_agg,
)
from . import query
from .tpch import dsum, sql_dsum


# ---------------------------------------------------------------------------
# Tumbling hourly window over the event stream (streaming twin of the
# batch tumbling_hourly_events query — same oracle semantics).
@query(
    "stream_tumbling_hourly",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value', 'total_value')}
    FROM events
    GROUP BY time_bucket(INTERVAL 1 HOUR, ts), event_type
    ORDER BY hour_start, event_type
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = windowed_agg(
        stream_events(spark, sf_dir), window="1 hour", watermark="2 hours"
    )
    # state partitions derived from source size (guide §2; r11): a
    # bounded MB-scale replay doesn't need the batch session's shuffle
    # width — at cluster scale the clamp is a no-op.
    sunk = run_to_memory(
        agg,
        mode="complete",
        shuffle_partitions=stream_state_partitions(
            spark, f"{sf_dir}/events.parquet"
        ),
    )
    return sunk.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        "n",
        "total_value",
    ).orderBy("hour_start", "event_type")


# ---------------------------------------------------------------------------
# Sliding windows (1 h window, 15 min slide): each event lands in
# exactly 4 overlapping windows; oracle reproduces that via a
# generate_series cross join on epoch-aligned bucket starts.
@query(
    "stream_sliding_hourly",
    oracle=f"""
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n,
           {sql_dsum('value', 'total_value')}
    FROM (
        SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE AS win_start,
               value
        FROM events CROSS JOIN generate_series(0, 3) AS g(k)
    ) t
    GROUP BY win_start
    ORDER BY window_start
    """,
)
def stream_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = windowed_agg(
        stream_events(spark, sf_dir),
        window="1 hour",
        slide="15 minutes",
        watermark="2 hours",
        keys=(),
    )
    sunk = run_to_memory(
        agg,
        mode="complete",
        shuffle_partitions=stream_state_partitions(
            spark, f"{sf_dir}/events.parquet"
        ),
    )
    return sunk.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n",
        "total_value",
    ).orderBy("window_start")


# ---------------------------------------------------------------------------
# Native session windows per user (30 min gap), re-aggregated to the
# same per-user shape as the batch sessionize query; the islands oracle
# uses the same `> gap` new-session rule (a delta of exactly the gap
# merges — verified against session_window's boundary behavior).
@query(
    "stream_sessions_per_user",
    oracle="""
    WITH s AS (
        SELECT user_id,
               SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
            FROM events
        ) t
    )
    SELECT user_id,
           CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM s
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_sessions_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = session_agg(
        stream_events(spark, sf_dir), gap="30 minutes", watermark="2 hours"
    )
    # no state-partition clamp: session_window merge pays a
    # per-partition SORT of the input — measured slightly slower at
    # the clamped width (r11), unlike the hash-agg streams below
    sunk = run_to_memory(agg, mode="complete")
    return (
        sunk.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Watermark-scoped dedup: the event file is staged TWICE into the
# source dir and streamed one file per micro-batch — the second copy is
# eliminated (in-batch state for batch 1's file, cross-batch state +
# late-row semantics for batch 2's). The sink must hold exactly the
# original events.
@query(
    "stream_dedup_events",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {sql_dsum('value', 'total_value')}
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = stream_scratch("stream_dedup_")
    src = work / "in"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "copy_a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src / "copy_b.parquet")
    ensure_session_confs(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = normalize_event_ts(
        stream_parquet(spark, str(src), schema, max_files_per_trigger=1)
    )
    deduped = dedup_within_watermark(stream, keys=("event_id",), watermark="1 hour")
    sunk = run_append_to_parquet(
        deduped,
        str(work / "out"),
        str(work / "ckpt"),
        shuffle_partitions=stream_state_partitions(spark, src),
    )
    return (
        sunk.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join: each click joined to the same user's
# purchases within the following 15 minutes. Both sides carry
# watermarks and the join condition bounds event-time — the state
# Spark must keep is therefore watermark-bounded on both sides (the
# requirement for stream-stream joins to run unbounded).
@query(
    "stream_stream_click_purchase",
    oracle=f"""
    SELECT c.user_id,
           COUNT(*) AS n_pairs,
           {sql_dsum('p.value', 'purchase_value')}
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 15 MINUTE
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
)
def stream_stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = stream_scratch("stream_ss_")
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 15 MINUTES")),
    )
    sunk = run_append_to_parquet(
        joined,
        str(work / "out"),
        str(work / "ckpt"),
        shuffle_partitions=stream_state_partitions(
            spark, f"{sf_dir}/events.parquet"
        ),
    )
    return (
        sunk.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            dsum(F.col("p_value"), "purchase_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Stream-static join: the event stream enriched against the static
# customer dimension (broadcast — the static side is planned like any
# batch dim join), sunk row-wise, then aggregated per segment.
@query(
    "stream_static_join_events",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n,
           {sql_dsum('e.value', 'total_value')}
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def stream_static_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = stream_scratch("stream_join_")
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = stream_events(spark, sf_dir).join(
        F.broadcast(cust), F.col("user_id") == F.col("c_custkey")
    )
    sunk = run_append_to_parquet(
        enriched, str(work / "out"), str(work / "ckpt")
    )
    return (
        sunk.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "total_value"))
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Custom stateful operator (applyInPandasWithState): running per-user
# stats with state carried ACROSS micro-batches — the event file is
# split in half and streamed one file per batch, so most users are
# updated twice; the sink keeps every per-batch snapshot and the final
# answer takes each user's latest. Aggregates are order-independent
# (count/min/max), so the SQL oracle is exact regardless of batching.
@query(
    "stream_stateful_user_stats",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..streaming.runner import run_foreach_batch
    from ..streaming.stateful import running_user_stats

    work = stream_scratch("stream_state_")
    src = work / "in"
    src.mkdir()
    ev = read_parquet_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(src / "half_a"))
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(src / "half_b"))
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", ev.schema, max_files_per_trigger=1
    )
    out = str(work / "out")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    run_foreach_batch(
        running_user_stats(stream),
        sink,
        str(work / "ckpt"),
        output_mode="update",
        # NO adaptive state-partition clamp here (r11, measured): the
        # per-user Python fold in applyInPandasWithState is the real
        # work — one state partition serialized it onto one worker
        # (cusum 4.1 s -> 10.2 s). Python-stateful ops need compute
        # parallelism, not minimal state-commit overhead.
    )
    snapshots = spark.read.parquet(out)
    latest = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snapshots.withColumn("__rn", F.row_number().over(latest))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# foreachBatch → SCD2: two customer snapshots arrive as ordered
# micro-batches (snapshot B bumps acctbal by 100 for every third
# customer); each batch is merged with the canonical two-effect SCD2
# engine. The oracle derives the expected dimension state from the
# customer table alone.
@query(
    "stream_scd2_customers",
    oracle=f"""
    SELECT
        (SELECT COUNT(*) FROM customer)
      + (SELECT COUNT(*) FROM customer WHERE c_custkey % 3 = 0) AS n_rows,
        (SELECT COUNT(*) FROM customer) AS n_current,
        (SELECT COUNT(*) FROM customer WHERE c_custkey % 3 = 0) AS n_closed,
        (SELECT {sql_dsum("c_acctbal + CASE WHEN c_custkey % 3 = 0 THEN 100.0 ELSE 0.0 END", 'x').replace(' AS x', '')}
         FROM customer) AS cur_bal
    """,
)
def stream_scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = stream_scratch("stream_scd2_")
    src = work / "in"
    src.mkdir()
    cfg = PipelineConfig(
        name="customers_stream",
        raw_table="layer0100.customer_raw",
        dim_table="layer0150.dim_customer",
        business_key=("c_custkey",),
        compare_columns=("c_name", "c_acctbal", "c_mktsegment"),
    )
    wh = Warehouse(spark, str(work / "wh"))
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    snap_b = cust.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 100.0).otherwise(
            F.col("c_acctbal")
        ),
    )
    run_ts = lambda bid: f"2020-01-{bid + 1:02d} 00:00:00"  # noqa: E731
    ckpt = str(work / "ckpt")
    # Drain snapshot A, then land snapshot B and drain again — the
    # shared checkpoint forces batch order A → B.
    cust.write.mode("append").parquet(str(src))
    scd2_stream(
        stream_parquet(spark, str(src), cust.schema), wh, cfg, ckpt, run_ts
    )
    snap_b.write.mode("append").parquet(str(src))
    scd2_stream(
        stream_parquet(spark, str(src), cust.schema), wh, cfg, ckpt, run_ts
    )
    dim = wh.read(cfg.dim_table)
    cur = F.col("is_current")
    return dim.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(cur, 1).otherwise(0)).alias("n_current"),
        F.sum(F.when(~cur, 1).otherwise(0)).alias("n_closed"),
        F.sum(F.when(cur, F.col("c_acctbal")).otherwise(F.lit(0.0)).cast("decimal(30,6)"))
        .cast("double")
        .alias("cur_bal"),
    )


# ---------------------------------------------------------------------------
# foreachBatch → incremental rollup: events land as two ordered
# micro-batches (event_id parity); each is merged into the hourly
# rollup table (affected-day partition rewrite only). Must equal the
# one-shot full aggregation — same oracle as the batch twin.
@query(
    "stream_incremental_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.runner import rollup_stream

    work = stream_scratch("stream_rollup_")
    src = work / "in"
    src.mkdir()
    wh = Warehouse(spark, str(work / "wh"))
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    ckpt = str(work / "ckpt")
    # batch 1: even event_ids; drain; batch 2: odd; drain again — the
    # shared checkpoint orders the micro-batches.
    ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(str(src))
    rollup_stream(
        stream_parquet(spark, str(src), ev.schema), wh, "agg.hourly", ckpt,
        dims=["event_type"],
    )
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(str(src))
    rollup_stream(
        stream_parquet(spark, str(src), ev.schema), wh, "agg.hourly", ckpt,
        dims=["event_type"],
    )
    return (
        wh.read("agg.hourly")
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


# ---------------------------------------------------------------------------
# Streaming as-of enrichment: events arrive as two ordered micro-
# batches; each batch is enriched against the static (pre-deduped)
# order dimension with the SAME one-shuffle as-of operator the batch
# surface uses, appended to a parquet sink. Row-level semantics are
# batch-identical because backward as-of needs only the static right
# side, so the oracle is the batch twin's ASOF JOIN.
@query(
    "stream_asof_enrich_events",
    oracle="""
    WITH r AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS matched_orderkey
        FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, r.matched_orderkey
    FROM events e
    ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND r.o_orderdate <= e.ts
    ORDER BY e.event_id
    """,
)
def stream_asof_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join
    from ..streaming.runner import run_foreach_batch

    work = stream_scratch("stream_asof_")
    src = work / "in"
    sink = work / "out"
    src.mkdir()
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    orders = (
        read_parquet_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("matched_orderkey"))
    )

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = asof_join(
            batch_df,
            orders,
            left_on="ts",
            right_on="o_orderdate",
            by_left=["user_id"],
            by_right=["o_custkey"],
            right_payload=["matched_orderkey"],
        ).select("event_id", "user_id", "matched_orderkey")
        out.write.mode("append").parquet(str(sink))

    ckpt = str(work / "ckpt")
    ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(str(src))
    run_foreach_batch(stream_parquet(spark, str(src), ev.schema), enrich, ckpt)
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(str(src))
    run_foreach_batch(stream_parquet(spark, str(src), ev.schema), enrich, ckpt)
    return spark.read.parquet(str(sink)).orderBy("event_id")


# ---------------------------------------------------------------------------
# Streaming data-quality gate: every micro-batch flows through the
# expectations engine inside foreachBatch; valid rows land in the
# clean table, violations in the quarantine table with reasons. The
# batch/stream split uses the same operators (operators/quality.py)
# so the gate's semantics are the oracle-checked batch semantics.
# State: none beyond the file-source checkpoint — the gate itself is
# stateless row-local work, so it scales as a map-only pass per batch.
@query(
    "stream_dq_gate_events",
    oracle="""
    WITH flags AS (
        SELECT event_id,
               (ts IS NOT NULL) AS ok_ts,
               (event_type IN ('click', 'view', 'purchase', 'signup'))
                   AS ok_type,
               (value IS NOT NULL AND value >= 0 AND value <= 400) AS ok_value
        FROM events
    )
    SELECT reason, n FROM (
        SELECT concat_ws(',',
                   CASE WHEN NOT ok_ts THEN 'ts_not_null' END,
                   CASE WHEN NOT ok_type THEN 'type_known' END,
                   CASE WHEN NOT ok_value THEN 'value_range' END
               ) AS reason,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM flags
        WHERE NOT (ok_ts AND ok_type AND ok_value)
        GROUP BY 1
        UNION ALL
        SELECT '__valid', CAST(COUNT(*) AS BIGINT) FROM flags
        WHERE ok_ts AND ok_type AND ok_value
    )
    ORDER BY reason
    """,
)
def stream_dq_gate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import quality as Q

    work = stream_scratch("stream_dq_")
    src = work / "in"
    src.mkdir()
    ensure_session_confs(spark)
    events = read_parquet_table(spark, sf_dir, "events")
    # two landings → two micro-batches through the same checkpoint
    events.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(str(src))
    events.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    stream = stream_parquet(spark, str(src), schema)
    wh = Warehouse(spark, str(work / "wh"))

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        checked = Q.check(
            batch_df,
            [
                Q.not_null("ts_not_null", "ts"),
                Q.one_of(
                    "type_known",
                    "event_type",
                    ["click", "view", "purchase", "signup"],
                ),
                Q.in_range("value_range", "value", 0, 400),
            ],
        )
        valid, invalid = Q.quarantine(checked)
        wh.append(valid, "clean.events")
        wh.append(invalid, "reject.events")

    run_foreach_batch(stream, gate, str(work / "ckpt"))
    rejected = (
        wh.read("reject.events")
        .groupBy(F.col(Q.VIOLATIONS_COL).alias("reason"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    valid_n = wh.read("clean.events").agg(
        F.lit("__valid").alias("reason"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return rejected.unionByName(valid_n).orderBy("reason")


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join: every click, matched to the
# same user's purchases in the following 15 minutes — and, unlike the
# inner join above, clicks with NO purchase are emitted too (with
# nulls) once the watermark passes their join window.
#
# Outer stream-stream joins only release unmatched rows when the
# watermark moves past them, so a bounded replay must FLUSH the tail:
# a sentinel row far past the data's max event time is staged as a
# second file (later mtime, maxFilesPerTrigger=1 → its own
# micro-batch), advancing the watermark over every real row; no-data
# micro-batches (on by default) then evict and emit the remaining
# unmatched state. The sentinel user (-1) is filtered from results.
def _sentinel_staged_events(spark: SparkSession, sf_dir: str, key: str, rows):
    """Events + watermark-flush sentinel arrival fixture (00_events,
    then 01_flush 10 days past max event time), staged once per scale
    factor via cached_fixture — the close-the-books replay three
    queries previously staged inline per run (max-ts collect + two
    writes + copy every invocation; r11 optimization round, DISCLOSED
    per query in OPTIMIZATION_r11.md). ``rows`` maps flush_ts -> the
    sentinel rows in the RAW fixture schema. Returns (src dir, schema).

    The cache token folds in the events file's mtime AND a hash of the
    sentinel rows (rendered with a placeholder flush_ts), so two
    callers that share ``key`` but stage different rows never read
    each other's fixture.
    """
    import os as _os

    path = f"{sf_dir}/events.parquet"
    ensure_session_confs(spark)
    raw = spark.read.parquet(path)
    schema = raw.schema

    def _build(d: Path) -> None:
        shutil.copy(path, d / "00_events.parquet")
        max_ts_row = raw.agg(F.max("ts").alias("m")).first()
        if isinstance(max_ts_row["m"], int):
            flush_ts = max_ts_row["m"] + 10 * 24 * 3600 * 1_000_000_000
        else:
            flush_ts = max_ts_row["m"] + __import__("datetime").timedelta(
                days=10
            )
        sent_dir = d / "__sentinel_build"
        spark.createDataFrame(rows(flush_ts), schema).coalesce(1).write.parquet(
            str(sent_dir)
        )
        part = next(
            p for p in sent_dir.iterdir() if p.name.endswith(".parquet")
        )
        target = d / "01_flush.parquet"
        shutil.copy(part, target)
        shutil.rmtree(sent_dir)
        st = _os.stat(d / "00_events.parquet")
        _os.utime(target, (st.st_atime + 10, st.st_mtime + 10))

    src = cached_fixture(
        f"{key}_{Path(sf_dir).name}",
        _build,
        token=(os.stat(path).st_mtime, repr(rows("<flush_ts>"))),
    )
    return src, schema



# This is the standard "close the books" pattern for replaying
# bounded history through an unbounded-stream operator.
@query(
    "stream_stream_left_outer",
    oracle=f"""
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
    SELECT c.user_id,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN p.ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matched,
           {sql_dsum('p.value', 'purchase_value')}
    FROM c LEFT JOIN p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 15 MINUTE
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = stream_scratch("stream_sslo_")
    # Sentinel: one click + one purchase 10 days past max event time,
    # written in the RAW fixture schema so the stream reader accepts
    # it; staged once per SF (see _sentinel_staged_events).
    src, schema = _sentinel_staged_events(
        spark,
        sf_dir,
        "ssjoin_flush",
        lambda flush_ts: [
            (-1, flush_ts, -1, "click", 0.0, None),
            (-2, flush_ts, -1, "purchase", 0.0, None),
        ],
    )

    stream = normalize_event_ts(
        stream_parquet(spark, str(src), schema, max_files_per_trigger=1)
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 15 MINUTES")),
        "left_outer",
    )
    sunk = run_append_to_parquet(
        joined,
        str(work / "out"),
        str(work / "ckpt"),
        shuffle_partitions=stream_state_partitions(spark, src),
    )
    return (
        sunk.filter(F.col("c_user") >= 0)
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("p_ts").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_matched"),
            dsum(F.col("p_value"), "purchase_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Streaming EWMA (streaming/stateful.py::running_ewma): the stream is
# split into TWO time-ordered micro-batches (earlier half / later half
# by (ts, event_id) rank, mtimes forced so file order = time order),
# and the per-user fold carries across the batch boundary through the
# state store. Because batch boundaries respect event time and rows
# fold in (ts, event_id) order, the result is bit-identical to the
# batch EWMA — so this query REUSES ewma_event_values' oracle
# verbatim (plans/eventops.py), proving stream == batch exactly.
@query(
    "stream_ewma_users",
    oracle=f"""
    WITH seq AS (
        SELECT user_id,
               list(value ORDER BY ts, event_id) AS vals
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           vals[1] AS first_value,
           list_reduce(vals,
                       (acc, x) -> 0.9 * acc
                                   + {1.0 - 0.9} * x) AS ewma
    FROM seq
    ORDER BY user_id
    """,
)
def stream_ewma_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import Window

    from ..streaming.stateful import running_ewma

    work = stream_scratch("ewma_ordered_")
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )

    # ordered-halves arrival fixture: deterministic per scale factor,
    # so it builds once and is shared across runs (the established
    # cached-source discipline — the inline per-run staging paid a
    # single-partition global row_number sort + count + two writes
    # every invocation; r10 optimization round)
    def _build(d: Path) -> None:
        from pyspark.sql import Window as _W

        ranked = ev.withColumn(
            "__rn", F.row_number().over(_W.orderBy("ts", "event_id"))
        )
        half = ev.count() // 2
        stage_ordered_batches(
            d,
            [
                ranked.filter(F.col("__rn") <= half).drop("__rn"),
                ranked.filter(F.col("__rn") > half).drop("__rn"),
            ],
        )

    src = cached_fixture(
        f"ewma_ordered_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/events.parquet").st_mtime,
    )
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", ev.schema, max_files_per_trigger=1
    )
    out = str(work / "out")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    run_foreach_batch(
        running_ewma(stream, lam=0.9),
        sink,
        str(work / "ckpt"),
        output_mode="update",
        # NO adaptive state-partition clamp here (r11, measured): the
        # per-user Python fold in applyInPandasWithState is the real
        # work — one state partition serialized it onto one worker
        # (cusum 4.1 s -> 10.2 s). Python-stateful ops need compute
        # parallelism, not minimal state-commit overhead.
    )
    snapshots = spark.read.parquet(out)
    latest = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snapshots.withColumn("__rn", F.row_number().over(latest))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select("user_id", "n_events", "first_value", "ewma")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Event-time TIMEOUT surface (GroupStateTimeout.EventTimeTimeout —
# the one stateful mechanic the NoTimeout operators above don't
# exercise): a user "churns" when the watermark passes their last
# event + 1 hour; the state store then times the key out, emits its
# final (count, last-event) snapshot, and REMOVES the state — the
# bounded-state requirement for user-keyed state at 100 TB. Replay
# shape: batch 1 = all real events (watermark still at epoch, no
# timeouts), batch 2 = the +10-day sentinel advancing the watermark
# past everyone → each user emits exactly once. That makes the final
# output SQL-expressible: per-user totals with their last event time.
@query(
    "stream_inactive_users",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(epoch_us(CAST(MAX(ts) AS TIMESTAMP)) AS BIGINT) AS last_ts_us
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_inactive_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import inactive_users

    work = stream_scratch("stream_inactive_")
    # events + single-click flush sentinel, staged once per SF
    src, schema = _sentinel_staged_events(
        spark,
        sf_dir,
        "inactive_flush",
        lambda flush_ts: [(-1, flush_ts, -1, "click", 0.0, None)],
    )

    stream = normalize_event_ts(
        stream_parquet(spark, str(src), schema, max_files_per_trigger=1)
    ).withWatermark("ts", "30 minutes")
    out = inactive_users(
        stream.select("user_id", "ts"), gap="1 hour"
    )
    rows = run_to_memory(out, mode="append")
    return (
        rows.filter(F.col("user_id") >= 0)
        .select("user_id", "n_events", "last_ts_us")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Stream-stream FULL OUTER interval join — the last cell of the
# streaming join-mode matrix (inner: stream_stream_click_purchase;
# left outer: stream_stream_left_outer). Clicks with no purchase in
# the 15-minute window AND purchases preceded by no click both emit
# (null-padded) once the watermark passes their join window. Same
# close-the-books sentinel flush as the left-outer query; both
# sentinel rows (click AND purchase) advance the watermark and are
# filtered from results. The oracle is the identical FULL JOIN over
# the batch table, grouped by the coalesced user key.
@query(
    "stream_stream_full_outer",
    oracle=f"""
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN c.ts IS NOT NULL AND p.ts IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN p.ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_click_only,
           CAST(SUM(CASE WHEN c.ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchase_only,
           {sql_dsum('p.value', 'purchase_value')}
    FROM c FULL JOIN p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 15 MINUTE
    GROUP BY COALESCE(c.user_id, p.user_id)
    ORDER BY user_id
    """,
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = stream_scratch("stream_ssfo_")
    # same staged sentinel fixture as the left-outer twin
    src, schema = _sentinel_staged_events(
        spark,
        sf_dir,
        "ssjoin_flush",
        lambda flush_ts: [
            (-1, flush_ts, -1, "click", 0.0, None),
            (-2, flush_ts, -1, "purchase", 0.0, None),
        ],
    )

    stream = normalize_event_ts(
        stream_parquet(spark, str(src), schema, max_files_per_trigger=1)
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "30 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 15 MINUTES")),
        "full_outer",
    )
    sunk = run_append_to_parquet(
        joined,
        str(work / "out"),
        str(work / "ckpt"),
        shuffle_partitions=stream_state_partitions(spark, src),
    )
    key = F.coalesce(F.col("c_user"), F.col("p_user"))
    return (
        sunk.filter(key >= 0)
        .groupBy(key.alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(
                    F.col("c_ts").isNotNull() & F.col("p_ts").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_matched"),
            F.sum(F.when(F.col("p_ts").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_click_only"),
            F.sum(F.when(F.col("c_ts").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchase_only"),
            dsum(F.col("p_value"), "purchase_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Streaming point-in-time enrichment: each micro-batch of the event
# stream joins the SCD2 customer dimension AS OF a per-event probe
# timestamp (foreachBatch → operators/scd2.point_in_time_join) — the
# composition every CDC-fed lakehouse runs: facts stream in, the
# dimension is versioned, every fact sees the version that was true at
# its own event time, and a re-run after dim churn reproduces history
# instead of leaking today's attributes into yesterday's facts. Even
# event ids probe BETWEEN the two merges, odd ids probe after the
# second — same validity arithmetic as pit_join_orders_customers.
@query(
    "stream_pit_enrich_customers",
    oracle="""
    SELECT CASE WHEN e.event_id % 2 = 0 THEN 'mid' ELSE 'late' END AS probe,
           CASE
             WHEN e.event_id % 2 = 0 AND c.c_custkey % 2 = 0 THEN c.c_mktsegment
             WHEN e.event_id % 2 = 0 THEN 'NONE'
             WHEN c.c_custkey % 10 = 0 THEN 'CHANGED'
             ELSE c.c_mktsegment
           END AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY probe, segment
    ORDER BY probe, segment
    """,
)
def stream_pit_enrich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd2 import point_in_time_join
    from ..streaming.runner import run_foreach_batch
    from .etlops import CUST_CFG, _run_scd2_scenario

    wh = _run_scd2_scenario(spark, sf_dir)
    t = CUST_CFG.technical
    dim = wh.read(CUST_CFG.dim_table)

    work = stream_scratch("stream_pit_")
    out = str(work / "out")
    stream = stream_events(spark, sf_dir)

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        facts = batch_df.select(
            "event_id",
            F.col("user_id").alias("c_custkey"),
            F.when(
                F.col("event_id") % 2 == 0, F.lit("2024-01-01 12:00:00")
            )
            .otherwise(F.lit("2024-01-02 12:00:00"))
            .cast("timestamp")
            .alias("probe_ts"),
        )
        point_in_time_join(
            facts, dim, ["c_custkey"], "probe_ts", t.valid_from, t.valid_to
        ).select("event_id", "c_mktsegment").write.mode("append").parquet(out)

    run_foreach_batch(stream, enrich, str(work / "ckpt"))
    sunk = spark.read.parquet(out)
    return (
        sunk.select(
            F.when(F.col("event_id") % 2 == 0, F.lit("mid"))
            .otherwise(F.lit("late"))
            .alias("probe"),
            F.coalesce(F.col("c_mktsegment"), F.lit("NONE")).alias("segment"),
        )
        .groupBy("probe", "segment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("probe", "segment")
    )


# ---------------------------------------------------------------------------
# Streaming (continuous-ingest) SemDeDup: embedding batches arrive in
# vec_id order (4 range files, mtimes forced so file order = id
# order); each micro-batch decides its keeps against the STORE of all
# previously-ingested vectors plus its own lower-id rows — the exact
# "dropped iff a lower-id vector in the same cluster is within the
# cosine threshold" rule, applied incrementally. Because batch
# boundaries respect id order, the incremental result is
# ROW-IDENTICAL to the one-shot batch semdedup, so this query reuses
# semdedup_embeddings' oracle semantics verbatim — stream == batch,
# proven by hash. Store growth is the corpus itself (same as batch
# input); each micro-batch's join cost is batch × same-cluster store,
# not store × store.
from .simops import _sql_cosine  # noqa: E402  (loaded before streamops)

_SEMDEDUP_CLUSTER_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(6)
)


@query(
    "stream_semdedup_embeddings",
    oracle=f"""
    WITH c AS (
        SELECT vec_id, embedding,
               {_SEMDEDUP_CLUSTER_SQL} AS cluster
        FROM embeddings
    ),
    dups AS (
        SELECT DISTINCT b.vec_id AS vid
        FROM c a JOIN c b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= 0.3
    )
    SELECT c.vec_id, CAST(c.cluster AS INTEGER) AS cluster,
           (d.vid IS NULL) AS kept
    FROM c LEFT JOIN dups d ON c.vec_id = d.vid
    ORDER BY c.vec_id
    """,
)
def stream_semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..functions.vectors import cosine
    from ..operators.semdedup import signbit_cluster

    work = stream_scratch("stream_semdedup_")
    emb = read_parquet_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )

    # Batch cuts via approxQuantile + one max agg — NEVER a full
    # vec_id collect (VERDICT r6 task 6): the fixture idiom must
    # itself be 100 TB-shaped. Cut positions only set micro-batch
    # boundaries; the operator's ingest-order contract makes the
    # final store identical for ANY id-ordered batching, so the
    # quantile approximation cannot affect the oracle. The staged
    # batches are deterministic per scale factor, so they build once
    # and are shared across runs (VERDICT r6 task 7).
    def _build(d: Path) -> None:
        qs = emb.approxQuantile("vec_id", [0.25, 0.5, 0.75], 0.001)
        max_id = emb.agg(F.max("vec_id")).collect()[0][0]
        cuts = sorted({int(q) for q in qs if q is not None}) + [
            int(max_id) + 1
        ]
        lo = None
        for i, hi in enumerate(cuts):
            part = emb.filter(F.col("vec_id") < hi)
            if lo is not None:
                part = part.filter(F.col("vec_id") >= lo)
            part.coalesce(1).write.parquet(str(d / f"b{i}"))
            lo = hi
        for i in range(len(cuts)):  # file order = id order (contract)
            for p in (d / f"b{i}").glob("part-*"):
                st = os.stat(p)
                os.utime(p, (st.st_atime + i * 10, st.st_mtime + i * 10))

    src = cached_fixture(
        f"semdedup_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/embeddings.parquet").st_mtime,
    )

    stream = stream_parquet(
        spark, str(src) + "/*/part-*", emb.schema, max_files_per_trigger=1
    )
    store = str(work / "store")

    from ..functions.vectors import dot, norm

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(
            "vec_id", "embedding", signbit_cluster(F.col("embedding"), 6)
        )
        # within-batch lower-id dups ∪ store dups (store ids are all
        # lower by ingest-order contract); per-row norms precomputed so
        # each candidate pair pays one fold, not three (bit-identical
        # cosine: same doubles into the same / and * tree)
        withn = batch.withColumn("__n", norm(F.col("embedding")))
        a = withn.alias("a")
        b = withn.alias("b")
        cos_ab = dot(F.col("a.embedding"), F.col("b.embedding")) / (
            F.col("a.__n") * F.col("b.__n")
        )
        dups = (
            a.join(
                b,
                (F.col("a.cluster") == F.col("b.cluster"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .filter(cos_ab >= 0.3)
            .select(F.col("b.vec_id").alias("vid"))
        )
        if Path(store).exists():
            s = (
                spark.read.parquet(store)
                .withColumn("__n", norm(F.col("embedding")))
                .alias("s")
            )
            cos_sb = dot(F.col("s.embedding"), F.col("b.embedding")) / (
                F.col("s.__n") * F.col("b.__n")
            )
            dups = dups.unionByName(
                s.join(b, F.col("s.cluster") == F.col("b.cluster"))
                .filter(cos_sb >= 0.3)
                .select(F.col("b.vec_id").alias("vid"))
            )
        dups = dups.distinct()
        out = batch.join(dups, batch.vec_id == dups.vid, "left").select(
            "vec_id", "embedding", "cluster", F.col("vid").isNull().alias("kept")
        )
        out.write.mode("append").parquet(store)

    run_foreach_batch(stream, dedup_batch, str(work / "ckpt"))
    return (
        spark.read.parquet(store)
        .select("vec_id", F.col("cluster").cast("int").alias("cluster"), "kept")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Streaming CDC apply → FILE-PRUNED upsert: each micro-batch of
# last-write-wins changes lands via Warehouse.upsert_file_pruned,
# one MERGE commit rewriting only the files whose keys the batch
# touched — the streaming twin of scd1_file_pruned_customers and the
# shape a 100 TB CDC consumer needs (an hourly batch touches MB of a
# key-clustered dimension, not the dimension). Two mtime-ordered
# micro-batches; final state is the plain SCD1 oracle.
@query(
    "stream_scd1_file_pruned",
    oracle="""
    SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
    FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 10 <> 0
    UNION ALL
    SELECT c_custkey, c_name, 'CHANGED' FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey % 2 = 1
    ORDER BY key
    """,
)
def stream_scd1_file_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    work = stream_scratch("stream_scd1fp_")
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )

    # batch 0: the %10==0 updates; batch 1: the odd-key inserts —
    # deterministic per scale factor, staged once and shared (r6
    # task 7; mtime ordering survives the cache)
    def _build(d: Path) -> None:
        cust.filter(F.col("c_custkey") % 10 == 0).withColumn(
            "c_mktsegment", F.lit("CHANGED")
        ).coalesce(1).write.parquet(str(d / "b0"))
        cust.filter(F.col("c_custkey") % 2 == 1).coalesce(1).write.parquet(
            str(d / "b1")
        )
        for i in range(2):
            for p in (d / f"b{i}").glob("part-*"):
                st = os.stat(p)
                os.utime(p, (st.st_atime + i * 10, st.st_mtime + i * 10))

    src = cached_fixture(
        f"scd1fp_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/customer.parquet").st_mtime,
    )

    wh = Warehouse(spark, str(work / "wh"))
    t = "dim.customer_fp"
    # key-clustered base of the even keys — the layout the pruning
    # works against
    wh.overwrite(
        cust.filter(F.col("c_custkey") % 2 == 0).repartitionByRange(
            8, "c_custkey"
        ),
        t,
    )

    stream = stream_parquet(
        spark, str(src) + "/*/part-*", cust.schema, max_files_per_trigger=1
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        wh.upsert_file_pruned(batch_df, t, keys=["c_custkey"])

    run_foreach_batch(stream, apply, str(work / "ckpt"))
    return (
        wh.read(t)
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
        )
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# Streaming (continuous-ingest) MinHash-LSH near-dup dedup (r7): doc
# batches arrive in id order; each micro-batch drops a doc iff it
# shares an LSH band bucket with any previously-ingested doc (the
# band STORE — ids + band hashes only, never text or shingles) or a
# lower-id doc in its own batch. The store records EVERY seen doc's
# bands (dropped docs block too), which makes the rule prefix-closed:
# the incremental result is ROW-IDENTICAL to a one-shot banded
# self-join over the whole corpus (tests/test_streaming.py's
# lsh_dedup_keep asserts the equality). Rows-only gate by declared design — DuckDB
# cannot reproduce xxhash64 band hashes (same reason the
# minhash_lsh_pairs_docs family is rows-only).
@query("stream_minhash_dedup_docs")
def stream_minhash_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.dedup import minhash_bands

    work = stream_scratch("stream_lshdedup_")
    docs = read_parquet_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def _build(d: Path) -> None:
        qs = docs.approxQuantile("doc_id", [0.34, 0.67], 0.001)
        max_id = docs.agg(F.max("doc_id")).collect()[0][0]
        cuts = sorted({int(q) for q in qs if q is not None}) + [
            int(max_id) + 1
        ]
        lo = None
        for i, hi in enumerate(cuts):
            part = docs.filter(F.col("doc_id") < hi)
            if lo is not None:
                part = part.filter(F.col("doc_id") >= lo)
            part.coalesce(1).write.parquet(str(d / f"b{i}"))
            lo = hi
        for i in range(len(cuts)):
            for p in (d / f"b{i}").glob("part-*"):
                st = os.stat(p)
                os.utime(p, (st.st_atime + i * 10, st.st_mtime + i * 10))

    src = cached_fixture(
        f"lshdedup_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/documents.parquet").st_mtime,
    )
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", docs.schema, max_files_per_trigger=1
    )
    band_store = str(work / "bands")
    out_store = str(work / "out")

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        bands = minhash_bands(batch_df, "text", "doc_id").persist()
        a = bands.alias("a")
        b = bands.alias("b")
        dropped = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bhash") == F.col("b.bhash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("b.doc_id").alias("vid"))
        )
        if Path(band_store).exists():
            # explicit schema: per-batch spark.read.parquet pays a
            # schema-inference job; the store schema IS the band
            # relation's schema (r11 optimization round)
            s = spark.read.schema(bands.schema).parquet(band_store).alias(
                "s"
            )
            dropped = dropped.unionByName(
                s.join(
                    b,
                    (F.col("s.band") == F.col("b.band"))
                    & (F.col("s.bhash") == F.col("b.bhash")),
                    # store ids are all lower by ingest-order contract
                ).select(F.col("b.doc_id").alias("vid"))
            )
        dropped = dropped.distinct()
        ids = batch_df.select("doc_id")
        out = ids.join(
            dropped, ids.doc_id == dropped.vid, "left"
        ).select("doc_id", F.col("vid").isNull().alias("kept"))
        # the two appends run concurrently although `out` READS the
        # band store that `bands.write` appends to: that is safe only
        # because `s` above was built before the pool starts, and
        # building it pinned the store's file listing — the append
        # adds new part files and never rewrites a listed one, so
        # `out` sees exactly the previous batches' bands. Overlapping
        # them lets the verdict write back-fill the band write's task
        # tail (guide §2.6; the gdpr/slo pattern from r10)
        overlap(
            lambda: out.write.mode("append").parquet(out_store),
            lambda: bands.write.mode("append").parquet(band_store),
        )
        bands.unpersist()

    run_foreach_batch(stream, dedup_batch, str(work / "ckpt"))
    return (
        spark.read.parquet(out_store)
        .select("doc_id", "kept")
        .orderBy("doc_id")
    )


from .eventops import _CUSUM_ALLOW, _CUSUM_H  # noqa: E402  (loaded before streamops)
from .eventops import _HOLT_A, _HOLT_B, _HW_G  # noqa: E402
from . import ORACLES as _ORACLES  # noqa: E402


# ---------------------------------------------------------------------------
# Streaming CUSUM drift detector (stream twin of cusum_event_values):
# the same two-event-time-ordered-batch replay as stream_ewma_users,
# with the per-user fold s ← max(0, s + x − allow) carried across the
# batch boundary through the state store. The Python float ops
# replicate the batch expression tree exactly (IEEE doubles, same
# order), so this query REUSES the batch query's oracle verbatim —
# stream == batch bit-for-bit.
@query("stream_cusum_users", oracle=_ORACLES["cusum_event_values"])
def stream_cusum_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import Window

    from ..streaming.stateful import running_cusum

    work = stream_scratch("cusum_ordered_")
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )

    # ordered-halves arrival fixture: deterministic per scale factor,
    # so it builds once and is shared across runs (the established
    # cached-source discipline — the inline per-run staging paid a
    # single-partition global row_number sort + count + two writes
    # every invocation; r10 optimization round)
    def _build(d: Path) -> None:
        from pyspark.sql import Window as _W

        ranked = ev.withColumn(
            "__rn", F.row_number().over(_W.orderBy("ts", "event_id"))
        )
        half = ev.count() // 2
        stage_ordered_batches(
            d,
            [
                ranked.filter(F.col("__rn") <= half).drop("__rn"),
                ranked.filter(F.col("__rn") > half).drop("__rn"),
            ],
        )

    src = cached_fixture(
        f"cusum_ordered_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/events.parquet").st_mtime,
    )
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", ev.schema, max_files_per_trigger=1
    )
    out = str(work / "out")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    run_foreach_batch(
        running_cusum(stream, allow=_CUSUM_ALLOW, h=_CUSUM_H),
        sink,
        str(work / "ckpt"),
        output_mode="update",
        # NO adaptive state-partition clamp here (r11, measured): the
        # per-user Python fold in applyInPandasWithState is the real
        # work — one state partition serialized it onto one worker
        # (cusum 4.1 s -> 10.2 s). Python-stateful ops need compute
        # parallelism, not minimal state-commit overhead.
    )
    snapshots = spark.read.parquet(out)
    latest = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snapshots.withColumn("__rn", F.row_number().over(latest))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select("user_id", "n_events", "cusum_final", "cusum_max", "alarm")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Streaming merge-on-read deletes: a CDC feed of delete-key batches
# applies through DeltaLogWriter.delete_keys_dv per micro-batch on a
# Warehouse table — each batch commits deletion vectors (zero
# data-file rewrites while the stream runs; OPTIMIZE is a separate
# maintenance op). The final masked read is plain SQL DELETE
# semantics — the MOR streaming twin of stream_scd1_file_pruned's CoW
# path.
@query(
    "stream_dv_delete_customers",
    oracle="""
    SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
    FROM customer
    WHERE NOT (c_custkey % 7 = 0) AND NOT (c_custkey % 5 = 3)
    ORDER BY key
    """,
)
def stream_dv_delete_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    work = stream_scratch("stream_dvdel_")
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )

    def _build(d: Path) -> None:
        keys0 = cust.filter(F.col("c_custkey") % 7 == 0).select("c_custkey")
        keys1 = cust.filter(F.col("c_custkey") % 5 == 3).select("c_custkey")
        stage_ordered_batches(d, [keys0, keys1])

    src = cached_fixture(
        f"dvdel_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/customer.parquet").st_mtime,
    )

    from ..sources.deltalog import DeltaLogWriter

    wh = Warehouse(spark, str(work / "wh"))
    t = "dim.customer_dv"
    wh.overwrite(cust.repartitionByRange(8, "c_custkey"), t)
    w = DeltaLogWriter(spark, wh.path(t))

    key_schema = cust.select("c_custkey").schema
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", key_schema, max_files_per_trigger=1
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # distributed key semi-join — the CDC batch never visits the
        # driver (delete_keys_dv, not an IN-list predicate)
        w.delete_keys_dv(batch_df, keys=["c_custkey"])

    run_foreach_batch(stream, apply, str(work / "ckpt"))
    return (
        wh.read(t)
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
        )
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# Streaming MOR deletes on the Delta-log PROTOCOL backend (r9): the
# erasure-request feed (GDPR-shaped key batches) applies through
# DeltaLogWriter.delete_keys_dv per micro-batch — each batch is one
# protocol commit carrying position tombstones + re-added descriptors,
# ZERO data files rewritten while the stream runs. Idempotence under
# retries comes from the MOR evaluation itself (a replayed batch's
# keys are already invisible, so the re-delete matches nothing and
# commits nothing) — the DV twin of the txn-marker exactly-once path.
# Final state = plain SQL DELETE semantics, plus time travel back to
# the pre-stream version stays intact.
@query(
    "stream_dv_delete_deltalog",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE NOT (o_orderkey % 9 = 1) AND NOT (o_orderkey % 9 = 2)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def stream_dv_delete_deltalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.deltalog import DeltaLogWriter, read_delta

    work = stream_scratch("stream_dvdl_")
    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )

    def _build(d: Path) -> None:
        k0 = orders.filter(F.col("o_orderkey") % 9 == 1).select("o_orderkey")
        k1 = orders.filter(F.col("o_orderkey") % 9 == 2).select("o_orderkey")
        stage_ordered_batches(d, [k0, k1])

    src = cached_fixture(
        f"dvdl_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/orders.parquet").st_mtime,
    )

    w = DeltaLogWriter(spark, work / "orders_dv")
    w.create(orders)

    key_schema = orders.select("o_orderkey").schema
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", key_schema, max_files_per_trigger=1
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w.delete_keys_dv(batch_df, keys=["o_orderkey"])

    run_foreach_batch(stream, apply, str(work / "ckpt"))
    return (
        read_delta(spark, work / "orders_dv")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Streaming SCD1 upserts into the ICEBERG v2 backend (r10): the same
# micro-batched dimension feed as stream_scd1_file_pruned, applied
# through IcebergMetaWarehouse — every foreachBatch upsert commits a
# REAL Iceberg snapshot (metadata.json + manifest list + manifests),
# and the final state hashes identically to the other SCD1 twins:
# the storage-never-leaks-into-semantics proof extended to streaming
# writes on the second lakehouse format.
@query(
    "stream_scd1_iceberg",
    oracle="""
    SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
    FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 10 <> 0
    UNION ALL
    SELECT c_custkey, c_name, 'CHANGED' FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey % 2 = 1
    ORDER BY key
    """,
)
def stream_scd1_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sinks.warehouse import IcebergMetaWarehouse

    work = stream_scratch("stream_scd1ice_")
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )

    def _build(d: Path) -> None:
        cust.filter(F.col("c_custkey") % 10 == 0).withColumn(
            "c_mktsegment", F.lit("CHANGED")
        ).coalesce(1).write.parquet(str(d / "b0"))
        cust.filter(F.col("c_custkey") % 2 == 1).coalesce(1).write.parquet(
            str(d / "b1")
        )
        for i in range(2):
            for p in (d / f"b{i}").glob("part-*"):
                st = os.stat(p)
                os.utime(p, (st.st_atime + i * 10, st.st_mtime + i * 10))

    src = cached_fixture(
        f"scd1fp_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/customer.parquet").st_mtime,
    )

    wh = IcebergMetaWarehouse(spark, str(work / "wh"))
    t = "dim.customer_ice"
    wh.overwrite(cust.filter(F.col("c_custkey") % 2 == 0), t)

    stream = stream_parquet(
        spark, str(src) + "/*/part-*", cust.schema, max_files_per_trigger=1
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        wh.upsert(batch_df, t, keys=["c_custkey"])

    run_foreach_batch(stream, apply, str(work / "ckpt"))
    return (
        wh.read(t)
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
        )
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# Streaming DV deletes on a PARTITIONED Delta-log table (r10, VERDICT
# task 4's streaming twin): the same exactly-once foreachBatch CDC
# feed as stream_dv_delete_deltalog, but the target partitions on
# o_orderstatus — each micro-batch's key set tombstones rows ACROSS
# partition groups via per-group merge-on-read bitmaps, with replays
# matching nothing (already-deleted keys are invisible to the MOR
# view). Final state = plain SQL DELETE semantics on the partitioned
# layout.
@query(
    "stream_dv_delete_partitioned",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE NOT (o_orderkey % 9 = 1) AND NOT (o_orderkey % 9 = 2)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def stream_dv_delete_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from ..sources.deltalog import DeltaLogWriter, read_delta

    work = stream_scratch("stream_dvpart_")
    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )

    def _build(d: Path) -> None:
        k0 = orders.filter(F.col("o_orderkey") % 9 == 1).select("o_orderkey")
        k1 = orders.filter(F.col("o_orderkey") % 9 == 2).select("o_orderkey")
        stage_ordered_batches(d, [k0, k1])

    src = cached_fixture(
        f"dvdl_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/orders.parquet").st_mtime,
    )

    w = DeltaLogWriter(spark, work / "orders_dv_part")
    w.create_partitioned(orders, ["o_orderstatus"])

    key_schema = orders.select("o_orderkey").schema
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", key_schema, max_files_per_trigger=1
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w.delete_keys_dv(batch_df, keys=["o_orderkey"])

    run_foreach_batch(stream, apply, str(work / "ckpt"))
    return (
        read_delta(spark, work / "orders_dv_part")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Streaming (incremental) market-basket mining: lineitem arrives in
# two basket-complete micro-batches (split on orderkey parity —
# baskets never straddle a batch), and three ADDITIVE state tables
# (pair counts, item supports, basket count) merge per batch; the
# final read assembles confidence/lift from the merged counts with
# the batch operator's exact formulas. Support counting is additive,
# so the minsup prune moves to the final read and the incremental
# result is ROW-IDENTICAL to the one-shot pass — proven by reusing
# frequent_pairs_orders' oracle verbatim. (Per-batch enumeration
# skips the A-Priori item prune — global supports are unknowable
# mid-stream — but stays bounded by basket size; the prune is a
# final-read filter, not a correctness device.)
@query(
    "stream_frequent_pairs_orders",
    oracle=_ORACLES["frequent_pairs_orders"],
)
def stream_frequent_pairs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    work = stream_scratch("stream_fpairs_")
    li = read_parquet_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )

    def _build(d: Path) -> None:
        li.filter(F.col("l_orderkey") % 2 == 1).coalesce(1).write.parquet(
            str(d / "b0")
        )
        li.filter(F.col("l_orderkey") % 2 == 0).coalesce(1).write.parquet(
            str(d / "b1")
        )
        for i in range(2):
            for p in (d / f"b{i}").glob("part-*"):
                st = os.stat(p)
                os.utime(p, (st.st_atime + i * 10, st.st_mtime + i * 10))

    src = cached_fixture(
        f"fpairs_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/lineitem.parquet").st_mtime,
    )

    wh = Warehouse(spark, str(work / "wh"))
    pairs_t, items_t, meta_t = "agg.pairs", "agg.items", "agg.meta"

    def _merge(table: str, part: DataFrame, keys: list[str]) -> None:
        if wh.table_exists(table):
            part = (
                wh.read(table)
                .unionByName(part)
                .groupBy(*keys)
                .agg(F.sum("n").cast("bigint").alias("n"))
            )
        wh.overwrite_from_plan(part, table)

    stream = stream_parquet(
        spark, str(src) + "/*/part-*", li.schema, max_files_per_trigger=1
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        b = batch_df.select(
            F.col("l_orderkey").alias("bk"), F.col("l_partkey").alias("it")
        ).distinct()
        pa = b.select("bk", F.col("it").alias("item_a"))
        pb = b.select("bk", F.col("it").alias("item_b"))
        pair_part = (
            pa.join(pb, "bk")
            .filter(F.col("item_a") < F.col("item_b"))
            .groupBy("item_a", "item_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        item_part = b.groupBy(F.col("it").alias("item")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        meta_part = b.select("bk").distinct().agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        ).select(F.lit("n_baskets").alias("k"), "n")
        # three INDEPENDENT table merges per micro-batch → submit them
        # concurrently so the items/meta slivers back-fill executors
        # idled by the pair merge's tail (guide §2.6; each table
        # commits to its own log, so the writes cannot collide)
        overlap(
            lambda: _merge(pairs_t, pair_part, ["item_a", "item_b"]),
            lambda: _merge(items_t, item_part, ["item"]),
            lambda: _merge(meta_t, meta_part, ["k"]),
        )

    run_foreach_batch(stream, apply, str(work / "ckpt"))

    n_baskets = wh.read(meta_t).collect()[0]["n"]
    supp = wh.read(items_t).filter(F.col("n") >= 2)
    sa = supp.select(F.col("item").alias("item_a"), F.col("n").alias("supp_a"))
    sb = supp.select(F.col("item").alias("item_b"), F.col("n").alias("supp_b"))
    return (
        wh.read(pairs_t)
        .filter(F.col("n") >= 2)
        .withColumnRenamed("n", "pair_cnt")
        .join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .select(
            "item_a",
            "item_b",
            "pair_cnt",
            "supp_a",
            "supp_b",
            (
                F.col("pair_cnt").cast("double") / F.col("supp_a").cast("double")
            ).alias("confidence"),
            (
                F.col("pair_cnt").cast("double")
                * F.lit(float(n_baskets))
                / (
                    F.col("supp_a").cast("double")
                    * F.col("supp_b").cast("double")
                )
            ).alias("lift"),
        )
        .orderBy("item_a", "item_b")
    )


# ---------------------------------------------------------------------------
# Streaming sequence-pattern matcher (stream twin of
# event_pattern_match_users): per-user event-initial strings carried
# across micro-batches through the state store, re-scanned with the
# funnel regex at each snapshot. Same two-event-time-ordered-batch
# replay as stream_cusum_users; Python re and the batch engine's
# regex agree on greedy non-overlapping v+c+p, so this query REUSES
# the batch oracle verbatim — stream == batch by hash.
@query(
    "stream_pattern_match_users",
    oracle=_ORACLES["event_pattern_match_users"],
)
def stream_pattern_match_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import Window

    from ..streaming.stateful import running_sequence

    work = stream_scratch("seq_ordered_")
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )

    # ordered-halves arrival fixture: deterministic per scale factor,
    # so it builds once and is shared across runs (the established
    # cached-source discipline — the inline per-run staging paid a
    # single-partition global row_number sort + count + two writes
    # every invocation; r10 optimization round)
    def _build(d: Path) -> None:
        from pyspark.sql import Window as _W

        ranked = ev.withColumn(
            "__rn", F.row_number().over(_W.orderBy("ts", "event_id"))
        )
        half = ev.count() // 2
        stage_ordered_batches(
            d,
            [
                ranked.filter(F.col("__rn") <= half).drop("__rn"),
                ranked.filter(F.col("__rn") > half).drop("__rn"),
            ],
        )

    src = cached_fixture(
        f"seq_ordered_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/events.parquet").st_mtime,
    )
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", ev.schema, max_files_per_trigger=1
    )
    out = str(work / "out")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    run_foreach_batch(
        running_sequence(stream, "v+c+p"),
        sink,
        str(work / "ckpt"),
        output_mode="update",
        # NO adaptive state-partition clamp here (r11, measured): the
        # per-user Python fold in applyInPandasWithState is the real
        # work — one state partition serialized it onto one worker
        # (cusum 4.1 s -> 10.2 s). Python-stateful ops need compute
        # parallelism, not minimal state-commit overhead.
    )
    snapshots = spark.read.parquet(out)
    latest = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snapshots.withColumn("__rn", F.row_number().over(latest))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select("user_id", "n_events", "n_funnels", "converted")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Streaming Count-Min sketch (stream twin of cms_heavy_hitters_users):
# each micro-batch sketches ITS OWN events into d×W cells and appends
# them; the final sketch is the cell-wise SUM — CMS mergeability, the
# property that lets 1000 executors (or 1000 micro-batches) sketch
# independently and combine. Exact per-user counts accumulate
# additively alongside for the eval read-out. Batch order is
# irrelevant by construction (addition commutes), so the fixture just
# splits events in two; REUSES the batch oracle verbatim.
@query(
    "stream_cms_users",
    oracle=_ORACLES["cms_heavy_hitters_users"],
)
def stream_cms_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from .statops import cms_cells, cms_report

    work = stream_scratch("stream_cms_")
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )

    def _build(d: Path) -> None:
        h0 = ev.filter(F.col("event_id") % 2 == 0)
        h1 = ev.filter(F.col("event_id") % 2 == 1)
        stage_ordered_batches(d, [h0, h1])

    src = cached_fixture(
        f"cms_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/events.parquet").st_mtime,
    )
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", ev.schema, max_files_per_trigger=1
    )
    cell_store = str(work / "cells")
    count_store = str(work / "counts")

    def sketch_batch(batch_df: DataFrame, batch_id: int) -> None:
        cms_cells(batch_df).write.mode("append").parquet(cell_store)
        batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("c")
        ).write.mode("append").parquet(count_store)

    run_foreach_batch(stream, sketch_batch, str(work / "ckpt"))
    cells = (
        spark.read.parquet(cell_store)
        .groupBy("i", "bkt")
        .agg(F.sum("bc").alias("bc"))
    )
    counts = (
        spark.read.parquet(count_store)
        .groupBy("user_id")
        .agg(F.sum("c").alias("c"))
    )
    return cms_report(counts, cells)


# ---------------------------------------------------------------------------
# Watermark late-data audit — Spark's REAL micro-batch drop semantics,
# measured from the engine's own metrics and predicted by the oracle.
# Empirically pinned behavior (Spark 4.1, availableNow file source,
# asserted by test_streaming.py::test_watermark_drop_mechanics):
#   - the late-input filter LAGS one batch: rows arriving in the very
#     next batch after the watermark advanced are still ABSORBED into
#     live state (the docs' "data delayed more than the threshold is
#     not guaranteed to be dropped");
#   - append mode emits+evicts a window at the end of the first batch
#     whose watermark passes the window end — absorbed late rows are
#     INCLUDED in the emitted count;
#   - once evicted, later arrivals for that window ARE dropped, and
#     ``numRowsDroppedByWatermark`` counts post-partial-agg GROUP rows
#     (per input partition), not raw rows.
# The fixture replays: b0 = every event (sets the watermark to
# max−1h), b1 = duplicates of the first-quarter rows (absorbed),
# b2 = duplicates of the second-quarter rows (dropped; the single
# small file reads as one partition, so dropped groups == distinct
# hours in b2). The oracle predicts all three outputs in closed form.
@query(
    "stream_late_data_audit_events",
    oracle="""
    WITH b AS (
        SELECT CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS mn,
               CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS mx
        FROM events
    ),
    cuts AS (
        SELECT mn + CAST(FLOOR((mx - mn) / 4.0) AS BIGINT) AS c1,
               mn + CAST(FLOOR((mx - mn) / 2.0) AS BIGINT) AS c2,
               mx - 3600 AS wm
        FROM b
    ),
    e AS (SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS s FROM events),
    base AS (
        SELECT CAST(FLOOR(s / 3600.0) AS BIGINT) AS h, COUNT(*) AS n
        FROM e GROUP BY 1
    ),
    dup_a AS (
        SELECT CAST(FLOOR(s / 3600.0) AS BIGINT) AS h, COUNT(*) AS n
        FROM e, cuts WHERE s < c1 GROUP BY 1
    ),
    emitted AS (
        SELECT base.h, base.n + COALESCE(dup_a.n, 0) AS n
        FROM base LEFT JOIN dup_a ON base.h = dup_a.h, cuts
        WHERE (base.h + 1) * 3600 <= cuts.wm
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_windows_emitted,
           CAST(SUM(n) AS BIGINT) AS rows_emitted,
           (SELECT CAST(COUNT(DISTINCT CAST(FLOOR(s / 3600.0) AS BIGINT))
                        AS BIGINT)
            FROM e, cuts WHERE s >= c1 AND s < c2) AS dropped_late_groups
    FROM emitted
    """,
)
def stream_late_data_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    work = stream_scratch("stream_late_")
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )

    # Deterministic arrival fixture (full replay, then two
    # progressively-late slices), staged once per scale factor and
    # shared across runs — the established cached-source discipline
    # (r5 task 6 / r10); the per-run inline staging paid a min/max
    # collect plus three single-partition writes on every invocation.
    # DISCLOSED per-query in OPTIMIZATION_r11.md with the A/B quoted
    # both with and without the fixture build (r10 VERDICT item 3).
    def _build(d: Path) -> None:
        mn, mx = ev.agg(
            F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
        ).collect()[0]
        c1 = mn + (mx - mn) // 4
        c2 = mn + (mx - mn) // 2
        s = F.unix_timestamp("ts")
        stage_ordered_batches(
            d,
            [
                ev,
                ev.filter(s < c1),
                ev.filter((s >= c1) & (s < c2)),
            ],
        )

    src = cached_fixture(
        f"late_audit_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/events.parquet").st_mtime,
    )
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", ev.schema, max_files_per_trigger=1
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = str(work / "out")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    q = run_foreach_batch(
        agg,
        sink,
        str(work / "ckpt"),
        output_mode="append",
        # safe with foreachBatch here: the per-batch fn only appends the
        # already-aggregated window rows; no wide batch compute runs
        # under the scoped conf
        shuffle_partitions=stream_state_partitions(spark, src),
    )
    dropped = 0
    for p in q.recentProgress:
        for op in p["stateOperators"]:
            dropped += int(op.get("numRowsDroppedByWatermark", 0))
    emitted = spark.read.parquet(out)
    return emitted.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows_emitted"),
        F.sum("n").cast("bigint").alias("rows_emitted"),
    ).select(
        "n_windows_emitted",
        "rows_emitted",
        F.lit(dropped).cast("bigint").alias("dropped_late_groups"),
    )


# ---------------------------------------------------------------------------
# Streaming mergeable histogram sketch (r7): the stream twin of
# `sketch_quantile_gate_events`. Bin edges are FROZEN from the first
# arrivals (even event_ids — a real deployment fixes edges at design
# time; later out-of-range values clamp into the edge bins), then
# each micro-batch appends its own 64-bin partial counts — the
# mergeable-summary property IS the streaming story: partials from
# any number of batches/executors combine by one SUM per bin, so the
# merged stream sketch is bit-identical to the one-shot batch sketch
# with the same edges (that identity is what the oracle recomputes).
# Read-out gates approx p25/50/75/99 against the EXACT full-data
# quantile — within one bin width unless clamping moved mass.
@query(
    "stream_histogram_quantiles",
    oracle="""
    WITH mm AS (
        SELECT MIN(value) AS mn, MAX(value) AS mx
        FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL
    ),
    n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events
        WHERE value IS NOT NULL
    ),
    binned AS (
        SELECT LEAST(63, GREATEST(0, CAST(FLOOR((value - mm.mn)
                   / ((mm.mx - mm.mn) / 64.0)) AS BIGINT))) AS bin,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events, mm WHERE value IS NOT NULL
        GROUP BY 1
    ),
    cum AS (SELECT bin, SUM(c) OVER (ORDER BY bin) AS cum FROM binned),
    qs AS (
        SELECT CAST(q AS DOUBLE) AS q,
               CAST(ceil(CAST(q AS DOUBLE) * n.n) AS BIGINT) AS rk,
               mm.mn, mm.mx
        FROM (VALUES (0.25), (0.5), (0.75), (0.99)) t(q), mm, n
    ),
    approx AS (
        SELECT q, mn + CAST(MIN(bin) AS DOUBLE) * ((mx - mn) / 64.0)
                   AS approx_value,
               (mx - mn) / 64.0 AS bin_width
        FROM qs JOIN cum ON cum.cum >= qs.rk
        GROUP BY q, mn, mx
    ),
    s AS (
        SELECT value AS v, row_number() OVER (ORDER BY value) AS rn
        FROM events WHERE value IS NOT NULL
    ),
    exact AS (
        SELECT t.q, CAST(s.v AS DOUBLE) AS exact_value
        FROM (SELECT q, rk FROM qs) t
        JOIN s ON s.rn = greatest(1, t.rk)
    )
    SELECT a.q, a.approx_value, e.exact_value,
           abs(a.approx_value - e.exact_value) AS abs_err,
           (abs(a.approx_value - e.exact_value) <= a.bin_width)
               AS within_one_bin
    FROM approx a JOIN exact e ON a.q = e.q
    ORDER BY a.q
    """,
)
def stream_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import Window as W

    from ..operators.stats import exact_quantiles

    work = stream_scratch("stream_hist_")
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value"
    )

    def _build(d: Path) -> None:
        h0 = ev.filter(F.col("event_id") % 2 == 0)
        h1 = ev.filter(F.col("event_id") % 2 == 1)
        stage_ordered_batches(d, [h0, h1])

    src = cached_fixture(
        f"hist_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/events.parquet").st_mtime,
    )
    # edges frozen from the first arrivals (metadata-sized collect)
    mm = (
        ev.filter((F.col("event_id") % 2 == 0) & F.col("value").isNotNull())
        .agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
        .collect()[0]
    )
    mn, mx = float(mm["mn"]), float(mm["mx"])
    width = (mx - mn) / 64.0
    bin_col = F.least(
        F.lit(63),
        F.greatest(
            F.lit(0),
            F.floor((F.col("value") - F.lit(mn)) / F.lit(width)).cast(
                "bigint"
            ),
        ),
    )
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", ev.schema, max_files_per_trigger=1
    )
    partials = str(work / "bins")

    def sketch_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.filter(F.col("value").isNotNull()).select(
            bin_col.alias("bin")
        ).groupBy("bin").agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        ).write.mode("append").parquet(partials)

    run_foreach_batch(stream, sketch_batch, str(work / "ckpt"))
    bins = (
        spark.read.parquet(partials)
        .groupBy("bin")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    cum = bins.select(
        "bin", F.sum("c").over(W.orderBy("bin")).alias("cum")
    )
    nrows = ev.filter(F.col("value").isNotNull()).count()
    qs = spark.createDataFrame(
        [(0.25,), (0.5,), (0.75,), (0.99,)], ["q"]
    ).select(
        F.col("q").cast("double").alias("q"),
        F.ceil(F.col("q").cast("double") * F.lit(nrows))
        .cast("bigint")
        .alias("rk"),
    )
    approx = (
        qs.join(cum, cum["cum"] >= qs["rk"])
        .groupBy("q")
        .agg(F.min("bin").alias("bin"))
        .select(
            "q",
            (F.lit(mn) + F.col("bin").cast("double") * F.lit(width)).alias(
                "approx_value"
            ),
            F.lit(width).alias("bin_width"),
        )
    )
    exact = exact_quantiles(
        ev.filter(F.col("value").isNotNull()).select(
            F.col("value").cast("double").alias("value")
        ),
        "value",
        qs=[0.25, 0.5, 0.75, 0.99],
        block=F.floor(F.col("value") / F.lit(10.0)).cast("long"),
    ).select("q", F.col("value").alias("exact_value"))
    return (
        approx.join(exact, "q")
        .select(
            "q",
            "approx_value",
            "exact_value",
            F.abs(F.col("approx_value") - F.col("exact_value")).alias(
                "abs_err"
            ),
            (
                F.abs(F.col("approx_value") - F.col("exact_value"))
                <= F.col("bin_width")
            ).alias("within_one_bin"),
        )
        .orderBy("q")
    )


# ---------------------------------------------------------------------------
# Streaming-maintained materialized view (r7): the stream twin of
# mv_incremental_orders — each micro-batch lands in the warehouse
# source table and MaterializedAgg.refresh() folds in exactly the
# files that batch appended (cost ∝ batch, asserted by the returned
# files_scanned in tests). The MV state is the mergeable
# (count, DECIMAL-sum) algebra, so the streamed view equals the
# one-shot batch build bit-for-bit and the oracle recomputes over
# ALL orders — the same stream==batch identity contract as
# stream_incremental_rollup, expressed through the MV layer.
@query(
    "stream_mv_incremental_orders",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
               AS revenue
    FROM orders
    GROUP BY 1
    ORDER BY month
    """,
)
def stream_mv_incremental_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from ..sinks.matview import MaterializedAgg

    work = stream_scratch("stream_mv_")
    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
        .alias("month"),
        "o_totalprice",
    )

    def _build(d: Path) -> None:
        h0 = orders.filter(F.col("o_orderkey") % 2 == 0)
        h1 = orders.filter(F.col("o_orderkey") % 2 == 1)
        stage_ordered_batches(d, [h0, h1])

    src = cached_fixture(
        f"mv_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/orders.parquet").st_mtime,
    )
    wh = Warehouse(spark, str(work / "wh"))
    t = "layer0200.orders_stream_src"
    mv = MaterializedAgg(wh, "orders_monthly_s", t, ["month"], "o_totalprice")
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", orders.schema,
        max_files_per_trigger=1,
    )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        wh.append(batch_df, t)
        mv.refresh()

    run_foreach_batch(stream, fold, str(work / "ckpt"))
    return mv.read().select(
        "month",
        F.col("mv_n").alias("n_orders"),
        F.col("mv_sum").cast("double").alias("revenue"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# Streaming Holt-Winters (r7): the custom stateful operator
# (applyInPandasWithState — streaming/stateful.py::running_holt_winters)
# carrying each user's (t, level, trend, seasonal[4]) across
# micro-batches. The fixture splits events at the span's midpoint
# day, so each user's sequence arrives as two time-ordered chunks;
# the fold updates with the SAME IEEE expressions as the batch fold,
# so the final streamed snapshot is bit-identical to the one-shot
# batch query and shares its recursive-CTE oracle. Declared-total
# output: every user's LAST emitted snapshot (max t wins — t is the
# events-consumed counter, strictly growing).
@query(
    "stream_holt_winters_users",
    oracle=f"""
    WITH RECURSIVE seq AS (
        SELECT user_id, list(value ORDER BY ts, event_id) AS vs,
               CAST(len(list(value)) AS BIGINT) AS n
        FROM events GROUP BY user_id
    ),
    rec AS (
        SELECT user_id, 0 AS t, 0.0::DOUBLE AS l, 0.0::DOUBLE AS b,
               [0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE] AS s,
               n, vs
        FROM seq
        UNION ALL
        SELECT user_id, t + 1,
               {_HOLT_A} * (vs[t + 1] - s[(t % 4) + 1])
                   + {1.0 - _HOLT_A} * (l + b),
               {_HOLT_B} * (({_HOLT_A} * (vs[t + 1] - s[(t % 4) + 1])
                             + {1.0 - _HOLT_A} * (l + b)) - l)
                   + {1.0 - _HOLT_B} * b,
               list_transform(range(1, 5), i ->
                   CASE WHEN i = (t % 4) + 1 THEN
                       {_HW_G} * (vs[t + 1]
                                  - ({_HOLT_A} * (vs[t + 1] - s[(t % 4) + 1])
                                     + {1.0 - _HOLT_A} * (l + b)))
                       + {1.0 - _HW_G} * s[(t % 4) + 1]
                   ELSE s[i] END),
               n, vs
        FROM rec WHERE t < n
    )
    SELECT user_id, n AS n_events, l AS level, b AS trend,
           l + b + s[(CAST(n AS INTEGER) % 4) + 1] AS forecast_1
    FROM rec WHERE t = n
    ORDER BY user_id
    """,
)
def stream_holt_winters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import Window as W

    from ..streaming.stateful import running_holt_winters

    work = stream_scratch("stream_hw_")
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("sec"),
        "value",
    )

    def _build(d: Path) -> None:
        mid = ev.agg(
            (
                F.min(F.floor(F.col("sec") / 86400))
                + F.floor(
                    (
                        F.max(F.floor(F.col("sec") / 86400))
                        - F.min(F.floor(F.col("sec") / 86400))
                    )
                    / 2
                )
            ).alias("c")
        ).collect()[0]["c"]
        early = ev.filter(F.floor(F.col("sec") / 86400) <= mid)
        late = ev.filter(F.floor(F.col("sec") / 86400) > mid)
        stage_ordered_batches(d, [early, late])

    src = cached_fixture(
        f"hw_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/events.parquet").st_mtime,
    )
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", ev.schema, max_files_per_trigger=1
    )
    snap_store = str(work / "snaps")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(snap_store)

    run_foreach_batch(
        running_holt_winters(stream),
        sink,
        str(work / "ckpt"),
        output_mode="update",
        # NO adaptive state-partition clamp here (r11, measured): the
        # per-user Python fold in applyInPandasWithState is the real
        # work — one state partition serialized it onto one worker
        # (cusum 4.1 s -> 10.2 s). Python-stateful ops need compute
        # parallelism, not minimal state-commit overhead.
    )
    out = spark.read.parquet(snap_store)
    w = W.partitionBy("user_id").orderBy(F.col("t").desc())
    last = (
        out.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
    )
    s_next = F.when(F.col("t") % 4 == 0, F.col("s1")).when(
        F.col("t") % 4 == 1, F.col("s2")
    ).when(F.col("t") % 4 == 2, F.col("s3")).otherwise(F.col("s4"))
    return last.select(
        "user_id",
        F.col("t").cast("bigint").alias("n_events"),
        F.col("l").alias("level"),
        F.col("b").alias("trend"),
        (F.col("l") + F.col("b") + s_next).alias("forecast_1"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Streaming CDC apply (r8): a change stream of (row, _op) records
# applied to the dimension via foreachBatch → Warehouse.merge_ops —
# the full three-clause MERGE (conditional DELETE / UPDATE / INSERT)
# on every micro-batch, which is exactly how Delta deployments sink a
# Debezium/CDF feed. Batch 0 carries the matched deletes (%10==0) and
# updates (%10==2, segment CHANGED); batch 1 the odd-key inserts plus
# no-op deletes for never-seeded keys (%10==5 — CDC replay safety
# mid-stream). Final state is the SAME oracle as the batch
# merge_full_customers — the stream/batch identity that pins the
# foreachBatch path.
@query(
    "stream_merge_ops_customers",
    oracle="""
    SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
    FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 10 NOT IN (0, 2)
    UNION ALL
    SELECT c_custkey, c_name, 'CHANGED' FROM customer WHERE c_custkey % 10 = 2
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer WHERE c_custkey % 2 = 1 AND c_custkey % 10 <> 5
    ORDER BY key
    """,
)
def stream_merge_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    work = stream_scratch("stream_mergeops_")
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    with_op = cust.withColumn("_op", F.lit("U"))

    def _build(d: Path) -> None:
        b0 = with_op.filter(
            (F.col("c_custkey") % 10 == 0) | (F.col("c_custkey") % 10 == 2)
        ).select(
            "c_custkey",
            "c_name",
            F.when(
                F.col("c_custkey") % 10 == 2, F.lit("CHANGED")
            ).otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
            F.when(F.col("c_custkey") % 10 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("_op"),
        )
        b1 = with_op.filter(F.col("c_custkey") % 2 == 1).select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.when(F.col("c_custkey") % 10 == 5, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("_op"),
        )
        b0.coalesce(1).write.parquet(str(d / "b0"))
        b1.coalesce(1).write.parquet(str(d / "b1"))
        for i in range(2):
            for p in (d / f"b{i}").glob("part-*"):
                st = os.stat(p)
                os.utime(p, (st.st_atime + i * 10, st.st_mtime + i * 10))

    src = cached_fixture(
        f"mergeops_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/customer.parquet").st_mtime,
    )

    wh = Warehouse(spark, str(work / "wh"))
    t = "dim.customer_cdc"
    wh.overwrite(cust.filter(F.col("c_custkey") % 2 == 0), t)

    stream = stream_parquet(
        spark,
        str(src) + "/*/part-*",
        with_op.schema,
        max_files_per_trigger=1,
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        wh.merge_ops(batch_df, t, keys=["c_custkey"])

    run_foreach_batch(stream, apply, str(work / "ckpt"))
    return (
        wh.read(t)
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
        )
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# Streaming ANN index maintenance (r8): later-arrival vector batches
# stream into the at-rest IVF index via foreachBatch →
# ivf_index_add — continuous-ingest embedding maintenance (the vector
# twin of the streaming bloom/MV maintenance family). Because frozen-
# centroid assignment depends only on (vector, centroids), the
# streamed adds are bit-identical to the batch adds AND to a full
# rebuild — the query shares ann_index_maintained_embeddings' oracle
# verbatim, so the stream == batch == rebuild identity is one hash.
from .simops import _ANN_MAINT_ORACLE


@query("stream_ann_index_adds", oracle=_ANN_MAINT_ORACLE)
def stream_ann_index_adds(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.similarity import (
        ivf_build_index,
        ivf_index_add,
        ivf_query_at_rest,
    )

    work = stream_scratch("stream_annadd_")
    emb = read_parquet_table(spark, sf_dir, "embeddings")

    def _build(d: Path) -> None:
        late = emb.filter(F.col("vec_id") % 3 == 2)
        late.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
            str(d / "b0")
        )
        late.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
            str(d / "b1")
        )
        for i in range(2):
            for p in (d / f"b{i}").glob("part-*"):
                st = os.stat(p)
                os.utime(p, (st.st_atime + i * 10, st.st_mtime + i * 10))

    src = cached_fixture(
        f"annadd_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/embeddings.parquet").st_mtime,
    )

    wh = Warehouse(spark, str(work / "wh"))
    t = "ann.ivf_streamed"
    ivf_build_index(
        emb.filter(F.col("vec_id") % 3 != 2),
        wh, t, "embedding", "vec_id", n_centroids=16,
    )

    stream = stream_parquet(
        spark, str(src) + "/*/part-*", emb.schema, max_files_per_trigger=1
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ivf_index_add(batch_df, wh, t, "embedding", "vec_id")

    run_foreach_batch(stream, apply, str(work / "ckpt"))
    queries = emb.filter(F.col("vec_id") < 8)
    return ivf_query_at_rest(
        wh, t, queries, vec_col="embedding", id_col="vec_id",
        query_id_col="vec_id", k=5, nprobe=2,
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Streaming ingest into a PARTITIONED Delta table (r8): the canonical
# streaming-lakehouse sink — each micro-batch lands as one
# `append_partitioned` commit (per-file partitionValues + footer
# stats in the add actions), so downstream readers get partition
# pruning and data skipping over data that arrived a batch at a
# time, and every batch boundary is a reader-atomic log commit.
# Shares delta_partitioned_orders' oracle shape: storage layout and
# arrival mode must never leak into results. Auto-checkpoints fire
# on the protocol cadence as the commit count grows.
@query(
    "stream_delta_partitioned",
    oracle="""
    SELECT strftime(o_orderdate, '%Y') AS y,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS revenue
    FROM orders
    WHERE strftime(o_orderdate, '%Y') IN ('1994', '1995')
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def stream_delta_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.deltalog import DeltaLogWriter, read_delta

    work = stream_scratch("stream_dlpart_")
    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        F.date_format("o_orderdate", "yyyy").alias("y"),
    )

    # four deterministic arrival batches split by order key
    def _build(d: Path) -> None:
        for i in range(4):
            o.filter(F.col("o_orderkey") % 4 == i).coalesce(1).write.parquet(
                str(d / f"b{i}")
            )
        for i in range(4):
            for p in (d / f"b{i}").glob("part-*"):
                st = os.stat(p)
                os.utime(p, (st.st_atime + i * 10, st.st_mtime + i * 10))

    src = cached_fixture(
        f"dlpart_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/orders.parquet").st_mtime,
    )

    table = work / "orders_stream_part"
    w = DeltaLogWriter(spark, table)
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", o.schema, max_files_per_trigger=1
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if not table.exists() or not (table / "_delta_log").exists():
            w.create_partitioned(batch_df, ["y"])
        else:
            w.append_partitioned(batch_df, ["y"])

    run_foreach_batch(stream, apply, str(work / "ckpt"))
    years = ["1994", "1995"]
    pruned = read_delta(spark, table, partition_filters={"y": years})
    return (
        pruned.filter(F.col("y").isin(years))
        .groupBy("y", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("y", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Streaming percolation (r8): the reverse search in its native
# arrival mode — STORED alert queries (the corpus-derived terms of
# reverse_search_alerts_docs, i.e. static subscription metadata)
# fire as documents STREAM in. Each micro-batch joins the tiny
# broadcast alert-term table against its own distinct (doc, term)
# relation and appends the fired (alert, doc) matches; the final
# read-out aggregates the match log. Shares the batch twin's oracle:
# arrival mode must never change which alerts fire.
@query(
    "stream_reverse_search_docs",
    oracle=r"""
    WITH dt AS (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\s+'))
                     AS token
            FROM documents
        )
    ), df AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY 1
    ), ranked AS (
        SELECT token, ROW_NUMBER() OVER (ORDER BY df DESC, token) AS r
        FROM df
    ), alert_terms AS (
        SELECT ((r - 1) % 10) + 1 AS alert_id, token
        FROM ranked WHERE r <= 30
    ), hits AS (
        SELECT a.alert_id, dt.doc_id, COUNT(*) AS matched
        FROM alert_terms a JOIN dt ON dt.token = a.token
        GROUP BY 1, 2
    )
    SELECT CAST(h.alert_id AS BIGINT) AS alert_id,
           (SELECT array_to_string(list(token ORDER BY token), ' ')
            FROM alert_terms t WHERE t.alert_id = h.alert_id) AS terms,
           CAST(COUNT(*) AS BIGINT) AS n_matching_docs
    FROM hits h
    WHERE h.matched = 3
    GROUP BY h.alert_id
    ORDER BY alert_id
    """,
)
def stream_reverse_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    work = stream_scratch("stream_percolate_")
    docs = read_parquet_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    # stored subscriptions: static metadata, computed once from the
    # reference corpus (identical to the batch twin's derivation)
    dt_all = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "token"
        ),
    ).distinct()
    dfreq = dt_all.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.orderBy(F.col("df").desc(), "token")
    alert_terms = (
        dfreq.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 30)
        .select((((F.col("r") - 1) % 10) + 1).alias("alert_id"), "token")
        .localCheckpoint(eager=True)
    )

    def _build(d: Path) -> None:
        for i in range(3):
            docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
                str(d / f"b{i}")
            )
        for i in range(3):
            for p in (d / f"b{i}").glob("part-*"):
                st = os.stat(p)
                os.utime(p, (st.st_atime + i * 10, st.st_mtime + i * 10))

    src = cached_fixture(
        f"percolate_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/documents.parquet").st_mtime,
    )
    matches_dir = work / "matches"
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", docs.schema, max_files_per_trigger=1
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dt = batch_df.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("token"),
        ).distinct()
        fired = (
            dt.join(F.broadcast(alert_terms), "token")
            .groupBy("alert_id", "doc_id")
            .agg(F.count(F.lit(1)).alias("matched"))
            .filter(F.col("matched") == 3)
            .select("alert_id", "doc_id")
        )
        fired.write.mode("append").parquet(str(matches_dir))

    run_foreach_batch(stream, apply, str(work / "ckpt"))
    terms = alert_terms.groupBy("alert_id").agg(
        F.array_join(F.array_sort(F.collect_list("token")), " ").alias(
            "terms"
        )
    )
    return (
        spark.read.parquet(str(matches_dir))
        .groupBy("alert_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matching_docs"))
        .join(terms, "alert_id")
        .select(
            F.col("alert_id").cast("bigint").alias("alert_id"),
            "terms",
            "n_matching_docs",
        )
        .orderBy("alert_id")
    )


# ---------------------------------------------------------------------------
# Exactly-once streaming ingest into Delta (r8): foreachBatch sinks
# are at-least-once — on failure the batch is REDELIVERED — so a
# naive append duplicates rows. The spec's txn action closes it:
# `append_txn(df, app_id, batch_id)` commits the rows and the
# (appId, version) marker atomically; a redelivery finds the marker
# in the replayed ledger and no-ops. This query DELIBERATELY applies
# every micro-batch TWICE (the worst-case redelivery) and still
# matches the batch oracle exactly — the end-to-end exactly-once
# proof, markers surviving checkpoints included
# (tests/test_deltalog.py::test_txn_idempotent_appends_exactly_once).
@query(
    "stream_exactly_once_delta",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS revenue
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_exactly_once_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.deltalog import DeltaLogWriter, read_delta

    work = stream_scratch("stream_e1x_")
    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )

    def _build(d: Path) -> None:
        for i in range(3):
            o.filter(F.col("o_orderkey") % 3 == i).coalesce(1).write.parquet(
                str(d / f"b{i}")
            )
        for i in range(3):
            for p in (d / f"b{i}").glob("part-*"):
                st = os.stat(p)
                os.utime(p, (st.st_atime + i * 10, st.st_mtime + i * 10))

    src = cached_fixture(
        f"e1x_batches_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/orders.parquet").st_mtime,
    )
    table = work / "orders_e1x"
    w = DeltaLogWriter(spark, table)
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", o.schema, max_files_per_trigger=1
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # worst-case at-least-once: every batch delivered twice
        first = w.append_txn(batch_df, "orders-ingest", batch_id)
        replay = w.append_txn(batch_df, "orders-ingest", batch_id)
        assert first is not None and replay is None

    run_foreach_batch(stream, apply, str(work / "ckpt"))
    return (
        read_delta(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Streaming SRE multiwindow burn-rate alerts (r8 — the streaming twin
# of statops2.slo_burn_rate_events, Google SRE Workbook ch. 5): TWO
# watermarked window aggregations over the same event stream — a 1 h
# tumbling window (the fast signal) and a 6 h window SLIDING by 1 h
# (the slow signal; each slide step IS the trailing-6 h view at that
# hour boundary) — joined on window END after the sinks drain. Alert
# where both burn rates clear their thresholds (1.3x fast / 1.05x
# slow against a 75% SLO). State is bounded by the watermark on both
# aggs; integer counts stream, the divisions happen once per hour
# boundary at the end.
@query(
    "stream_slo_burn_alerts",
    oracle="""
    WITH hourly AS (
        SELECT CAST(FLOOR(CAST(FLOOR(epoch(ts)) AS BIGINT) / 3600) AS BIGINT)
                   AS h,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS err,
               CAST(COUNT(*) AS BIGINT) AS tot
        FROM events GROUP BY 1
    ),
    windowed AS (
        SELECT h, err, tot,
               CAST(SUM(err) OVER (ORDER BY h
                    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS err6,
               CAST(SUM(tot) OVER (ORDER BY h
                    RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS tot6
        FROM hourly
    )
    SELECT strftime(to_timestamp((h + 1) * 3600), '%Y-%m-%d %H:%M:%S')
               AS window_end,
           err, tot,
           (CAST(err AS DOUBLE) / CAST(tot AS DOUBLE)) / 0.25 AS burn_fast,
           (CAST(err6 AS DOUBLE) / CAST(tot6 AS DOUBLE)) / 0.25 AS burn_slow
    FROM windowed
    WHERE (CAST(err AS DOUBLE) / CAST(tot AS DOUBLE)) / 0.25 >= 1.3
      AND (CAST(err6 AS DOUBLE) / CAST(tot6 AS DOUBLE)) / 0.25 >= 1.05
    ORDER BY window_end
    """,
)
def stream_slo_burn_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    is_err = F.when(F.col("event_type") == "error", 1).otherwise(0)

    def counts(win):
        return (
            ev.withWatermark("ts", "2 hours")
            .groupBy(win.alias("w"))
            .agg(
                F.sum(is_err).cast("bigint").alias("err"),
                F.count(F.lit(1)).cast("bigint").alias("tot"),
            )
        )

    # The two burn-rate windows are INDEPENDENT bounded streams over
    # the same source; run them concurrently so the slow window's
    # micro-batches back-fill executors freed by the fast window's
    # tail (guide §2.6 overlap — r10 optimization round: sequential
    # availableNow runs paid two full micro-batch floors end to end).
    # The state-partition scope is entered ONCE around the overlap: two
    # threads each saving/restoring the shared session conf interleave
    # and can leave the inner value behind.
    nparts = stream_state_partitions(spark, f"{sf_dir}/events.parquet")
    with _scoped_shuffle_partitions(spark, nparts):
        fast, slow = overlap(
            lambda: run_to_memory(counts(F.window("ts", "1 hour")), "complete"),
            lambda: run_to_memory(
                counts(F.window("ts", "6 hours", "1 hour")), "complete"
            ),
        )
    f = fast.select(
        F.col("w.end").alias("we"),
        F.col("err"),
        F.col("tot"),
        (F.col("err").cast("double") / F.col("tot").cast("double") / 0.25)
        .alias("burn_fast"),
    )
    s = slow.select(
        F.col("w.end").alias("we"),
        (F.col("err").cast("double") / F.col("tot").cast("double") / 0.25)
        .alias("burn_slow"),
    )
    return (
        f.join(s, "we")
        .filter((F.col("burn_fast") >= 1.3) & (F.col("burn_slow") >= 1.05))
        .select(
            F.date_format("we", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            "err",
            "tot",
            "burn_fast",
            "burn_slow",
        )
        .orderBy("window_end")
    )


# ---------------------------------------------------------------------------
# transformWithState user stats (r8 — Spark 4's arbitrary-state API,
# the applyInPandasWithState successor): same per-user contract as
# stream_stateful_user_stats plus an exact total (cents BIGINT in
# state), run over ordered micro-batches with the REQUIRED RocksDB
# state store (disk-spilling state — the 100 TB keyspace knob).
#
# ENV-BLOCKED from the registry (the delta-spark/grpcio class): the
# TWS state-server protocol needs google.protobuf, which this
# container does not ship — the full path is implemented and covered
# by tests/test_streaming.py::test_transform_with_state_user_stats,
# which executes for real the moment protobuf is installable and
# skips (not passes) until then. Registering it in queries() would
# guarantee a sweep failure on this container, so it stays a guarded
# test, exactly like the Delta/Iceberg/Connect surfaces.
def stream_tws_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..streaming.runner import run_foreach_batch
    from ..streaming.stateful import running_user_stats_tws

    work = stream_scratch("stream_tws_")
    src = work / "in"
    src.mkdir()
    ev = read_parquet_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "half_a")
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "half_b")
    )
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", ev.schema, max_files_per_trigger=1
    )
    out = str(work / "out")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        run_foreach_batch(
            running_user_stats_tws(stream),
            sink,
            str(work / "ckpt"),
            output_mode="update",
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    snapshots = spark.read.parquet(out)
    latest = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snapshots.withColumn("__rn", F.row_number().over(latest))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_events", "total_cents", "min_value", "max_value")
        .orderBy("user_id")
    )
