"""Structured Streaming tests: watermark late-drop semantics, cross-
batch dedup, session-window boundaries, and foreachBatch SCD2
invariants — behaviors the batch-differential harness can't observe.
"""

from __future__ import annotations

from dataclasses import asdict
from pathlib import Path

from pyspark.sql import functions as F

from lakehouse_poc_spark.config import PipelineConfig
from lakehouse_poc_spark.sinks.warehouse import Warehouse
from lakehouse_poc_spark.streaming.runner import (
    run_append_to_parquet,
    run_to_memory,
    scd2_stream,
)
from lakehouse_poc_spark.streaming.windows import (
    dedup_within_watermark,
    session_agg,
    stream_parquet,
)


def _events_df(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    base = _events_df(
        spark,
        [
            (1, 1, "2020-01-01 10:00:00", 1.0),
            (2, 1, "2020-01-01 10:30:00", 2.0),
            (3, 2, "2020-01-01 10:45:00", 3.0),
        ],
    )
    base.coalesce(1).write.parquet(str(src / "a"))
    base.coalesce(1).write.parquet(str(src / "b"))  # full duplicate batch
    stream = stream_parquet(
        spark, str(src) + "/*", base.schema, max_files_per_trigger=1
    )
    deduped = dedup_within_watermark(stream, keys=("event_id",), watermark="1 hour")
    out = run_append_to_parquet(
        deduped, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    assert out.count() == 3
    assert out.select("event_id").distinct().count() == 3


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving in a later batch with event time far below the
    watermark must be dropped by the stateful operator."""
    src = tmp_path / "in"
    src.mkdir()
    schema = _events_df(spark, [(1, 1, "2020-01-01 10:00:00", 1.0)]).schema

    def land(rows, name):
        _events_df(spark, rows).coalesce(1).write.parquet(str(src / name))

    def drain():
        stream = stream_parquet(spark, str(src) + "/*", schema)
        deduped = dedup_within_watermark(
            stream, keys=("event_id",), watermark="1 hour"
        )
        return run_append_to_parquet(
            deduped, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )

    # Batch 1 advances the watermark to 11:00 (max 12:00 - 1 h).
    land(
        [(1, 1, "2020-01-01 10:00:00", 1.0), (2, 1, "2020-01-01 12:00:00", 2.0)],
        "batch1",
    )
    drain()
    # Batch 2: event 3 is 3 h late (09:00 < watermark 11:00) → dropped;
    # event 4 is fresh → kept.
    land(
        [(3, 2, "2020-01-01 09:00:00", 9.0), (4, 2, "2020-01-01 12:30:00", 4.0)],
        "batch2",
    )
    out = drain()
    ids = sorted(r.event_id for r in out.select("event_id").collect())
    assert ids == [1, 2, 4]


def test_session_window_gap_boundary(spark):
    """A delta of exactly the gap merges into one session (matches the
    batch sessionize operator's `> gap` new-session rule)."""
    df = _events_df(
        spark,
        [
            (1, 1, "2020-01-01 00:00:00", 1.0),
            (2, 1, "2020-01-01 00:30:00", 1.0),  # exactly 30 min later
            (3, 2, "2020-01-01 00:00:00", 1.0),
            (4, 2, "2020-01-01 00:30:01", 1.0),  # 1 s past the gap
        ],
    )
    r = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy("user_id")
        .collect()
    )
    assert [(row.user_id, row.n_sessions) for row in r] == [(1, 1), (2, 2)]


def test_streaming_session_agg_matches_batch(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    rows = [
        (1, 1, "2020-01-01 00:00:00", 1.0),
        (2, 1, "2020-01-01 00:10:00", 1.0),
        (3, 1, "2020-01-01 02:00:00", 1.0),
        (4, 2, "2020-01-01 00:00:00", 1.0),
    ]
    df = _events_df(spark, rows)
    df.coalesce(1).write.parquet(str(src / "a"))
    agg = session_agg(
        stream_parquet(spark, str(src) + "/*", df.schema),
        gap="30 minutes",
        watermark="2 hours",
    )
    sunk = run_to_memory(agg, mode="complete")
    per_user = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in sunk.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events")
        )
        .collect()
    }
    assert per_user == {1: (2, 3), 2: (1, 1)}


def test_run_to_memory_drops_its_sink_view(spark, tmp_path):
    """The memory sink's temp view is gone once the result is back,
    and the result still reads after the drop."""
    from perfbench.hygiene import temp_view_names

    src = tmp_path / "in"
    df = _events_df(
        spark,
        [(1, 1, "2020-01-01 00:00:00", 1.0), (2, 2, "2020-01-01 00:10:00", 2.5)],
    )
    df.write.parquet(str(src / "a"))
    agg = (
        stream_parquet(spark, str(src) + "/*", df.schema)
        .groupBy("user_id")
        .agg(F.sum("value").alias("v"))
    )
    before = temp_view_names(spark)
    out = run_to_memory(agg, mode="complete")
    assert temp_view_names(spark) == before
    assert sorted(map(tuple, out.collect())) == [(1, 1.0), (2, 2.5)]


def test_stateful_running_stats_across_batches(spark, tmp_path):
    """applyInPandasWithState must carry per-key state across
    micro-batches: a user appearing in both batches gets cumulative
    counts, min/max spanning both."""
    from lakehouse_poc_spark.streaming.runner import run_foreach_batch
    from lakehouse_poc_spark.streaming.stateful import running_user_stats

    src = tmp_path / "in"
    src.mkdir()
    b1 = _events_df(
        spark,
        [(1, 1, "2020-01-01 10:00:00", 5.0), (2, 2, "2020-01-01 10:01:00", 1.0)],
    ).select("event_id", "ts", "user_id", "value")
    b2 = _events_df(
        spark,
        [(3, 1, "2020-01-01 11:00:00", 2.0), (4, 1, "2020-01-01 11:30:00", 9.0)],
    ).select("event_id", "ts", "user_id", "value")
    b1.coalesce(1).write.parquet(str(src / "a"))
    b2.coalesce(1).write.parquet(str(src / "b"))
    stream = stream_parquet(
        spark, str(src) + "/*/part-*", b1.schema, max_files_per_trigger=1
    )
    out = str(tmp_path / "out")

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    run_foreach_batch(
        running_user_stats(stream), sink, str(tmp_path / "ckpt"), output_mode="update"
    )
    snaps = spark.read.parquet(out).collect()
    final = {}
    for r in snaps:
        if r.user_id not in final or r.n_events > final[r.user_id].n_events:
            final[r.user_id] = r
    u1 = final[1]
    assert (u1.n_events, u1.min_value, u1.max_value) == (3, 2.0, 9.0)
    u2 = final[2]
    assert (u2.n_events, u2.min_value, u2.max_value) == (1, 1.0, 1.0)
    # user 1 appeared in two batches → two snapshots were emitted
    assert sum(1 for r in snaps if r.user_id == 1) == 2


def test_scd2_stream_two_batches(spark, tmp_path):
    cfg = PipelineConfig(
        name="t",
        raw_table="raw.t",
        dim_table="dim.t",
        business_key=("k",),
        compare_columns=("v",),
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    snap_a = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    snap_b = spark.createDataFrame([("a", 9), ("b", 2), ("c", 3)], "k string, v int")

    run_ts = lambda bid: f"2020-01-{bid + 1:02d} 00:00:00"  # noqa: E731
    snap_a.write.mode("append").parquet(str(src))
    s1 = scd2_stream(stream_parquet(spark, str(src), snap_a.schema), wh, cfg, ckpt, run_ts)
    snap_b.write.mode("append").parquet(str(src))
    s2 = scd2_stream(stream_parquet(spark, str(src), snap_a.schema), wh, cfg, ckpt, run_ts)

    assert asdict(s1[0]) == {"unchanged": 0, "new_keys": 2, "updated_keys": 0}
    assert asdict(s2[0]) == {"unchanged": 1, "new_keys": 1, "updated_keys": 1}

    dim = wh.read(cfg.dim_table)
    # SCD2 invariants: exactly one current row per key; the closed row's
    # valid_to equals its successor's valid_from.
    per_key_current = (
        dim.filter("is_current").groupBy("k").count().select("count").distinct().collect()
    )
    assert [r["count"] for r in per_key_current] == [1]
    a_rows = {
        (r.v, r.is_current): r
        for r in dim.filter(F.col("k") == "a").collect()
    }
    closed, current = a_rows[(1, False)], a_rows[(9, True)]
    assert closed.valid_to == current.valid_from
    assert current.valid_to is None


def test_scd2_stream_checkpoint_prevents_reprocessing(spark, tmp_path):
    """Re-running the bounded stream against the same checkpoint with
    no new files must apply nothing (exactly-once at the batch level)."""
    from lakehouse_poc_spark.config import PipelineConfig as PC

    cfg = PC(
        name="t2", raw_table="raw.t2", dim_table="dim.t2",
        business_key=("k",), compare_columns=("v",),
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    src = tmp_path / "in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    snap = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    snap.write.mode("append").parquet(str(src))

    run_ts = lambda bid: f"2021-01-{bid + 1:02d} 00:00:00"  # noqa: E731
    s1 = scd2_stream(stream_parquet(spark, str(src), snap.schema), wh, cfg, ckpt, run_ts)
    assert len(s1) == 1 and s1[0].new_keys == 2
    # drain again: checkpoint remembers the files → zero batches applied
    s2 = scd2_stream(stream_parquet(spark, str(src), snap.schema), wh, cfg, ckpt, run_ts)
    assert s2 == []
    dim = wh.read(cfg.dim_table)
    assert dim.count() == 2 and dim.filter("is_current").count() == 2


def test_rollup_stream_txn_registry_survives_checkpoint_loss(spark, tmp_path):
    """Lost/rebuilt checkpoint re-delivers every batch; each batch's
    commit carries its id as a Delta ``txn`` action, so the replayed
    batch id is found in the table's ledger and skipped instead of
    double-counting the rollup."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from lakehouse_poc_spark.operators.rollup import upsert_hourly_rollup
    from lakehouse_poc_spark.sinks.warehouse import Warehouse
    from lakehouse_poc_spark.sources.deltalog import _replay
    from lakehouse_poc_spark.streaming.runner import rollup_stream
    from lakehouse_poc_spark.streaming.windows import stream_parquet

    src = tmp_path / "in"
    src.mkdir()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ev = spark.createDataFrame(
        [(i, f"2026-01-01 0{i % 3}:15:00", "click", 1.0) for i in range(30)],
        "event_id long, ts_s string, event_type string, value double",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    ev.write.mode("append").parquet(str(src))
    ckpt = tmp_path / "ckpt"

    def run():
        rollup_stream(
            stream_parquet(spark, str(src), ev.schema),
            wh, "agg.hourly", str(ckpt),
            dims=["event_type"],
        )

    run()
    once = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in wh.read("agg.hourly").collect()
    }
    assert sum(n for n, _ in once.values()) == 30
    v = wh.version("agg.hourly")

    # checkpoint lost → the stream replays batch 0 from scratch
    _sh.rmtree(ckpt)
    run()
    twice = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in wh.read("agg.hourly").collect()
    }
    assert twice == once  # no double counting
    assert wh.version("agg.hourly") == v  # the replay committed nothing
    assert _replay(wh.path("agg.hourly"), None)["txns"] == {
        f"agg.hourly@{ckpt}": 0
    }

    # without the ledger the same re-delivery DOES double-count —
    # proving the scenario is real, not vacuously passing
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    for _ in range(2):
        upsert_hourly_rollup(wh2, "agg.hourly", ev, dims=["event_type"])
    doubled = sum(r["n_events"] for r in wh2.read("agg.hourly").collect())
    assert doubled == 60


def test_rollup_streams_from_two_checkpoints_both_land(spark, tmp_path):
    """A second stream writing into the same rollup from its own
    checkpoint (a backfill from another source) numbers its batches
    from 0 again. Its ledger entry is its own, so its batch 0 is not
    taken for the first stream's and its rows land."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.sinks.warehouse import Warehouse
    from lakehouse_poc_spark.sources.deltalog import _replay
    from lakehouse_poc_spark.streaming.runner import rollup_stream
    from lakehouse_poc_spark.streaming.windows import stream_parquet

    wh = Warehouse(spark, str(tmp_path / "wh"))
    ckpts = []
    for name, n, hour in [("live", 30, "01"), ("backfill", 20, "05")]:
        src = tmp_path / name
        ev = spark.createDataFrame(
            [(i, f"2026-01-01 {hour}:15:00", "click", 1.0) for i in range(n)],
            "event_id long, ts_s string, event_type string, value double",
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "event_type", "value",
        )
        ev.write.parquet(str(src))
        ckpts.append(tmp_path / f"ckpt_{name}")
        rollup_stream(
            stream_parquet(spark, str(src), ev.schema),
            wh, "agg.hourly", str(ckpts[-1]),
            dims=["event_type"],
        )
    per_hour = {
        r["hour"].hour: r["n_events"] for r in wh.read("agg.hourly").collect()
    }
    assert per_hour == {1: 30, 5: 20}
    assert _replay(wh.path("agg.hourly"), None)["txns"] == {
        f"agg.hourly@{c}": 0 for c in ckpts
    }


def test_stateful_stream_under_rocksdb_state_store(spark, tmp_path):
    """The streaming family's 100-TB state backend (SCALE.md §4): the
    same watermarked dedup runs under the RocksDB state store provider
    and produces identical results. The provider is resolved per query
    start, so a session-conf flip here exercises the real RocksDB code
    path (rocksdbjni ships with Spark 4)."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    try:
        old = spark.conf.get(provider_key)
    except Exception:
        old = None
    spark.conf.set(provider_key, rocksdb)
    try:
        src = tmp_path / "in"
        src.mkdir()
        base = _events_df(
            spark,
            [
                (1, 1, "2020-01-01 10:00:00", 1.0),
                (2, 1, "2020-01-01 10:30:00", 2.0),
                (3, 2, "2020-01-01 10:45:00", 3.0),
            ],
        )
        base.coalesce(1).write.parquet(str(src / "a"))
        base.coalesce(1).write.parquet(str(src / "b"))  # duplicate batch
        stream = stream_parquet(
            spark, str(src) + "/*", base.schema, max_files_per_trigger=1
        )
        deduped = dedup_within_watermark(
            stream, keys=("event_id",), watermark="1 hour"
        )
        out = run_append_to_parquet(
            deduped, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
        assert out.count() == 3
        assert out.select("event_id").distinct().count() == 3
        # the checkpoint's state dir proves RocksDB actually ran
        state = tmp_path / "ckpt" / "state"
        assert state.exists()
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)


def test_session_factory_rocksdb_optin():
    """get_spark(rocksdb_state_store=True) wires the provider + changelog
    checkpointing confs (config-only check; no new JVM is spawned because
    getOrCreate reuses the active session, so assert via the builder's
    options on a throwaway import)."""
    from lakehouse_poc_spark.session import get_spark

    keys = (
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
    )
    spark = get_spark(rocksdb_state_store=True)
    try:
        assert spark.conf.get(keys[0]).endswith("RocksDBStateStoreProvider")
        assert spark.conf.get(keys[1]) == "true"
    finally:
        # getOrCreate applied these to the shared session — don't leak
        # the provider flip into other tests
        for k in keys:
            spark.conf.unset(k)


def test_event_time_timeout_emits_and_resets_state(spark, tmp_path):
    """EventTimeTimeout semantics: a key emits when the watermark
    passes last_event + gap, its state is REMOVED, and a later
    reappearance starts a fresh count (not cumulative)."""
    from lakehouse_poc_spark.streaming.stateful import inactive_users
    from lakehouse_poc_spark.streaming.windows import stream_parquet

    src = tmp_path / "in"
    src.mkdir()
    # Timeouts fire only for keys WITHOUT data in the triggering
    # batch, using the watermark as of the batch START — so the churn
    # must be observed one batch after the watermark passes it.
    batches = [
        _events_df(spark, [(1, 7, "2020-01-01 10:00:00", 1.0),
                           (2, 7, "2020-01-01 10:10:00", 1.0)]),
        # advances watermark to 22:00 (0s delay) AFTER this batch
        _events_df(spark, [(3, 8, "2020-01-01 22:00:00", 1.0)]),
        # user 7 absent + watermark(22:00) > 11:10 -> emits (7, 2)
        _events_df(spark, [(4, 9, "2020-01-01 23:00:00", 1.0)]),
        # user 7 returns: fresh state (old state was removed)
        _events_df(spark, [(5, 7, "2020-01-02 09:00:00", 1.0)]),
        # far-future row advances the watermark past everyone; the
        # trailing no-data batch then flushes (7, 1) and (8, 1)
        _events_df(spark, [(6, 9, "2020-01-10 00:00:00", 1.0)]),
    ]
    import os
    for i, b in enumerate(batches):
        d = src / f"b{i}"
        b.coalesce(1).write.parquet(str(d))
        part = next(p for p in d.iterdir() if p.name.endswith(".parquet"))
        tgt = src / f"{i:02d}_batch.parquet"
        part.rename(tgt)
        os.utime(tgt, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    schema = batches[0].schema
    stream = (
        stream_parquet(spark, str(src) + "/*.parquet", schema, max_files_per_trigger=1)
        .withWatermark("ts", "0 seconds")
        .select("user_id", "ts")
    )
    from lakehouse_poc_spark.streaming.runner import run_to_memory

    out = run_to_memory(inactive_users(stream, gap="1 hour"), mode="append").collect()
    emits = sorted((r.user_id, r.n_events) for r in out)
    # user 7 emitted twice — (2 events), then (1 event) after the
    # state reset — proving removal; user 8 once; user 9's final
    # state may stay open (watermark never passes its last + gap)
    assert (7, 1) in emits and (7, 2) in emits and (8, 1) in emits, emits
    assert emits.count((7, 3)) == 0, emits  # never cumulative across reset


def test_run_with_metrics_reports_per_batch_progress(spark, tmp_path):
    """The observability runner surfaces engine progress: one metrics
    row per micro-batch, input rows summing to the source size, batch
    durations present."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.sources.readers import normalize_event_ts
    from lakehouse_poc_spark.streaming.runner import run_with_metrics
    from lakehouse_poc_spark.streaming.windows import stream_parquet

    src = tmp_path / "in"
    src.mkdir()
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    n = ev.count()
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "a")
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "b")
    )
    stream = normalize_event_ts(
        stream_parquet(
            spark, str(src) + "/*/part-*", ev.schema, max_files_per_trigger=1
        )
    )
    sunk, metrics = run_with_metrics(
        stream.filter(F.col("value") >= 0),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    assert sunk.count() == n
    data_batches = [m for m in metrics if (m["num_input_rows"] or 0) > 0]
    assert len(data_batches) == 2  # one per file
    assert sum(m["num_input_rows"] for m in data_batches) == n
    assert all(
        m["batch_duration_ms"] is not None and m["batch_duration_ms"] > 0
        for m in data_batches
    )


def test_run_with_metrics_beyond_recent_progress_cap(spark, tmp_path):
    """ADVICE r6: q.recentProgress caps at
    spark.sql.streaming.numRecentProgressUpdates entries, silently
    truncating per-batch telemetry for sources with more micro-batches.
    The listener-based collector must see EVERY batch: with the cap
    lowered to 5 and a 12-file maxFilesPerTrigger=1 source (12 data
    batches), row-count reconciliation against the sink must hold —
    impossible from the capped recentProgress alone."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.sources.readers import normalize_event_ts
    from lakehouse_poc_spark.streaming.runner import run_with_metrics
    from lakehouse_poc_spark.streaming.windows import stream_parquet

    src = tmp_path / "in"
    src.mkdir()
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    n_files = 12
    for i in range(n_files):
        ev.filter(F.col("event_id") % n_files == i).coalesce(1).write.parquet(
            str(src / f"f{i:02d}")
        )
    n = ev.count()
    saved = spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", None)
    try:
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "5")
        stream = normalize_event_ts(
            stream_parquet(
                spark, str(src) + "/*/part-*", ev.schema, max_files_per_trigger=1
            )
        )
        sunk, metrics = run_with_metrics(
            stream, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.numRecentProgressUpdates")
        else:
            spark.conf.set(
                "spark.sql.streaming.numRecentProgressUpdates", saved
            )
    assert sunk.count() == n
    data_batches = [m for m in metrics if (m["num_input_rows"] or 0) > 0]
    assert len(data_batches) == n_files  # > the cap of 5: no truncation
    assert sum(m["num_input_rows"] for m in data_batches) == n
    # batch ids are dense and unique (no double-count from gap-fill)
    ids = [m["batch_id"] for m in metrics]
    assert len(ids) == len(set(ids))


def lsh_dedup_keep(df, text_col: str, id_col: str):
    """One-shot LSH bucket dedup decision: (id, kept) where a doc is
    DROPPED iff any lower-id doc (kept or dropped) shares at least
    one LSH band bucket with it — one banded self-join on
    (band, bhash). Counting dropped docs as blockers makes the rule
    prefix-closed, so the streaming twin must reproduce it exactly."""
    from lakehouse_poc_spark.operators.dedup import minhash_bands

    banded = minhash_bands(df, text_col, id_col)
    a = banded.alias("a")
    b = banded.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"b.{id_col}").alias("__dropped"))
        .distinct()
    )
    ids = df.select(id_col).distinct()
    return ids.join(
        dropped, ids[id_col] == dropped["__dropped"], "left"
    ).select(id_col, F.col("__dropped").isNull().alias("kept"))


def test_stream_minhash_dedup_equals_one_shot(spark):
    """The streaming LSH dedup's prefix-closure contract: because the
    band store records EVERY seen doc (dropped docs block too),
    cleaning id-ordered micro-batches reproduces the one-shot
    lsh_dedup_keep over the whole corpus row-for-row."""
    from lakehouse_poc_spark.plans import QUERIES
    from lakehouse_poc_spark.sources.readers import read_parquet_table

    sf_dir = "/root/testdata/sf0.001"
    streamed = {
        r.doc_id: r.kept
        for r in QUERIES["stream_minhash_dedup_docs"](spark, sf_dir).collect()
    }
    docs = read_parquet_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    oneshot = {
        r.doc_id: r.kept
        for r in lsh_dedup_keep(docs, "text", "doc_id").collect()
    }
    assert streamed == oneshot
    assert len(streamed) == docs.count()
    # fixture must actually drop something, or the test is vacuous
    assert any(not k for k in streamed.values())


def test_stream_cusum_matches_batch(spark):
    """stream_cusum_users == cusum_event_values bit-for-bit: the
    state-store fold replicates the batch expression tree exactly."""
    from lakehouse_poc_spark.plans.eventops import cusum_event_values
    from lakehouse_poc_spark.plans.streamops import stream_cusum_users

    sf = "/root/testdata/sf0.001"
    batch = {r.user_id: r for r in cusum_event_values(spark, sf).collect()}
    stream = {r.user_id: r for r in stream_cusum_users(spark, sf).collect()}
    assert set(batch) == set(stream)
    for uid, b in batch.items():
        s = stream[uid]
        assert (b.n_events, b.cusum_final, b.cusum_max, b.alarm) == (
            s.n_events,
            s.cusum_final,
            s.cusum_max,
            s.alarm,
        ), uid


def test_stream_pattern_match_matches_batch(spark):
    """stream_pattern_match_users == event_pattern_match_users: the
    state-store string accumulation replays the batch sequences."""
    from lakehouse_poc_spark.plans.eventops import event_pattern_match_users
    from lakehouse_poc_spark.plans.streamops import stream_pattern_match_users

    sf = "/root/testdata/sf0.001"
    batch = {r.user_id: r for r in event_pattern_match_users(spark, sf).collect()}
    stream = {r.user_id: r for r in stream_pattern_match_users(spark, sf).collect()}
    assert batch.keys() == stream.keys()
    for uid, b in batch.items():
        s = stream[uid]
        assert (b.n_events, b.n_funnels, b.converted) == (
            s.n_events,
            s.n_funnels,
            s.converted,
        )


def test_stream_cms_merges_to_batch_sketch(spark):
    """stream_cms_users == cms_heavy_hitters_users: per-batch d×W
    cells summed cell-wise equal the one-shot sketch (mergeability)."""
    from lakehouse_poc_spark.plans.statops import cms_heavy_hitters_users
    from lakehouse_poc_spark.plans.streamops import stream_cms_users

    sf = "/root/testdata/sf0.001"
    batch = [tuple(r) for r in cms_heavy_hitters_users(spark, sf).collect()]
    stream = [tuple(r) for r in stream_cms_users(spark, sf).collect()]
    assert batch == stream


def test_watermark_drop_mechanics(spark, tmp_path):
    """Pins the Spark 4.x micro-batch watermark behavior the
    late-data audit relies on: (a) rows arriving ONE batch after the
    watermark advanced are absorbed into live state and included in
    the append-mode emission; (b) rows arriving after their window
    was evicted are dropped, with numRowsDroppedByWatermark counting
    post-partial-agg GROUP rows."""
    import os

    from pyspark.sql import functions as F

    src = tmp_path / "in"
    src.mkdir()
    both = (
        spark.range(100)
        .select((F.lit(1600000000) + F.col("id")).cast("timestamp").alias("ts"))
        .union(
            spark.range(100).select(
                (F.lit(1700000000) + F.col("id")).cast("timestamp").alias("ts")
            )
        )
    )
    late1 = spark.range(50).select(
        (F.lit(1600000000) + F.col("id")).cast("timestamp").alias("ts")
    )
    late2 = spark.range(30).select(
        (F.lit(1600000000) + F.col("id")).cast("timestamp").alias("ts")
    )
    both.coalesce(1).write.parquet(str(src / "t0"))
    late1.coalesce(1).write.parquet(str(src / "t1"))
    late2.coalesce(1).write.parquet(str(src / "t2"))
    for i, sub in enumerate(("t0", "t1", "t2")):
        for p in (src / sub).glob("part-*"):
            st = os.stat(p)
            os.utime(p, (st.st_atime + i * 10, st.st_mtime + i * 10))
    stream = (
        spark.readStream.schema(late1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*/part-*")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .count()
    )
    out = str(tmp_path / "out")
    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(lambda b, i: b.write.mode("append").parquet(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        int(op.get("numRowsDroppedByWatermark", 0))
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    rows = spark.read.parquet(out).collect()
    # the old window emitted exactly once, late1 ABSORBED (150 = 100+50)
    assert len(rows) == 1
    assert rows[0]["count"] == 150
    # late2 dropped as ONE group row (1 window x 1 partition), not 30
    assert dropped == 1


def test_stream_late_audit_consistency(spark):
    from lakehouse_poc_spark.plans.streamops import stream_late_data_audit_events

    row = stream_late_data_audit_events(spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n_windows_emitted > 0
    assert row.rows_emitted > row.n_windows_emitted  # multi-row windows
    assert row.dropped_late_groups > 0  # the second-quarter replay was dropped


def test_stream_histogram_merges_to_batch_sketch(spark):
    """Per-micro-batch 64-bin partials summed bin-wise read out the
    same quantiles as a one-shot sketch with the same frozen edges —
    the mergeable-summary identity; and the gate columns match the
    batch twin computed over identical data."""
    from lakehouse_poc_spark.plans.streamops import stream_histogram_quantiles

    sf = "/root/testdata/sf0.001"
    out = stream_histogram_quantiles(spark, sf).toPandas()
    assert list(out["q"]) == [0.25, 0.5, 0.75, 0.99]
    import pandas as pd

    ev = pd.read_parquet(f"{sf}/events.parquet")
    vals = ev["value"].dropna()
    even = ev[ev["event_id"] % 2 == 0]["value"].dropna()
    mn, mx = float(even.min()), float(even.max())
    width = (mx - mn) / 64.0
    bins = ((vals - mn) / width).apply(
        lambda x: min(63, max(0, int(x // 1)))
    )
    counts = bins.value_counts().sort_index()
    cum = counts.cumsum()
    for _, row in out.iterrows():
        rk = int(-(-row["q"] * len(vals) // 1))  # ceil
        b = int(cum[cum >= rk].index.min())
        assert row["approx_value"] == mn + b * width
        exact = vals.sort_values().iloc[max(0, rk - 1)]
        assert row["exact_value"] == exact
        assert row["within_one_bin"] == (
            abs(row["approx_value"] - exact) <= width
        )


def test_stream_mv_equals_batch_mv(spark):
    """The streaming-maintained MV equals the one-shot batch MV row
    for row — the stream==batch identity through the MV layer."""
    from lakehouse_poc_spark.plans.etlops import mv_incremental_orders
    from lakehouse_poc_spark.plans.streamops import (
        stream_mv_incremental_orders,
    )

    sf = "/root/testdata/sf0.001"
    batch = [tuple(r) for r in mv_incremental_orders(spark, sf).collect()]
    stream = [
        tuple(r) for r in stream_mv_incremental_orders(spark, sf).collect()
    ]
    assert batch == stream and len(batch) > 0


def test_stream_holt_winters_equals_batch(spark):
    """The applyInPandasWithState HW fold across micro-batches is
    bit-identical to the batch F.aggregate fold — same IEEE ops in
    the same order, state carrying (t, l, b, s[4]) across batches."""
    from lakehouse_poc_spark.plans.eventops import holt_winters_event_values
    from lakehouse_poc_spark.plans.streamops import stream_holt_winters_users

    sf = "/root/testdata/sf0.001"
    batch = {
        r["user_id"]: (r["n_events"], r["level"], r["trend"], r["forecast_1"])
        for r in holt_winters_event_values(spark, sf).collect()
    }
    stream = {
        r["user_id"]: (r["n_events"], r["level"], r["trend"], r["forecast_1"])
        for r in stream_holt_winters_users(spark, sf).collect()
    }
    assert batch == stream and len(batch) > 0


def _assert_slo_burn_contract(spark):
    from lakehouse_poc_spark import plans

    rows = plans.QUERIES["stream_slo_burn_alerts"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "fixture should trip at least one multiwindow alert"
    for r in rows:
        assert r["burn_fast"] >= 1.3 and r["burn_slow"] >= 1.05
        assert r["window_end"].endswith(":00:00")  # hour-aligned ends
        assert r["err"] <= r["tot"]


def test_stream_slo_burn_alerts_contract(spark):
    """Runs the query three times: each run must satisfy the alert
    contract and leave ``spark.sql.shuffle.partitions`` as it found it
    (its two concurrent streams share one state-partition scope)."""
    key = "spark.sql.shuffle.partitions"
    for _ in range(3):
        before = spark.conf.get(key)
        _assert_slo_burn_contract(spark)
        assert spark.conf.get(key) == before


def test_transform_with_state_user_stats(spark):
    """transformWithStateInPandas end-to-end (Spark 4 arbitrary-state
    API + RocksDB store). ENV-GUARDED: the TWS state-server protocol
    imports google.protobuf, which this container lacks — the skip
    disappears (and the assert runs for real) once protobuf exists."""
    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState needs protobuf (absent here, like "
        "delta-spark/grpcio — environment, not code)",
    )
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.plans.streamops import stream_tws_user_stats
    from lakehouse_poc_spark.sources.readers import read_parquet_table

    sf = "/root/testdata/sf0.001"
    got = stream_tws_user_stats(spark, sf).collect()
    ev = read_parquet_table(spark, sf, "events")
    expect = {
        r["user_id"]: r
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)") * 100)
            .cast("bigint")
            .alias("total_cents"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert len(got) == len(expect)
    for r in got:
        e = expect[r["user_id"]]
        assert (
            r["n_events"],
            r["total_cents"],
            r["min_value"],
            r["max_value"],
        ) == (
            e["n_events"],
            e["total_cents"],
            e["min_value"],
            e["max_value"],
        )


def test_stream_state_partitions_warns_on_missing_path(spark, tmp_path):
    import pytest

    from lakehouse_poc_spark.streaming.windows import stream_state_partitions

    real = tmp_path / "events.parquet"
    real.write_bytes(b"x" * 10)
    typo = tmp_path / "evnets.parquet"
    with pytest.warns(RuntimeWarning, match="evnets.parquet"):
        n = stream_state_partitions(spark, str(real), str(typo))
    assert n == 1


def test_sentinel_fixture_token_covers_rows(spark, tmp_path, monkeypatch):
    """Two sentinel row sets staged under the same key must not share
    one cached fixture dir."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakehouse_poc_spark.plans import streamops
    from lakehouse_poc_spark.streaming import windows

    monkeypatch.setattr(windows, "_SCRATCH", tmp_path / "scratch")
    sf = tmp_path / "sf"
    sf.mkdir()
    events = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [dt.datetime(2020, 1, 1), dt.datetime(2020, 1, 2)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": ["click", "purchase"],
            "value": [0.0, 1.5],
            "props": pa.array([None, None], pa.string()),
        }
    )
    pq.write_table(events, sf / "events.parquet")
    sf = str(sf)

    def one(flush_ts):
        return [(-1, flush_ts, -1, "click", 0.0, None)]

    def two(flush_ts):
        return [
            (-1, flush_ts, -1, "click", 0.0, None),
            (-2, flush_ts, -1, "purchase", 0.0, None),
        ]

    src1, _ = streamops._sentinel_staged_events(spark, sf, "flush_key", one)
    src2, _ = streamops._sentinel_staged_events(spark, sf, "flush_key", two)
    assert src1 != src2
    assert pq.read_table(src1 / "01_flush.parquet").num_rows == 1
    assert pq.read_table(src2 / "01_flush.parquet").num_rows == 2
    again, _ = streamops._sentinel_staged_events(spark, sf, "flush_key", one)
    assert again == src1
