"""Incremental rollup maintenance: merge correctness and the key scale
property — an upsert rewrites ONLY the day partitions its batch touches."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_poc_spark.operators.rollup import read_rollup, upsert_hourly_rollup
from lakehouse_poc_spark.sinks.warehouse import Warehouse


def _events(spark, rows):
    df = spark.createDataFrame(rows, "ts string, event_type string, value double")
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def test_incremental_equals_full(spark, tmp_path):
    rows = [
        (f"2024-03-0{d} 0{h}:15:00", t, float(d * h + i))
        for d in (1, 2)
        for h in (1, 2)
        for i, t in enumerate(["click", "view"])
    ]
    ev = _events(spark, rows)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    upsert_hourly_rollup(wh, "agg.h", ev.limit(4), dims=["event_type"])
    upsert_hourly_rollup(wh, "agg.h", ev.subtract(ev.limit(4)), dims=["event_type"])
    got = {
        (str(r.hour), r.event_type): (r.n_events, r.sum_value)
        for r in read_rollup(wh, "agg.h", dims=["event_type"]).collect()
    }
    full = {
        (str(r.hour), r.event_type): (r.n, r.s)
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == full


def test_upsert_touches_only_affected_partitions(spark, tmp_path):
    from lakehouse_poc_spark.sources.deltalog import _replay

    def day_files(day):
        return {
            a["path"]
            for a in _replay(wh.path("agg.h"), None)["adds"]
            if a["partitionValues"]["day"] == day
        }

    ev1 = _events(
        spark,
        [("2024-03-01 01:00:00", "click", 1.0), ("2024-03-02 01:00:00", "view", 2.0)],
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    upsert_hourly_rollup(wh, "agg.h", ev1, dims=["event_type"])
    before = day_files("2024-03-01")
    mtimes = {f: (wh.path("agg.h") / f).stat().st_mtime_ns for f in before}
    # second batch touches only day 2
    ev2 = _events(spark, [("2024-03-02 05:00:00", "click", 3.0)])
    upsert_hourly_rollup(wh, "agg.h", ev2, dims=["event_type"])
    assert day_files("2024-03-01") == before
    assert mtimes == {f: (wh.path("agg.h") / f).stat().st_mtime_ns for f in before}
    # and day 2 now has both hours
    assert (
        read_rollup(wh, "agg.h", dims=["event_type"])
        .filter(F.to_date("hour") == "2024-03-02")
        .count()
        == 2
    )


def test_cascade_all_levels_equal_full_recompute(spark, tmp_path):
    """Every cascade level (day/week/month) must equal a full
    recompute from the facts, and per-batch touched-bucket counts are
    bounded by the batch's time span (never the table's)."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.operators.rollup import cascade_upsert
    from lakehouse_poc_spark.sinks.warehouse import Warehouse

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    stats = []
    for parity in (0, 1):
        stats.append(
            cascade_upsert(
                wh, ev.filter(F.col("event_id") % 2 == parity), "ts", "value"
            )
        )

    def full(grain):
        return {
            (r.g, r.n, float(r.s))
            for r in ev.groupBy(F.date_trunc(grain, "ts").alias("g"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.col("value").cast("decimal(30,6)"))
                .cast("decimal(38,6)")
                .cast("double")
                .alias("s"),
            )
            .collect()
        }

    for grain, table, col in (
        ("day", "agg.daily", "day"),
        ("week", "agg.weekly", "week"),
        ("month", "agg.monthly", "month"),
    ):
        got = {
            (r[col], r.n, float(r.sum_value))
            for r in wh.read(table).collect()
        }
        assert got == full(grain), grain
    # touched buckets reflect the batch's span: both batches cover the
    # same ~month of fixture data
    for s in stats:
        assert s["touched_months"] >= 1
        assert s["touched_weeks"] >= s["touched_months"]
        assert s["touched_days"] >= s["touched_weeks"]


def test_retraction_batch_drops_empty_groups(spark, tmp_path):
    """Fully-retracted groups disappear from the view (no zero rows),
    and additive maintenance equals a recompute of the survivors."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.operators.rollup import apply_retraction_batch
    from lakehouse_poc_spark.sinks.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("b", 5.0)], ["k", "v"]
    )
    apply_retraction_batch(
        wh, "agg.t", rows.withColumn("op", F.lit(1)), dims=["k"], value_col="v"
    )
    # retract ALL of group b and one row of a
    retract = spark.createDataFrame(
        [("b", 5.0, -1), ("a", 10.0, -1)], ["k", "v", "op"]
    )
    apply_retraction_batch(wh, "agg.t", retract, dims=["k"], value_col="v")
    got = {r["k"]: (r["n_rows"], float(r["sum_value"])) for r in wh.read("agg.t").collect()}
    assert got == {"a": (1, 20.0)}
