"""Incremental rollup maintenance: a continuously-maintained hourly
pre-aggregate over an append-only event stream (the lakehouse form of a
TimescaleDB continuous aggregate / materialized rollup).

Each batch upsert:

1. partially aggregates ONLY the batch (map-side combine, one shuffle
   of batch-sized data);
2. re-combines with the existing rollup rows of the AFFECTED day
   partitions only (mergeable aggregates: counts and decimal sums add;
   derived metrics like averages are computed at read time);
3. rewrites only those day partitions (dynamic partition overwrite:
   one Delta commit that removes those days' files and adds the new
   ones).

At 100 TB: cost per upsert is O(batch + touched partitions), never
O(table). Sums are stored as DECIMAL so re-aggregation is exact and
order-insensitive — incremental maintenance produces bit-identical
results to a full recompute (asserted by the oracle query), which
float sums would not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sinks.warehouse import Warehouse


def _partial(batch: DataFrame, ts_col: str, dims: list[str], value_col: str) -> DataFrame:
    hour = F.date_trunc("hour", F.col(ts_col)).alias("hour")
    return (
        batch.groupBy(hour, *[F.col(d) for d in dims])
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(30,6)"))
            .cast("decimal(38,6)")
            .alias("sum_value"),
        )
        .withColumn("day", F.date_format("hour", "yyyy-MM-dd"))
    )


def upsert_hourly_rollup(
    wh: Warehouse,
    table: str,
    batch: DataFrame,
    ts_col: str = "ts",
    dims: list[str] | None = None,
    value_col: str = "value",
) -> None:
    """Merge one batch of events into the hourly rollup ``table``."""
    _upsert_hourly_rollup(wh, table, batch, ts_col, dims, value_col, None)


def _upsert_hourly_rollup(
    wh: Warehouse,
    table: str,
    batch: DataFrame,
    ts_col: str,
    dims: list[str] | None,
    value_col: str,
    txn: tuple[str, int] | None,
) -> None:
    """The merge. With ``txn`` = (app id, batch id) the day-partition
    overwrite commits the id with the data, and a batch id the table's
    ledger already holds is a no-op (``DeltaLogWriter.overwrite_partitions``):
    a rollup is not content-idempotent, so a re-delivered batch must
    not apply twice."""
    dims = list(dims or [])
    part = _partial(batch, ts_col, dims, value_col)
    cached = None
    if wh.table_exists(table):
        # the partial aggregate feeds BOTH the affected-days collect
        # and the merge write — persist it so the batch is aggregated
        # once, not twice (r10 optimization round, guide §1.2; the
        # relation is rollup-sized: |hours × dims|, never batch-sized)
        cached = part = part.persist()
        # affected day partitions only: a bounded driver-side list (days
        # present in the batch); the day filter folds against each
        # partition's literal, so the read scans only those days' files
        days = [r["day"] for r in part.select("day").distinct().collect()]
        existing = wh.read(table).filter(F.col("day").isin(days))
        part = (
            existing.unionByName(part)
            .groupBy("hour", *dims, "day")
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("sum_value").cast("decimal(38,6)").alias("sum_value"),
            )
        )
    out = part.select("hour", *dims, "n_events", "sum_value", "day")
    try:
        wh._writer(table).overwrite_partitions(out, ["day"], txn)
    finally:
        if cached is not None:
            cached.unpersist()


def read_rollup(wh: Warehouse, table: str, dims: list[str] | None = None) -> DataFrame:
    """Rollup with derived metrics (avg from the mergeable pieces)."""
    dims = list(dims or [])
    return wh.read(table).select(
        "hour",
        *dims,
        F.col("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
        (F.col("sum_value").cast("double") / F.col("n_events")).alias("avg_value"),
    )


def upsert_join_agg(
    wh: Warehouse,
    table: str,
    fact_batch: DataFrame,
    dim: DataFrame,
    join_key: str,
    group_cols: list[str],
    value_col: str,
) -> None:
    """Incremental maintenance of an AGG-OVER-JOIN materialized view
    (the join-view extension of the hourly rollup above): for an
    append-only fact stream, Δview = Δfact ⋈ dim, partially
    aggregated, added into the stored mergeable state.

    The standard delta-propagation identity (ΔA ⋈ B) — the dim side is
    treated as stable for the batch (dim churn would add the symmetric
    A ⋈ ΔB term plus retractions; SCD2 handles slowly-changing dims
    upstream, so fact-append is the overwhelmingly common case).
    Cost per batch is O(batch + view), never O(fact history); sums are
    DECIMAL so incremental == full recompute bit-for-bit (the oracle
    asserts exactly that).
    """
    delta = fact_batch.join(dim, join_key).groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col(value_col).cast("decimal(30,6)"))
        .cast("decimal(38,6)")
        .alias("sum_value"),
    )
    if wh.table_exists(table):
        delta = (
            wh.read(table)
            .unionByName(delta)
            .groupBy(*group_cols)
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.sum("sum_value").cast("decimal(38,6)").alias("sum_value"),
            )
        )
    wh.overwrite_from_plan(delta, table)


def cascade_upsert(
    wh: Warehouse,
    batch: DataFrame,
    ts_col: str,
    value_col: str,
    daily_table: str = "agg.daily",
    weekly_table: str = "agg.weekly",
    monthly_table: str = "agg.monthly",
) -> dict:
    """Derived-table DAG maintenance: one fact batch propagates
    day → week → month, each level refreshed ONLY for the buckets the
    batch touched (the medallion rollup cascade). Per batch:

    1. the batch partially aggregates to (day, n, sum) and upserts by
       adding into the daily table (mergeable decimal state);
    2. the touched DAYS name the touched WEEKS; those weeks recompute
       FROM THE DAILY TABLE (days-per-week rows, never facts) and
       replace their weekly rows;
    3. months ALSO recompute from the daily table (days nest cleanly
       in months; weeks straddle month boundaries, so deriving months
       from weeks would mis-attribute straddling weeks).

    Cost per batch: O(batch) + O(touched-day rows) + O(touched-week
    rows) — table history is never rescanned, and every level is exact
    (decimal sums) so the cascade equals a full recompute bit-for-bit.
    Returns {touched_days, touched_weeks, touched_months} counts
    (bounded metadata, the observability a scheduler wants).
    """
    day = F.date_trunc("day", F.col(ts_col))
    delta = batch.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(value_col).cast("decimal(30,6)"))
        .cast("decimal(38,6)")
        .alias("sum_value"),
    )
    if wh.table_exists(daily_table):
        merged = (
            wh.read(daily_table)
            .unionByName(delta)
            .groupBy("day")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.sum("sum_value").cast("decimal(38,6)").alias("sum_value"),
            )
        )
    else:
        merged = delta
    wh.overwrite_from_plan(merged, daily_table)

    touched_days = [r["day"] for r in delta.select("day").distinct().collect()]
    touched_weeks = sorted(
        {r["w"] for r in delta.select(
            F.date_trunc("week", "day").alias("w")).distinct().collect()}
    )
    daily = wh.read(daily_table)
    week_rows = (
        daily.withColumn("week", F.date_trunc("week", "day"))
        .filter(F.col("week").isin(touched_weeks))
        .groupBy("week")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_value").cast("decimal(38,6)").alias("sum_value"),
        )
    )
    if wh.table_exists(weekly_table):
        kept = wh.read(weekly_table).filter(~F.col("week").isin(touched_weeks))
        week_all = kept.unionByName(week_rows)
    else:
        week_all = week_rows
    wh.overwrite_from_plan(week_all, weekly_table)

    touched_months = sorted(
        {r["m"] for r in delta.select(
            F.date_trunc("month", "day").alias("m")).distinct().collect()}
    )
    month_rows = (
        daily.withColumn("month", F.date_trunc("month", "day"))
        .filter(F.col("month").isin(touched_months))
        .groupBy("month")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_value").cast("decimal(38,6)").alias("sum_value"),
        )
    )
    if wh.table_exists(monthly_table):
        keptm = wh.read(monthly_table).filter(
            ~F.col("month").isin(touched_months)
        )
        month_all = keptm.unionByName(month_rows)
    else:
        month_all = month_rows
    wh.overwrite_from_plan(month_all, monthly_table)
    return {
        "touched_days": len(touched_days),
        "touched_weeks": len(touched_weeks),
        "touched_months": len(touched_months),
    }


def apply_retraction_batch(
    wh: Warehouse,
    table: str,
    batch: DataFrame,
    dims: list[str],
    value_col: str,
    op_col: str = "op",
) -> None:
    """Retractable-aggregate maintenance (the Flink-style changelog
    form): ``batch`` rows carry ``op`` ∈ {+1 insert, −1 delete}; the
    grouped view stores the mergeable pieces (Σop, Σop·value) and a
    delta batch applies ADDITIVELY — deletes subtract, no base-table
    rescan. Decimal sums keep the merged state bit-identical to a
    full recompute of the surviving rows at any batch split. Groups
    whose row count reaches zero are dropped (a fully-retracted
    group must disappear, not linger as a zero row). Cost per batch:
    O(batch + view), never O(history)."""
    delta = batch.groupBy(*[F.col(d) for d in dims]).agg(
        F.sum(op_col).cast("long").alias("n_rows"),
        F.sum(
            F.col(op_col) * F.col(value_col).cast("decimal(30,6)")
        )
        .cast("decimal(38,6)")
        .alias("sum_value"),
    )
    if wh.table_exists(table):
        delta = (
            wh.read(table)
            .unionByName(delta)
            .groupBy(*dims)
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.sum("sum_value").cast("decimal(38,6)").alias("sum_value"),
            )
        )
    wh.overwrite(delta.filter(F.col("n_rows") > 0), table)
