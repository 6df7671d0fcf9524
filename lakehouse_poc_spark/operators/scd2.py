"""SCD Type-2 merge engine (realizes the reference's empty
``src/utils/delta_helpers.py`` stub).

Canonical semantics = the reference pipeline_core's TWO-effect merge
(SURVEY.md §7.0.1): for a changed business key, (a) the open dimension
row is closed (``is_current=false``, ``valid_to=run_ts``) AND (b) the
new version is inserted (``valid_from=run_ts``, open-ended). Brand-new
keys are inserted; unchanged keys are untouched. The reference's SQL
notebooks drop effect (b) — treated as a bug, not a spec (reference
"Mini-ETL-Pipeline in Databricks.py":56-66 vs pipeline_core.py:185-252).

Differences from the reference, by design:
- ONE pass computes the new dimension AND its stats (the reference
  runs 5+ ``count()`` jobs re-executing lineage — pipeline_core.py:
  203,245,256-258). The batch is full-outer joined once against the
  open rows; each joined row expands (``inline``) into its output
  versions, history rows pass through, and the three counts ride the
  write as an ``Observation`` on the joined frame — no cache, no
  separate stats action, no re-join of the open rows.
- Change detection is null-safe ``<=>`` (operators/changes.py).
- ``run_ts`` is a parameter, not ``current_timestamp()`` — reruns are
  reproducible and validity chains line up exactly.
- Composite business keys everywhere (the reference hardcodes a single
  key in the DataFrame path, pipeline_core.py:97-101,163-179).

Scale notes: a full outer join cannot broadcast, so the batch and the
open rows each shuffle once on the business key, and the dimension is
scanned once for the open rows and once for the history. Building the
plan costs the driver a few JVM calls, whatever the width: the
versions, the flags and the change predicate are SQL-expression
strings, and reading the dimension from its log runs no schema job.
The new dimension is one plan, committed through the warehouse's
``overwrite_from_plan``: a new Delta log version (or Iceberg
snapshot).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..sinks.warehouse import Warehouse
from .changes import any_change_sql, quote


@dataclass(frozen=True)
class MergeStats:
    """The reference's stats contract (pipeline_core.py:255-259)."""

    unchanged: int
    new_keys: int
    updated_keys: int


def _sql_string(value: str) -> str:
    """``value`` as a single-quoted SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _opening(cfg: PipelineConfig, run_ts: datetime | str) -> dict[str, Column]:
    """Technical columns of a version opened at ``run_ts``."""
    t = cfg.technical
    return {
        t.valid_from: F.lit(run_ts).cast("timestamp"),
        t.valid_to: F.lit(None).cast("timestamp"),
        t.is_current: F.lit(True),
    }


def scd2_merge(
    wh: Warehouse,
    cfg: PipelineConfig,
    latest: DataFrame,
    run_ts: datetime | str,
    evolve: bool = False,
) -> MergeStats:
    """Merge a deduplicated batch (one row per business key, business
    columns only) into the SCD2 dimension table ``cfg.dim_table``.
    A batch that repeats a non-NULL key breaks that contract: each copy
    joins the key's open row, which is then written once per copy.

    ``evolve=True`` enables WRITE-side schema evolution (the Delta
    ``schema.autoMerge`` mechanic, public Delta docs): when the batch
    carries compare columns the dimension does not yet have, the
    target schema WIDENS — existing history/current rows null-backfill
    the new columns, and change detection treats the target's missing
    value as NULL (so a key whose new column is non-null registers as
    changed, while an all-NULL new column leaves keys untouched —
    exactly Delta's ``WHEN MATCHED`` null-comparison semantics under
    autoMerge). Only ADDITIVE evolution is supported; with the default
    ``evolve=False`` a widening batch fails fast, listing the missing
    columns — the Delta-without-autoMerge contract."""
    t = cfg.technical
    keys = list(cfg.business_key)
    latest = latest.select(*cfg.wanted_columns)
    obs = Observation()

    if not wh.table_exists(cfg.dim_table):
        init = latest.withColumns(_opening(cfg, run_ts)).observe(
            obs, F.count(F.lit(1)).alias("n")
        )
        wh.overwrite(init, cfg.dim_table)
        return MergeStats(unchanged=0, new_keys=obs.get["n"], updated_keys=0)

    dim = wh.read(cfg.dim_table)
    missing = [c for c in cfg.wanted_columns if c not in dim.columns]
    if missing:
        if not evolve:
            raise ValueError(
                f"batch widens dim table {cfg.dim_table!r} with new "
                f"columns {missing} — pass evolve=True to enable "
                "additive schema evolution (autoMerge)"
            )
        src_types = {f.name: f.dataType for f in latest.schema.fields}
        dim = dim.withColumns(
            {c: F.lit(None).cast(src_types[c]) for c in missing}
        )
    cols = dim.columns
    is_cur = quote(t.is_current)
    current = dim.filter(is_cur)
    history = dim.filter(f"NOT {is_cur}")

    # The merge's expressions are SQL strings, each parsed in one JVM
    # call however many columns there are. run_ts enters once, as a
    # typed column on the source side: every version that stamps it
    # comes from a joined batch row.
    src = latest.select(
        "*",
        F.lit(True).alias("__src"),
        F.lit(run_ts).cast("timestamp").alias("__run_ts"),
    ).alias("src")
    tgt = current.alias("tgt")
    cond = F.expr(" AND ".join(f"src.{quote(k)} = tgt.{quote(k)}" for k in keys))

    # Full-outer join: a NULL key never matches, so a NULL-keyed batch
    # row is new and a NULL-keyed open row is kept.
    both = f"src.__src IS NOT NULL AND tgt.{is_cur} IS NOT NULL"
    change = any_change_sql("src", "tgt", cfg.compare_columns)
    is_new = f"src.__src IS NOT NULL AND tgt.{is_cur} IS NULL"
    is_changed = f"{both} AND ({change})"
    is_same = f"{both} AND NOT ({change})"

    def version(side: str, stamp: dict[str, str]) -> str:
        fields = ", ".join(
            f"{_sql_string(c)}, {stamp.get(c, f'{side}.{quote(c)}')}" for c in cols
        )
        return f"named_struct({fields})"

    opened = version(
        "src",
        {
            t.valid_from: "src.__run_ts",
            t.valid_to: "CAST(NULL AS TIMESTAMP)",
            t.is_current: "true",
        },
    )
    closed = version("tgt", {t.valid_to: "src.__run_ts", t.is_current: "false"})
    # Each joined row yields its output versions: a new key opens one,
    # a changed key closes its open row and opens the new one, every
    # other open row is kept as it is.
    flagged = (
        src.join(tgt, cond, "full_outer")
        .selectExpr(
            f"CASE WHEN {is_new} THEN array({opened}) "
            f"WHEN {is_changed} THEN array({closed}, {opened}) "
            f"ELSE array({version('tgt', {})}) END AS __rows",
            f"{is_new} AS __is_new",
            f"{is_changed} AS __is_changed",
            f"{is_same} AS __is_same",
        )
        .observe(
            obs,
            F.count_if("__is_new").alias("new"),
            F.count_if("__is_changed").alias("chg"),
            F.count_if("__is_same").alias("same"),
        )
    )
    # The observed side goes first: the union then runs in the batch's
    # session, the one the Observation is registered in (a foreachBatch
    # frame lives in the stream's cloned session, history in wh.spark).
    new_dim = flagged.select(F.inline("__rows")).unionByName(history)
    # the write is the action that fills the Observation
    wh.apply_scd2_changeset(cfg.dim_table, new_dim)
    counts = obs.get
    return MergeStats(
        unchanged=counts["same"],
        new_keys=counts["new"],
        updated_keys=counts["chg"],
    )


def point_in_time_join(
    facts: DataFrame,
    dim: DataFrame,
    keys: list[str],
    ts_col: str,
    valid_from: str = "dwh_valid_from",
    valid_to: str = "dwh_valid_to",
) -> DataFrame:
    """Temporal (point-in-time) enrichment: left-join each fact row to
    the dimension VERSION that was valid at the fact's own timestamp —
    ``valid_from <= ts < valid_to`` with an open-ended (NULL valid_to)
    current version. The PIT join is how an SCD2 dimension is actually
    consumed: "what did this customer look like when the order was
    placed", not "what does it look like now".

    A well-formed SCD2 dimension has non-overlapping version intervals
    per key (guaranteed by scd2_merge's close+insert discipline), so
    at most one dim row matches each fact — the range predicate is a
    join FILTER, not a multiplier. Scale shape: a plain equi-join on
    the business key (AQE broadcasts a small dim); the interval
    predicate evaluates join-side, no extra shuffle, no window. Facts
    whose timestamp precedes the key's first version (or whose key is
    absent) keep NULL dim columns, the left-join contract.
    """
    f, d = facts.alias("f"), dim.alias("d")
    cond = [F.col(f"f.{k}") == F.col(f"d.{k}") for k in keys]
    ts = F.col(f"f.{ts_col}")
    cond.append(F.col(f"d.{valid_from}") <= ts)
    cond.append(
        F.col(f"d.{valid_to}").isNull() | (ts < F.col(f"d.{valid_to}"))
    )
    keep = [F.col(f"d.{c}").alias(c) for c in dim.columns if c not in keys]
    return f.join(d, cond, "left").select("f.*", *keep)


def assign_surrogate_keys(
    dim: DataFrame | None,
    batch: DataFrame,
    business_keys: list[str],
    surrogate_col: str = "sk",
    block: "F.Column | None" = None,
) -> DataFrame:
    """Stable surrogate-key assignment for new dimension members: rows
    of ``batch`` whose business key is absent from ``dim`` get keys
    ``max(existing sk) + dense sequence``, ordered by business key —
    the conformed-dimension idiom (facts join the immutable integer
    ``sk``, so business-key renames/merges never rewrite facts).

    Distributed without a global window: the new-key sequence comes
    from :func:`operators.linkage.global_rank` (per-block row_number +
    broadcast block offsets) when ``block`` is given, else a plain
    row_number over a single-partition window on the NEW KEYS ONLY —
    acceptable because per-batch new members are bounded (the
    dimension churn rate), never fact-sized; pass ``block`` (e.g. a
    hash-prefix of the key) when onboarding a whole dimension at once.
    Existing members keep their sk forever (re-runs are no-ops).
    """
    from .linkage import global_rank

    if dim is not None:
        base_row = dim.agg(F.max(surrogate_col).alias("m")).collect()[0]
        base = int(base_row["m"] or 0)
        fresh = batch.join(
            F.broadcast(dim.select(*business_keys).distinct()),
            business_keys,
            "left_anti",
        ).dropDuplicates(business_keys)
    else:
        base = 0
        fresh = batch.dropDuplicates(business_keys)
    if block is not None:
        ranked = global_rank(fresh, business_keys, block, rank_col="__rk")
    else:
        from pyspark.sql import Window

        w = Window.orderBy(*business_keys)
        ranked = fresh.withColumn("__rk", F.row_number().over(w))
    return ranked.withColumn(
        surrogate_col, (F.col("__rk") + F.lit(base)).cast("bigint")
    ).drop("__rk")


def inferred_members(
    facts: DataFrame,
    dim: DataFrame,
    business_keys: list[str],
    attr_defaults: dict,
    inferred_col: str = "is_inferred",
) -> DataFrame:
    """Early-arriving facts: fact rows referencing business keys the
    dimension has not seen yet get PLACEHOLDER dimension members
    (default attributes, ``is_inferred = true``) so the fact load
    never drops or orphans rows; the real attributes arrive later via
    the normal SCD2 merge, which closes the placeholder like any other
    change. Returns the placeholder rows to append. One anti-join on
    the business key (broadcast when the dim is small); dedupe keeps
    one placeholder per key regardless of fact fan-out.
    """
    missing = (
        facts.select(*business_keys)
        .dropDuplicates(business_keys)
        .join(dim.select(*business_keys).distinct(), business_keys, "left_anti")
    )
    out = missing
    for col, default in attr_defaults.items():
        out = out.withColumn(col, F.lit(default))
    return out.withColumn(inferred_col, F.lit(True))


def scd3_upsert(
    wh,
    table: str,
    batch: DataFrame,
    keys: list[str],
    tracked: str,
    run_ts: str,
) -> None:
    """SCD Type 3 upsert: the dimension keeps the CURRENT value of the
    tracked attribute plus one PREVIOUS value and the change
    timestamp (``<tracked>_prev`` / ``<tracked>_changed_at``) — the
    reference family's remaining SCD variant after SCD1 (overwrite,
    ``Warehouse.upsert``) and SCD2 (row history, :func:`scd2_merge`).

    Semantics per batch row: new key → insert with NULL prev; matched
    key with UNCHANGED tracked value → batch's non-tracked attributes
    win, prev/changed_at carry over; matched key with CHANGED value →
    prev takes the superseded value, changed_at takes ``run_ts``
    (null-safe comparison — NULL→value and value→NULL both count as
    changes, the reference's eqNullSafe discipline). Untouched keys
    carry over verbatim. One key-keyed outer join + overwrite — the
    same single-shuffle shape as SCD1; only ONE prior value is kept,
    by definition of Type 3."""
    prev_col = f"{tracked}_prev"
    at_col = f"{tracked}_changed_at"
    ts = F.to_timestamp(F.lit(run_ts))
    if not wh.table_exists(table):
        init = batch.select(
            "*",
            F.lit(None).cast("string").alias(prev_col),
            F.lit(None).cast("timestamp").alias(at_col),
        )
        wh.overwrite(init, table)
        return
    cur = wh.read(table)
    # presence markers instead of key isNotNull: the join matches on
    # eqNullSafe, so a NULL key is a legitimate match — testing the
    # key itself would silently drop NULL-keyed updates
    # (code-review r7)
    b = batch.select(
        *[F.col(c).alias(f"__b_{c}") for c in batch.columns],
        F.lit(True).alias("__b_present"),
    )
    cur_m = cur.withColumn("__c_present", F.lit(True))
    cond = None
    for k in keys:
        c = cur_m[k].eqNullSafe(F.col(f"__b_{k}"))
        cond = c if cond is None else (cond & c)
    j = cur_m.join(b, cond, "full_outer")
    in_batch = F.coalesce(F.col("__b_present"), F.lit(False))
    in_cur = F.coalesce(F.col("__c_present"), F.lit(False))
    matched = in_batch & in_cur
    cur = cur_m
    changed = matched & ~cur[tracked].eqNullSafe(F.col(f"__b_{tracked}"))
    out_cols = []
    for c in batch.columns:
        if c in keys:
            out_cols.append(
                F.coalesce(F.col(f"__b_{c}"), cur[c]).alias(c)
            )
        else:
            # batch wins wholesale for rows it carries (SCD1-style
            # attribute overwrite); untouched rows keep theirs
            out_cols.append(
                F.when(in_batch, F.col(f"__b_{c}"))
                .otherwise(cur[c])
                .alias(c)
            )
    out_cols.append(
        F.when(changed, cur[tracked]).otherwise(cur[prev_col]).alias(prev_col)
    )
    out_cols.append(
        F.when(changed, ts)
        .otherwise(cur[at_col])
        .alias(at_col)
    )
    wh.overwrite_from_plan(j.select(*out_cols), table)


def scd4_upsert(
    wh,
    table: str,
    batch: DataFrame,
    keys: list[str],
    tracked: str,
    run_ts: str,
) -> None:
    """SCD Type 4: current-only dimension plus a SEPARATE history
    table (``<table>__hist``) that receives each superseded row —
    the classic "mini audit table" variant completing the SCD family
    (SCD1 ``Warehouse.upsert``, SCD2 :func:`scd2_merge`, SCD3
    :func:`scd3_upsert`; reference merge semantics
    ``notebooks/pipeline_core.py:219-227``).

    Per batch row, null-safe on ``tracked`` like the rest of the
    family: new key → insert with ``loaded_at = run_ts``; matched +
    unchanged → batch attributes win, ``loaded_at`` carries over;
    matched + CHANGED → the prior current row is appended to the
    history table with ``archived_at = run_ts`` and the current row
    is replaced with ``loaded_at = run_ts``. Untouched keys carry
    over verbatim.

    Scale shape: ONE key-keyed full-outer join feeding both outputs
    (history append is the ``changed`` slice of the same join — no
    second scan of the dimension), then an overwrite of current and
    an append to history. History grows append-only and is never
    read by the merge, so its size does not affect upsert cost."""
    hist = f"{table}__hist"
    ts = F.to_timestamp(F.lit(run_ts))
    if not wh.table_exists(table):
        wh.overwrite(batch.withColumn("loaded_at", ts), table)
        # bootstrap an empty history with the final schema so readers
        # can union current+history unconditionally from load one
        empty = batch.limit(0).select(
            "*", ts.alias("archived_at")
        )
        wh.overwrite(empty, hist)
        return
    cur = wh.read(table)
    b = batch.select(
        *[F.col(c).alias(f"__b_{c}") for c in batch.columns],
        F.lit(True).alias("__b_present"),
    )
    cur_m = cur.withColumn("__c_present", F.lit(True))
    cond = None
    for k in keys:
        c = cur_m[k].eqNullSafe(F.col(f"__b_{k}"))
        cond = c if cond is None else (cond & c)
    j = cur_m.join(b, cond, "full_outer")
    in_batch = F.coalesce(F.col("__b_present"), F.lit(False))
    in_cur = F.coalesce(F.col("__c_present"), F.lit(False))
    matched = in_batch & in_cur
    changed = matched & ~cur_m[tracked].eqNullSafe(F.col(f"__b_{tracked}"))
    # archived slice: the OLD current row, stamped
    archived = j.filter(changed).select(
        *[cur_m[c] for c in batch.columns], ts.alias("archived_at")
    )
    out_cols = []
    for c in batch.columns:
        if c in keys:
            out_cols.append(F.coalesce(F.col(f"__b_{c}"), cur_m[c]).alias(c))
        else:
            out_cols.append(
                F.when(in_batch, F.col(f"__b_{c}")).otherwise(cur_m[c]).alias(c)
            )
    out_cols.append(
        F.when(changed | (in_batch & ~in_cur), ts)
        .otherwise(cur_m["loaded_at"])
        .alias("loaded_at")
    )
    # materialize history first: overwrite_from_plan rewrites the
    # files the archived slice still reads (recache-by-path rule)
    wh.append(archived, hist)
    wh.overwrite_from_plan(j.select(*out_cols), table)


def scd6_upsert(
    wh,
    table: str,
    batch: DataFrame,
    keys: list[str],
    tracked: str,
    run_ts: str,
) -> None:
    """SCD Type 6 (hybrid 1+2+3): full SCD2 row history where EVERY
    version row also carries the key's CURRENT tracked value
    (``<tracked>_current`` — the type-1 overlay that lets
    historical-grain facts group by today's attribute without a
    self-join to the current row). Completes the family:
    SCD1 ``Warehouse.upsert``, SCD2 :func:`scd2_merge`, SCD3
    :func:`scd3_upsert`, SCD4 :func:`scd4_upsert` (reference merge
    loop ``notebooks/pipeline_core.py:219-227``).

    Per batch row, null-safe like the rest of the family: new key →
    open a current row; matched + unchanged → no version change;
    matched + CHANGED → close the open row (``valid_to = run_ts``),
    open a new one, and rewrite ``<tracked>_current`` on EVERY
    version row of that key. One key-keyed join drives all three
    effects (history depth per key is bounded by its change count,
    so the join stays key-partitioned — the type-1 overlay is the
    same shuffle, not a second scan)."""
    val_from, val_to = "valid_from", "valid_to"
    cur_col = f"{tracked}_current"
    ts = F.to_timestamp(F.lit(run_ts))
    if not wh.table_exists(table):
        init = batch.select(
            "*",
            F.col(tracked).alias(cur_col),
            ts.alias(val_from),
            F.lit(None).cast("timestamp").alias(val_to),
            F.lit(True).alias("is_current"),
        )
        wh.overwrite(init, table)
        return
    hist = wh.read(table)
    b = batch.select(
        *[F.col(c).alias(f"__b_{c}") for c in batch.columns],
        F.lit(True).alias("__b_present"),
    )
    cond = None
    for k in keys:
        c = hist[k].eqNullSafe(F.col(f"__b_{k}"))
        cond = c if cond is None else (cond & c)
    j = hist.join(b, cond, "left_outer")
    in_batch = F.coalesce(F.col("__b_present"), F.lit(False))
    # change is judged against the key's CURRENT value (the open row
    # carries it, but every row knows it via the type-1 overlay)
    changed = in_batch & ~F.col(cur_col).eqNullSafe(F.col(f"__b_{tracked}"))
    # effect 1+3: close the open row of changed keys; refresh the
    # overlay on every row of changed keys
    existing = j.select(
        *[hist[c] for c in batch.columns if c not in (tracked,)],
        hist[tracked],
        F.when(changed, F.col(f"__b_{tracked}"))
        .otherwise(F.col(cur_col))
        .alias(cur_col),
        hist[val_from],
        F.when(changed & F.col("is_current"), ts)
        .otherwise(hist[val_to])
        .alias(val_to),
        F.when(changed & F.col("is_current"), F.lit(False))
        .otherwise(F.col("is_current"))
        .alias("is_current"),
    )
    # effect 2: open rows — new keys and changed keys
    matched_keys = hist.select(*keys).distinct()
    # null-safe anti join (NULL keys are legitimate matches — the
    # family's eqNullSafe discipline, code-review r7)
    anti = None
    for k in keys:
        c = batch[k].eqNullSafe(matched_keys[k])
        anti = c if anti is None else (anti & c)
    new_keys = batch.join(matched_keys, anti, "left_anti")
    changed_new = (
        j.filter(changed & F.col("is_current"))
        .select(*[F.col(f"__b_{c}").alias(c) for c in batch.columns])
    )
    opens = new_keys.unionByName(changed_new).select(
        "*",
        F.col(tracked).alias(cur_col),
        ts.alias(val_from),
        F.lit(None).cast("timestamp").alias(val_to),
        F.lit(True).alias("is_current"),
    )
    out = existing.select(opens.columns).unionByName(opens)
    wh.overwrite_from_plan(out, table)
