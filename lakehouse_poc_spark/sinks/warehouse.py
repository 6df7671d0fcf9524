"""Warehouse: managed-table emulation over parquet directories.

The reference's sink surface is ``saveAsTable`` on Delta managed tables
(K1 append raw — reference notebooks/pipeline_core.py:62-68, K2
overwrite init — :147-153, K3 append versions — :245-252) plus the
catalog existence check (M3, :138 — done there via the JVM-internal
``spark._jsparkSession``; we use only the filesystem/public API).

``Warehouse`` emulates managed tables as parquet directories under a
warehouse root, behind the Delta-shaped interface (append / overwrite /
merge-by-rewrite). The spec'd table formats are subclasses over the
same interface: ``DeltaLogWarehouse`` writes real Delta tables (JSON
commit log, ``sources/deltalog.py``) and ``IcebergMetaWarehouse`` real
Iceberg tables (``sources/iceberg_meta.py``), both readable by any
Delta or Iceberg runtime. A plain directory table has exactly one
version: time travel and change feeds are read from a log. The
SCD2 engine (operators/scd2.py) builds the complete new dimension as
one plan, and each backend commits it through ``overwrite_from_plan``.

Scale notes: raw tables should be partitioned by ingest date
(``partition_by=["ingest_date"]``) so time-bounded reprocessing prunes;
dimension tables stay unpartitioned (small relative to facts) or
bucketed by business key when they grow.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The footer key under which Spark's parquet writer stores the written
# schema as JSON; Spark's own schema inference prefers it over the
# parquet schema.
SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(path: Path) -> StructType | None:
    """The Spark schema stored in the footer of a parquet directory's
    first data file (sorted order; ``_``/``.``-prefixed paths skipped,
    as Spark's listing skips them), read with pyarrow on the driver —
    no Spark job. ``None`` when there is no data file or the first one
    was not written by Spark."""
    import pyarrow.parquet as pq

    for f in sorted(path.glob("**/*.parquet")):
        parts = f.relative_to(path).parts
        if any(
            n.startswith(".") or (n.startswith("_") and "=" not in n)
            for n in parts
        ):
            continue
        key = (pq.read_metadata(f).metadata or {}).get(SPARK_ROW_METADATA)
        return StructType.fromJson(json.loads(key)) if key else None
    return None


def zorder_value(x: "F.Column", y: "F.Column", bits: int = 16) -> "F.Column":
    """Morton (Z-order) interleave of two normalized integer rank
    columns (each already scaled into [0, 2**bits)): bit i of x lands
    at position 2i, bit i of y at 2i+1. Locality in BOTH dimensions
    maps to locality in the single z value, so range-clustering files
    on z gives two-dimensional file skipping — Delta OPTIMIZE ZORDER's
    core, as a pure expression."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def with_hilbert(
    df: "DataFrame",
    x: "F.Column",
    y: "F.Column",
    bits: int = 8,
    out: str = "__h",
) -> "DataFrame":
    """HILBERT curve index of two integer rank columns (each in
    [0, 2**bits)) — the locality-preserving alternative to Morton
    interleave: the Hilbert walk never jumps across the square, so
    axis-aligned box queries touch fewer, more contiguous index
    ranges than z-order's discontinuous seams. Standard top-down
    xy→d transform (the public Wikipedia/Hamilton formulation), ONE
    PROJECTION LAYER PER LEVEL via withColumn — a single nested
    expression would grow 4^bits nodes (each level references the
    previous x/y several times), while the layered form stays linear
    and Catalyst's CollapseProject leaves multi-referenced non-cheap
    columns uncollapsed. Pure JVM integer ops, no UDF."""
    d = df.withColumn("__hx", x.cast("long")).withColumn(
        "__hy", y.cast("long")
    ).withColumn(out, F.lit(0).cast("long"))
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        d = (
            d.withColumn(
                "__rx", F.shiftright("__hx", i).bitwiseAND(F.lit(1))
            )
            .withColumn(
                "__ry", F.shiftright("__hy", i).bitwiseAND(F.lit(1))
            )
            .withColumn(
                out,
                F.col(out)
                + F.lit(s * s)
                * (3 * F.col("__rx")).bitwiseXOR(F.col("__ry")),
            )
            # rotate the quadrant: ry==0 → (flip when rx==1), swap
            .withColumn(
                "__nx",
                F.when(
                    F.col("__ry") == 0,
                    F.when(
                        F.col("__rx") == 1, F.lit(s - 1) - F.col("__hy")
                    ).otherwise(F.col("__hy")),
                ).otherwise(F.col("__hx")),
            )
            .withColumn(
                "__ny",
                F.when(
                    F.col("__ry") == 0,
                    F.when(
                        F.col("__rx") == 1, F.lit(s - 1) - F.col("__hx")
                    ).otherwise(F.col("__hx")),
                ).otherwise(F.col("__hy")),
            )
            .withColumn("__hx", F.col("__nx"))
            .withColumn("__hy", F.col("__ny"))
        )
    return d.drop("__hx", "__hy", "__rx", "__ry", "__nx", "__ny")


def hilbert_sql(
    base_select: str, keep_cols: str, x: str, y: str, bits: int = 8
) -> str:
    """The SAME transform as :func:`with_hilbert`, rendered as chained
    ANSI-SQL subqueries (one per level — linear size, same reason as
    the layered DataFrame form) so a DuckDB oracle computes
    bit-identical indexes. ``keep_cols`` are carried through; the
    result exposes them plus ``hd`` (the Hilbert index)."""
    q = (
        f"SELECT {keep_cols}, CAST({x} AS BIGINT) AS hx, "
        f"CAST({y} AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd "
        f"FROM ({base_select})"
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = f"((hx >> {i}) & 1)"
        ry = f"((hy >> {i}) & 1)"
        q = (
            f"SELECT {keep_cols}, "
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - hy ELSE hy END) ELSE hx END AS hx, "
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - hx ELSE hx END) ELSE hy END AS hy, "
            f"hd + {s * s} * xor(3 * {rx}, {ry}) AS hd "
            f"FROM ({q})"
        )
    return q


class Warehouse:
    """Managed tables as parquet directories with staged-swap
    rewrites (the reference's Delta ``saveAsTable`` + ``MERGE`` sink,
    pipeline_core.py:62-68,219-227, on plain parquet). Rewrites swap a
    staged directory in, so a table has one version, the live one. The
    subclasses below keep this interface and replace the storage layer:
    the Delta log or Iceberg metadata; those keep history, time travel
    and (via :meth:`table_changes`) a change feed.

    A directory table takes plain writes only: read, append,
    overwrite, the staged swap, dynamic partition overwrite, the
    full-rewrite DML, compaction and vacuum. Transactional DML — the
    file-pruned MERGE, deletion vectors and the maintained bloom index
    — lives on the Delta log (``DeltaLogWarehouse``,
    ``DeltaLogWriter``), whose create-exclusive commit is the conflict
    check a directory would need a lock for."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _data_files(self, table: str) -> list[Path]:
        """The table's LIVE data files. A directory table globs; the
        log-backed subclasses resolve their log instead (superseded
        files stay on disk until vacuum)."""
        return list(self.path(table).glob("**/*.parquet"))

    def path(self, table: str) -> Path:
        # "layer0100.kosten_raw" → <root>/layer0100/kosten_raw
        return self.root.joinpath(*table.split("."))

    def version(self, table: str) -> int:
        """Current version number. A directory table keeps no history,
        so it is always 0; the log-backed subclasses count commits."""
        return 0

    def read_version(self, table: str, version: int) -> DataFrame:
        """Time travel: read the table as of ``version`` (Delta:
        ``option("versionAsOf", n)``). A directory table has only
        version 0, the live state."""
        if version != 0:
            raise ValueError(
                f"version {version} of {table!r} not found: a directory "
                "table has only version 0 (time travel needs a log-backed "
                "warehouse)"
            )
        return self.read(table)

    def table_changes(
        self, table: str, v_from: int, v_to: int, keys: list[str]
    ) -> DataFrame:
        """CDC between two versions, Delta Change-Data-Feed shaped:
        each difference row carries ``_change_type`` ∈ {insert, delete,
        update_preimage, update_postimage}. ``keys`` identify a row
        across versions; all other columns are change-compared
        null-safely.

        Plan shape: two anti-joins + one inner join, all on ``keys`` —
        a single shuffle key, so AQE plans them as one exchange reused
        three times. Nothing is driver-side; at 100 TB the cost is one
        co-partitioning of the two snapshots. (Delta reads the change
        feed from the log instead — ``readChangeFeed`` — with the same
        emitted schema, so callers are portable.) It diffs two versions,
        so it needs a backend that keeps them: ``DeltaLogWarehouse`` and
        ``IcebergMetaWarehouse`` inherit it."""
        old = self.read_version(table, v_from)
        new = self.read_version(table, v_to)
        data_cols = [c for c in new.columns if c not in keys]
        inserts = new.join(old, keys, "left_anti").withColumn(
            "_change_type", F.lit("insert")
        )
        deletes = old.join(new, keys, "left_anti").withColumn(
            "_change_type", F.lit("delete")
        )
        o = old.alias("o")
        n = new.alias("n")
        changed = n.join(o, keys, "inner").filter(
            ~F.expr(
                " AND ".join(f"o.{c} <=> n.{c}" for c in data_cols)
            )
            if data_cols
            else F.lit(False)
        )
        pre = changed.select(
            *keys, *[F.col(f"o.{c}").alias(c) for c in data_cols]
        ).withColumn("_change_type", F.lit("update_preimage"))
        post = changed.select(
            *keys, *[F.col(f"n.{c}").alias(c) for c in data_cols]
        ).withColumn("_change_type", F.lit("update_postimage"))
        return inserts.unionByName(deletes).unionByName(pre).unionByName(post)

    def _recover_swap(self, table: str) -> None:
        """Roll back a staged swap that died between its two renames
        (``target → __old`` done, ``__staging → target`` not): the
        table is missing, so ``__old`` goes back in place and the stale
        staging dir is dropped. Without this the next SCD2 run would
        find no dimension and bootstrap a fresh one, losing history. A
        writer still inside that window loses the race and fails its
        second rename; the table is then the old state, never none."""
        target = self.path(table)
        old = target.with_name(target.name + "__old")
        if target.exists() or not old.exists():
            return
        try:
            old.rename(target)
        except OSError:
            if not target.exists():
                raise
            return  # the swap completed meanwhile
        staged = target.with_name(target.name + "__staging")
        if staged.exists():
            shutil.rmtree(staged)

    def table_exists(self, table: str) -> bool:
        self._recover_swap(table)
        p = self.path(table)
        if not p.exists():
            return False
        # recursive: partitioned tables nest their files under
        # <part>=<value>/ dirs with no root-level marker
        return (p / "_SUCCESS").exists() or any(p.glob("**/*.parquet"))

    def read(self, table: str, merge_schema: bool = False) -> DataFrame:
        """Plan a scan of the table. Without ``merge_schema`` the schema
        comes from Spark's own footer key in the first data file (see
        :func:`footer_schema`), read on the driver, so planning runs no
        Spark job. Where the files share one schema it is the schema
        Spark's inference picks, with nullability forced the same way
        (where they differ, Spark too reads one file's footer only, the
        first in its listing). A table whose files lack the
        key (empty, or written by another engine) is inferred by Spark
        as before. ``merge_schema=True`` unions column sets across
        files — schema evolution on an append-only raw table (a batch
        landed with new columns reads back as the superset, old rows
        null) — and always runs Spark's footer job. The log-backed
        subclasses resolve the schema from their log, so the option is
        a no-op there."""
        self._recover_swap(table)
        path = self.path(table)
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        else:
            schema = footer_schema(path)
            if schema is not None:
                reader = reader.schema(schema)
        return reader.parquet(str(path))

    def append(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(self.path(table)))

    def overwrite(self, df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(self.path(table)))

    def overwrite_from_plan(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> None:
        """Overwrite a table with a plan that READS the same table.

        A plain overwrite would clobber its own input mid-read; stage to
        a sibling dir then swap it in with two renames (``target →
        __old``, ``__staging → target``). A crash between them is
        rolled back by :meth:`_recover_swap` on the next open. The
        log-backed subclasses commit new files instead, so they need no
        staging. Every full-rewrite DML (delete_where, upsert,
        merge_ops, the SCD2 commit, compact) ends here.
        """
        self._recover_swap(table)
        target = self.path(table)
        staged = target.with_name(target.name + "__staging")
        if staged.exists():
            shutil.rmtree(staged)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(staged))
        old = target.with_name(target.name + "__old")
        if old.exists():
            shutil.rmtree(old)
        if target.exists():
            target.rename(old)
        staged.rename(target)
        if old.exists():
            shutil.rmtree(old)

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_by: list[str]
    ) -> None:
        """Dynamic partition overwrite: replace ONLY the partition dirs
        present in ``df``, leaving all others untouched. The physical
        primitive behind incremental rollup maintenance — at 100 TB an
        hourly upsert rewrites a handful of day partitions, not the
        table. (Delta's ``replaceWhere``; here the datasource
        ``partitionOverwriteMode=dynamic`` form.)"""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(str(self.path(table)))
        )

    def apply_scd2_changeset(self, table: str, new_dim: DataFrame) -> None:
        """Final step of an SCD2 merge: commit ``new_dim``, the complete
        new dimension plan computed in operators/scd2.py, which reads
        the table it replaces. Every backend commits it through its own
        ``overwrite_from_plan`` (staged swap here, a new log version on
        the log-backed subclasses). The write is the action that fills
        the merge's Observation."""
        self.overwrite_from_plan(new_dim, table)

    def delete_where(self, table: str, predicate) -> None:
        """DML DELETE: remove rows matching ``predicate`` (a Column or
        SQL string) by rewriting the table to the complement (staged
        swap). ``DeltaLogWriter.delete_where_dv`` is the merge-on-read
        form, which rewrites no data file. Completes the DML triad: append (INSERT), SCD2/merge (UPDATE),
        delete_where (DELETE).

        SQL DELETE semantics: a row is deleted iff the predicate is
        TRUE; FALSE *and NULL* rows survive (as in Delta/Iceberg
        DELETE). The rewrite therefore keeps the null-safe complement
        ``NOT coalesce(pred, false)`` — a plain ``~pred`` would
        silently drop NULL-predicate rows."""
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        self.overwrite_from_plan(
            self.read(table).filter(~F.coalesce(pred, F.lit(False))), table
        )

    def upsert(self, batch: DataFrame, table: str, keys: list[str]) -> None:
        """SCD1 merge (last-write-wins, no history): batch rows replace
        current rows on matching keys; unmatched batch rows insert.
        ``batch`` must be unique per key (pre-dedup with dedup_latest
        when it isn't — same contract as Delta's MERGE, which throws on
        multiple source matches).

        An anti-join keeps the untouched current rows, then one
        staged-swap rewrite: the cost is a key-partitioned co-shuffle
        of (current, batch), batch side broadcast when small.
        ``DeltaLogWarehouse.upsert_file_pruned`` rewrites only the files
        holding matched keys. Mirrors the reference's MERGE INTO sink shape
        (pipeline_core.py:219-227) minus history tracking.
        """
        if not self.table_exists(table):
            self.overwrite(batch, table)
            return
        current = self.read(table)
        kept = current.join(batch.select(*keys), keys, "left_anti")
        self.overwrite_from_plan(kept.unionByName(batch), table)

    def merge_ops(
        self,
        batch: DataFrame,
        table: str,
        keys: list[str],
        op_col: str = "_op",
    ) -> dict:
        """The FULL three-clause MERGE surface (Delta/Iceberg
        ``MERGE INTO``, conditional form — the shape a CDC apply
        feeds):

            WHEN MATCHED AND s.{op_col} = 'D'   THEN DELETE
            WHEN MATCHED                        THEN UPDATE SET <cols>
            WHEN NOT MATCHED AND s.{op_col} <> 'D' THEN INSERT <cols>

        A delete for an absent key is a no-op (CDC replays are safe);
        ``batch`` must be key-unique (Delta's multiple-source-match
        error is the alternative). Returns
        ``{"deleted": n, "updated": n, "inserted": n}`` computed in
        ONE aggregate action before the write (scd2_merge goes one step
        further: its counts are an Observation on the write itself).

        Matched rows (both clauses) leave via one anti-join, then
        updates+inserts append in the same staged-swap rewrite — the
        cost is one key co-shuffle."""
        data_cols = [c for c in batch.columns if c != op_col]
        if not self.table_exists(table):
            init = batch.filter(F.col(op_col) != "D").select(*data_cols)
            self.overwrite(init, table)
            return {"deleted": 0, "updated": 0, "inserted": init.count()}
        cur_keys = self.read(table).select(*keys).withColumn(
            "__m", F.lit(True)
        )
        flagged = batch.join(cur_keys, keys, "left").select(
            F.coalesce(F.col("__m"), F.lit(False)).alias("__m"),
            (F.col(op_col) == "D").alias("__d"),
        )
        c = flagged.agg(
            F.sum(F.when(F.col("__m") & F.col("__d"), 1).otherwise(0)).alias("del_"),
            F.sum(F.when(F.col("__m") & ~F.col("__d"), 1).otherwise(0)).alias("upd"),
            F.sum(F.when(~F.col("__m") & ~F.col("__d"), 1).otherwise(0)).alias("ins"),
        ).collect()[0]
        stats = {
            "deleted": int(c["del_"] or 0),
            "updated": int(c["upd"] or 0),
            "inserted": int(c["ins"] or 0),
        }
        current = self.read(table)
        kept = current.join(batch.select(*keys), keys, "left_anti")
        incoming = batch.filter(F.col(op_col) != "D").select(*data_cols)
        self.overwrite_from_plan(kept.unionByName(incoming), table)
        return stats

    # -- idempotent-writer transaction registry -------------------------
    # The parquet emulation of Delta's txnAppId/txnVersion: a writer
    # identifies itself with an app id and records each applied batch
    # id; re-delivered batches (lost/rebuilt streaming checkpoint, job
    # retry) are detected and skipped. On Delta the registry rides the
    # same commit as the data (transactional); here it is written
    # AFTER the data apply, so the one non-atomic window is crash
    # *between* apply and record — a re-delivery then re-applies that
    # single batch (at-least-once), which the SCD2 merge absorbs
    # (content-idempotent) and a rollup would double-count; Delta
    # closes exactly that window. Standard caveat applies to both:
    # batch ids must be deterministic (same source → same batches).

    def _txn_table(self, app_id: str) -> str:
        return f"_txn.{app_id}"

    def txn_applied(self, app_id: str, batch_id: int) -> bool:
        """Has (app_id, batch_id) already been committed?"""
        t = self._txn_table(app_id)
        if not self.table_exists(t):
            return False
        return (
            self.read(t).filter(F.col("batch_id") == int(batch_id)).limit(1).count()
            > 0
        )

    def txn_commit(self, app_id: str, batch_id: int) -> None:
        """Record (app_id, batch_id) as applied."""
        row = self.spark.createDataFrame(
            [(int(batch_id),)], "batch_id long"
        )
        self.append(row, self._txn_table(app_id))

    def vacuum(self) -> int:
        """Remove leftover ``__staging``/``__old`` dirs that a crash
        between the write and the swap in ``overwrite_from_plan`` can
        strand, and the staging dirs a crashed Delta-log or Iceberg
        writer left (the parquet-emulation analogue of ``VACUUM``; the
        log-backed subclasses add their unreferenced data files). Safe
        at any time: live tables never have these suffixes. Returns
        dirs removed."""
        removed = 0
        for d in self.root.glob("**/*__staging"):
            if d.is_dir():
                shutil.rmtree(d)
                removed += 1
        # job-unique Delta-log / Iceberg staging dirs a crashed writer
        # left: only sweep ones older than 15 minutes — a young one may
        # be an in-flight stage about to move its parts in
        for pat in ("**/*__dl_stage.*", "**/*__cdc_stage.*", "**/*__ice_stage.*"):
            for d in self.root.glob(pat):
                if d.is_dir() and time.time() - d.stat().st_mtime > 900.0:
                    shutil.rmtree(d)
                    removed += 1
        for d in self.root.glob("**/*__old"):
            if d.is_dir():
                shutil.rmtree(d)
                removed += 1
        return removed

    def drop(self, table: str) -> None:
        """DROP TABLE: the table is directory-rooted, so removing the
        directory IS the drop."""
        p = self.path(table)
        if p.exists():
            shutil.rmtree(p)

    def compact(
        self,
        table: str,
        target_files: int | None = None,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        zorder_by: tuple[str, str] | None = None,
        target_file_bytes: int | None = None,
    ) -> int:
        """Small-file compaction: rewrite the table into
        ``target_files`` files per partition (atomic staged swap). The
        lakehouse maintenance op every append-only raw table needs — at
        100 TB streaming/micro-batch ingest produces thousands of small
        files per day and scan cost is dominated by file-open overhead
        until compaction (Delta's OPTIMIZE; this is the parquet-dir
        form). Counts files recursively and carries ``partition_by``
        through the rewrite so a partitioned table keeps its layout
        (and its pruning) instead of being silently flattened (ADVICE
        r1). Returns the number of data files before compaction.

        ``cluster_by`` additionally range-partitions and sorts the
        rewrite on the given columns (Delta OPTIMIZE ZORDER's
        single-dimension cousin): each output file then covers a
        narrow value range, so parquet row-group min/max statistics
        skip whole files for selective filters on those columns — at
        100 TB, clustering the fact table on its hottest filter column
        turns full scans into a handful of file reads.

        Pass ``target_file_bytes`` instead of ``target_files`` to size
        by bytes (OPTIMIZE's actual knob — e.g. 128 MB targets):
        target_files = ceil(current on-disk bytes / target), from a
        metadata-only directory stat. Bytes are COMPRESSED parquet
        bytes, so the rewrite lands near the target regardless of row
        width; exactly one of the two knobs must be given.

        ``DeltaLogWarehouse`` overrides this with a protocol-native
        OPTIMIZE commit."""
        data_files = self._data_files(table)
        before = len(data_files)
        if (target_files is None) == (target_file_bytes is None):
            raise ValueError(
                "exactly one of target_files/target_file_bytes is required"
            )
        if target_file_bytes is not None:
            total = sum(f.stat().st_size for f in data_files)
            target_files = max(1, -(-total // int(target_file_bytes)))
        df = self.read(table, merge_schema=True)
        if zorder_by:
            if partition_by or cluster_by:
                raise ValueError("zorder_by excludes partition_by/cluster_by")
            cx, cy = zorder_by
            # min/max → 16-bit rank space (one tiny agg, driver-side
            # literals), then Morton interleave; cluster files on z
            lo_hi = df.agg(
                F.min(cx).cast("double"), F.max(cx).cast("double"),
                F.min(cy).cast("double"), F.max(cy).cast("double"),
            ).collect()[0]
            x0, x1, y0, y1 = (float(v) for v in lo_hi)
            sx = 65535.0 / ((x1 - x0) or 1.0)
            sy = 65535.0 / ((y1 - y0) or 1.0)
            z = zorder_value(
                ((F.col(cx).cast("double") - F.lit(x0)) * F.lit(sx)).cast("long"),
                ((F.col(cy).cast("double") - F.lit(y0)) * F.lit(sy)).cast("long"),
            )
            df = (
                df.withColumn("__z", z)
                .repartitionByRange(target_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            self.overwrite_from_plan(df, table, partition_by=None)
            return before
        if cluster_by:
            if partition_by:
                raise ValueError(
                    "cluster_by and partition_by are mutually exclusive; "
                    "cluster within partitions is not implemented"
                )
            df = df.repartitionByRange(
                target_files, *[F.col(c) for c in cluster_by]
            ).sortWithinPartitions(*cluster_by)
            self.overwrite_from_plan(df, table, partition_by=None)
            return before
        if partition_by:
            if target_files <= 1:
                # one task per partition value -> exactly one file per dir
                df = df.repartition(*partition_by)
            else:
                # Repartitioning on the partition columns ALONE sends every
                # row of a partition value to one task (1 giant file + one
                # skewed writer per value, ADVICE r2). Add a deterministic
                # row salt in [0, target_files) so each value spreads over
                # ~target_files writer tasks, each emitting one file into
                # the value's dir. The partition number must be explicit:
                # AQE would otherwise coalesce the small salted shuffle
                # back into one task, silently restoring the skew. Range
                # partitioning keeps (value, salt) combos in distinct
                # tasks instead of hash-colliding them.
                n_values = df.select(*partition_by).distinct().count()
                salt = F.pmod(
                    F.xxhash64(*[F.col(c) for c in df.columns]),
                    F.lit(target_files),
                )
                df = df.repartitionByRange(
                    max(1, n_values) * target_files,
                    *[F.col(c) for c in partition_by],
                    salt,
                )
        else:
            df = df.coalesce(target_files)
        self.overwrite_from_plan(df, table, partition_by=partition_by)
        return before


class DeltaLogWarehouse(Warehouse):
    """Warehouse whose storage layer IS the Delta transaction-log
    protocol (r8 — ``sources/deltalog.py``, public delta-io
    PROTOCOL.md, v1 JSON commits): every table is a real Delta table
    directory — parquet data files plus ``_delta_log/%020d.json``
    commits — readable by any Delta runtime, written and replayed here
    with no delta-spark dependency.

    The same Warehouse API (append / overwrite / upsert / SCD1-2 via
    the inherited engines) materializes state changes as spec-shaped
    Delta commits. The SCD1 twins share one oracle
    (`scd1_customer_current`, the file-pruned, Delta-log and Iceberg
    variants), which pins that storage format never leaks into query
    semantics. ``upsert_file_pruned`` is Delta's copy-on-write MERGE:
    the touched files' ``remove`` actions and the rewrite's ``add``
    actions land in one commit, so a concurrent reader sees the old
    version or the new one, never duplicate keys. Merge-on-read DELETE
    is ``DeltaLogWriter.delete_where_dv`` / ``delete_keys_dv`` (spec
    deletion vectors), and :meth:`read` applies their masks. The
    per-file bloom index (:meth:`build_bloom_index`) is keyed on the
    log's live files and read through those masks too.

    Scope of the Warehouse-API surface: unpartitioned tables;
    rewrite-based DML through the inherited engines. An overwrite may
    add columns (the commit widens the schema); an append may not. The
    protocol layer itself goes further (r8):
    ``DeltaLogWriter.create_partitioned`` / ``append_partitioned``
    store per-file ``partitionValues`` in add actions with the spec's
    data-files-exclude-partition-columns layout (read_delta
    reconstitutes and prunes), and parquet CHECKPOINTS +
    ``_last_checkpoint`` make long-history opens O(live files).

    Every commit is a version: ``read_version`` replays the log to
    it, and the inherited :meth:`Warehouse.table_changes` diffs two of
    them into the keyed change feed (the versioned SCD2 scenario in
    ``plans/etlops.py`` reads both)."""

    def _writer(self, table: str):
        from ..sources.deltalog import DeltaLogWriter

        return DeltaLogWriter(self.spark, self.path(table))

    def table_exists(self, table: str) -> bool:
        from ..sources.deltalog import current_version

        return current_version(self.path(table)) >= 0

    def version(self, table: str) -> int:
        from ..sources.deltalog import current_version

        return max(current_version(self.path(table)), 0)

    def _data_files(self, table: str) -> list[Path]:
        # the log's live set: the directory also holds removed files
        from ..sources.deltalog import _decode_path, _replay

        tp = self.path(table)
        return [tp / _decode_path(f) for f in _replay(tp, None)["files"]]

    def read(self, table: str, merge_schema: bool = False) -> DataFrame:
        from ..sources.deltalog import read_delta

        # merge_schema is a no-op: the log's metaData schemaString is
        # authoritative (same contract as real Delta)
        return read_delta(self.spark, self.path(table))

    def read_version(self, table: str, version: int) -> DataFrame:
        from ..sources.deltalog import read_delta

        return read_delta(self.spark, self.path(table), version=version)

    def history(self, table: str) -> list[dict]:
        import json as _json

        from ..sources.deltalog import _commits

        current = self.version(table)
        out = []
        for c in _commits(self.path(table)):
            ops = [
                _json.loads(line)["commitInfo"]["operation"]
                for line in c.read_text().splitlines()
                if line.startswith('{"commitInfo"')
            ]
            v = int(c.stem)
            out.append(
                {
                    "version": v,
                    "op": (ops or ["?"])[0],
                    "current": v == current,
                }
            )
        return out

    def _no_partitions(self, partition_by) -> None:
        if partition_by:
            raise NotImplementedError(
                "DeltaLogWarehouse is unpartitioned by contract — Delta "
                "puts partition values in add actions; use the real "
                "runtime for partitioned tables"
            )

    def append(self, df: DataFrame, table: str, partition_by=None) -> None:
        self._no_partitions(partition_by)
        self._writer(table).append(df)

    def overwrite(self, df: DataFrame, table: str, partition_by=None) -> None:
        self._no_partitions(partition_by)
        self._writer(table).overwrite(df)

    def overwrite_from_plan(
        self, df: DataFrame, table: str, partition_by=None
    ) -> None:
        # committed data files never move and the plan pinned its
        # input files at build time, so a self-referencing overwrite
        # needs no staged-swap dance. Every full-rewrite DML
        # (delete_where, upsert, merge_ops, the SCD2 commit) ends here,
        # so this is where the bloom index catches up with the new files
        self._no_partitions(partition_by)
        self._writer(table).overwrite(df)
        self.refresh_bloom_index(table)

    # parquet path-mechanics that bypass the log would corrupt the
    # table state for real Delta readers — fail fast, route to the
    # rewrite engines instead
    def overwrite_partitions(self, df, table, partition_by):
        raise NotImplementedError(
            "overwrite_partitions bypasses the Delta log; "
            "DeltaLogWarehouse tables are unpartitioned"
        )

    def upsert_file_pruned(
        self, batch: DataFrame, table: str, keys: list[str]
    ) -> dict:
        """SCD1 merge that rewrites ONLY the data files holding matched
        keys — Delta's copy-on-write MERGE with file pruning. Same
        result contract as :meth:`upsert`; a batch whose keys cluster
        into k of N files rewrites k files plus the batch, not the
        table. On a key-clustered layout (``compact(cluster_by=keys)``)
        k ≈ batch key range / file key range; on a random layout every
        file matches and this degrades to the full rewrite — measure
        with the returned stats.

        Protocol: (1) semi-join the snapshot's rows with the batch keys
        over ``_metadata.file_path`` to list the touched files (a
        metadata-sized collect — file paths, not rows); (2) stage the
        touched files' surviving rows plus the whole batch, with
        generated columns and CHECK constraints applied as on every
        write; (3) commit the touched files' ``remove`` actions and the
        staged ``add`` actions as ONE ``MERGE`` commit claimed at
        exactly the snapshot's version + 1. A commit landing since the
        listing fails the claim (``DeltaLogError``) and reclaims the
        staged files, so writers never lose each other's rows and a
        reader sees the old version or the new one. Superseded files
        stay readable through ``read_version`` until ``vacuum``.

        Returns {files_total, files_rewritten, rows_inserted_or_updated}.
        """
        from ..sources.deltalog import _file_uri, _replay, read_delta

        if not self.table_exists(table):
            self.overwrite(batch, table)
            return {
                "files_total": len(self._data_files(table)),
                "files_rewritten": 0,
                "rows_inserted_or_updated": batch.count(),
            }
        tp = self.path(table)
        state = _replay(tp, None)
        # the touched-file listing reads _metadata.file_path, which does
        # not resolve past the deletion-vector mask's anti-join
        if any(a.get("deletionVector") for a in state["adds"]):
            raise NotImplementedError(
                "upsert_file_pruned on a table with deletion vectors: "
                "compact it first (OPTIMIZE folds the vectors in)"
            )
        cur = read_delta(self.spark, tp, version=state["version"]).withColumn(
            "_f", F.col("_metadata.file_path")
        )
        key_df = batch.select(*keys).dropDuplicates()
        touched = [
            r["_f"]
            for r in cur.join(F.broadcast(key_df), keys, "left_semi")
            .select("_f")
            .distinct()
            .collect()
        ]
        n_batch = batch.count()
        stats = {
            "files_total": len(state["files"]),
            "files_rewritten": len(touched),
            "rows_inserted_or_updated": n_batch,
        }
        if not touched:  # pure insert: nothing to rewrite
            self.append(batch, table)
            return stats
        survivors = (
            cur.filter(F.col("_f").isin(touched))
            .drop("_f")
            .join(batch.select(*keys), keys, "left_anti")
        )
        by_uri = {_file_uri(tp, a): a["path"] for a in state["adds"]}
        w = self._writer(table)
        adds = w._stage_checked(
            w._apply_generated(survivors.unionByName(batch), state), state
        )
        w._commit_replace(
            state, [by_uri[f] for f in touched], adds, op="MERGE"
        )
        self.refresh_bloom_index(table)  # only changed files rebuild
        return stats

    # -- persisted per-file Bloom index (point-lookup file skipping) ----
    # SCALE.md §6.3: the in-flight build_file_bloom index, promoted to
    # a maintained side table — the Delta bloom-filter-index mechanic.
    # ``_bloom.<table>`` is itself a log table with one row per live
    # data file, keyed on the file's add-action path. Safety
    # invariant: bloom_lookup treats live-but-unindexed files as
    # "maybe contains" and always reads them, so a stale index can
    # only cost extra file reads, NEVER a false negative; it reads the
    # admitted files through their add actions' deletion-vector masks,
    # so a DV-deleted row never comes back (the bits may still admit
    # its key: a false positive costs a read, not a result).
    # upsert_file_pruned, compact and every full rewrite
    # (overwrite_from_plan) refresh the index incrementally (only
    # changed files rebuild).

    def _bloom_table(self, table: str) -> str:
        return f"_bloom.{table}"

    def _bloom_state(self, table: str) -> dict:
        """The table's log state, refused when the index cannot read
        its data files by the logical key column."""
        from ..sources.deltalog import _replay

        state = _replay(self.path(table), None)
        if state["mapping_mode"] != "none" or (
            (state["metaData"] or {}).get("partitionColumns")
        ):
            raise NotImplementedError(
                f"bloom index on {table!r}: column-mapped and partitioned "
                "tables are out of scope (their data files do not carry "
                "the logical columns)"
            )
        return state

    def _bloom_rows(
        self, table: str, state: dict, adds: list[dict], key_col: str,
        m_bits: int, k: int,
    ) -> DataFrame:
        from ..sources.deltalog import _data_read_schema, _decode_path, _file_uri

        tp = self.path(table)
        # the raw files, unmasked: a DV-deleted row's key may stay set
        # (a false positive), and _metadata.file_path keys each row
        base = (
            self.spark.read.schema(_data_read_schema(state))
            .parquet(*[str(tp / _decode_path(a["path"])) for a in adds])
            .select(
                F.col("_metadata.file_path").alias("__uri"),
                # hash the canonical STRING rendering (type-stable probes)
                F.col(key_col).cast("string").alias("__k"),
            )
        )
        pos = F.array(
            *[
                F.pmod(F.xxhash64("__k", F.lit(i)), F.lit(m_bits)).cast("int")
                for i in range(k)
            ]
        )
        built = (
            base.select("__uri", F.explode(pos).alias("p"))
            .groupBy("__uri")
            .agg(F.array_sort(F.collect_set("p")).alias("bits"))
        )
        # a ZERO-ROW data file contributes no agg group — give it an
        # explicit empty-bits row so the index stays 1:1 with the live
        # file set (empty bits admit nothing: correct, the file holds
        # no keys); the name list is manifest-sized metadata
        names_df = self.spark.createDataFrame(
            [(a["path"], _file_uri(tp, a)) for a in adds],
            "file string, __uri string",
        )
        return names_df.join(built, "__uri", "left").select(
            "file",
            F.coalesce("bits", F.array().cast("array<int>")).alias("bits"),
            F.lit(key_col).alias("key_col"),
            F.lit(int(m_bits)).alias("m_bits"),
            F.lit(int(k)).alias("k"),
        )

    def build_bloom_index(
        self, table: str, key_col: str, m_bits: int = 65536, k: int = 3
    ) -> int:
        """Build and persist the per-file Bloom index of ``table`` on
        ``key_col`` as the ``_bloom.<table>`` side table (one row per
        live data file: add-action path, sorted set-bit positions, and
        the build parameters). Built distributedly — explode k probe
        positions, one file-keyed agg; no driver-side footer loop.
        Returns the number of files indexed."""
        state = self._bloom_state(table)
        if not state["adds"]:
            raise ValueError(f"table {table!r} has no data files to index")
        self.overwrite(
            self._bloom_rows(table, state, state["adds"], key_col, m_bits, k),
            self._bloom_table(table),
        )
        return len(state["adds"])

    def refresh_bloom_index(self, table: str) -> dict | None:
        """Incrementally reconcile the bloom index with the log's live
        file set: drop rows of files no longer live, build rows for
        live files not yet indexed (cost ∝ changed files, the Delta
        index-maintenance shape). No-op (None) when the table has no
        index. File lists are manifest-sized metadata — the same
        driver-side scale as any table-format planner."""
        bt = self._bloom_table(table)
        if not self.table_exists(bt):
            return None
        idx = self.read(bt)
        # ONE metadata collect: cfg and the indexed-file set ride the
        # same tiny scan (one row per data file)
        meta = idx.select("file", "key_col", "m_bits", "k").collect()
        if not meta:
            return None
        state = self._bloom_state(table)
        live = {a["path"]: a for a in state["adds"]}
        indexed = {r["file"] for r in meta}
        added = sorted(set(live) - indexed)
        removed = indexed - set(live)
        stats = {
            "files_added": len(added),
            "files_removed": len(removed),
            "files_total": len(live),
        }
        if not added and not removed:
            return stats
        out = idx.filter(F.col("file").isin(sorted(indexed & set(live))))
        if added:
            m = meta[0]
            out = out.unionByName(
                self._bloom_rows(
                    table, state, [live[n] for n in added], m["key_col"],
                    int(m["m_bits"]), int(m["k"]),
                )
            )
        self.overwrite_from_plan(out, bt)
        return stats

    def bloom_lookup(self, table: str, key_col: str, value) -> DataFrame:
        """Point lookup ``key_col = value`` through the persisted
        bloom index: read indexed files only when their bloom admits
        all probe positions, PLUS every live file the index has not
        seen yet (a stale index costs reads, never results). The
        files are read through their deletion-vector masks, so the
        result is identical to the full-scan filter of :meth:`read`."""
        from ..sources.deltalog import _data_read_schema, _read_adds_mor

        # ONE job: the executors test each file's bits against the k
        # probe positions and only (file, admitted) reaches the driver,
        # never the bit arrays. The probes are the build's expression
        # (xxhash64 of the string rendering and the probe index, mod
        # m_bits), so they match the build-time bits exactly. A row
        # indexed on another column gets a NULL flag.
        v = F.lit(value).cast("string")
        probes = F.transform(
            F.array_repeat(F.lit(0), F.col("k")),
            lambda _, i: F.pmod(F.xxhash64(v, i), F.col("m_bits")).cast("int"),
        )
        rows = (
            self.read(self._bloom_table(table))
            .select(
                "file",
                "key_col",
                F.when(
                    F.col("key_col") == key_col,
                    F.size(F.array_except(probes, F.col("bits"))) == 0,
                ).alias("admitted"),
            )
            .collect()
        )
        if not rows or any(r["admitted"] is None for r in rows):
            raise ValueError(
                f"bloom index of {table!r} is not built on {key_col!r} "
                f"(indexed: {sorted({r['key_col'] for r in rows})})"
            )
        admitted = {r["file"] for r in rows if r["admitted"]}
        indexed = {r["file"] for r in rows}
        state = self._bloom_state(table)
        schema = _data_read_schema(state)
        to_read = [
            a
            for a in state["adds"]
            if a["path"] in admitted or a["path"] not in indexed  # unindexed ⇒ maybe
        ]
        if not to_read:
            return self.spark.createDataFrame([], schema)
        return _read_adds_mor(
            self.spark, self.path(table), to_read, schema
        ).filter(F.col(key_col) == value)

    def restore(self, table: str, version: int) -> int:
        """RESTORE = re-commit an old version's live set as NEW adds
        (history-preserving, Delta semantics)."""
        old = self.read_version(table, version)
        self.overwrite_from_plan(old, table)
        return self.version(table)

    def clone_shallow(self, src_table: str, dst_table: str) -> int:
        """Zero-copy SHALLOW CLONE of ``src_table``'s current snapshot
        into ``dst_table`` (Delta CLONE: absolute-path add actions —
        see DeltaLogWriter.clone_shallow for the vacuum contract)."""
        return self._writer(dst_table).clone_shallow(self.path(src_table))

    def compact(
        self,
        table: str,
        target_files: int | None = None,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        zorder_by: tuple[str, str] | None = None,
        target_file_bytes: int | None = None,
    ) -> int:
        """Protocol-native OPTIMIZE (r8): remove+add actions in ONE
        commit claimed at exactly ``base+1`` via the create-exclusive
        commit link — if ANY writer (even an append) landed after the
        rewrite's snapshot, the link fails and the OPTIMIZE aborts
        with staged files reclaimed, so a concurrent append can never
        be erased by the wholesale remove set (the lost-update race
        the inherited overwrite-based compact had). This is Delta's
        actual optimistic-concurrency story: the version number IS
        the conflict check.

        The rewrite reads through the same log-planned path as
        ``read_delta`` (committed schema, no footer job): deletion-
        vector masks apply, so rows a DV delete removed stay removed,
        and a column-mapped table keeps its physical names."""
        self._no_partitions(partition_by)
        if zorder_by is not None:
            raise NotImplementedError(
                "delta-log OPTIMIZE supports cluster_by (range "
                "clustering, Delta's single-dimension ZORDER cousin); "
                "multi-dimension z-order rides the real runtime"
            )
        if (target_files is None) == (target_file_bytes is None):
            raise ValueError(
                "pass exactly one of target_files / target_file_bytes"
            )
        from ..sources.deltalog import _data_read_schema, _read_adds_mor, _replay

        tp = self.path(table)
        w = self._writer(table)
        state = _replay(tp, None)
        files = state["files"]
        n_before = len(files)
        if target_file_bytes is not None:
            total = sum((tp / f).stat().st_size for f in files)
            target_files = max(1, -(-total // int(target_file_bytes)))
        df = _read_adds_mor(
            self.spark, tp, state["adds"], _data_read_schema(state)
        )
        if cluster_by:
            # range-clustered rewrite: each output file covers a narrow
            # value range, so the add actions' footer stats make
            # files_skipped_by_stats selective on the cluster column
            df = df.repartitionByRange(
                target_files, *cluster_by
            ).sortWithinPartitions(*cluster_by)
        else:
            df = df.coalesce(target_files)
        w._commit_replace(
            state, files, w._stage(df), op="OPTIMIZE", data_change=False
        )
        self.refresh_bloom_index(table)
        return n_before

    def vacuum(self, min_age: float = 900.0) -> int:
        """Delta VACUUM on every log table under the root, after the
        base sweep of staging dirs a crashed writer left:
        ``DeltaLogWriter.vacuum`` with a ``min_age``-second retention
        (Delta's default is 7 days; tests pass 0). A file the latest
        version no longer lists goes once its ``remove`` action is
        older than the retention, so in-flight readers and time travel
        keep it that long; a superseded deletion-vector sidecar goes
        too. The log itself is never vacuumed (checkpointing, not
        deletion, bounds replay cost). Returns files and dirs removed.
        NOTE: vacuumed versions remain listed in history but fail fast
        at read (the referenced files are gone — same contract as real
        Delta)."""
        from ..sources.deltalog import DeltaLogWriter, _commits

        removed = super().vacuum()
        for log_dir in self.root.glob("**/_delta_log"):
            if _commits(log_dir.parent):
                removed += DeltaLogWriter(self.spark, log_dir.parent).vacuum(
                    retention_ms=int(min_age * 1000), force=True
                )["files_removed"]
        return removed


class IcebergMetaWarehouse(Warehouse):
    """Warehouse whose storage layer IS the Apache Iceberg v2 table
    format (r10 — ``sources/iceberg_meta.py``, public Iceberg table
    spec): every table is a real Iceberg table directory —
    ``metadata/v{N}.metadata.json`` + Avro manifest lists/manifests
    (via the cross-validated ``sources/avro.py`` codec) over parquet
    data files — readable by any Iceberg runtime pointed at the
    location (HadoopTables layout), written and planned here with no
    Iceberg JAR.

    An SCD1 twin: the same Warehouse API materializes state changes
    as spec-shaped Iceberg snapshots, and the oracle hash it shares
    with the parquet, file-pruned and Delta-log variants pins that the
    storage format never leaks into query semantics.

    Scope: unpartitioned tables, rewrite-based DML through the
    inherited engines; appends are Iceberg FAST APPENDS (new manifest
    only), overwrites record the replaced files as DELETED manifest
    entries per spec. Neither adds columns (a batch with a column the
    table lacks is refused): schema evolution is explicit, through
    ``IcebergTable.update_schema``."""

    def _tbl(self, table: str):
        from ..sources.iceberg_meta import IcebergTable

        return IcebergTable(self.spark, self.path(table))

    def _data_files(self, table: str) -> list[Path]:
        # the current snapshot's live files: the directory also holds
        # files of replaced snapshots
        from ..sources.iceberg_meta import _resolve, live_entries

        p = self.path(table)
        return [_resolve(e["data_file"]["file_path"], p) for e in live_entries(p)]

    def table_exists(self, table: str) -> bool:
        from ..sources.iceberg_meta import current_metadata_version

        return current_metadata_version(self.path(table)) > 0

    def version(self, table: str) -> int:
        from ..sources.iceberg_meta import current_metadata_version

        return current_metadata_version(self.path(table))

    def read(self, table: str, merge_schema: bool = False) -> DataFrame:
        from ..sources.iceberg_meta import read_iceberg

        # merge_schema is a no-op: the metadata.json schema is
        # authoritative (same contract as real Iceberg)
        return read_iceberg(self.spark, self.path(table))

    def read_version(self, table: str, version: int) -> DataFrame:
        """Time travel by snapshot ORDINAL (0 = first commit), the
        ergonomic twin of DeltaLogWarehouse.read_version."""
        from ..sources.iceberg_meta import read_iceberg, snapshot_ids

        sids = snapshot_ids(self.path(table))
        return read_iceberg(
            self.spark, self.path(table), snapshot_id=sids[version]
        )

    def history(self, table: str) -> list[dict]:
        from ..sources.iceberg_meta import load_metadata

        md = load_metadata(self.path(table))
        cur = md.get("current-snapshot-id")
        return [
            {
                "version": i,
                "snapshot_id": s["snapshot-id"],
                "op": s.get("summary", {}).get("operation", "?"),
                "current": s["snapshot-id"] == cur,
            }
            for i, s in enumerate(md.get("snapshots") or [])
        ]

    def _no_partitions(self, partition_by) -> None:
        if partition_by:
            raise NotImplementedError(
                "IcebergMetaWarehouse is unpartitioned by contract "
                "(partition-spec 0 has no fields); use the real "
                "runtime for partition transforms"
            )

    def append(self, df: DataFrame, table: str, partition_by=None) -> None:
        self._no_partitions(partition_by)
        self._tbl(table).append(df)

    def overwrite(self, df: DataFrame, table: str, partition_by=None) -> None:
        self._no_partitions(partition_by)
        self._tbl(table).overwrite(df)

    def overwrite_from_plan(
        self, df: DataFrame, table: str, partition_by=None
    ) -> None:
        # committed data files never move (new files land under fresh
        # uuid names), so a self-referencing overwrite needs no staged
        # swap — the same property as the Delta-log backend
        self._no_partitions(partition_by)
        self._tbl(table).overwrite(df)

    # path-mechanics that bypass the metadata would corrupt the table
    # for real Iceberg readers — fail fast (same guard set as the
    # Delta-log backend)
    def overwrite_partitions(self, df, table, partition_by):
        raise NotImplementedError(
            "overwrite_partitions bypasses Iceberg metadata; "
            "IcebergMetaWarehouse tables are unpartitioned"
        )
