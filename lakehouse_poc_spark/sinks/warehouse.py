"""Warehouse: managed tables on a transaction log.

The reference's sink surface is ``saveAsTable`` on Delta managed tables
(K1 append raw — reference notebooks/pipeline_core.py:62-68, K2
overwrite init — :147-153, K3 append versions — :245-252) plus the
catalog existence check (M3, :138 — done there via the JVM-internal
``spark._jsparkSession``; we use only the filesystem/public API).

``Warehouse`` keeps every table as a real Delta table under a
warehouse root: parquet data files plus the JSON commit log of
``sources/deltalog.py``, readable by any Delta runtime. Atomic
replace, time travel, idempotent writers, partition overwrite and
OPTIMIZE are all log commits, as in the Delta Lake paper (Armbrust et
al., VLDB 2020). ``IcebergMetaWarehouse`` is the one other format: the
same interface over Iceberg v2 metadata (``sources/iceberg_meta.py``).
The format-neutral engines — the change feed, DELETE, the SCD1 upsert,
the three-clause MERGE and the SCD2 apply — live once, in
``_TableFormat``, and commit through each format's own
``overwrite_from_plan``. The SCD2 engine (operators/scd2.py) builds the
complete new dimension as one plan.

Scale notes: raw tables should be partitioned by ingest date
(``partition_by=["ingest_date"]``) so time-bounded reprocessing prunes;
dimension tables stay unpartitioned (small relative to facts) or
bucketed by business key when they grow.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class _TableFormat:
    """What every table format shares: the warehouse root, table
    paths, and the engines that only read a table and commit a
    rewrite through the format's own ``overwrite_from_plan`` (the
    change feed, DELETE, the SCD1 upsert, the three-clause MERGE and
    the SCD2 apply). A format supplies ``table_exists``, ``read``,
    ``read_version``, ``append``, ``overwrite`` and
    ``overwrite_from_plan``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def path(self, table: str) -> Path:
        # "layer0100.kosten_raw" → <root>/layer0100/kosten_raw
        return self.root.joinpath(*table.split("."))

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
        emitted schema, so callers are portable.)"""
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

    def apply_scd2_changeset(self, table: str, new_dim: DataFrame) -> None:
        """Final step of an SCD2 merge: commit ``new_dim``, the complete
        new dimension plan computed in operators/scd2.py, which reads
        the table it replaces. Every format commits it through its own
        ``overwrite_from_plan`` (a new log version or snapshot). The
        write is the action that fills the merge's Observation."""
        self.overwrite_from_plan(new_dim, table)

    def delete_where(self, table: str, predicate) -> None:
        """DML DELETE: remove rows matching ``predicate`` (a Column or
        SQL string) by rewriting the table to the complement.
        ``DeltaLogWriter.delete_where_dv`` is the merge-on-read
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
        full rewrite: the cost is a key-partitioned co-shuffle
        of (current, batch), batch side broadcast when small.
        ``Warehouse.upsert_file_pruned`` rewrites only the files
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
        updates+inserts append in the same full rewrite — the
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

    def vacuum(self) -> int:
        """Remove the job-unique staging dirs a crashed Delta-log or
        Iceberg writer left beside its table, once they are older than
        15 minutes (a young one may be an in-flight stage about to move
        its parts in). Returns dirs removed."""
        removed = 0
        for pat in ("**/*__dl_stage.*", "**/*__cdc_stage.*", "**/*__ice_stage.*"):
            for d in self.root.glob(pat):
                if d.is_dir() and time.time() - d.stat().st_mtime > 900.0:
                    shutil.rmtree(d)
                    removed += 1
        return removed

    def drop(self, table: str) -> None:
        """DROP TABLE: the table is directory-rooted, so removing the
        directory IS the drop."""
        p = self.path(table)
        if p.exists():
            shutil.rmtree(p)


class Warehouse(_TableFormat):
    """Managed tables as Delta tables: the reference's Delta
    ``saveAsTable`` + ``MERGE`` sink (pipeline_core.py:62-68,219-227)
    on the transaction-log protocol of ``sources/deltalog.py``. Every
    write is one commit, so every state is a version (superseded files
    stay on disk for ``read_version`` until :meth:`vacuum`), and a
    rewrite that reads the table it replaces needs no staging, because
    committed files never move. ``partition_by`` creates a partitioned
    table; ``DeltaLogWriter.overwrite_partitions`` is Delta's dynamic
    partition overwrite. ``upsert_file_pruned`` is Delta's copy-on-write
    MERGE: the touched files' ``remove`` actions and the rewrite's
    ``add`` actions land in one commit, so a concurrent reader sees the
    old version or the new one, never duplicate keys. Merge-on-read DELETE
    is ``DeltaLogWriter.delete_where_dv`` / ``delete_keys_dv`` (spec
    deletion vectors), and :meth:`read` applies their masks. The
    per-file bloom index (:meth:`build_bloom_index`) is keyed on the
    log's live files and read through those masks too. An overwrite
    may add columns (the commit widens the schema); an append may not.
    ``read_version`` replays the log to any version, and the inherited
    :meth:`table_changes` diffs two of them into the keyed change
    feed."""

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

    def read(self, table: str) -> DataFrame:
        """Plan a scan of the table from its log: the committed schema,
        deletion-vector masks applied, no Spark job."""
        from ..sources.deltalog import read_delta

        return read_delta(self.spark, self.path(table))

    def read_version(self, table: str, version: int) -> DataFrame:
        from ..sources.deltalog import read_delta

        return read_delta(self.spark, self.path(table), version=version)

    def history(self, table: str) -> list[dict]:
        import json

        from ..sources.deltalog import _commits

        def op(commit: Path) -> str:
            for line in commit.read_text().splitlines():
                if line.startswith('{"commitInfo"'):
                    return json.loads(line)["commitInfo"]["operation"]
            return "?"

        current = self.version(table)
        return [
            {"version": int(c.stem), "op": op(c), "current": int(c.stem) == current}
            for c in _commits(self.path(table))
        ]

    def append(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> None:
        """Blind append (one ``WRITE`` commit). ``partition_by`` must
        name the table's partition columns, and creates a partitioned
        table when there is none yet."""
        w = self._writer(table)
        if partition_by:
            w.append_partitioned(df, partition_by)
        else:
            w.append(df)

    def overwrite(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> None:
        """Replace the table's rows in one commit. ``partition_by``
        creates a partitioned table when there is none yet, and must
        name an existing table's partition columns (they are
        immutable)."""
        from ..sources.deltalog import _replay

        w = self._writer(table)
        if partition_by and not self.table_exists(table):
            w.create_partitioned(df, partition_by)
            return
        if partition_by:
            w._check_spec(_replay(w.path, None), partition_by)
        w.overwrite(df)

    def overwrite_from_plan(self, df: DataFrame, table: str) -> None:
        """Overwrite a table with a plan that READS the same table (the
        plan pinned its input files, which never move). Every
        full-rewrite DML ends here, so this is where the bloom index
        catches up with the new files."""
        self._writer(table).overwrite(df)
        self.refresh_bloom_index(table)

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
        from ..sources.deltalog import _partition_columns, _replay

        state = _replay(self.path(table), None)
        if state["mapping_mode"] != "none" or _partition_columns(state):
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
        from ..sources.deltalog import (
            _data_read_schema,
            _decode_path,
            _file_uri,
            literal_path,
        )

        tp = self.path(table)
        # the raw files, unmasked: a DV-deleted row's key may stay set
        # (a false positive), and _metadata.file_path keys each row
        base = (
            self.spark.read.schema(_data_read_schema(state))
            .parquet(
                *[literal_path(tp / _decode_path(a["path"])) for a in adds]
            )
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

    def compact(
        self,
        table: str,
        target_files: int,
        cluster_by: list[str] | None = None,
    ) -> int:
        """Small-file compaction as a protocol-native OPTIMIZE: the live
        rows (read through ``read_delta``, so deletion-vector masks
        apply) rewritten into ``target_files`` files, committed as ONE
        remove+add commit (``dataChange: false``) claimed at exactly
        the snapshot's version + 1 — a writer landing meanwhile aborts
        it with its staged files reclaimed, so a concurrent append is
        never erased. Returns the number of live files before.
        ``cluster_by`` range-partitions and sorts the rewrite (Delta
        OPTIMIZE ZORDER's one-dimension cousin), so each file's min/max
        stats skip it for selective filters on those columns. A
        partitioned table keeps its layout of one file per partition
        value: ``target_files`` does not apply there, and ``cluster_by``
        is refused. Byte-targeted bin-packing is
        ``DeltaLogWriter.optimize``."""
        from ..sources.deltalog import (
            DeltaLogError,
            _partition_columns,
            _replay,
            read_delta,
        )

        tp = self.path(table)
        w = self._writer(table)
        state = _replay(tp, None)
        if cluster_by and _partition_columns(state):
            raise DeltaLogError(
                "compact(cluster_by=...) on a partitioned table: the "
                "rewrite keeps one file per partition value"
            )
        df = read_delta(self.spark, tp, version=state["version"])
        if cluster_by:
            df = df.repartitionByRange(
                target_files, *cluster_by
            ).sortWithinPartitions(*cluster_by)
        else:
            df = df.coalesce(target_files)
        w._commit_replace(
            state, state["files"], w._stage_as(df, state),
            op="OPTIMIZE", data_change=False,
        )
        self.refresh_bloom_index(table)
        return len(state["files"])

    def vacuum(self, min_age: float = 900.0) -> int:
        """Delta VACUUM on every log table under the root, after the
        base sweep of staging dirs a crashed writer left:
        ``DeltaLogWriter.vacuum`` with a ``min_age``-second retention
        (Delta's default is 7 days; tests pass 0). A file the latest
        version no longer lists goes once its ``remove`` action is
        older than the retention, so in-flight readers and time travel
        keep it that long; an orphan no commit references (a crashed
        writer's staged file) ages from its mtime; a superseded
        deletion-vector sidecar goes too. The log itself is never
        vacuumed (checkpointing, not deletion, bounds replay cost).
        Returns files and dirs removed. NOTE: vacuumed versions remain
        listed in history but fail fast at read (the referenced files
        are gone — same contract as real Delta)."""
        from ..sources.deltalog import DeltaLogWriter, _commits

        removed = super().vacuum()
        for log_dir in self.root.glob("**/_delta_log"):
            if _commits(log_dir.parent):
                removed += DeltaLogWriter(self.spark, log_dir.parent).vacuum(
                    retention_ms=int(min_age * 1000), force=True
                )["files_removed"]
        return removed


# the name the benchmark harness (perfbench/) imports
DeltaLogWarehouse = Warehouse


class IcebergMetaWarehouse(_TableFormat):
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
    with the Delta-log variants pins that the storage format never
    leaks into query semantics.

    Scope: unpartitioned tables, rewrite-based DML through the
    inherited engines; appends are Iceberg FAST APPENDS (new manifest
    only), overwrites record the replaced files as DELETED manifest
    entries per spec. Neither adds columns (a batch with a column the
    table lacks is refused): schema evolution is explicit, through
    ``IcebergTable.update_schema``."""

    def _tbl(self, table: str):
        from ..sources.iceberg_meta import IcebergTable

        return IcebergTable(self.spark, self.path(table))

    def table_exists(self, table: str) -> bool:
        from ..sources.iceberg_meta import current_metadata_version

        return current_metadata_version(self.path(table)) > 0

    def version(self, table: str) -> int:
        from ..sources.iceberg_meta import current_metadata_version

        return current_metadata_version(self.path(table))

    def read(self, table: str) -> DataFrame:
        from ..sources.iceberg_meta import read_iceberg

        return read_iceberg(self.spark, self.path(table))

    def read_version(self, table: str, version: int) -> DataFrame:
        """Time travel by snapshot ORDINAL (0 = first commit), the
        ergonomic twin of Warehouse.read_version."""
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

    def _refuse_partition_by(self, partition_by) -> None:
        if partition_by:
            raise NotImplementedError(
                "IcebergMetaWarehouse is unpartitioned by contract "
                "(partition-spec 0 has no fields); use the real "
                "runtime for partition transforms"
            )

    def append(self, df: DataFrame, table: str, partition_by=None) -> None:
        self._refuse_partition_by(partition_by)
        self._tbl(table).append(df)

    def overwrite(self, df: DataFrame, table: str, partition_by=None) -> None:
        self._refuse_partition_by(partition_by)
        self._tbl(table).overwrite(df)

    def overwrite_from_plan(self, df: DataFrame, table: str) -> None:
        # committed data files never move (new files land under fresh
        # uuid names), so a self-referencing overwrite is a plain
        # overwrite — the same property as the Delta log
        self._tbl(table).overwrite(df)
