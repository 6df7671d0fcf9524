"""Incrementally-maintained aggregate materialized views over
Warehouse tables.

The MV state is a MERGEABLE aggregate — per group a BIGINT count and
a DECIMAL sum (exact, commutative: the same algebra as
operators/rollup.py's retractable pieces, minus retraction because
the source contract here is append-only). Maintenance is FILE-DELTA:
the view remembers which live data files it has folded in
(`_mvfiles.<name>` side table); a refresh scans ONLY files in the
live set it has not seen, aggregates those partials, and merges them
into the state additively. Cost ∝ new data, never ∝ table size —
Delta's incremental-MV shape (reference target: the
Databricks/Delta Live Tables MV contract) over the warehouse's live
data files.

Crash-safety (code-review r7): refresh is a two-phase commit with
the STATE table as the commit point. The scanned file names are
appended FIRST, tagged with the next state version; the state (which
carries its version in every row) is overwritten second. A reader
derives the seen-set as "file rows tagged ≤ the committed state
version", so a crash BETWEEN the two writes leaves orphan file rows
tagged v+1 that the next refresh ignores (state still says v) and
simply re-folds — no double-count (the failure the naive
state-then-files order has) and no silent under-count (the failure
of files-then-state without versions).

Scale: the partial aggregation is one partial-combinable groupBy over
the NEW files only; the merge is state ∪ partial → one groupBy on
the (bounded) group-key domain. File lists are manifest-sized
metadata, same driver scale as any table-format planner.

Honesty contract: refresh() returns how many files it scanned, so
tests assert the incremental property instead of trusting it; a
compaction or DML rewrite changes file names, which the seen-set
detects as vanished files — the view then REFUSES (stale_base error)
rather than double-counting rows it already folded in, and
``rebuild()`` is the documented recovery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.deltalog import literal_path


class MaterializedAgg:
    """A (group_cols, COUNT(*), SUM(dec_col)) view over an append-only
    Warehouse table, refreshed by file delta."""

    def __init__(
        self,
        wh,
        name: str,
        source_table: str,
        group_cols: list[str],
        sum_col: str,
        sum_type: str = "decimal(30,6)",
    ) -> None:
        self.wh = wh
        self.name = name
        self.source = source_table
        self.group_cols = list(group_cols)
        self.sum_col = sum_col
        self.sum_type = sum_type

    # -- side-table names ------------------------------------------------
    @property
    def state_table(self) -> str:
        return f"_mv.{self.name}"

    @property
    def files_table(self) -> str:
        return f"_mvfiles.{self.name}"

    # -- internals ---------------------------------------------------------
    def _live_files(self) -> dict[str, str]:
        return {p.name: str(p) for p in self.wh._data_files(self.source)}

    def _state_version(self) -> int:
        """Version of the COMMITTED state (0 = no state). Every state
        row carries the same mv_version; min()==max() by
        construction."""
        if not self.wh.table_exists(self.state_table):
            return 0
        row = (
            self.wh.read(self.state_table)
            .agg(F.max("mv_version").alias("v"))
            .collect()[0]
        )
        return int(row["v"]) if row["v"] is not None else 0

    def _seen_files(self, version: int) -> set[str]:
        """Files folded into state version ``version`` — file rows
        tagged with a HIGHER version belong to a refresh whose state
        write never committed (crash window) and are ignored."""
        if not self.wh.table_exists(self.files_table):
            return set()
        return {
            r["file"]
            for r in self.wh.read(self.files_table)
            .filter(F.col("version") <= version)
            .collect()
        }

    def _partial(self, paths: list[str], version: int) -> DataFrame:
        src = self.wh.spark.read.parquet(*map(literal_path, paths))
        return src.groupBy(*self.group_cols).agg(
            F.count(F.lit(1)).cast("bigint").alias("mv_n"),
            F.sum(F.col(self.sum_col).cast(self.sum_type)).alias("mv_sum"),
        ).withColumn("mv_version", F.lit(version).cast("bigint"))

    def _record_files(
        self, names: list[str], version: int, replace: bool
    ) -> None:
        df = self.wh.spark.createDataFrame(
            [(n, version) for n in sorted(names)], "file string, version long"
        )
        if replace or not self.wh.table_exists(self.files_table):
            self.wh.overwrite(df, self.files_table)
        else:
            self.wh.append(df, self.files_table)

    # -- public API --------------------------------------------------------
    def rebuild(self) -> dict:
        """Full build from every live file (also the recovery path
        after a base-table rewrite invalidated the seen-set)."""
        live = self._live_files()
        if not live:
            # explicit guard: spark.read.parquet(*[]) raises a
            # confusing TypeError (the bloom_pruned_read lesson,
            # ADVICE r6)
            raise ValueError(
                f"MV {self.name!r}: source {self.source!r} has no "
                f"data files to build from"
            )
        # phase 1: file list (tagged v=1); phase 2: state commits v=1
        self._record_files(list(live), version=1, replace=True)
        state = self._partial(list(live.values()), version=1)
        self.wh.overwrite_from_plan(state, self.state_table)
        return {"files_scanned": len(live), "files_total": len(live)}

    def refresh(self) -> dict:
        """Fold in files appended since the last build/refresh. Scans
        ONLY the unseen live files. Raises if previously-seen files
        vanished from the live set (base was rewritten, not appended
        to) — merging on top would silently double- or under-count."""
        v = self._state_version()
        if v == 0:
            return self.rebuild()
        live = self._live_files()
        seen = self._seen_files(v)
        gone = seen - set(live)
        if gone:
            raise ValueError(
                f"MV {self.name!r} is stale_base: {len(gone)} previously "
                f"folded files left the live set (compaction/DML rewrote "
                f"{self.source!r}); call rebuild()"
            )
        new = sorted(set(live) - seen)
        if not new:
            return {"files_scanned": 0, "files_total": len(live)}
        # phase 1: record the files under v+1 (ignored until commit);
        # phase 2: the state overwrite at v+1 is the commit point
        self._record_files(new, version=v + 1, replace=False)
        partial = self._partial([live[n] for n in new], version=v + 1)
        merged = (
            self.wh.read(self.state_table)
            .withColumn("mv_version", F.lit(v + 1).cast("bigint"))
            .unionByName(partial)
            .groupBy(*self.group_cols, "mv_version")
            .agg(
                F.sum("mv_n").cast("bigint").alias("mv_n"),
                F.sum("mv_sum")
                .cast(self.sum_type)
                .alias("mv_sum"),
            )
        )
        self.wh.overwrite_from_plan(merged, self.state_table)
        return {"files_scanned": len(new), "files_total": len(live)}

    def read(self) -> DataFrame:
        return self.wh.read(self.state_table).drop("mv_version")
