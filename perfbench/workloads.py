"""The three workloads. Each is a closed loop: one caller, one timed
call into a public function of the engine per operation.

A workload object is driven by ``worker.py``:

1. ``prepare()`` generates the seeded inputs (untimed, no Spark);
2. ``setup(spark)`` performs the initial table load and the warm-up
   operation; it is repeated on a fresh session and fresh warehouse
   root for every set-up repetition;
3. ``verify(spark)`` runs untimed checks the loop relies on (the
   oracle pass of ``query_mix``);
4. ``next_op()`` returns the next :class:`Op`; ``Op.call`` is timed,
   ``Op.check`` is not. A run measures ``round(--seconds /
   NOMINAL_PASS_S)`` whole passes over the workload's ``PASS`` (seeded
   order), so ``--seconds`` fixes the amount of work and two commits
   are compared on the same ops. ``NOMINAL_PASS_S`` is set per workload
   so that the runs fit one time budget: at ``--seconds 30`` they make
   14, 30 and 16 timed ops; maintenance ops come on top. Before them,
   ``WARMUP_PASSES`` untimed passes let the JIT settle; they are
   checked like timed ops;
5. ``finish(spark)`` runs the end-of-run checks and returns the
   workload's own numbers (rows merged, storage amplification).
"""

from __future__ import annotations

import hashlib
import itertools
import random
import shutil
from dataclasses import dataclass
from decimal import Decimal
from pathlib import Path
from typing import Any, Callable

import gen
from spans import NullTracer

# deltalog_dml maintenance, in commits to the table
CHECKPOINT_EVERY = 3
COMPACT_EVERY = 6
VACUUM_EVERY = 6


@dataclass
class Op:
    kind: str  # "read", "write" or "maint"
    name: str
    call: Callable[[], Any]
    check: Callable[[Any], list[str]]
    rows: int = 0


def du_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file())


def written_once_bytes(spark, frames: list, out: Path) -> int:
    """Bytes of the given DataFrames written once as plain parquet."""
    total = 0
    for i, df in enumerate(frames):
        d = out / f"t{i}"
        df.write.mode("overwrite").parquet(str(d))
        total += sum(p.stat().st_size for p in d.glob("*.parquet"))
    shutil.rmtree(out, ignore_errors=True)
    return total


# --- scd2_pipeline ----------------------------------------------------------


class Scd2Pipeline:
    """The paper's job: CSV extract → raw append → dedup-latest → SCD2
    merge, one ``pipeline.run_pipeline`` call per op on the parquet
    ``Warehouse`` (the CLI default)."""

    name = "scd2_pipeline"
    N_KEYS = 4_000
    PASS = ("run_pipeline",)
    NOMINAL_PASS_S = 2.1
    WARMUP_PASSES = 2

    def __init__(self, seed: int, work: Path, tracer=None):
        self.seed = seed
        self.work = work
        self.csv_dir = work / "extracts"
        self.rep = 0

    def prepare(self) -> None:
        self.csv_dir.mkdir(parents=True, exist_ok=True)

    def _config(self):
        from lakehouse_poc_spark.config import PipelineConfig
        from lakehouse_poc_spark.sources.readers import CsvDialect

        return PipelineConfig(
            name="kosten",
            raw_table="layer0100.kosten_raw",
            dim_table="layer0200.dim_kostenstelle",
            business_key=(gen.KEY_COL,),
            compare_columns=gen.COMPARE_COLS,
            dialect=CsvDialect(sep=gen.CSV_DIALECT["sep"], encoding=gen.CSV_DIALECT["encoding"]),
        )

    def setup(self, spark) -> None:
        from lakehouse_poc_spark.sinks.warehouse import Warehouse

        self.rep += 1
        shutil.rmtree(self.work / f"wh{self.rep - 1}", ignore_errors=True)
        self.wh_root = self.work / f"wh{self.rep}"
        self.spark = spark
        self.cfg = self._config()
        self.wh = Warehouse(spark, str(self.wh_root))
        self.src = gen.DimensionSource(self.N_KEYS, self.seed)
        self.batch_no = 0
        self.rows_merged = 0
        # initial load (bootstrap) and one warm-up merge
        for _ in range(2):
            op = self.next_op()
            errs = op.check(op.call())
            if errs:
                raise RuntimeError(f"set-up batch failed its check: {errs}")
        self.rows_merged = 0

    def verify(self, spark) -> None:
        pass

    def next_op(self) -> Op:
        from lakehouse_poc_spark import pipeline

        path = self.csv_dir / f"extract_{self.batch_no:04d}.csv"
        truth = self.src.write_batch(path)
        self.batch_no += 1

        def call():
            return pipeline.run_pipeline(self.spark, self.wh, self.cfg, truth.run_ts, batch=None)

        def check(stats) -> list[str]:
            errs = merge_stats_errors(stats, truth)
            if not errs:
                self.rows_merged += truth.rows
            return errs

        self.cfg = _with_source(self.cfg, str(path))
        return Op("write", "run_pipeline", call, check, rows=truth.rows)

    def finish(self, spark) -> tuple[list[str], dict]:
        dim = self.wh.read(self.cfg.dim_table).toPandas()
        errs = dimension_errors(dim, self.cfg.technical, self.src)
        live = [self.wh.read(self.cfg.raw_table), self.wh.read(self.cfg.dim_table)]
        once = written_once_bytes(spark, live, self.work / "once")
        return errs, {
            "rows_merged": self.rows_merged,
            "storage_amp": du_bytes(self.wh_root) / once,
        }


def _with_source(cfg, path: str):
    from dataclasses import replace

    return replace(cfg, source_path=path)


def merge_stats_errors(stats, truth: "gen.BatchTruth") -> list[str]:
    """A merge must report exactly the model's new, changed and
    unchanged key counts."""
    got = (stats.new_keys, stats.updated_keys, stats.unchanged)
    want = (truth.new_keys, truth.updated_keys, truth.unchanged)
    return [] if got == want else [f"batch {truth.run_ts}: MergeStats {got} != truth {want}"]


def dimension_errors(dim, t, src: "gen.DimensionSource") -> list[str]:
    """Checks the whole SCD2 dimension (a pandas frame): current rows
    equal the model's state, exactly one open row per key, and each
    key's validity chain is contiguous with one version per change."""
    errs = []
    key = gen.KEY_COL
    cur = dim[dim[t.is_current]]
    if cur[key].duplicated().any():
        errs.append("more than one open row for some key")
    got = {
        r[key]: tuple(None if v is None or v != v else v for v in (r[c] for c in gen.COMPARE_COLS))
        for r in cur.to_dict("records")
    }
    if got != src.state:
        bad = [k for k in set(got) | set(src.state) if got.get(k) != src.state.get(k)]
        errs.append(f"{len(bad)} keys differ from the model, e.g. {sorted(bad)[:3]}")
    versions = dim.groupby(key).size().to_dict()
    if versions != src.versions:
        errs.append("version counts per key differ from the model")
    d = dim.sort_values([key, t.valid_from]).reset_index(drop=True)
    last = d[key] != d[key].shift(-1)
    if not (d[t.is_current] == last).all() or d.loc[last, t.valid_to].notna().any():
        errs.append("the last version of some key is not its single open row")
    closed = d[~last]
    succ_from = d[t.valid_from].shift(-1)[~last]
    if not (closed[t.valid_to] == succ_from).all():
        errs.append("a validity chain has a gap or an overlap")
    return errs


# --- deltalog_dml -----------------------------------------------------------


class DeltaLogDml:
    """A seeded mix of small reads and writes against one
    ``DeltaLogWarehouse`` table, checked op by op against a shadow
    model. Checkpoint, compaction and vacuum run at fixed commit
    intervals."""

    name = "deltalog_dml"
    TABLE = "sales.orders"
    N_ROWS = 40_000
    N_CUST = 2_000
    PASS = ("read",) * 5 + ("read_version",) * 2 + ("append", "upsert", "delete_where")
    NOMINAL_PASS_S = 10.0
    WARMUP_PASSES = 1

    def __init__(self, seed: int, work: Path, tracer=None):
        self.seed = seed
        self.work = work
        self.rep = 0

    def prepare(self) -> None:
        # the initial table, from the same random stream setup() replays
        self.work.mkdir(parents=True, exist_ok=True)
        self.initial = self.work / "orders_initial.parquet"
        rows = gen.OrdersShadow().new_rows(random.Random(self.seed), self.N_ROWS, self.N_CUST)
        gen.OrdersShadow.write_parquet(self.initial, rows)

    def setup(self, spark) -> None:
        from lakehouse_poc_spark.sinks.warehouse import DeltaLogWarehouse

        self.rep += 1
        shutil.rmtree(self.work / f"wh{self.rep - 1}", ignore_errors=True)
        self.wh_root = self.work / f"wh{self.rep}"
        self.spark = spark
        self.wh = DeltaLogWarehouse(spark, str(self.wh_root))
        self.rng = random.Random(self.seed)
        self.shadow = gen.OrdersShadow()
        self.snapshots: dict[int, tuple[int, int]] = {}
        self.oldest_readable = 0
        self.commits = 0
        self.pending: list[str] = []
        self._todo: list[str] = []
        self.shadow.apply(self.shadow.new_rows(self.rng, self.N_ROWS, self.N_CUST))
        self.wh.overwrite(spark.read.parquet(str(self.initial)), self.TABLE)
        self._after_commit()
        # warm-up: one read of the latest version
        op = self._read_op()
        errs = op.check(op.call())
        if errs:
            raise RuntimeError(f"set-up read failed its check: {errs}")

    def verify(self, spark) -> None:
        pass

    def _frame(self, batch: dict):
        return self.spark.createDataFrame(gen.OrdersShadow.to_records(batch), gen.ORDERS_SCHEMA)

    def _aggregate(self, df) -> tuple[int, int]:
        from pyspark.sql import functions as F

        cents = F.round(F.col("o_totalprice") * 100).cast("long")
        status = (
            F.when(F.col("o_orderstatus") == "F", 0)
            .when(F.col("o_orderstatus") == "O", 1)
            .otherwise(2)
        )
        h = F.pmod(
            F.col("o_orderkey") * 1_000_003 + F.col("o_custkey") * 7919 + cents * 31 + status,
            F.lit(gen.HASH_MOD),
        )
        row = df.agg(F.count("*").alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h")).collect()[0]
        return int(row["n"]), int(row["h"] or 0)

    def _after_commit(self) -> None:
        v = self.wh.version(self.TABLE)
        self.snapshots[v] = self.shadow.snapshot()
        self.commits += 1
        if self.commits % COMPACT_EVERY == 0:
            self.pending.append("compact")
        if self.commits % VACUUM_EVERY == 0:
            self.pending.append("vacuum")
        if self.commits % CHECKPOINT_EVERY == 0:
            self.pending.append("write_checkpoint")

    def _expect_version(self, want_v: int) -> list[str]:
        v = self.wh.version(self.TABLE)
        if v != want_v:
            return [f"table at version {v}, expected {want_v}"]
        self._after_commit()
        return []

    def _check_latest(self) -> list[str]:
        got = self._aggregate(self.wh.read(self.TABLE))
        want = self.shadow.snapshot()
        return [] if got == want else [f"latest read {got} != model {want}"]

    def _read_op(self) -> Op:
        def call():
            return self._aggregate(self.wh.read(self.TABLE))

        def check(got):
            want = self.shadow.snapshot()
            return [] if got == want else [f"read {got} != model {want}"]

        return Op("read", "read", call, check)

    def _write_op(self, name: str, apply_shadow: Callable[[], None], call: Callable[[], Any], rows: int) -> Op:
        v0 = self.wh.version(self.TABLE)

        def check(_):
            apply_shadow()
            return self._expect_version(v0 + 1)

        return Op("write", name, call, check, rows=rows)

    def next_op(self) -> Op:
        if self.pending:
            return self._maintenance_op(self.pending.pop(0))
        if not self._todo:
            self._todo = list(self.PASS)
            self.rng.shuffle(self._todo)
        kind = self._todo.pop()
        if kind == "read":
            return self._read_op()
        if kind == "read_version":
            lo, hi = self.oldest_readable, self.wh.version(self.TABLE)
            v = self.rng.randint(lo, hi)

            def call():
                return self._aggregate(self.wh.read_version(self.TABLE, v))

            def check(got):
                want = self.snapshots[v]
                return [] if got == want else [f"version {v}: {got} != model {want}"]

            return Op("read", "read_version", call, check)
        if kind == "append":
            batch = self.shadow.new_rows(self.rng, self.rng.randint(200, 800), self.N_CUST)
            df = self._frame(batch)
            return self._write_op("append", lambda: self.shadow.apply(batch), lambda: self.wh.append(df, self.TABLE), len(batch))
        if kind == "upsert":
            batch = self.shadow.upsert_rows(self.rng, self.rng.randint(200, 600), self.rng.randint(0, 200), self.N_CUST)
            df = self._frame(batch)
            return self._write_op(
                "upsert", lambda: self.shadow.apply(batch), lambda: self.wh.upsert(df, self.TABLE, ["o_orderkey"]), len(batch)
            )
        cust = self.rng.randrange(self.N_CUST)
        return self._write_op(
            "delete_where",
            lambda: self.shadow.delete_cust(cust),
            lambda: self.wh.delete_where(self.TABLE, f"o_custkey = {cust}"),
            0,
        )

    def _maintenance_op(self, name: str) -> Op:
        from lakehouse_poc_spark.sources import deltalog

        path = self.wh.path(self.TABLE)
        v0 = self.wh.version(self.TABLE)
        if name == "write_checkpoint":
            return Op("maint", name, lambda: deltalog.write_checkpoint(path), lambda _: self._check_latest())
        if name == "compact":
            def check(_):
                errs = self._expect_version(v0 + 1)
                return errs or self._check_latest()

            return Op("maint", name, lambda: self.wh.compact(self.TABLE, target_files=1), check)

        def check_vacuum(_):
            # files only older versions referenced are gone: time travel
            # now starts at the version the vacuum kept
            self.oldest_readable = v0
            return self._check_latest()

        return Op("maint", name, lambda: self.wh.vacuum(min_age=0.0), check_vacuum)

    def finish(self, spark) -> tuple[list[str], dict]:
        errs = self._check_latest()
        once = written_once_bytes(spark, [self.wh.read(self.TABLE)], self.work / "once")
        return errs, {"storage_amp": du_bytes(self.wh_root) / once}


# --- query_mix --------------------------------------------------------------

QUERY_SET = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "window_topk_per_brand",
    "dedup_latest_events",
    "bm25_topk_docs",
    "pack_sequences_docs",
    "stream_dedup_events",
    "scd1_customer_current",
)
WARMUP_QUERY = "q1_pricing_summary"


def canonical_rows(rows: list, columns: list[str]) -> list[tuple]:
    """Rows as sorted tuples with columns in name order; floats rounded
    to 9 significant digits so engine-side summation order cannot flip
    a last bit."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        if isinstance(v, bool) or v is None:
            return v
        if isinstance(v, (int, float, Decimal)):
            v = float(v)
            return float(f"{v:.9g}") if v == v else "nan"
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        if hasattr(v, "isoformat"):
            return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
        return v

    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def rows_hash(rows: list[tuple]) -> str:
    return hashlib.sha1(repr(rows).encode()).hexdigest()


class QueryMix:
    """Read-only analytics: a fixed set of oracle-backed registered
    queries over a seeded star schema; the seed permutes their order.
    Every op builds the query and collects every output column."""

    name = "query_mix"
    PASS = QUERY_SET
    NOMINAL_PASS_S = 15.0
    # the oracle pass in verify() is the warm pass
    WARMUP_PASSES = 0

    def __init__(self, seed: int, work: Path, tracer=None):
        self.seed = seed
        self.work = work
        self.tracer = tracer or NullTracer()
        self.sf_dir = work / "star"
        self.pins: dict[str, str] = {}
        order = list(QUERY_SET)
        random.Random(seed).shuffle(order)
        self.order = order
        self._cycle = itertools.cycle(order)

    def prepare(self) -> None:
        self.table_rows = gen.write_star_schema(self.sf_dir, self.seed)

    def setup(self, spark) -> None:
        from lakehouse_poc_spark.plans import QUERIES

        self.spark = spark
        QUERIES[WARMUP_QUERY](spark, str(self.sf_dir)).collect()

    def verify(self, spark) -> None:
        """Oracle pass: every query's result equals its DuckDB oracle;
        the result hash is pinned for the timed ops."""
        from lakehouse_poc_spark.plans import ORACLES, QUERIES

        import duckdb

        con = duckdb.connect()
        for t in self.table_rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir / t}.parquet')")
        bad = []
        for name in self.order:
            df = QUERIES[name](spark, str(self.sf_dir))
            got = canonical_rows(df.collect(), df.columns)
            res = con.execute(ORACLES[name])
            cols = [d[0] for d in res.description]
            want = canonical_rows(res.fetchall(), cols)
            if got != want:
                bad.append(name)
            self.pins[name] = rows_hash(got)
        con.close()
        if bad:
            raise RuntimeError(f"queries differ from their oracle: {bad}")

    def next_op(self) -> Op:
        from lakehouse_poc_spark.plans import QUERIES

        name = next(self._cycle)

        def call():
            with self.tracer.span("plans.build"):
                df = QUERIES[name](self.spark, str(self.sf_dir))
            with self.tracer.span("plans.exec"):
                return df.collect(), df.columns

        def check(res):
            rows, cols = res
            got = rows_hash(canonical_rows(rows, cols))
            return [] if got == self.pins[name] else [f"{name}: result hash changed"]

        return Op("read", name, call, check)

    def finish(self, spark) -> tuple[list[str], dict]:
        return [], {}


WORKLOADS = {w.name: w for w in (Scd2Pipeline, DeltaLogDml, QueryMix)}


def passes_for(seconds: float, nominal_pass_s: float) -> int:
    """Whole passes that fill ``seconds`` at the nominal pass time, so a
    comparison of two commits always measures the same work."""
    return max(1, round(seconds / nominal_pass_s))
