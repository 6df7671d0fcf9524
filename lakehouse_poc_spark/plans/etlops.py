"""ETL-surface queries: the reference's core pipeline (CSV dialect
ingest → raw landing with lineage → dedup-latest → SCD2 merge) driven
through the oracle gate with deterministic batch scenarios.

The SCD2 scenario is constructed so the ENTIRE merge semantics is
SQL-expressible (the oracle derives every expected history row from
the customer table):

  batch1 (run_ts T1) = customers with even custkey, original values.
  batch2 (run_ts T2) = ALL customers; segment overwritten to 'CHANGED'
                       where custkey % 10 == 0.

Expected dimension history after the two merges:
  even, %10!=0  → one open row, valid_from=T1 (unchanged)
  even, %10==0  → closed row (T1→T2) + open row 'CHANGED' from T2
  odd           → one open row from T2 (new key)

Scratch tables live under .scratch/ in the repo (wiped per run —
queries are re-runnable and self-contained).
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..pipeline import run_pipeline
from ..session import overlap
from ..sinks.warehouse import DeltaLogWarehouse, Warehouse
from ..sources.deltalog import DeltaLogWriter
from ..sources.readers import CsvDialect, read_csv, read_parquet_table
from . import query
from .tpch import sql_dsum

T1 = "2024-01-01 00:00:00"
T2 = "2024-01-02 00:00:00"
# Scratch root for per-run demo tables: tmpfs where available (the
# same non-durable-ephemeral argument as the streaming scratch in
# streaming/windows.py — every table here is rebuilt from parquet
# inputs each run, so durability buys nothing and disk I/O is pure
# overhead; r10 optimization round). Env-overridable; falls back to
# the repo-local dir on machines without /dev/shm.
import os as _os

SCRATCH = Path(
    _os.environ.get(
        "SPARK_GRAFT_BATCH_SCRATCH",
        "/dev/shm/lakehouse_batch_scratch"
        if Path("/dev/shm").is_dir()
        else "/root/repo/.scratch",
    )
)

CUST_CFG = PipelineConfig(
    name="cust",
    raw_table="layer0100.customer_raw",
    dim_table="layer0150.dim_customer",
    business_key=("c_custkey",),
    compare_columns=("c_name", "c_mktsegment"),
)


def _fresh_wh(spark: SparkSession, tag: str, cls=Warehouse) -> Warehouse:
    root = SCRATCH / tag
    if root.exists():
        shutil.rmtree(root)
    return cls(spark, str(root))


def _run_scd2_scenario(spark: SparkSession, sf_dir: str) -> Warehouse:
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    batch1 = cust.filter(F.col("c_custkey") % 2 == 0)
    batch2 = cust.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    wh = _fresh_wh(spark, f"scd2_{Path(sf_dir).name}")
    run_pipeline(spark, wh, CUST_CFG, T1, batch=batch1)
    stats2 = run_pipeline(spark, wh, CUST_CFG, T2, batch=batch2)
    wh.last_stats = stats2  # stashed for the stats query
    return wh


# ---------------------------------------------------------------------------
# Full SCD2 history — every merge effect checked row-by-row.
@query(
    "scd2_customer_history",
    oracle=f"""
    -- closed rows: even %10==0 keys, original segment, T1→T2
    SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment,
           '{T1}' AS valid_from, '{T2}' AS valid_to, FALSE AS is_current
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    -- open rows, unchanged since T1: even, %10!=0
    SELECT c_custkey, c_name, c_mktsegment, '{T1}', 'OPEN', TRUE
    FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 10 <> 0
    UNION ALL
    -- open rows inserted at T2: changed evens (segment CHANGED)
    SELECT c_custkey, c_name, 'CHANGED', '{T2}', 'OPEN', TRUE
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    -- open rows inserted at T2: brand-new odd keys
    SELECT c_custkey, c_name, c_mktsegment, '{T2}', 'OPEN', TRUE
    FROM customer WHERE c_custkey % 2 = 1
    ORDER BY key, valid_from, is_current
    """,
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = _run_scd2_scenario(spark, sf_dir)
    t = CUST_CFG.technical
    dim = wh.read(CUST_CFG.dim_table)
    return dim.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.date_format(t.valid_from, "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(t.valid_to, "yyyy-MM-dd HH:mm:ss"), F.lit("OPEN")
        ).alias("valid_to"),
        F.col(t.is_current).alias("is_current"),
    ).orderBy("key", "valid_from", "is_current")


# ---------------------------------------------------------------------------
# SCD1 upsert (Warehouse.upsert — last-write-wins, no history): the
# MERGE-family twin of the SCD2 scenario above. Batch 1 seeds the even
# keys; batch 2 upserts the %10==0 keys with a changed segment AND
# inserts the odd keys. Final state: untouched evens keep their
# original segment, matched keys take batch 2's values, odds insert.
@query(
    "scd1_customer_current",
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
def scd1_customer_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    batch1 = cust.filter(F.col("c_custkey") % 2 == 0)
    batch2 = cust.filter(
        (F.col("c_custkey") % 10 == 0) | (F.col("c_custkey") % 2 == 1)
    ).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    wh = _fresh_wh(spark, f"scd1_{Path(sf_dir).name}")
    wh.upsert(batch1, "layer0150.dim_customer_scd1", keys=["c_custkey"])
    wh.upsert(batch2, "layer0150.dim_customer_scd1", keys=["c_custkey"])
    return (
        wh.read("layer0150.dim_customer_scd1")
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
        )
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# The FILE-PRUNED SCD1 twin: identical scenario and oracle to
# scd1_customer_current, executed via upsert_file_pruned on a
# DeltaLogWarehouse table that was appended and then OPTIMIZEd with
# range clustering (compact(cluster_by=...)) — Delta's MERGE rewrites
# only the files holding matched keys, in one commit. It differs from
# scd1_manifest_customers by the layout: clustered by compaction here,
# by the seeding write there. The oracle-hash identity of the twins IS
# the result-contract proof; the file-count pruning itself is asserted
# in tests/test_warehouse.py.
@query(
    "scd1_file_pruned_customers",
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
def scd1_file_pruned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    batch1 = cust.filter(F.col("c_custkey") % 2 == 0)
    batch2 = cust.filter(
        (F.col("c_custkey") % 10 == 0) | (F.col("c_custkey") % 2 == 1)
    ).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    wh = _fresh_wh(spark, f"scd1fp_{Path(sf_dir).name}", DeltaLogWarehouse)
    t = "layer0150.dim_customer_fp"
    # cluster the seed on the key so the second upsert's pruning has
    # ranges to prune against (the 100 TB layout discipline)
    wh.append(batch1, t)
    wh.compact(t, target_files=8, cluster_by=["c_custkey"])
    wh.upsert_file_pruned(batch2, t, keys=["c_custkey"])
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
# The COPY-ON-WRITE MERGE SCD1 twin: identical scenario and oracle,
# executed as upsert_file_pruned on a DeltaLogWarehouse — Delta's
# MERGE with file pruning: only the files holding matched keys are
# rewritten, and their `remove` actions land in the same log commit
# as the rewrite's `add`s, so a concurrent reader sees the old or the
# new version and never duplicate keys (the move→unlink window of the
# directory backend does not exist; tests/test_deltalog.py races a
# reader against it). Oracle-hash identity across the SCD1 twins is
# the result-contract proof that the storage mechanics never leak
# into query semantics.
@query(
    "scd1_manifest_customers",
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
def scd1_manifest_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    batch1 = cust.filter(F.col("c_custkey") % 2 == 0)
    batch2 = cust.filter(
        (F.col("c_custkey") % 10 == 0) | (F.col("c_custkey") % 2 == 1)
    ).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    wh = _fresh_wh(spark, f"scd1mf_{Path(sf_dir).name}", DeltaLogWarehouse)
    t = "layer0150.dim_customer_mf"
    wh.overwrite(batch1.repartitionByRange(8, "c_custkey"), t)
    wh.upsert_file_pruned(batch2, t, keys=["c_custkey"])
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
# Merge stats contract ({unchanged,new_keys,updated_keys},
# reference pipeline_core.py:255-259) for the second merge.
@query(
    "scd2_merge_stats",
    oracle="""
    SELECT 'new_keys' AS stat, COUNT(*) AS n FROM customer WHERE c_custkey % 2 = 1
    UNION ALL
    SELECT 'unchanged', COUNT(*) FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 10 <> 0
    UNION ALL
    SELECT 'updated_keys', COUNT(*) FROM customer WHERE c_custkey % 10 = 0
    ORDER BY stat
    """,
)
def scd2_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = _run_scd2_scenario(spark, sf_dir)
    s = wh.last_stats
    return spark.createDataFrame(
        [
            ("new_keys", s.new_keys),
            ("unchanged", s.unchanged),
            ("updated_keys", s.updated_keys),
        ],
        "stat string, n bigint",
    ).orderBy("stat")


# ---------------------------------------------------------------------------
# Time travel + CDC read from the Delta log: the same two-merge SCD2
# scenario on a DeltaLogWarehouse. Merge 1 bootstraps the dimension
# (commit 0); merge 2 commits the rewritten dimension as version 1.
def _run_versioned_scenario(
    spark: SparkSession, sf_dir: str
) -> DeltaLogWarehouse:
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    batch1 = cust.filter(F.col("c_custkey") % 2 == 0)
    batch2 = cust.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    wh = _fresh_wh(spark, f"scd2v_{Path(sf_dir).name}", DeltaLogWarehouse)
    run_pipeline(spark, wh, CUST_CFG, T1, batch=batch1)
    run_pipeline(spark, wh, CUST_CFG, T2, batch=batch2)
    return wh


# Read version 0 (the pre-rewrite snapshot) while version 1 is live —
# replaying the log to version 0 gives the exact bootstrap state.
@query(
    "warehouse_time_travel",
    oracle=f"""
    SELECT c_custkey AS key, c_mktsegment AS segment,
           '{T1}' AS valid_from, 'OPEN' AS valid_to, TRUE AS is_current
    FROM customer WHERE c_custkey % 2 = 0
    ORDER BY key
    """,
)
def warehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = _run_versioned_scenario(spark, sf_dir)
    assert wh.version(CUST_CFG.dim_table) == 1
    t = CUST_CFG.technical
    v0 = wh.read_version(CUST_CFG.dim_table, 0)
    return v0.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
        F.date_format(t.valid_from, "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(t.valid_to, "yyyy-MM-dd HH:mm:ss"), F.lit("OPEN")
        ).alias("valid_to"),
        F.col(t.is_current).alias("is_current"),
    ).orderBy("key")


# CDC between log versions 0 and 1, Delta-CDF-shaped: the second
# merge's effects reappear as insert / update_preimage /
# update_postimage rows (no deletes — SCD2 never deletes).
@query(
    "warehouse_table_changes",
    oracle=f"""
    -- inserts at T2: changed evens (segment CHANGED) + new odd keys
    SELECT c_custkey AS key, 'CHANGED' AS segment,
           '{T2}' AS valid_from, 'OPEN' AS valid_to, TRUE AS is_current,
           'insert' AS _change_type
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, c_mktsegment, '{T2}', 'OPEN', TRUE, 'insert'
    FROM customer WHERE c_custkey % 2 = 1
    UNION ALL
    -- the T1 open row of every changed even key flips to closed
    SELECT c_custkey, c_mktsegment, '{T1}', 'OPEN', TRUE, 'update_preimage'
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, c_mktsegment, '{T1}', '{T2}', FALSE, 'update_postimage'
    FROM customer WHERE c_custkey % 10 = 0
    ORDER BY key, valid_from, _change_type
    """,
)
def warehouse_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = _run_versioned_scenario(spark, sf_dir)
    t = CUST_CFG.technical
    changes = wh.table_changes(
        CUST_CFG.dim_table, 0, 1, keys=["c_custkey", t.valid_from]
    )
    return changes.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
        F.date_format(t.valid_from, "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(t.valid_to, "yyyy-MM-dd HH:mm:ss"), F.lit("OPEN")
        ).alias("valid_to"),
        F.col(t.is_current).alias("is_current"),
        "_change_type",
    ).orderBy("key", "valid_from", "_change_type")


# ---------------------------------------------------------------------------
# File skipping: cluster orders on o_totalprice, collect per-file
# min/max stats (the manifest), then answer a selective range query
# reading ONLY overlapping files. Results must equal the plain
# predicate on the base table — pruning is a pure optimization.
@query(
    "file_skipping_orders",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_totalprice >= 100000 AND o_totalprice <= 150000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def file_skipping_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.filestats import collect_file_stats, pruned_read

    orders = read_parquet_table(spark, sf_dir, "orders")
    root = SCRATCH / f"fskip_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    wh = Warehouse(spark, str(root))
    wh.append(orders.repartition(8), "raw.orders")
    wh.compact("raw.orders", target_files=8, cluster_by=["o_totalprice"])
    path = str(wh.path("raw.orders"))
    stats = collect_file_stats(spark, path, ["o_totalprice"])
    pruned = pruned_read(spark, stats, "o_totalprice", 100000, 150000)
    return (
        pruned.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


# Per-file Bloom index: orders clustered by DATE (so min/max stats on
# o_custkey are useless — every file spans the key space), bloom built
# on o_custkey, point lookup reads only bloom-surviving files. Result
# must equal the plain full-scan predicate (no false negatives).
@query(
    "bloom_file_index_orders",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_custkey = 7
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def bloom_file_index_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.filestats import bloom_pruned_read, build_file_bloom

    orders = read_parquet_table(spark, sf_dir, "orders")
    root = SCRATCH / f"fbloom_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    wh = Warehouse(spark, str(root))
    wh.append(orders.repartition(8), "raw.orders")
    wh.compact("raw.orders", target_files=8, cluster_by=["o_orderdate"])
    path = str(wh.path("raw.orders"))
    blooms = build_file_bloom(spark, path, "o_custkey")
    hit = bloom_pruned_read(spark, blooms, "o_custkey", 7)
    return (
        hit.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# PERSISTED bloom index (r7, SCALE.md §6.3) on a DeltaLogWarehouse
# table: the index lives as a _bloom.<table> side table keyed on the
# log's live files and is refreshed incrementally inside
# upsert_file_pruned (only rewritten files rebuild). The query runs
# the full lifecycle — build, key-changing DML, two point lookups
# through the maintained index — and the oracle states the post-DML
# truth, so a stale or false-negative index cannot hash-match.
@query(
    "bloom_index_maintained_orders",
    oracle="""
    SELECT probe, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
    FROM (
        SELECT 'updated' AS probe, 'X' AS o_orderstatus, o_totalprice
        FROM orders WHERE o_custkey = 7
        UNION ALL
        SELECT 'untouched', o_orderstatus, o_totalprice
        FROM orders WHERE o_custkey = 11
    ) t
    GROUP BY probe, o_orderstatus
    ORDER BY probe, o_orderstatus
    """,
)
def bloom_index_maintained_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    wh = _fresh_wh(spark, f"bloomidx_{Path(sf_dir).name}", DeltaLogWarehouse)
    t = "raw.orders_b"
    # custkey-clustered layout: the batch's keys land in few files
    wh.overwrite(orders.repartitionByRange(8, "o_custkey"), t)
    wh.build_bloom_index(t, "o_custkey")
    batch = orders.filter(F.col("o_custkey") == 7).withColumn(
        "o_orderstatus", F.lit("X")
    )
    wh.upsert_file_pruned(batch, t, keys=["o_orderkey"])
    upd = wh.bloom_lookup(t, "o_custkey", 7).withColumn(
        "probe", F.lit("updated")
    )
    same = wh.bloom_lookup(t, "o_custkey", 11).withColumn(
        "probe", F.lit("untouched")
    )
    return (
        upd.unionByName(same)
        .groupBy("probe", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("probe", "o_orderstatus")
    )


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    from .tpch import dsum

    return (
        df.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice"), "total_price"),
        )
        .orderBy("o_orderstatus")
    )


_ROUNDTRIP_ORACLE = """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """


def _format_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    fmt: str,
    write_options: dict | None = None,
    read_options: dict | None = None,
) -> DataFrame:
    """Shared write → read-back → aggregate scaffold for the
    first-party format surface (ORC / JSONL / XML — one copy of the
    rmtree/write/explicit-schema-read sequence, code-review r7).
    Reads always pass the explicit schema: inference double-scans."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    root = SCRATCH / f"{fmt}_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = str(root / f"orders_{fmt}")
    w = orders.write.mode("overwrite").format(fmt)
    for k, v in (write_options or {}).items():
        w = w.option(k, v)
    w.save(path)
    r = spark.read.schema(orders.schema).format(fmt)
    for k, v in (read_options or {}).items():
        r = r.option(k, v)
    return _roundtrip_agg(r.load(path))


# ---------------------------------------------------------------------------
# ORC sink/source roundtrip: the orders table written as ORC, read
# back, aggregated — proves the columnar-format surface beyond parquet.
@query("orc_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(spark, sf_dir, "orc")


# ---------------------------------------------------------------------------
# JSON-lines sink/source roundtrip with an explicit read schema (the
# scale-correct way: schema inference double-scans).
@query("jsonl_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(spark, sf_dir, "json")



# ---------------------------------------------------------------------------
# XML sink/source roundtrip (r7; Spark 4 ships spark-xml built in —
# the remaining first-party file format after parquet/ORC/JSON/CSV).
# Timestamps round-trip as ISO strings; the read uses an explicit
# schema (inference double-scans, same discipline as jsonl).
@query("xml_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(
        spark, sf_dir, "xml",
        write_options={"rootTag": "orders", "rowTag": "order"},
        read_options={"rowTag": "order"},
    )


# ---------------------------------------------------------------------------
# Avro sink/source roundtrip (r9): the LAST first-party format without
# a roundtrip query. The spark-avro connector JAR is not in this
# distribution, so the format rides sources/avro.py — a pure-Python
# object-container-file codec per the public Apache Avro spec,
# registered as a Spark 4 Python DataSource (one partition per file,
# two-phase commit), written here with the DEFLATE codec. Unlike the
# Delta-log backend, this format has a second implementation IN the
# container (avro-1.12.1.jar, the Java library on Spark's classpath):
# tests/test_avro.py reads these bytes through
# org.apache.avro.file.DataFileReader and writes Java files our
# reader must parse — bidirectional conformance, not self-consistency.
# o_totalprice travels as double (decimal(18,2) → double is value-
# lossless; dsum's decimal(30,6) re-cast recovers it exactly).
@query("avro_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.avro import register_avro

    register_avro(spark)
    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    root = SCRATCH / f"avro_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = str(root / "orders_avro")
    orders.write.format("avrofile").option("path", path).option(
        "codec", "deflate"
    ).mode("overwrite").save()
    back = spark.read.format("avrofile").option("path", path).load()
    return _roundtrip_agg(back)


# ---------------------------------------------------------------------------
# Avro DECIMAL logical type (r10, VERDICT task 6): the scope gap
# lakehouse users hit first. o_totalprice travels as a true
# decimal(18,2) — bytes-backed two's-complement unscaled integers per
# the spec's decimal annotation (sources/avro.py::_int_to_tc is
# byte-identical to Java BigInteger.toByteArray; parity pinned both
# directions in tests/test_avro.py). The aggregate sums the EXACT
# decimals post-roundtrip and casts once (dsum discipline): any
# corruption of even one cent breaks the hash.
@query(
    "avro_decimal_roundtrip",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS min_price,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS max_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def avro_decimal_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.avro import register_avro

    register_avro(spark)
    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
    )
    root = SCRATCH / f"avro_dec_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = str(root / "orders_decimal")
    orders.write.format("avrofile").option("path", path).option(
        "codec", "deflate"
    ).mode("overwrite").save()
    back = spark.read.format("avrofile").option("path", path).load()
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("o_totalprice").cast("double").alias("total_price"),
            F.min("o_totalprice").cast("double").alias("min_price"),
            F.max("o_totalprice").cast("double").alias("max_price"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Avro SCHEMA RESOLUTION (r9): the spec's evolution contract —
# producers upgrade before consumers, so the reader presents ITS
# schema and the library resolves by NAME: writer-only fields are
# decoded-and-skipped, reader-only fields take their declared default,
# int→long promotes. The query writes v1 files (orderkey, shippriority
# int, orderstatus) and reads them with a v2 reader schema (status
# dropped, priority promoted to long, a defaulted region column) —
# exactly the consumer-lag scenario Avro pipelines run through every
# deploy window. Oracle reproduces the resolved values from the source
# table directly.
@query(
    "avro_schema_evolution_orders",
    oracle="""
    SELECT 'unknown' AS region,
           CAST(o_custkey % 5 AS BIGINT) AS pri,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    GROUP BY o_custkey % 5
    ORDER BY pri
    """,
)
def avro_schema_evolution_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import json as _json

    from ..sources.avro import register_avro

    register_avro(spark)
    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 5).cast("int").alias("o_shippriority"),
        "o_orderstatus",
    )
    root = SCRATCH / f"avro_evo_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = str(root / "orders_v1")
    orders.write.format("avrofile").option("path", path).mode(
        "overwrite"
    ).save()
    reader_schema = {
        "type": "record",
        "name": "orders_v2",
        "fields": [
            {"name": "region", "type": "string", "default": "unknown"},
            {"name": "o_shippriority", "type": "long"},  # int -> long
            {"name": "o_orderkey", "type": "long"},
            # o_orderstatus: writer-only, decoded and skipped
        ],
    }
    back = (
        spark.read.format("avrofile")
        .option("path", path)
        .option("readerSchema", _json.dumps(reader_schema))
        .load()
    )
    return (
        back.groupBy("region", F.col("o_shippriority").alias("pri"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("pri")
    )


# ---------------------------------------------------------------------------
# Avro LOGICAL TYPES (r9): date rides the spec's int-days annotation,
# timestamps the long-micros one; the Java parity tests pin the
# underlying integers (19782 = 2024-02-29). Dates hash as strftime
# strings per the repo's cross-engine convention.
@query(
    "avro_logical_types_roundtrip",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n,
           STRFTIME(MIN(o_orderdate), '%Y-%m-%d') AS first_day,
           STRFTIME(MAX(o_orderdate), '%Y-%m-%d') AS last_day
    FROM orders
    GROUP BY 1
    ORDER BY yr
    """,
)
def avro_logical_types_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.avro import register_avro

    register_avro(spark)
    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate")
    )
    root = SCRATCH / f"avro_lt_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = str(root / "orders_dates")
    orders.write.format("avrofile").option("path", path).mode(
        "overwrite"
    ).save()
    back = spark.read.format("avrofile").option("path", path).load()
    return (
        back.groupBy(F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias(
                "first_day"
            ),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias(
                "last_day"
            ),
        )
        .orderBy("yr")
    )


# ---------------------------------------------------------------------------
# Avro NESTED types (r9): the complex-type surface — struct↔record,
# array, string-keyed map — proven through a full write→read→flatten
# cycle: per-user aggregates materialize as a struct + a sorted
# distinct-type array + a type→count map, travel through the Avro
# container (deflate), and the flattened read-back must match the
# direct SQL aggregation of the raw table. The Java library reads
# these same shapes byte-for-byte (tests/test_avro.py nested
# fixtures, both directions).
@query(
    "avro_nested_roundtrip",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'click'
                                  THEN 1 END), 0) AS BIGINT) AS clicks,
           MIN(event_type) AS first_type
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def avro_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.avro import register_avro

    register_avro(spark)
    ev = read_parquet_table(spark, sf_dir, "events")
    nested = ev.groupBy("user_id").agg(
        F.struct(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("event_type").alias("first_type"),
        ).alias("st"),
        F.array_sort(F.collect_set("event_type")).alias("types"),
    )
    # map: type -> count per user (a second grouping level)
    per_type = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(F.struct("event_type", "c"))
                )
            ).alias("counts")
        )
    )
    nested = nested.join(per_type, "user_id")
    root = SCRATCH / f"avro_nested_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = str(root / "user_profiles")
    nested.write.format("avrofile").option("path", path).option(
        "codec", "deflate"
    ).mode("overwrite").save()
    back = spark.read.format("avrofile").option("path", path).load()
    return back.select(
        "user_id",
        F.col("st.n").alias("n_events"),
        F.size("types").cast("bigint").alias("n_types"),
        F.coalesce(F.col("counts")["click"], F.lit(0))
        .cast("bigint")
        .alias("clicks"),
        F.col("st.first_type").alias("first_type"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Bucketed co-located join: lineitem and orders written bucketed+sorted
# on the order key join shuffle-free (SCALE.md §2's prescription for
# fact-fact joins at 100 TB). tests/test_plan_shapes.py asserts the
# executed plan contains no exchange between the scans and the join.
@query(
    "bucketed_join_revenue",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE)
               AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, orders = write_bucketed_tables(spark, sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(30,6)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


def write_bucketed_tables(spark: SparkSession, sf_dir: str, n_buckets: int = 8):
    """Write lineitem + orders bucketed and sorted by order key into
    the session catalog; returns the two bucketed tables. Reused by
    the plan-shape test."""
    tag = Path(sf_dir).name.replace(".", "_")
    li_name, o_name = f"bkt_lineitem_{tag}", f"bkt_orders_{tag}"
    warehouse = Path(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    )
    for name, df, key in (
        (li_name, read_parquet_table(spark, sf_dir, "lineitem"), "l_orderkey"),
        (o_name, read_parquet_table(spark, sf_dir, "orders"), "o_orderkey"),
    ):
        if not spark.catalog.tableExists(name):
            # the in-memory catalog resets per session but the
            # warehouse directory persists — clear stale locations
            stale = warehouse / name
            if stale.exists():
                shutil.rmtree(stale)
            (
                df.write.bucketBy(n_buckets, key)
                .sortBy(key)
                .mode("overwrite")
                .saveAsTable(name)
            )
    return spark.table(li_name), spark.table(o_name)


# ---------------------------------------------------------------------------
# Partitioned write + partition pruning: events written partitioned by
# event date (the raw-table layout SCALE.md prescribes at 100 TB); a
# date-filtered read must touch only the matching partitions (pruning
# is asserted on the physical plan in tests/test_plan_shapes.py).
@query(
    "partitioned_events_prune",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d') AS event_date,
           COUNT(*) AS n
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts < TIMESTAMP '2024-01-13 00:00:00'
    GROUP BY 1
    ORDER BY event_date
    """,
)
def partitioned_events_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_parquet_table(spark, sf_dir, "events")
    root = SCRATCH / f"events_part_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = str(root / "events_by_date")
    ev.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd")).write.mode(
        "overwrite"
    ).partitionBy("event_date").parquet(path)
    back = spark.read.parquet(path).filter(
        (F.col("event_date") >= "2024-01-10") & (F.col("event_date") < "2024-01-13")
    )
    # partition-column type inference reads the dir name back as DATE;
    # cast to string so both engines emit identical values.
    return (
        back.groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_date")
    )


# ---------------------------------------------------------------------------
# CSV dialect roundtrip + ingest lineage (reference S1/S3 + P2): write
# the customer table as ';'-separated CSV, read it back distributed
# with the dialect config, stamp lineage, return everything.
@query(
    "csv_dialect_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, CAST(c_nationkey AS INTEGER) AS c_nationkey,
           c_acctbal, c_mktsegment,
           '2024-06-01 00:00:00' AS ingest_ts, 'blob-import' AS ingest_source
    FROM customer
    ORDER BY c_custkey
    """,
)
def csv_dialect_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ingest import with_ingest_metadata

    cust = read_parquet_table(spark, sf_dir, "customer")
    root = SCRATCH / f"csv_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = str(root / "customer_csv")
    dialect = CsvDialect(sep=";", encoding="UTF-8")
    cust.write.options(**dialect.options()).mode("overwrite").csv(path)
    back = read_csv(spark, path, dialect=dialect, infer_schema=True)
    stamped = with_ingest_metadata(back, "blob-import", "2024-06-01 00:00:00")
    return stamped.select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        "c_name",
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        "c_mktsegment",
        F.date_format("IngestTimestamp", "yyyy-MM-dd HH:mm:ss").alias("ingest_ts"),
        F.col("IngestSource").alias("ingest_source"),
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Incremental rollup maintenance: two event batches (split by event_id
# parity) upserted sequentially into an hourly rollup must be
# bit-identical to a one-shot full aggregation (the oracle). Decimal
# sums make the merge order-insensitive; the second upsert rewrites
# only the day partitions its batch touches.
@query(
    "incremental_rollup_events",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def incremental_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rollup import read_rollup, upsert_hourly_rollup

    ev = read_parquet_table(spark, sf_dir, "events")
    wh = _fresh_wh(spark, f"rollup_{Path(sf_dir).name}")
    upsert_hourly_rollup(
        wh, "agg.hourly", ev.filter(F.col("event_id") % 2 == 0), dims=["event_type"]
    )
    upsert_hourly_rollup(
        wh, "agg.hourly", ev.filter(F.col("event_id") % 2 == 1), dims=["event_type"]
    )
    return (
        read_rollup(wh, "agg.hourly", dims=["event_type"])
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_value",
        )
        .orderBy("hour", "event_type")
    )


# ---------------------------------------------------------------------------
# TPC-H-style refresh maintenance (RF1 insert / RF2 delete) against
# the warehouse DML surface: land orders, append a re-keyed "new
# sales" batch, DELETE a keyed tranche, then report the final state.
# Completes the DML triad the reference's notebooks imply (append /
# merge / delete) with every effect oracle-derived from the base
# table.
@query(
    "tpch_rf_maintenance",
    oracle="""
    WITH final AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey % 10 <> 3
        UNION ALL
        SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 10 = 7
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
    FROM final
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def tpch_rf_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = SCRATCH / f"rf_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    wh = Warehouse(spark, str(root))
    wh.append(orders, "fact.orders")
    # RF1: new sales batch (re-keyed clone of the %10==7 tranche)
    rf1 = orders.filter(F.col("o_orderkey") % 10 == 7).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10000000
    )
    wh.append(rf1, "fact.orders")
    # RF2: retire the %10==3 tranche (predicate delete; the re-keyed
    # inserts don't match — %10 is preserved by the +10M shift, and
    # tranche 7 was inserted, not 3)
    wh.delete_where("fact.orders", F.col("o_orderkey") % 10 == 3)
    return (
        wh.read("fact.orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Incremental file ingestion (sources/incremental.py): a day-partitioned
# landing zone is ingested in two passes — days 01–09, then the FULL
# glob. The file registry must skip every already-seen file, so pass 2
# ingests only days 10–30, and the final table holds each event exactly
# once (proved by n_rows == n_distinct on the oracle side too). All
# three report rows derive from the target table, fully distributed.
@query(
    "incremental_file_ingest",
    oracle="""
    WITH d AS (SELECT event_id, strftime(ts, '%Y-%m-%d') AS day FROM events)
    SELECT step, n_rows, n_distinct FROM (
        SELECT '1_first_batch' AS step,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
        FROM d WHERE day < '2024-01-10'
        UNION ALL
        SELECT '2_second_batch', CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT event_id) AS BIGINT)
        FROM d WHERE day >= '2024-01-10'
        UNION ALL
        SELECT '3_final_table', CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT event_id) AS BIGINT)
        FROM d
    )
    ORDER BY step
    """,
)
def incremental_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.incremental import ingest_new_files

    tag = f"incr_{Path(sf_dir).name}"
    root = SCRATCH / tag
    if root.exists():
        shutil.rmtree(root)
    src = str(root / "landing")
    events = read_parquet_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    events.write.partitionBy("day").parquet(src)

    wh = Warehouse(spark, str(root / "wh"))
    ingest_new_files(
        spark, wh, f"{src}/day=2024-01-0*", "land.events", "meta.ingested_files",
        base_path=src, partition_by=["day"], run_ts="2024-02-01 00:00:00",
    )
    ingest_new_files(
        spark, wh, f"{src}/day=*", "land.events", "meta.ingested_files",
        base_path=src, partition_by=["day"], run_ts="2024-02-02 00:00:00",
    )

    tgt = wh.read("land.events")
    first = F.col("day") < "2024-01-10"

    def _stats(df: DataFrame, step: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("event_id").alias("n_distinct"),
        ).select(F.lit(step).alias("step"), "n_rows", "n_distinct")

    return (
        _stats(tgt.filter(first), "1_first_batch")
        .unionByName(_stats(tgt.filter(~first), "2_second_batch"))
        .unionByName(_stats(tgt, "3_final_table"))
        .orderBy("step")
    )


# ---------------------------------------------------------------------------
# Table reconciliation (operators/diff.py): diff the orders table
# against a deterministically perturbed copy — dropped keys (%97),
# added keys (%101 re-keyed +10M), changed prices (%13) — and report
# per-status key counts. The migration-validation primitive: one
# full-outer shuffle join on the key, null-safe value compare.
@query(
    "table_diff_orders",
    oracle="""
    WITH l AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
    r AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT COALESCE(l.o_orderkey, r.o_orderkey) AS k,
               CASE WHEN r.o_orderkey IS NULL THEN 'only_left'
                    WHEN l.o_orderkey IS NULL THEN 'only_right'
                    WHEN l.o_totalprice IS DISTINCT FROM r.o_totalprice
                      OR l.o_orderstatus IS DISTINCT FROM r.o_orderstatus
                        THEN 'changed'
                    ELSE 'same' END AS status
        FROM l FULL JOIN r ON l.o_orderkey = r.o_orderkey
    ) t
    GROUP BY status
    ORDER BY status
    """,
)
def table_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.diff import diff_summary

    orders = read_parquet_table(spark, sf_dir, "orders")
    left = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    right = (
        left.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            left.filter(F.col("o_orderkey") % 101 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 10000000
            )
        )
    )
    return (
        diff_summary(
            left, right, keys=["o_orderkey"],
            compare_cols=["o_totalprice", "o_orderstatus"],
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Z-ORDER file skipping: interleaved-bit clustering on (o_custkey,
# o_totalprice) keeps every file a small rectangle in the 2-D key
# space, so a box predicate on BOTH columns prunes files on both
# dimensions — the Delta/Iceberg OPTIMIZE ZORDER mechanic from public
# primitives (zorder_value: sinks/warehouse.py). Linear clustering by
# o_totalprice (file_skipping_orders above) can only prune the
# leading column. The oracle is the plain 2-D filter — pruning must
# be a pure optimization.
@query(
    "file_skipping_zorder",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_custkey >= 1000 AND o_custkey <= 3000
      AND o_totalprice >= 50000 AND o_totalprice <= 200000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def file_skipping_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.filestats import collect_file_stats, pruned_read_multi
    from ..sinks.warehouse import zorder_value

    orders = read_parquet_table(spark, sf_dir, "orders")
    root = SCRATCH / f"fskipz_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    wh = Warehouse(spark, str(root))
    # Materialize the z-value as a layout column (what OPTIMIZE ZORDER
    # does internally), cluster files by it, then prune on the two
    # NATURAL columns' per-file min/max.
    z = orders.withColumn(
        "__z",
        zorder_value(
            F.col("o_custkey"),
            (F.col("o_totalprice") / F.lit(1000)).cast("long"),
            bits=16,
        ),
    )
    wh.append(z.repartition(8), "raw.orders_z")
    wh.compact("raw.orders_z", target_files=16, cluster_by=["__z"])
    path = str(wh.path("raw.orders_z"))
    stats = collect_file_stats(spark, path, ["o_custkey", "o_totalprice"])
    pruned = pruned_read_multi(
        spark,
        stats,
        [("o_custkey", 1000, 3000), ("o_totalprice", 50000.0, 200000.0)],
    )
    return (
        pruned.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Hilbert vs Z-order layout (r9): the clustering-curve comparison
# behind "liquid"-style layouts — both curves map (custkey-bucket,
# order-day-bucket) to a 1-D index that files are range-clustered on.
# The discriminating metric is CONTIGUOUS SCAN RANGES for an
# axis-aligned box query: the Hilbert walk never jumps across the
# square, so the box's touched 64-index buckets coalesce into far
# fewer runs than Morton's seams (measured here: 15 vs 28 on the
# same box — every run is a separate range request on object
# storage). The Hilbert transform is the layered integer xy→d form
# (sinks/warehouse.py::with_hilbert, one projection per bit level —
# a nested expression would grow 4^bits nodes), mirrored in the
# oracle by hilbert_sql's chained subqueries and validated against
# the reference algorithm + bijectivity in tests. Exact integer
# arithmetic end-to-end; the run/bucket counts of BOTH curves pin
# the hash. The run-count window runs on the distinct-bucket
# relation (≤ 4^bits/64 rows — bounded domain, declared discipline).
@query(
    "hilbert_vs_zorder_layout_orders",
    oracle=None,  # assembled below (the hilbert chain is generated)
)
def hilbert_vs_zorder_layout_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sinks.warehouse import with_hilbert, zorder_value

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        F.pmod(F.col("o_custkey"), F.lit(256)).alias("x"),
        F.pmod(
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")),
            F.lit(256),
        ).alias("y"),
    )
    h = with_hilbert(orders, F.col("x"), F.col("y"), bits=8, out="hd")
    both = (
        h.withColumn("zd", zorder_value(F.col("x"), F.col("y"), bits=8))
        .filter(
            (F.col("x") >= 90)
            & (F.col("x") <= 165)
            & (F.col("y") >= 90)
            & (F.col("y") <= 165)
        )
        .persist()
    )

    from pyspark.sql import Window

    def runs(col: str, alias: str) -> DataFrame:
        b = both.select(
            F.floor(F.col(col) / 64).cast("bigint").alias("b")
        ).distinct()
        w = Window.orderBy("b")
        lagged = b.withColumn("lb", F.lag("b").over(w))
        return lagged.agg(
            F.count(F.lit(1)).cast("bigint").alias(f"{alias}_buckets"),
            F.sum(
                F.when(
                    F.col("lb").isNull()
                    | (F.col("b") - F.col("lb") > 1),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"{alias}_runs"),
        )

    tot = both.agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_box")
    )
    return tot.crossJoin(F.broadcast(runs("hd", "hilbert"))).crossJoin(
        F.broadcast(runs("zd", "zorder"))
    )


def _hilbert_layout_oracle() -> str:
    from ..sinks.warehouse import hilbert_sql

    base = (
        "SELECT o_custkey % 256 AS x, "
        "CAST(DATEDIFF('day', DATE '1992-01-01', "
        "CAST(o_orderdate AS DATE)) AS BIGINT) % 256 AS y "
        "FROM orders"
    )
    chain = hilbert_sql(base, "x, y", "x", "y", bits=8)
    # Morton interleave: disjoint bit positions sum directly
    zterms = " + ".join(
        f"((x >> {i}) & 1) * {4 ** i} + ((y >> {i}) & 1) * {2 * 4 ** i}"
        for i in range(8)
    )
    return f"""
    WITH box AS (
        SELECT x, y, hd, {zterms} AS zd
        FROM ({chain})
        WHERE x BETWEEN 90 AND 165 AND y BETWEEN 90 AND 165
    ),
    hb AS (SELECT DISTINCT hd // 64 AS b FROM box),
    zb AS (SELECT DISTINCT zd // 64 AS b FROM box),
    hr AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS hilbert_buckets,
               CAST(SUM(CASE WHEN lb IS NULL OR b - lb > 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS hilbert_runs
        FROM (SELECT b, LAG(b) OVER (ORDER BY b) AS lb FROM hb)
    ),
    zr AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS zorder_buckets,
               CAST(SUM(CASE WHEN lb IS NULL OR b - lb > 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS zorder_runs
        FROM (SELECT b, LAG(b) OVER (ORDER BY b) AS lb FROM zb)
    )
    SELECT CAST((SELECT COUNT(*) FROM box) AS BIGINT) AS rows_box,
           hr.hilbert_buckets, hr.hilbert_runs,
           zr.zorder_buckets, zr.zorder_runs
    FROM hr, zr
    """


# the oracle needs the generated hilbert chain; register it post-hoc
from . import ORACLES as _ORACLES  # noqa: E402

_ORACLES["hilbert_vs_zorder_layout_orders"] = _hilbert_layout_oracle()


# ---------------------------------------------------------------------------
# Incremental JOIN-VIEW maintenance (operators/rollup.py::
# upsert_join_agg): the revenue-by-segment view over orders⋈customer,
# maintained across two order batches by delta propagation
# (Δview = Δorders ⋈ customer, added into stored mergeable state —
# decimal sums, so incremental == full recompute bit-for-bit, which
# is exactly what the single-pass oracle asserts).
@query(
    "incremental_join_view_revenue",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def incremental_join_view_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rollup import upsert_join_agg

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    wh = _fresh_wh(spark, f"ijv_{Path(sf_dir).name}")
    for parity in (0, 1):
        upsert_join_agg(
            wh,
            "agg.segment_revenue",
            orders.filter(F.col("o_orderkey") % 2 == parity),
            cust,
            join_key="o_custkey",
            group_cols=["c_mktsegment"],
            value_col="o_totalprice",
        )
    return (
        wh.read("agg.segment_revenue")
        .select(
            "c_mktsegment",
            "n_rows",
            F.col("sum_value").cast("double").alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# CDC replication apply (operators/diff.py::apply_changes — the
# consumer half of table_changes): the Delta-log version-0 snapshot
# plus the (0→1) change feed must reproduce the version-1 dimension
# exactly.
# The oracle states the expected v1 state directly from the customer
# table (same derivation as scd2_customer_history).
@query(
    "cdc_apply_customers",
    oracle=f"""
    SELECT c_custkey AS key, c_mktsegment AS segment,
           '{T1}' AS valid_from, '{T2}' AS valid_to, FALSE AS is_current
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, c_mktsegment, '{T1}', 'OPEN', TRUE
    FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 10 <> 0
    UNION ALL
    SELECT c_custkey, 'CHANGED', '{T2}', 'OPEN', TRUE
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, c_mktsegment, '{T2}', 'OPEN', TRUE
    FROM customer WHERE c_custkey % 2 = 1
    ORDER BY key, valid_from, is_current
    """,
)
def cdc_apply_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.diff import apply_changes

    wh = _run_versioned_scenario(spark, sf_dir)
    t = CUST_CFG.technical
    v0 = wh.read_version(CUST_CFG.dim_table, 0)
    changes = wh.table_changes(
        CUST_CFG.dim_table, 0, 1, keys=["c_custkey", t.valid_from]
    )
    replica = apply_changes(v0, changes, keys=["c_custkey", t.valid_from])
    return replica.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
        F.date_format(t.valid_from, "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(t.valid_to, "yyyy-MM-dd HH:mm:ss"), F.lit("OPEN")
        ).alias("valid_to"),
        F.col(t.is_current).alias("is_current"),
    ).orderBy("key", "valid_from", "is_current")


# ---------------------------------------------------------------------------
# Schema evolution: an append-only parquet table whose later batches
# grew a column (the standard lakehouse drift case — reference's Delta
# sink gets this via mergeSchema; this is the parquet-dir form). Batch
# 1 (even order keys) lacks o_totalprice; batch 2 (odd keys) carries
# it. A mergeSchema read reconciles the footers and nulls the missing
# column for old files; the aggregate proves both batches and the
# null-backfill are read correctly. At 100 TB mergeSchema costs a
# footer scan per file — pin the schema in the metastore once drift
# stabilizes (SCALE.md).
@query(
    "schema_evolution_orders",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           COUNT(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END) AS n_priced,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 1
                         THEN CAST(o_totalprice AS DECIMAL(30,6))
                         ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE)
               AS priced_total
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def schema_evolution_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tpch import dsum

    orders = read_parquet_table(spark, sf_dir, "orders")
    root = SCRATCH / f"schema_evo_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = str(root / "orders_evolving")
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    ).write.mode("overwrite").parquet(path)
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("o_totalprice").alias("n_priced"),
            dsum(F.coalesce(F.col("o_totalprice"), F.lit(0.0)), "priced_total"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# MERGE-path schema evolution (VERDICT r7 task 3): the WRITE-side twin
# of schema_evolution_orders — an SCD2 dimension whose SECOND batch
# GREW a compare column (the Delta schema.autoMerge mechanic; public
# Delta docs). Batch 1 seeds the even keys with (key, name) only;
# batch 2 merges ALL keys carrying a NEW c_mktsegment column that is
# non-NULL only for %10==0 keys. Under evolve=True the dimension
# schema widens: history and unchanged rows null-backfill the new
# column, change detection treats the target's missing value as NULL
# (null-safe <=>), so ONLY the %10==0 keys close+insert; keys whose
# new column arrived NULL are untouched. The oracle derives every
# history row — a backfill that invents values, an evolution that
# flags every key as changed, or a dropped old column all break the
# hash. scd2_merge docstring carries the fail-fast contract for
# evolve=False (tests/test_scd2.py).
@query(
    "scd2_schema_evolution",
    oracle=f"""
    -- closed rows: %10==0 keys, pre-evolution schema => segment NULL
    SELECT c_custkey AS key, c_name AS name,
           CAST(NULL AS VARCHAR) AS segment,
           '{T1}' AS valid_from, '{T2}' AS valid_to, FALSE AS is_current
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    -- open rows untouched since T1: segment null-backfilled
    SELECT c_custkey, c_name, CAST(NULL AS VARCHAR), '{T1}', 'OPEN', TRUE
    FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 10 <> 0
    UNION ALL
    -- new versions inserted at T2: the evolved column's real value
    SELECT c_custkey, c_name, c_mktsegment, '{T2}', 'OPEN', TRUE
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    -- brand-new odd keys at T2 (segment arrived NULL)
    SELECT c_custkey, c_name, CAST(NULL AS VARCHAR), '{T2}', 'OPEN', TRUE
    FROM customer WHERE c_custkey % 2 = 1
    ORDER BY key, valid_from, is_current
    """,
)
def scd2_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd2 import scd2_merge

    cust = read_parquet_table(spark, sf_dir, "customer")
    cfg1 = PipelineConfig(
        name="cust_evo",
        raw_table="layer0100.customer_raw",
        dim_table="layer0150.dim_customer_evo",
        business_key=("c_custkey",),
        compare_columns=("c_name",),
    )
    cfg2 = PipelineConfig(
        name="cust_evo",
        raw_table="layer0100.customer_raw",
        dim_table="layer0150.dim_customer_evo",
        business_key=("c_custkey",),
        compare_columns=("c_name", "c_mktsegment"),
    )
    batch1 = cust.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name"
    )
    batch2 = cust.select(
        "c_custkey",
        "c_name",
        F.when(
            F.col("c_custkey") % 10 == 0, F.col("c_mktsegment")
        ).alias("c_mktsegment"),
    )
    wh = _fresh_wh(spark, f"scd2_evo_{Path(sf_dir).name}")
    scd2_merge(wh, cfg1, batch1, T1)
    scd2_merge(wh, cfg2, batch2, T2, evolve=True)
    t = cfg2.technical
    dim = wh.read(cfg2.dim_table)
    return dim.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.date_format(t.valid_from, "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(t.valid_to, "yyyy-MM-dd HH:mm:ss"), F.lit("OPEN")
        ).alias("valid_to"),
        F.col(t.is_current).alias("is_current"),
    ).orderBy("key", "valid_from", "is_current")


# ---------------------------------------------------------------------------
# Raw line-oriented text ingestion (Common-Crawl-WET-style): documents
# serialized one-per-line as "id<TAB>text", written with the text
# sink, read back with spark.read.text and parsed with codegen string
# ops (no UDF). The line-per-record contract requires the payload to
# be newline/tab-free (true for the whitespace-tokenized corpus; real
# WET ingestion escapes first). Parse → token/char stats, verified
# against the original table.
@query(
    "raw_text_ingest_docs",
    oracle=r"""
    SELECT doc_id,
           length(text) AS n_chars_parsed,
           CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tok
    FROM documents
    ORDER BY doc_id
    """,
)
def raw_text_ingest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    root = SCRATCH / f"rawtext_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = str(root / "docs_txt")
    docs.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text")).alias("value")
    ).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    tab = F.instr(F.col("value"), "\t")
    parsed = lines.select(
        F.substring(F.col("value"), 1, tab - 1).cast("bigint").alias("doc_id"),
        F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
    )
    return parsed.select(
        "doc_id",
        F.length("text").alias("n_chars_parsed"),
        F.size(F.split("text", r"\s+")).cast("bigint").alias("n_tok"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Metadata-only aggregation: COUNT/MIN/MAX answered from parquet
# FOOTER statistics via the v2 scan's aggregate pushdown
# (spark.sql.parquet.aggregatePushdown) — zero data pages read. At
# 100 TB this is the difference between an instant answer and a full
# scan for table-profiling probes. The plan contract
# (PushedAggregation: [COUNT(*), MIN(..), MAX(..)]) is pinned in
# tests/test_plan_shapes.py. The v2 source + pushdown confs are scoped
# to this function (collected eagerly, then restored) so the rest of
# the session keeps the default v1 planning it was tuned on.
@query(
    "metadata_agg_orders",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    """,
)
def metadata_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    saved = {
        "spark.sql.parquet.aggregatePushdown": spark.conf.get(
            "spark.sql.parquet.aggregatePushdown", None
        ),
        "spark.sql.sources.useV1SourceList": spark.conf.get(
            "spark.sql.sources.useV1SourceList", None
        ),
    }
    try:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        row = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
            )
            .collect()[0]
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.createDataFrame(
        [(row["n_rows"], row["min_key"], row["max_key"])],
        "n_rows bigint, min_key bigint, max_key bigint",
    )


# ---------------------------------------------------------------------------
# DYNAMIC partition pruning: the partition filter is not a literal —
# it is discovered at runtime from the broadcast side of a join (a
# date-dimension subset). Catalyst inserts a dynamicpruning subquery
# into the fact scan's PartitionFilters, so only the joined dates'
# directories are listed/read — THE mechanism that makes star-schema
# joins over a date-partitioned 100 TB fact table read 3 partitions
# instead of 3000 (plan contract in tests/test_plan_shapes.py).
@query(
    "dynamic_partition_pruning_events",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d') AS event_date,
           COUNT(*) AS n
    FROM events
    WHERE strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d')
          IN ('2024-01-03', '2024-01-07', '2024-01-11')
    GROUP BY 1
    ORDER BY event_date
    """,
)
def dynamic_partition_pruning_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_parquet_table(spark, sf_dir, "events")
    root = SCRATCH / f"events_dpp_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = str(root / "events_by_date")
    ev.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd")).write.mode(
        "overwrite"
    ).partitionBy("event_date").parquet(path)
    fact = spark.read.parquet(path)
    # join on the partition column's NATIVE read-back type (DATE): a
    # cast on the partition key blocks DPP subquery insertion.
    import datetime as _dt

    # DPP also requires a SELECTIVE predicate on the build side (a
    # filter beyond the join condition) — a pre-filtered literal list
    # doesn't qualify; the dim carries a flag and is filtered here.
    dim = spark.createDataFrame(
        [
            (_dt.date(2024, 1, d), 1 if d in (3, 7, 11) else 0)
            for d in range(1, 15)
        ],
        "d date, picked int",
    ).filter(F.col("picked") == 1)
    joined = fact.join(F.broadcast(dim), fact.event_date == dim.d)
    return (
        joined.groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_date")
    )


# ---------------------------------------------------------------------------
# Custom PYTHON DATA SOURCE scan (Spark 4 pyspark.sql.datasource): the
# corpus serialized as id<TAB>lang<TAB>text lines is read back through
# a registered DataSource that plans one input partition per file and
# pushes the lang predicate into the Python reader
# (sources/pydatasource.py; pushdown unit-tested in
# tests/test_pydatasource.py). The engine-extensibility answer to the
# reference's driver-side bespoke-blob parsing (SURVEY §2.1 S2/S3).
@query(
    "pydatasource_scan_docs",
    oracle=r"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tok
    FROM documents
    WHERE lang IN ('en', 'de')
    GROUP BY lang
    ORDER BY lang
    """,
)
def pydatasource_scan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.pydatasource import register_tsvcorpus

    docs = read_parquet_table(spark, sf_dir, "documents")
    root = SCRATCH / f"pyds_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = str(root / "docs_tsv")
    docs.select(
        F.concat_ws(
            "\t", F.col("doc_id").cast("string"), F.col("lang"), F.col("text")
        ).alias("value")
    ).repartition(8).write.mode("overwrite").text(path)
    register_tsvcorpus(spark)
    # pushdown gate for Python data sources; left enabled for the
    # session — it only affects registered Python sources (ours), and
    # the scan is lazy so the conf must still hold at action time.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    back = (
        spark.read.format("tsvcorpus")
        .option("path", path)
        .load()
        .filter(F.col("lang").isin("en", "de"))
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", r"\s+")).cast("bigint")).alias("n_tok"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Bucketed-table LIFECYCLE (SCALE.md §6): a spec registry records how
# the table was bucketed; a drift probe (pmod(hash(key), n) — the same
# Murmur3 bucketing function bucketBy uses) measures the key
# distribution against the spec's per-bucket sizing target; the table
# re-buckets only when the probe says so. The query drives the whole
# path end-to-end — deliberately starting from an under-bucketed spec
# so the probe fires — and returns an aggregate computed FROM THE
# RE-BUCKETED CATALOG TABLE, which the oracle checks against the raw
# parquet (content invariance under re-bucketing). Drift metrics
# themselves are Murmur3-dependent (not SQL-portable) and are
# asserted in tests/test_warehouse.py.
@query(
    "bucket_lifecycle_orders",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def bucket_lifecycle_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.bucketing import BucketSpec, bucket_drift, rebucket

    orders = read_parquet_table(spark, sf_dir, "orders")
    tag = Path(sf_dir).name.replace(".", "_")
    spec_root = SCRATCH / f"bucketspecs_{tag}"
    name = f"blc_orders_{tag}"
    spec = BucketSpec(
        table=name, key="o_orderkey", n_buckets=2, target_rows_per_bucket=2000
    )
    spec.save(spec_root)
    drift = bucket_drift(orders, BucketSpec.load(spec_root, name))
    tbl = orders
    if drift["rebucket"]:
        tbl, spec = rebucket(
            spark, orders, name, spec, drift["recommended_n"], spec_root
        )
    return (
        tbl.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Point-in-time (temporal) join: every order is enriched with the
# customer-dimension VERSION valid at the order's own probe timestamp
# — the consumption side of SCD2 (operators/scd2.py
# point_in_time_join). Even order keys probe BETWEEN the two merges
# (T1 < ts < T2): they must see the ORIGINAL segment for customers
# already present at T1 (including the ones later changed) and no
# version at all for the odd customer keys first inserted at T2.
# Odd order keys probe AFTER T2: they see the post-merge state
# (CHANGED for %10==0 keys, original otherwise, everything matched).
# The oracle derives the same answer arithmetically from the raw
# customer table.
@query(
    "pit_join_orders_customers",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 2 = 0 THEN 'mid' ELSE 'late' END AS probe,
           CASE
             WHEN o_orderkey % 2 = 0 AND c_custkey % 2 = 0 THEN c_mktsegment
             WHEN o_orderkey % 2 = 0 THEN 'NONE'
             WHEN c_custkey % 10 = 0 THEN 'CHANGED'
             ELSE c_mktsegment
           END AS segment
    FROM orders JOIN customer ON c_custkey = o_custkey
    ORDER BY o_orderkey
    """,
)
def pit_join_orders_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd2 import point_in_time_join

    wh = _run_scd2_scenario(spark, sf_dir)
    t = CUST_CFG.technical
    dim = wh.read(CUST_CFG.dim_table)
    facts = (
        read_parquet_table(spark, sf_dir, "orders")
        .select("o_orderkey", F.col("o_custkey").alias("c_custkey"))
        .withColumn(
            "probe_ts",
            F.when(
                F.col("o_orderkey") % 2 == 0, F.lit("2024-01-01 12:00:00")
            )
            .otherwise(F.lit("2024-01-02 12:00:00"))
            .cast("timestamp"),
        )
    )
    enriched = point_in_time_join(
        facts, dim, ["c_custkey"], "probe_ts", t.valid_from, t.valid_to
    )
    return enriched.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("mid"))
        .otherwise(F.lit("late"))
        .alias("probe"),
        F.coalesce(F.col("c_mktsegment"), F.lit("NONE")).alias("segment"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Surrogate-key assignment (conformed-dimension idiom): the dimension
# is seeded from the even business keys (sk = dense sequence ordered
# by key), then a full batch arrives — existing members keep their sk
# untouched, the odd keys extend the sequence from max(sk). The
# oracle derives both generations arithmetically (contiguous 1..N
# custkeys: even k → sk = k/2; odd k → sk = n_even + (k+1)/2).
@query(
    "surrogate_keys_customers",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_even
               FROM customer WHERE c_custkey % 2 = 0)
    SELECT c_custkey AS key,
           -- contiguous keys FROM 0: even k is the (k/2 + 1)-th even,
           -- odd k is the ((k+1)/2)-th odd
           CAST(CASE WHEN c_custkey % 2 = 0 THEN c_custkey / 2 + 1
                     ELSE n.n_even + (c_custkey + 1) / 2 END AS BIGINT) AS sk,
           c_custkey % 2 = 1 AS is_new
    FROM customer CROSS JOIN n
    ORDER BY key
    """,
)
def surrogate_keys_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd2 import assign_surrogate_keys

    cust = read_parquet_table(spark, sf_dir, "customer").select("c_custkey")
    seed = assign_surrogate_keys(
        None, cust.filter(F.col("c_custkey") % 2 == 0), ["c_custkey"]
    ).select("c_custkey", "sk")
    new = assign_surrogate_keys(seed, cust, ["c_custkey"]).select(
        "c_custkey", "sk"
    )
    return (
        seed.withColumn("is_new", F.lit(False))
        .unionByName(new.withColumn("is_new", F.lit(True)))
        .select(F.col("c_custkey").alias("key"), F.col("sk").cast("bigint"), "is_new")
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# Early-arriving facts → inferred dimension members: orders referencing
# customer keys the dimension hasn't loaded yet (the odd keys, in this
# scenario) get placeholder members with default attributes and
# is_inferred = true, so the fact load never orphans rows; the real
# attributes later close the placeholder through the normal SCD2
# merge. fk_orphan_audit is the read-side detector; this is the
# write-side remedy.
@query(
    "inferred_members_orders",
    oracle="""
    SELECT DISTINCT o_custkey AS c_custkey,
           'UNKNOWN' AS c_mktsegment,
           TRUE AS is_inferred
    FROM orders WHERE o_custkey % 2 = 1
    ORDER BY c_custkey
    """,
)
def inferred_members_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd2 import inferred_members

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    dim = (
        read_parquet_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", "c_mktsegment")
    )
    return inferred_members(
        orders, dim, ["c_custkey"], {"c_mktsegment": "UNKNOWN"}
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Federated multi-format union: the same logical table served from
# THREE physical formats at once — parquet (keys ≡ 0 mod 3), CSV with
# an explicit schema (≡ 1), and JSON-lines (≡ 2) — unioned by name
# and aggregated as one relation. The lakehouse migration reality:
# history lands in whatever format the era produced, and the engine
# must present one table while formats converge. Slices partition the
# key space, so the oracle is a plain aggregate over the whole orders
# table. Explicit read schemas everywhere (inference double-scans and
# can DRIFT types between formats — the bug this query would catch).
@query(
    "federated_formats_orders",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def federated_formats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_parquet_table(spark, sf_dir, "orders")
    root = SCRATCH / f"fedfmt_{Path(sf_dir).name}"
    pq, csv, js = str(root / "pq"), str(root / "csv"), str(root / "jsonl")
    # The three format slices are a per-sf FIXTURE, not part of the
    # federated-read shape this query demonstrates — write them once
    # and reuse across attempts so the bench times the read+union+agg,
    # not the setup (VERDICT r5 task 6). The marker file commits the
    # fixture only after all three writes land, so a crashed half-write
    # is rebuilt rather than read.
    done = root / "_FIXTURE_DONE"
    if not done.exists():
        if root.exists():
            shutil.rmtree(root)
        orders.filter(F.col("o_orderkey") % 3 == 0).write.parquet(pq)
        orders.filter(F.col("o_orderkey") % 3 == 1).write.option(
            "header", True
        ).csv(csv)
        orders.filter(F.col("o_orderkey") % 3 == 2).write.json(js)
        done.touch()
    schema = orders.schema
    federated = (
        spark.read.parquet(pq)
        .unionByName(
            spark.read.schema(schema).option("header", True).csv(csv)
        )
        .unionByName(spark.read.schema(schema).json(js))
    )
    return (
        federated.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Column-masking governance view: the role-restricted projection an
# analyst tier gets — names truncated to a prefix, account balances
# coarsened to 1000-unit bands, address/phone-class columns dropped
# entirely (complement of row-level pii_redaction_docs and group-size
# k_anonymity_docs: this is COLUMN-level minimization). Pure
# projection — zero shuffle, zero UDF; the masked view pushes column
# pruning to the scan like any other projection.
@query(
    "masked_customer_view",
    oracle="""
    SELECT c_custkey,
           substr(c_name, 1, 9) || '***' AS name_masked,
           CAST(FLOOR(c_acctbal / 1000.0) * 1000 AS BIGINT) AS acctbal_band,
           c_mktsegment
    FROM customer
    ORDER BY c_custkey
    """,
)
def masked_customer_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_parquet_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.concat(F.substring("c_name", 1, 9), F.lit("***")).alias("name_masked"),
        (F.floor(F.col("c_acctbal") / 1000.0) * 1000)
        .cast("bigint")
        .alias("acctbal_band"),
        "c_mktsegment",
    ).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# Custom Python data source WRITE path: the documents table flows out
# through the tsvcorpus WRITER (task temp files → driver-side commit
# rename + _SUCCESS stamp — the Spark 4 DataSource two-phase commit
# protocol, sources/pydatasource.py) and back in through the reader —
# full custom-format roundtrip, counted per lang. Commit/abort
# semantics are unit-tested in tests/test_pydatasource.py; text
# sanitization (tab/newline → space) keeps doc_id/lang exact, so the
# oracle aggregates those.
@query(
    "pydatasource_write_roundtrip",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def pydatasource_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.pydatasource import register_tsvcorpus

    docs = read_parquet_table(spark, sf_dir, "documents")
    root = SCRATCH / f"pydsw_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = str(root / "docs_out")
    Path(path).mkdir(parents=True)
    register_tsvcorpus(spark)
    (
        docs.select("doc_id", "lang", "text")
        .repartition(8)
        .write.format("tsvcorpus")
        .option("path", path)
        .mode("append")
        .save()
    )
    back = spark.read.format("tsvcorpus").option("path", path).load()
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Derived-table DAG (rollup cascade): two fact batches propagate
# day → week → month with each level refreshed only for touched
# buckets (operators/rollup.py::cascade_upsert). The oracle is the
# full recompute at month grain — incremental cascade == full rebuild
# bit-for-bit because every level carries mergeable decimal state.
@query(
    "rollup_cascade_events",
    oracle="""
    SELECT strftime(date_trunc('month', ts), '%Y-%m-%d') AS month,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY date_trunc('month', ts)
    ORDER BY month
    """,
)
def rollup_cascade_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rollup import cascade_upsert

    ev = read_parquet_table(spark, sf_dir, "events")
    wh = _fresh_wh(spark, f"cascade_{Path(sf_dir).name}")
    for parity in (0, 1):
        cascade_upsert(
            wh, ev.filter(F.col("event_id") % 2 == parity), "ts", "value"
        )
    return (
        wh.read("agg.monthly")
        .select(
            F.date_format("month", "yyyy-MM-dd").alias("month"),
            F.col("n").cast("bigint"),
            F.col("sum_value").cast("double").alias("total_value"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Merge-on-read DELETE via Delta deletion vectors on a
# DeltaLogWarehouse table: two DELETEs (DeltaLogWriter.delete_where_dv)
# each commit per-file row-position bitmaps — zero data-file rewrites —
# and wh.read applies the masks in one scan plus one broadcast
# anti-join. The oracle is plain SQL DELETE semantics (rows where no
# predicate is TRUE survive; NULL-predicate rows survive). DV
# semantics (merging bitmaps, OPTIMIZE folding them in) are tested in
# tests/test_deltalog_dv.py; here the masked read itself is the gate.
@query(
    "dv_delete_customers",
    oracle="""
    SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
    FROM customer
    WHERE NOT COALESCE(c_custkey % 7 = 0, FALSE)
      AND NOT COALESCE(c_acctbal < 0, FALSE)
    ORDER BY key
    """,
)
def dv_delete_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    wh = _fresh_wh(spark, f"dv_{Path(sf_dir).name}", DeltaLogWarehouse)
    t = "layer0150.customer_dv"
    wh.overwrite(cust.repartitionByRange(8, "c_custkey"), t)
    w = DeltaLogWriter(spark, wh.path(t))
    w.delete_where_dv("c_custkey % 7 = 0")
    w.delete_where_dv("c_acctbal < 0")
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
# Bitemporal corrections (valid time × transaction time): seed every
# customer's segment as believed-true for [1995-01-01, open) at T0,
# then retroactively correct every 5th customer's 2000-2010 window at
# T1. The old belief closes (tx_to=T1) WITHOUT being destroyed, its
# non-overlapped validity remainders re-insert under the new
# knowledge period, and the correction becomes current belief for its
# window — so both "valid at 2005 per current knowledge" and "valid
# at 2005 as known before T1" remain answerable (tests/test_scd2.py
# slices both axes). The oracle reproduces the same
# period algebra as plain unions.
@query(
    "bitemporal_customers",
    oracle="""
    WITH seed AS (
        SELECT c_custkey, c_mktsegment AS segment,
               DATE '1995-01-01' AS vf, DATE '9999-12-31' AS vt
        FROM customer
    ),
    corr AS (SELECT c_custkey FROM customer WHERE c_custkey % 5 = 0)
    SELECT c_custkey AS key, segment,
           strftime(valid_from, '%Y-%m-%d') AS valid_from,
           strftime(valid_to, '%Y-%m-%d') AS valid_to,
           tx_from, tx_to
    FROM (
        -- untouched current beliefs
        SELECT s.c_custkey, s.segment, s.vf AS valid_from, s.vt AS valid_to,
               '2024-01-01 00:00:00' AS tx_from, NULL AS tx_to
        FROM seed s ANTI JOIN corr USING (c_custkey)
        UNION ALL
        -- superseded belief, closed at T1
        SELECT s.c_custkey, s.segment, s.vf, s.vt,
               '2024-01-01 00:00:00', '2024-06-01 00:00:00'
        FROM seed s SEMI JOIN corr USING (c_custkey)
        UNION ALL
        -- left validity remainder under new knowledge
        SELECT s.c_custkey, s.segment, s.vf, DATE '2000-01-01',
               '2024-06-01 00:00:00', NULL
        FROM seed s SEMI JOIN corr USING (c_custkey)
        UNION ALL
        -- right validity remainder
        SELECT s.c_custkey, s.segment, DATE '2010-01-01', s.vt,
               '2024-06-01 00:00:00', NULL
        FROM seed s SEMI JOIN corr USING (c_custkey)
        UNION ALL
        -- the correction: current belief for its window
        SELECT c.c_custkey, 'CORRECTED', DATE '2000-01-01',
               DATE '2010-01-01', '2024-06-01 00:00:00', NULL
        FROM corr c
    ) t
    ORDER BY key, valid_from, tx_from
    """,
)
def bitemporal_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bitemporal import bitemporal_correct

    cust = read_parquet_table(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1995-01-01").cast("date").alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("tx_from"),
        F.lit(None).cast("timestamp").alias("tx_to"),
    )
    corr = cust.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.lit("CORRECTED").alias("segment"),
        F.lit("2000-01-01").cast("date").alias("valid_from"),
        F.lit("2010-01-01").cast("date").alias("valid_to"),
    )
    out = bitemporal_correct(
        dim, corr, keys=["c_custkey"], run_ts="2024-06-01 00:00:00"
    )
    return out.select(
        F.col("c_custkey").alias("key"),
        "segment",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        F.date_format("tx_from", "yyyy-MM-dd HH:mm:ss").alias("tx_from"),
        F.date_format("tx_to", "yyyy-MM-dd HH:mm:ss").alias("tx_to"),
    ).orderBy("key", "valid_from", "tx_from")


# ---------------------------------------------------------------------------
# Retractable incremental aggregate (Flink-style changelog view): a
# per-priority (COUNT, SUM) view maintained under +I/-D delta
# batches — inserts add, deletes SUBTRACT from the mergeable pieces;
# no batch ever rescans the base table. Two delta rounds apply
# disjoint-by-construction insert/delete sets; the oracle recomputes
# the surviving-row membership in closed form, so additive
# maintenance == full recompute is asserted bit-for-bit (decimal
# sums). Completes the view-maintenance triad: append-only
# (incremental_rollup_events), keyed upsert (cdc_apply_customers),
# and retraction (this).
@query(
    "incremental_agg_cdc_orders",
    oracle=f"""
    SELECT o_orderpriority AS prio,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum("o_totalprice", "total_price")}
    FROM orders
    WHERE (o_orderkey % 3 = 0)
       OR (o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0)
    GROUP BY o_orderpriority
    ORDER BY prio
    """,
)
def incremental_agg_cdc_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rollup import apply_retraction_batch

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("prio"), "o_totalprice"
    )
    k = F.col("o_orderkey")
    wh = _fresh_wh(spark, f"retract_{Path(sf_dir).name}")
    t = "agg.prio"
    ins = F.lit(1).alias("op")
    dele = F.lit(-1).alias("op")
    # batch 0: the initial state arrives as plain inserts
    apply_retraction_batch(
        wh, t, orders.filter(k % 3 != 0).select("prio", "o_totalprice", ins),
        dims=["prio"], value_col="o_totalprice",
    )
    # batch 1: new keys (+I) and a retracted tranche (-D, initial-only
    # keys so a row is never deleted before it was inserted)
    apply_retraction_batch(
        wh, t,
        orders.filter((k % 3 == 0) & (k % 2 == 0))
        .select("prio", "o_totalprice", ins)
        .unionByName(
            orders.filter((k % 5 == 0) & (k % 3 != 0))
            .select("prio", "o_totalprice", dele)
        ),
        dims=["prio"], value_col="o_totalprice",
    )
    # batch 2: the remaining inserts and a second retraction wave
    apply_retraction_batch(
        wh, t,
        orders.filter((k % 3 == 0) & (k % 2 == 1))
        .select("prio", "o_totalprice", ins)
        .unionByName(
            orders.filter((k % 7 == 0) & (k % 3 != 0) & (k % 5 != 0))
            .select("prio", "o_totalprice", dele)
        ),
        dims=["prio"], value_col="o_totalprice",
    )
    return (
        wh.read(t)
        .select(
            "prio",
            F.col("n_rows").cast("bigint").alias("n_orders"),
            F.col("sum_value").cast("double").alias("total_price"),
        )
        .orderBy("prio")
    )


# ---------------------------------------------------------------------------
# Incrementally-maintained materialized view (r7): the aggregate MV
# sinks/matview.py maintains by FILE DELTA — monthly order revenue
# built over the first batch, then a second batch lands and
# refresh() folds in ONLY the new files (the returned files_scanned
# is test-asserted; a no-op refresh scans 0). The state is the
# mergeable (count, DECIMAL sum) algebra, so incremental == full
# recompute bit-for-bit and the oracle recomputes over ALL orders.
# The stale-base guard (rewritten files ⇒ refuse + rebuild) is
# covered in tests/test_warehouse.py.
@query(
    "mv_incremental_orders",
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
def mv_incremental_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.matview import MaterializedAgg

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
        .alias("month"),
        "o_totalprice",
    )
    wh = _fresh_wh(spark, f"mv_{Path(sf_dir).name}")
    t = "layer0200.orders_src"
    wh.append(
        orders.filter(F.col("o_orderkey") % 2 == 0).repartition(4), t
    )
    mv = MaterializedAgg(
        wh, "orders_monthly", t, ["month"], "o_totalprice"
    )
    mv.rebuild()
    wh.append(
        orders.filter(F.col("o_orderkey") % 2 == 1).repartition(2), t
    )
    mv.refresh()
    return mv.read().select(
        "month",
        F.col("mv_n").alias("n_orders"),
        F.col("mv_sum").cast("double").alias("revenue"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# SCD Type 3 (r7) — completes the SCD family (1 overwrite, 2 row
# history, bitemporal): the dimension carries current segment +
# ONE previous segment + change timestamp. Same two-batch scenario
# as the SCD1/SCD2 twins, so the three variants' result contracts
# are directly comparable: %10==0 keys changed (prev = original
# segment, stamped T2), other evens and the odd inserts never
# changed (prev NULL, 'NEVER').
@query(
    "scd3_customer_segment",
    oracle="""
    SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment,
           NULL AS prev_segment, 'NEVER' AS changed_at
    FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 10 <> 0
    UNION ALL
    SELECT c_custkey, c_name, 'CHANGED', c_mktsegment,
           '2024-01-02 00:00:00'
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment, NULL, 'NEVER'
    FROM customer WHERE c_custkey % 2 = 1
    ORDER BY key
    """,
)
def scd3_customer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd2 import scd3_upsert

    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    batch1 = cust.filter(F.col("c_custkey") % 2 == 0)
    batch2 = cust.filter(
        (F.col("c_custkey") % 10 == 0) | (F.col("c_custkey") % 2 == 1)
    ).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    wh = _fresh_wh(spark, f"scd3_{Path(sf_dir).name}")
    t = "layer0150.dim_customer_s3"
    scd3_upsert(wh, t, batch1, ["c_custkey"], "c_mktsegment", T1)
    scd3_upsert(wh, t, batch2, ["c_custkey"], "c_mktsegment", T2)
    return (
        wh.read(t)
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_mktsegment_prev").alias("prev_segment"),
            F.coalesce(
                F.date_format("c_mktsegment_changed_at",
                              "yyyy-MM-dd HH:mm:ss"),
                F.lit("NEVER"),
            ).alias("changed_at"),
        )
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# GDPR erasure audit (r7): right-to-be-forgotten across RELATED
# tables — the subject keys (c_custkey % 97 == 0) are erased from
# the customer dimension AND their orders in the same maintenance
# pass via Delta deletion vectors on DeltaLogWarehouse tables (no
# immediate rewrite; OPTIMIZE, which folds the vectors in, then
# VACUUM is the physical-erasure step). The audit emits per-table
# survivor counts plus the orphan check (orders whose customer
# vanished) — zero by construction here, and the column a compliance
# job alerts on. Deletes are key-predicate DVs: each table's
# tombstones are one anti-joinable position set, cost ∝ matching
# files.
@query(
    "gdpr_erasure_audit",
    oracle="""
    WITH erased AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    )
    SELECT 'customer' AS table_name,
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS before_rows,
           CAST((SELECT COUNT(*) FROM customer
                 WHERE c_custkey % 97 <> 0) AS BIGINT) AS after_rows,
           CAST((SELECT COUNT(*) FROM erased) AS BIGINT) AS subjects,
           CAST(0 AS BIGINT) AS orphans
    UNION ALL
    SELECT 'orders',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_custkey % 97 <> 0) AS BIGINT),
           CAST((SELECT COUNT(DISTINCT o_custkey) FROM orders
                 WHERE o_custkey % 97 = 0) AS BIGINT),
           CAST(0 AS BIGINT)
    ORDER BY table_name
    """,
)
def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_parquet_table(spark, sf_dir, "customer")
    orders = read_parquet_table(spark, sf_dir, "orders")
    wh = _fresh_wh(spark, f"gdpr_{Path(sf_dir).name}", DeltaLogWarehouse)
    tc, to = "pii.customer", "pii.orders"
    # the two tables' lifecycles are independent end to end — land,
    # count, and DV-delete them concurrently (guide §2.6 overlap;
    # r10 optimization round: the audit ran ~10 dependent-free actions
    # strictly sequentially)
    overlap(
        lambda: wh.append(cust.repartition(4), tc),
        lambda: wh.append(orders.repartition(4), to),
    )
    before_c, before_o = overlap(
        lambda: wh.read(tc).count(), lambda: wh.read(to).count()
    )
    deleted_c, _ = overlap(
        lambda: DeltaLogWriter(spark, wh.path(tc)).delete_where_dv(
            F.col("c_custkey") % 97 == 0
        ),
        lambda: DeltaLogWriter(spark, wh.path(to)).delete_where_dv(
            F.col("o_custkey") % 97 == 0
        ),
    )
    n_subjects_c = deleted_c["rows_deleted"]
    # merge-on-read: the DV masks apply at read time
    after_c = wh.read(tc)
    after_o = wh.read(to)
    subjects_o, orphans, after_c_n, after_o_n = overlap(
        lambda: orders.filter(F.col("o_custkey") % 97 == 0)
        .select("o_custkey")
        .distinct()
        .count(),
        lambda: after_o.join(
            after_c.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        )
        # orders legitimately reference customers above the
        # fixture's customer-key range; orphans here =
        # erased-but-still-referenced
        .filter(F.col("o_custkey") % 97 == 0)
        .count(),
        after_c.count,
        after_o.count,
    )
    rows = [
        ("customer", before_c, after_c_n, int(n_subjects_c), 0),
        ("orders", before_o, after_o_n, subjects_o, orphans),
    ]
    return spark.createDataFrame(
        rows,
        "table_name string, before_rows long, after_rows long, "
        "subjects long, orphans long",
    ).orderBy("table_name")


# ---------------------------------------------------------------------------
# Full three-clause MERGE (r8 — Warehouse.merge_ops): the conditional
# DELETE / UPDATE / INSERT form a CDC apply feeds (Delta MERGE's
# complete surface; the reference's MERGE INTO carries only the SCD2
# two-effect subset). Seed = even keys; one batch then deletes the
# %10==0 keys, updates the %10==2 keys' segment, inserts the odd
# keys, and carries a no-op delete for an absent key domain (%10==5
# rows with _op='D' arrive for keys never seeded — CDC replay
# safety). The oracle derives the exact survivor set.
@query(
    "merge_full_customers",
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
def merge_full_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    wh = _fresh_wh(spark, f"mergeops_{Path(sf_dir).name}")
    t = "layer0150.dim_customer_ops"
    wh.overwrite(cust.filter(F.col("c_custkey") % 2 == 0), t)
    batch = (
        cust.filter(
            (F.col("c_custkey") % 10 == 0)        # matched deletes
            | (F.col("c_custkey") % 10 == 2)      # matched updates
            | (F.col("c_custkey") % 2 == 1)       # inserts + no-op deletes
        )
        .withColumn(
            "c_mktsegment",
            F.when(F.col("c_custkey") % 10 == 2, F.lit("CHANGED")).otherwise(
                F.col("c_mktsegment")
            ),
        )
        .withColumn(
            "_op",
            F.when(
                (F.col("c_custkey") % 10 == 0)
                | (F.col("c_custkey") % 10 == 5),
                F.lit("D"),
            ).otherwise(F.lit("U")),
        )
    )
    wh.merge_ops(batch, t, keys=["c_custkey"])
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
# Delta transaction-log PROTOCOL roundtrip (r8): write a table as real
# Delta JSON commits (sources/deltalog.py — protocol v1 per the public
# delta-io PROTOCOL.md spec, no delta-spark needed), replay the log to
# read it back at LATEST and VERSION AS OF 0, and prove both states:
# commit 0 = even orders (CTAS), commit 1 = odd-order append, commit
# 2 = overwrite of the F-status subset only... kept simpler: latest =
# all orders, v0 = evens. A reader that ignores remove actions,
# replays commits out of order, or drops the metaData schema breaks
# the hash. The directory is delta-spark-readable (interop is the
# point — see the protocol-shape tests).
@query(
    "delta_log_roundtrip_orders",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_latest,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_v0
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def delta_log_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.deltalog import DeltaLogWriter, read_delta

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    root = SCRATCH / f"deltalog_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = root / "orders_delta"
    w = DeltaLogWriter(spark, path)
    w.create(orders.filter(F.col("o_orderkey") % 2 == 0))
    w.append(orders.filter(F.col("o_orderkey") % 2 == 1))
    latest = read_delta(spark, path).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_latest")
    )
    v0 = read_delta(spark, path, version=0).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v0")
    )
    return (
        latest.join(v0, "o_orderstatus", "left")
        .select(
            "o_orderstatus",
            "n_latest",
            F.coalesce(F.col("n_v0"), F.lit(0)).cast("bigint").alias("n_v0"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# deletionVectors on the Delta-log backend (r9, VERDICT task 4):
# merge-on-read DELETE that rewrites ZERO data files — matched row
# positions go to sidecar bitmaps and each touched file is re-added
# with the spec's deletionVector descriptor, upgrading the table to
# the reader-3/writer-7 table-features protocol. Two overlapping
# deletes prove the MOR semantics (the second evaluates against the
# first's survivors and MERGES per-file bitmaps), and all three
# versions stay time-travelable: v0 = all rows, v1 = after the first
# delete, latest = after both. A reader that ignores descriptors
# resurrects deleted rows and breaks the hash; payload-codec contract
# note in sources/deltalog.py.
@query(
    "dv_delete_deltalog_orders",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CASE WHEN o_orderkey % 10 NOT IN (3, 7)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_latest,
           CAST(SUM(CASE WHEN o_orderkey % 10 <> 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
           CAST(COUNT(*) AS BIGINT) AS n_v0
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def dv_delete_deltalog_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.deltalog import DeltaLogWriter, read_delta

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    root = SCRATCH / f"deltalog_dv_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = root / "orders_dv"
    w = DeltaLogWriter(spark, path)
    w.create(orders)
    w.delete_where_dv("o_orderkey % 10 = 3")
    w.delete_where_dv("o_orderkey % 10 = 7")

    def _agg(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("bigint").alias(name)
        )

    latest = _agg(read_delta(spark, path), "n_latest")
    v1 = _agg(read_delta(spark, path, version=1), "n_v1")
    v0 = _agg(read_delta(spark, path, version=0), "n_v0")
    return (
        latest.join(v1, "o_orderstatus")
        .join(v0, "o_orderstatus")
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# deletionVectors on a PARTITIONED Delta-log table (r10, VERDICT task
# 4 — the layout where MOR deletes matter most: "purge this tenant /
# day" predicates name the partition column). The table partitions on
# o_orderstatus (data files EXCLUDE the column per spec; the add
# actions' partitionValues are the only copy), and the delete mixes a
# partition predicate with a data predicate — the writer
# reconstitutes partition values per add-group before matching, and
# the descriptors ride adds that keep their partitionValues. Both
# versions stay time-travelable; a reader that loses the partition
# column on the MOR path or applies a bitmap to the wrong group
# breaks the hash.
@query(
    "dv_delete_partitioned_orders",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CASE WHEN NOT (o_orderstatus = 'O'
                                   AND o_orderkey % 10 = 1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_latest,
           CAST(SUM(CASE WHEN NOT (o_orderstatus = 'O'
                                   AND o_orderkey % 10 = 1)
                         THEN o_orderkey ELSE 0 END) AS BIGINT)
               AS key_sum,
           CAST(COUNT(*) AS BIGINT) AS n_v0
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def dv_delete_partitioned_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.deltalog import DeltaLogWriter, read_delta

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    root = SCRATCH / f"deltalog_dvpart_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = root / "orders_dv_part"
    w = DeltaLogWriter(spark, path)
    w.create_partitioned(orders, ["o_orderstatus"])
    w.delete_where_dv("o_orderstatus = 'O' AND o_orderkey % 10 = 1")
    latest = read_delta(spark, path).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_latest"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )
    v0 = read_delta(spark, path, version=0).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v0")
    )
    return latest.join(v0, "o_orderstatus").orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# CHANGE DATA FEED on the Delta-log backend (r9; r10 = O(changes)):
# with delta.enableChangeDataFeed set, the feed assembles PER COMMIT —
# inserts read straight from the append's add files, deletes from the
# _change_data parquet the DV delete materialized alongside its cdc
# actions (sources/deltalog.py::_table_changes_cdc) — touching only
# changed rows, never two table scans. The exceptAll snapshot diff
# remains the identity oracle (test_deltalog_cdf.py pins equality on
# this exact scenario). History: enable-CDF → CTAS evens → append
# odds → DV-delete keys%10∈{2,3}.
# Event-feed semantics (real Delta CDF): a row appended AND deleted
# inside the range surfaces as BOTH events (here: odd keys %10=3 —
# inserted at v2, deleted at v3); the snapshot diff nets such pairs
# out, which is exactly the information a CDC consumer loses without
# materialized change data. Inserts = the whole append (all odds);
# deletes = every %10∈{2,3} key (evens land %10=2, odds %10=3).
@query(
    "delta_cdf_orders",
    oracle="""
    SELECT _change_type, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM (
        SELECT 'insert' AS _change_type, o_orderstatus, o_orderkey
        FROM orders
        WHERE o_orderkey % 2 = 1
        UNION ALL
        SELECT 'delete', o_orderstatus, o_orderkey
        FROM orders
        WHERE o_orderkey % 10 IN (2, 3)
    )
    GROUP BY _change_type, o_orderstatus
    ORDER BY _change_type, o_orderstatus
    """,
)
def delta_cdf_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.deltalog import DeltaLogWriter, table_changes

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    root = SCRATCH / f"deltalog_cdf_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = root / "orders_cdf"
    w = DeltaLogWriter(spark, path)
    w.create(orders.filter(F.col("o_orderkey") % 2 == 0))      # v0
    w.enable_cdf()                                             # v1
    w.append(orders.filter(F.col("o_orderkey") % 2 == 1))      # v2
    w.delete_where_dv("o_orderkey % 10 IN (2, 3)")             # v3 (MOR+cdc)
    return (
        table_changes(spark, path, 1)
        .groupBy("_change_type", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("_change_type", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Apache Iceberg v2 TABLE-FORMAT roundtrip (r10, VERDICT task 1):
# write a table as REAL Iceberg metadata — v{N}.metadata.json +
# Avro manifest lists and manifests via sources/avro.py (the codec
# cross-validated against the Avro Java library), HadoopTables
# version-hint commit protocol — then plan + read it back at LATEST
# and at the first snapshot (time travel). Snapshot 1 = evens
# (create), snapshot 2 = fast-append of odds (new manifest ONLY; the
# create's manifest is carried untouched — the O(new files) append
# property). A reader that ignores manifest-entry statuses, loses
# carried manifests, or mis-parses the metadata chain breaks the
# hash. sources/iceberg_meta.py documents the declared scope.
@query(
    "iceberg_meta_roundtrip_orders",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_latest,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_snap0
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def iceberg_meta_roundtrip_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.iceberg_meta import (
        IcebergTable,
        read_iceberg,
        snapshot_ids,
    )

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    root = SCRATCH / f"iceberg_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = root / "orders_iceberg"
    t = IcebergTable(spark, path)
    t.create(orders.filter(F.col("o_orderkey") % 2 == 0))
    t.append(orders.filter(F.col("o_orderkey") % 2 == 1))
    first = snapshot_ids(path)[0]
    latest = read_iceberg(spark, path).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_latest")
    )
    s0 = (
        read_iceberg(spark, path, snapshot_id=first)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_snap0"))
    )
    return (
        latest.join(s0, "o_orderstatus", "left")
        .select(
            "o_orderstatus",
            "n_latest",
            F.coalesce(F.col("n_snap0"), F.lit(0))
            .cast("bigint")
            .alias("n_snap0"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Iceberg SCAN PLANNING with stats pruning (r10): manifests carry
# per-column lower/upper bounds (the spec's single-value binary
# serialization, written from the parquet footers at commit time);
# plan_files proves a range predicate empty per file and skips it
# BEFORE any executor touches parquet. The table is written
# range-clustered on o_orderkey so bounds are narrow; the query
# returns the filtered aggregate AND the planner's file-skip
# evidence (scanned vs skipped counts) — the oracle reproduces the
# aggregate and the fixture's file layout arithmetic.
@query(
    "iceberg_prune_scan_orders",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(8 AS BIGINT) AS n_files,
           CAST(7 AS BIGINT) AS n_skipped
    FROM orders
    WHERE o_orderkey <= (SELECT MIN(o_orderkey) + 99 FROM orders)
    """,
)
def iceberg_prune_scan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.iceberg_meta import (
        IcebergTable,
        plan_files,
        read_iceberg,
    )

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    root = SCRATCH / f"iceberg_prune_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = root / "orders_clustered"
    t = IcebergTable(spark, path)
    # 8 range-clustered files: bounds partition the key domain, so a
    # bottom-of-range predicate must plan exactly one file
    t.create(orders.repartitionByRange(8, "o_orderkey"))
    lo = orders.agg(F.min("o_orderkey")).collect()[0][0]
    pred = [("o_orderkey", "<=", int(lo) + 99)]
    plan_all = plan_files(path)
    plan = plan_files(path, predicates=pred)
    got = read_iceberg(spark, path, predicates=pred).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )
    return got.select(
        "n",
        "key_sum",
        F.lit(len(plan_all["files"])).cast("bigint").alias("n_files"),
        F.lit(plan["skipped"]).cast("bigint").alias("n_skipped"),
    )


# ---------------------------------------------------------------------------
# Iceberg v2 POSITION DELETES (r10) — the spec's merge-on-read
# row-level deletes and the Iceberg twin of the Delta backend's
# deletionVectors: matched rows' (data file, row position) pairs land
# in a sorted parquet delete file committed through a content=1
# DELETE manifest; zero data-file bytes rewritten. Two overlapping
# deletes prove MOR evaluation (the second matches only survivors);
# an append AFTER the deletes proves the spec's delete_seq >= data_seq
# rule (the late rows carry the same key pattern yet stay visible);
# every snapshot stays time-travelable. A reader that ignores delete
# files, applies them to the wrong file, or masks later appends
# breaks the hash.
@query(
    "iceberg_pos_delete_orders",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 10 <> 4
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_latest,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0
                         AND o_orderkey % 10 NOT IN (2, 4)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_snap2,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 10 <> 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_snap1,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_snap0
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def iceberg_pos_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.iceberg_meta import (
        IcebergTable,
        read_iceberg,
        snapshot_ids,
    )

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    evens = orders.filter(F.col("o_orderkey") % 2 == 0)
    root = SCRATCH / f"iceberg_del_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = root / "orders_mor"
    t = IcebergTable(spark, path)
    t.create(evens)                                        # snap0
    t.delete_where("o_orderkey % 10 = 2")                  # snap1 (MOR)
    t.delete_where("o_orderkey % 10 IN (2, 4)")            # snap2 (overlap)
    # snap3: re-append the %10=2 keys — they MATCH the earlier delete
    # predicates yet must stay visible (delete_seq >= data_seq rule)
    t.append(evens.filter(F.col("o_orderkey") % 10 == 2))

    sids = snapshot_ids(path)

    def _agg(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("bigint").alias(name)
        )

    latest = _agg(read_iceberg(spark, path), "n_latest")
    s2 = _agg(read_iceberg(spark, path, snapshot_id=sids[2]), "n_snap2")
    s1 = _agg(read_iceberg(spark, path, snapshot_id=sids[1]), "n_snap1")
    s0 = _agg(read_iceberg(spark, path, snapshot_id=sids[0]), "n_snap0")
    return (
        latest.join(s2, "o_orderstatus")
        .join(s1, "o_orderstatus")
        .join(s0, "o_orderstatus")
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Iceberg EQUALITY DELETES (r10): spec v2 content=2 delete files —
# delete-by-key without file positions (the upsert/CDC write shape),
# zero data-file rewrites, and the spec's STRICTLY-GREATER sequence
# rule: a key re-appended AFTER its equality delete is visible again
# (position deletes use >=; equality uses >, so snap2 below recovers
# the FULL even count — the semantic this query pins). The final
# delete matches on a TWO-column tuple. Oracle derives every
# snapshot's state from the source table.
@query(
    "iceberg_eq_delete_orders",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 10 <> 4
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_latest,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_snap2,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 10 <> 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_snap1,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_snap0
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def iceberg_eq_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.iceberg_meta import (
        IcebergTable,
        read_iceberg,
        snapshot_ids,
    )

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    evens = orders.filter(F.col("o_orderkey") % 2 == 0)
    root = SCRATCH / f"iceberg_eqdel_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = root / "orders_eq"
    t = IcebergTable(spark, path)
    t.create(evens)                                        # snap0
    t.equality_delete(                                     # snap1
        evens.filter(F.col("o_orderkey") % 10 == 2).select("o_orderkey"),
        ["o_orderkey"],
    )
    # snap2: re-append the deleted keys — visible again (STRICTLY
    # greater: the snap1 delete does not mask snap2 data)
    t.append(evens.filter(F.col("o_orderkey") % 10 == 2))
    t.equality_delete(                                     # snap3
        evens.filter(F.col("o_orderkey") % 10 == 4),
        ["o_orderkey", "o_orderstatus"],
    )

    sids = snapshot_ids(path)

    def _agg(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("bigint").alias(name)
        )

    latest = _agg(read_iceberg(spark, path), "n_latest")
    s2 = _agg(read_iceberg(spark, path, snapshot_id=sids[2]), "n_snap2")
    s1 = _agg(read_iceberg(spark, path, snapshot_id=sids[1]), "n_snap1")
    s0 = _agg(read_iceberg(spark, path, snapshot_id=sids[0]), "n_snap0")
    return (
        latest.join(s2, "o_orderstatus")
        .join(s1, "o_orderstatus")
        .join(s0, "o_orderstatus")
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Iceberg SCHEMA EVOLUTION (r10): add-column per spec §Schemas —
# fresh field ids (never reused), old data files read the new column
# as NULL with ZERO rewrites, appends carry it, and the pre-evolution
# snapshot time-travels with its PINNED two-column schema. The oracle
# derives the same null/banded split from the source table.
@query(
    "iceberg_schema_evolution_orders",
    oracle="""
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM (
        SELECT 'legacy' AS band, o_orderkey
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT CASE WHEN o_custkey % 3 = 0 THEN 'hi' ELSE 'lo' END,
               o_orderkey
        FROM orders WHERE o_orderkey % 2 = 1
    )
    GROUP BY band
    ORDER BY band
    """,
)
def iceberg_schema_evolution_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.iceberg_meta import IcebergTable, read_iceberg

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    root = SCRATCH / f"iceberg_evo_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = root / "orders_evo"
    t = IcebergTable(spark, path)
    t.create(orders.filter(F.col("o_orderkey") % 2 == 0))  # v1 schema
    t.update_schema(add=[("band", "string")])              # evolve
    t.append(
        orders.filter(F.col("o_orderkey") % 2 == 1).withColumn(
            "band",
            F.when(F.col("o_custkey") % 3 == 0, F.lit("hi")).otherwise(
                F.lit("lo")
            ),
        )
    )
    return (
        read_iceberg(spark, path)
        .select(
            F.coalesce(F.col("band"), F.lit("legacy")).alias("band"),
            "o_orderkey",
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# The Iceberg SCD1 twin (r10): identical scenario and oracle to the
# parquet, file-pruned and Delta-log variants (the Delta log runs
# both the rewrite upsert and the copy-on-write MERGE), executed on
# IcebergMetaWarehouse — storage = REAL Iceberg v2 snapshots
# (sources/iceberg_meta.py). The shared oracle hash across the
# backends is the storage-never-leaks-into-semantics proof, extended
# to the second interoperable lakehouse format.
@query(
    "scd1_iceberg_customers",
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
def scd1_iceberg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.warehouse import IcebergMetaWarehouse

    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    batch1 = cust.filter(F.col("c_custkey") % 2 == 0)
    batch2 = cust.filter(
        (F.col("c_custkey") % 10 == 0) | (F.col("c_custkey") % 2 == 1)
    ).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    root = SCRATCH / f"scd1ice_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    wh = IcebergMetaWarehouse(spark, str(root))
    t = "layer0150.dim_customer_ice"
    wh.upsert(batch1, t, keys=["c_custkey"])
    wh.upsert(batch2, t, keys=["c_custkey"])
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
# The Delta-log SCD1 twin (r8): identical scenario and oracle to
# scd1_customer_current / _file_pruned / _manifest, executed as two
# rewrite upserts on DeltaLogWarehouse — storage = REAL
# Delta-protocol commits (sources/deltalog.py). The shared oracle
# hash across the backends is the storage-never-leaks-into-semantics
# proof, extended to the interoperable Delta on-disk format.
@query(
    "scd1_deltalog_customers",
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
def scd1_deltalog_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    batch1 = cust.filter(F.col("c_custkey") % 2 == 0)
    batch2 = cust.filter(
        (F.col("c_custkey") % 10 == 0) | (F.col("c_custkey") % 2 == 1)
    ).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    wh = _fresh_wh(spark, f"scd1dl_{Path(sf_dir).name}", DeltaLogWarehouse)
    t = "layer0150.dim_customer_dl"
    wh.upsert(batch1, t, keys=["c_custkey"])
    wh.upsert(batch2, t, keys=["c_custkey"])
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
# SCD Type 4 (r8): current-only dimension + separate history table
# (operators/scd2.scd4_upsert), completing the SCD1/2/3 family the
# reference's MERGE loop implies (pipeline_core.py:219-227). Same
# two-batch fixture as the SCD3 twin: batch 1 loads the evens,
# batch 2 flips every %10 key's segment to 'CHANGED' and inserts the
# odds. Result = current ∪ history with a state discriminator —
# exactly what a consumer reconstructing full history would union.
@query(
    "scd4_customer_history",
    oracle="""
    SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment,
           'CURRENT' AS state, '2024-01-01 00:00:00' AS ts
    FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 10 <> 0
    UNION ALL
    SELECT c_custkey, c_name, 'CHANGED', 'CURRENT', '2024-01-02 00:00:00'
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment, 'CURRENT',
           '2024-01-02 00:00:00'
    FROM customer WHERE c_custkey % 2 = 1
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment, 'ARCHIVED',
           '2024-01-02 00:00:00'
    FROM customer WHERE c_custkey % 10 = 0
    ORDER BY key, state
    """,
)
def scd4_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd2 import scd4_upsert

    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    batch1 = cust.filter(F.col("c_custkey") % 2 == 0)
    batch2 = cust.filter(
        (F.col("c_custkey") % 10 == 0) | (F.col("c_custkey") % 2 == 1)
    ).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    wh = _fresh_wh(spark, f"scd4_{Path(sf_dir).name}")
    t = "layer0150.dim_customer_s4"
    scd4_upsert(wh, t, batch1, ["c_custkey"], "c_mktsegment", T1)
    scd4_upsert(wh, t, batch2, ["c_custkey"], "c_mktsegment", T2)
    cur = wh.read(t).select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("CURRENT").alias("state"),
        F.date_format("loaded_at", "yyyy-MM-dd HH:mm:ss").alias("ts"),
    )
    hist = wh.read(f"{t}__hist").select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("ARCHIVED").alias("state"),
        F.date_format("archived_at", "yyyy-MM-dd HH:mm:ss").alias("ts"),
    )
    return cur.unionByName(hist).orderBy("key", "state")


# ---------------------------------------------------------------------------
# An evolved layout pruned by metadata: the orders table lands on an
# IcebergMetaWarehouse in two generations — the pre-1996 segment
# range-clustered on the order date into about one file per YEAR,
# then the 1996+ segment into about one file per MONTH — and a
# month-grain query over the table plans from the manifests' per-file
# date bounds: it reads the year file holding 1995-06 and the month
# files up to 1996-03, skipping the rest, while remaining row-exact
# (pruning is metadata-only and the row predicate still applies).
# The grain changes without a partition spec: Iceberg partition-spec
# evolution is not built, since bounds give this query its pruning.
# tests/test_iceberg_meta.py asserts the skipped files; this oracle
# gates the data path.
@query(
    "partition_evolution_orders",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS ym,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS revenue
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') IN ('1995-06', '1996-03')
    GROUP BY 1 ORDER BY 1
    """,
)
def partition_evolution_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from ..sinks.warehouse import IcebergMetaWarehouse
    from ..sources.iceberg_meta import read_iceberg

    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM").alias("o_ym"),
    )
    root = SCRATCH / f"pevo_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    wh = IcebergMetaWarehouse(spark, str(root))
    t = "layer0100.orders_evolved"
    # TPC-H order dates span 1992-01-01 .. 1998-08-02 at every scale:
    # 4 years before 1996, 32 months from 1996 on
    cut = F.col("o_orderdate") < F.lit(datetime.date(1996, 1, 1))
    wh.append(o.filter(cut).repartitionByRange(4, "o_orderdate"), t)
    wh.append(o.filter(~cut).repartitionByRange(32, "o_orderdate"), t)
    months = ["1995-06", "1996-03"]
    # string bounds are not recorded, so prune on the date column
    pruned = read_iceberg(
        spark,
        wh.path(t),
        predicates=[
            ("o_orderdate", ">=", datetime.date(1995, 6, 1)),
            ("o_orderdate", "<=", datetime.date(1996, 3, 31)),
        ],
    )
    return (
        pruned.filter(F.col("o_ym").isin(months))
        .groupBy(F.col("o_ym").alias("ym"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("ym")
    )


# ---------------------------------------------------------------------------
# SCD Type 6 (r8): hybrid 1+2+3 — full SCD2 row history where every
# version row ALSO carries the key's current tracked value
# (operators/scd2.scd6_upsert), so historical-grain facts can group
# by today's attribute without self-joining the current rows. Same
# two-batch fixture as the SCD3/SCD4 twins; the %10 keys show the
# whole mechanism: a closed 2024-01-01→01-02 row whose overlay
# already says 'CHANGED', plus the new open row.
@query(
    "scd6_customer_history",
    oracle="""
    SELECT c_custkey AS key, c_name AS name,
           c_mktsegment AS segment, c_mktsegment AS segment_current,
           '2024-01-01 00:00:00' AS from_ts, 'OPEN' AS to_ts,
           TRUE AS is_current
    FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 10 <> 0
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment, 'CHANGED',
           '2024-01-01 00:00:00', '2024-01-02 00:00:00', FALSE
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, c_name, 'CHANGED', 'CHANGED',
           '2024-01-02 00:00:00', 'OPEN', TRUE
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, c_name, c_mktsegment, c_mktsegment,
           '2024-01-02 00:00:00', 'OPEN', TRUE
    FROM customer WHERE c_custkey % 2 = 1
    ORDER BY key, from_ts
    """,
)
def scd6_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd2 import scd6_upsert

    cust = read_parquet_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    batch1 = cust.filter(F.col("c_custkey") % 2 == 0)
    batch2 = cust.filter(
        (F.col("c_custkey") % 10 == 0) | (F.col("c_custkey") % 2 == 1)
    ).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 10 == 0, F.lit("CHANGED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    wh = _fresh_wh(spark, f"scd6_{Path(sf_dir).name}")
    t = "layer0150.dim_customer_s6"
    scd6_upsert(wh, t, batch1, ["c_custkey"], "c_mktsegment", T1)
    scd6_upsert(wh, t, batch2, ["c_custkey"], "c_mktsegment", T2)
    return (
        wh.read(t)
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_mktsegment_current").alias("segment_current"),
            F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias(
                "from_ts"
            ),
            F.coalesce(
                F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss"),
                F.lit("OPEN"),
            ).alias("to_ts"),
            "is_current",
        )
        .orderBy("key", "from_ts")
    )


# ---------------------------------------------------------------------------
# Partitioned Delta table (r8): the protocol's partition story
# executed end-to-end — `create_partitioned` writes the spec layout
# (data files EXCLUDE the partition column; per-file partitionValues
# in the add actions; metaData.partitionColumns pins the spec),
# `read_delta(partition_filters=...)` prunes file groups by log
# metadata before any byte is read and reconstitutes the column from
# the log. The oracle is the plain orders aggregation — storage
# layout must never leak into query results.
@query(
    "delta_partitioned_orders",
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
def delta_partitioned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.deltalog import DeltaLogWriter, read_delta

    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        F.date_format("o_orderdate", "yyyy").alias("y"),
    )
    root = SCRATCH / f"dlpart_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    w = DeltaLogWriter(spark, root / "orders_part")
    # two generations under ONE pinned spec (Delta partition columns
    # are immutable)
    w.create_partitioned(o.filter(F.col("y") < "1996"), ["y"])
    w.append_partitioned(o.filter(F.col("y") >= "1996"), ["y"])
    years = ["1994", "1995"]
    pruned = read_delta(
        spark, root / "orders_part", partition_filters={"y": years}
    )
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
# Delta stats-based data skipping (r8): the OTHER half of log pruning
# — partitionValues covers the partition column, the add actions'
# `stats` field (numRecords/minValues/maxValues/nullCount, harvested
# from parquet FOOTERS at stage time, no data scan) covers everything
# else. Orders land key-clustered (repartitionByRange before the
# append), so each file's o_orderkey range is tight and a key-range
# query reads a fraction of the files — Delta's data skipping,
# executed from the JSON log alone. Unknown-safe like all pruning
# here: a file without stats is read, never dropped.
@query(
    "delta_stats_skipping_orders",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS revenue
    FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
    """,
)
def delta_stats_skipping_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.deltalog import (
        DeltaLogWriter,
        files_skipped_by_stats,
    )

    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    root = SCRATCH / f"dlstats_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    table = root / "orders_clustered"
    w = DeltaLogWriter(spark, table)
    w.create(o.repartitionByRange(8, "o_orderkey"))
    keep, total = files_skipped_by_stats(table, "o_orderkey", 1000, 3000)
    if not (0 < len(keep) < total):  # the clustering must actually skip
        raise AssertionError(
            f"stats skipping ineffective: kept {len(keep)}/{total}"
        )
    df = spark.read.parquet(*[str(table / n) for n in keep])
    return df.filter(F.col("o_orderkey").between(1000, 3000)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Checkpointed, constrained Delta ingest (r8): twelve appends cross
# the auto-checkpoint cadence (a %020d.checkpoint.parquet +
# _last_checkpoint land mid-history), a CHECK constraint guards every
# batch, and one violating batch is rejected WHOLE without leaving a
# trace — then the final read opens FROM the checkpoint (the JSON
# commits at or below it are deleted first, proving the read path)
# and must match the plain-orders oracle. The protocol features
# (checkpoint replay, constraint enforcement, batch atomicity) all
# sit inside the driver's correctness gate, not just unit tests.
@query(
    "delta_checkpointed_ingest_orders",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS revenue
    FROM orders WHERE o_totalprice > 0
    GROUP BY 1 ORDER BY 1
    """,
)
def delta_checkpointed_ingest_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.deltalog import (
        DeltaLogError,
        DeltaLogWriter,
        current_version,
        read_delta,
    )

    import os

    from ..streaming.windows import cached_fixture

    o = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )

    # Stage the 12 arrival slices in ONE partitioned pass and serve
    # each commit from its slice dir (r10 optimization round, guide
    # §1.2: the per-commit `o.filter(%12==i)` re-scanned the FULL
    # orders table twice per append — constraint agg + data-file
    # stage — 24 full scans for 12 commits). Same build-once staged
    # SOURCE discipline as the streaming twins (stream_delta_
    # partitioned): slices are deterministic per scale factor; every
    # commit's constraint check and data-file write still execute for
    # real against the slice.
    def _build(d: Path) -> None:
        (
            o.withColumn("__b", (F.col("o_orderkey") % 12).cast("int"))
            .repartition(12, F.col("__b"))  # one file per slice dir
            .write.partitionBy("__b")
            .parquet(str(d / "slices"))
        )

    src = cached_fixture(
        f"dlckpt_slices_{Path(sf_dir).name}",
        _build,
        token=os.stat(f"{sf_dir}/orders.parquet").st_mtime,
    )

    # ONE partition-discovery read; per-commit slices are partition-
    # pruned filters on it (a per-slice spark.read.parquet would pay a
    # schema-inference job per commit — measured 12 extra jobs)
    slices = spark.read.parquet(str(src / "slices"))

    def _slice(i: int) -> DataFrame:
        return slices.filter(F.col("__b") == i).select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )

    root = SCRATCH / f"dlckpt_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    table = root / "orders_ckpt"
    w = DeltaLogWriter(spark, table)
    w.create(_slice(0))
    w.set_check_constraint("price_positive", "o_totalprice > 0")
    for i in range(1, 12):
        w.append(_slice(i))
    # a poisoned batch: rejected whole, no partial state
    try:
        w.append(
            o.limit(5).withColumn("o_totalprice", F.lit(-1.0))
        )
        raise AssertionError("constraint should have rejected the batch")
    except DeltaLogError:
        pass
    # prove the checkpoint read path: retire the covered JSON commits
    import json as _json

    ptr = table / "_delta_log" / "_last_checkpoint"
    ck_v = _json.loads(ptr.read_text())["version"]
    if ck_v < 10:
        raise AssertionError(f"auto-checkpoint cadence missed: {ck_v}")
    for f in (table / "_delta_log").glob("*.json"):
        if int(f.stem) <= ck_v:
            f.unlink()
    assert current_version(table) >= ck_v
    return (
        read_delta(spark, table)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Delta RESTORE (r8, sources/deltalog.py::DeltaLogWriter.restore —
# delta-io protocol, public): v0 = the even orderkeys, v1 = a bad
# overwrite that replaced everything with the odd keys, v2 = RESTORE
# to v0 as a NEW commit (no log rewrite). The latest read must equal
# v0 exactly (n_latest == n_v0 per group is part of the hashed
# contract) and the undone v1 stays time-travelable.
@query(
    "delta_restore_orders",
    oracle="""
    WITH v0 AS (
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderstatus
    ),
    v1 AS (
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders WHERE o_orderkey % 2 = 1 GROUP BY o_orderstatus
    )
    SELECT v0.o_orderstatus,
           v0.n AS n_latest,
           v0.n AS n_v0,
           COALESCE(v1.n, 0) AS n_bad_version
    FROM v0 LEFT JOIN v1 USING (o_orderstatus)
    ORDER BY o_orderstatus
    """,
)
def delta_restore_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.deltalog import DeltaLogWriter, current_version, read_delta

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    root = SCRATCH / f"deltalog_restore_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = root / "orders_delta"
    w = DeltaLogWriter(spark, path)
    w.create(orders.filter(F.col("o_orderkey") % 2 == 0))  # v0
    w.overwrite(orders.filter(F.col("o_orderkey") % 2 == 1))  # v1: bad
    w.restore(0)  # v2: reconciliation commit
    assert current_version(path) == 2
    latest = read_delta(spark, path).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_latest")
    )
    v0 = read_delta(spark, path, version=0).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v0")
    )
    v1 = read_delta(spark, path, version=1).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bad_version")
    )
    return (
        latest.join(v0, "o_orderstatus")
        .join(v1, "o_orderstatus", "left")
        .select(
            "o_orderstatus",
            "n_latest",
            "n_v0",
            F.coalesce(F.col("n_bad_version"), F.lit(0))
            .cast("bigint")
            .alias("n_bad_version"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Delta COLUMN MAPPING, name mode (r8, DeltaLogWriter.rename_column —
# reader 2 / writer 5 upgrade path of the public protocol): rename
# o_orderstatus → status WITHOUT rewriting any data file (the field
# keeps its physical parquet name; only the logical metaData name
# changes), then keep appending under the NEW logical name. The
# unified read and the pre-rename time travel are both hashed.
@query(
    "delta_column_rename_orders",
    oracle="""
    WITH all_rows AS (
        SELECT o_orderstatus AS status, o_orderkey FROM orders
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_before_rename
    FROM all_rows
    GROUP BY status
    ORDER BY status
    """,
)
def delta_column_rename_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.deltalog import DeltaLogWriter, read_delta

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    root = SCRATCH / f"deltalog_rename_{Path(sf_dir).name}"
    if root.exists():
        shutil.rmtree(root)
    path = root / "orders_delta"
    w = DeltaLogWriter(spark, path)
    w.create(orders.filter(F.col("o_orderkey") % 2 == 0))  # v0
    w.rename_column("o_orderstatus", "status")  # v1: metadata only
    w.append(  # v2: appended under the NEW logical name
        orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", F.col("o_orderstatus").alias("status")
        )
    )
    latest = read_delta(spark, path).groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    v0 = (  # pre-rename version still reads under the OLD name
        read_delta(spark, path, version=0)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_before_rename"))
    )
    return (
        latest.join(v0, "status", "left")
        .select(
            "status",
            "n_total",
            F.coalesce(F.col("n_before_rename"), F.lit(0))
            .cast("bigint")
            .alias("n_before_rename"),
        )
        .orderBy("status")
    )
