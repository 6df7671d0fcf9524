"""Warehouse (Delta log) maintenance ops: small-file compaction,
partitioned writes and dynamic partition overwrite, the file-pruned
MERGE and the bloom index it maintains, and reads planned from the
log."""

from __future__ import annotations

from dataclasses import asdict
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from lakehouse_poc_spark.sinks.warehouse import Warehouse


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for i in range(6):  # six tiny appends → many small files
        wh.append(
            spark.range(i * 10, (i + 1) * 10).withColumn("v", F.col("id") * 2),
            "raw.many",
        )
    files_before = len(wh._data_files("raw.many"))
    assert files_before >= 6
    reported = wh.compact("raw.many", target_files=2)
    assert reported == files_before
    assert len(wh._data_files("raw.many")) <= 2
    compacted = wh.read("raw.many")
    assert compacted.count() == 60
    assert compacted.agg(F.sum("v")).collect()[0][0] == sum(2 * i for i in range(60))


def test_upsert_parquet_last_write_wins(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    b2 = spark.createDataFrame([(2, "B"), (3, "c")], "id long, val string")
    wh.upsert(b1, "dim.t", keys=["id"])
    wh.upsert(b2, "dim.t", keys=["id"])
    got = {(r.id, r.val) for r in wh.read("dim.t").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_apply_scd2_changeset_rewrites_from_full_plan(spark, tmp_path):
    """The SCD2 apply commits the complete new-dimension plan, which
    reads the very table it replaces (a new version, not a clobber)."""
    wh = Warehouse(spark, str(tmp_path))
    dim = spark.createDataFrame(
        [(1, "a", True)], "id long, val string, is_current boolean"
    )
    wh.overwrite(dim, "dim.t")
    wh.apply_scd2_changeset(
        "dim.t", wh.read("dim.t").withColumn("val", F.lit("b"))
    )
    assert [r.val for r in wh.read("dim.t").collect()] == ["b"]


@pytest.mark.parametrize(
    "backend, suffix",
    [
        pytest.param("Warehouse", "__dl_stage.", id="DeltaLogWarehouse-__dl_stage."),
        ("IcebergMetaWarehouse", "__ice_stage."),
    ],
)
def test_log_backed_failed_write_strands_no_staging_dir(
    spark, tmp_path, backend, suffix
):
    """A write whose plan raises leaves nothing beside the table: the
    staging dir goes with the failure. A dir a crashed writer left is
    swept by vacuum once it is older than 15 minutes."""
    import os

    from lakehouse_poc_spark.sinks import warehouse

    wh = getattr(warehouse, backend)(spark, str(tmp_path / "wh"))
    t = "raw.x"
    wh.overwrite(spark.createDataFrame([(1, 10)], "id long, amt long"), t)
    bad = spark.createDataFrame([(2, 20)], "id long, amt long").withColumn(
        "amt", F.raise_error(F.lit("boom")).cast("long")
    )
    with pytest.raises(Exception, match="boom"):
        wh.append(bad, t)
    assert not [p for p in wh.path(t).parent.iterdir() if suffix in p.name]
    assert [r.id for r in wh.read(t).collect()] == [1]
    # a crash leftover: young ones are spared (an in-flight stage),
    # old ones go
    left = wh.path(t).with_name(f"x{suffix}deadbeef0000")
    left.mkdir()
    (left / "part-00000.parquet").write_bytes(b"x")
    assert wh.vacuum() == 0 and left.exists()
    os.utime(left, (1_000_000.0, 1_000_000.0))
    assert wh.vacuum() == 1 and not left.exists()
    assert [r.id for r in wh.read(t).collect()] == [1]


def test_compaction_cluster_by_gives_disjoint_file_ranges(spark, tmp_path):
    """cluster_by rewrites into range-disjoint, sorted files so parquet
    min/max stats can skip whole files for selective filters."""
    import pyarrow.parquet as pq

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(400).select(
        F.col("id"), F.pmod(F.col("id") * 37 + 11, 400).alias("v")
    )
    wh.append(df.repartition(8), "raw.clustered")
    wh.compact("raw.clustered", target_files=4, cluster_by=["v"])
    files = sorted(wh._data_files("raw.clustered"))
    assert 2 <= len(files) <= 4
    ranges = []
    for f in files:
        md = pq.read_metadata(f)
        col_idx = [md.schema.column(i).name for i in range(md.num_columns)].index("v")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint (boundary value may touch)
    assert wh.read("raw.clustered").count() == 400


def test_table_changes_emits_all_four_change_types(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "dim.cdc"
    wh.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None)], "k int, v string"
        ),
        t,
    )
    wh.overwrite_from_plan(
        spark.createDataFrame(
            # k=1 unchanged, k=2 updated, k=3 null→value, k=4 inserted
            [(1, "a"), (2, "B"), (3, "c"), (4, "d")], "k int, v string"
        ),
        t,
    )
    rows = {
        (r["k"], r["_change_type"]): r["v"]
        for r in wh.table_changes(t, 0, 1, keys=["k"]).collect()
    }
    assert rows == {
        (2, "update_preimage"): "b",
        (2, "update_postimage"): "B",
        (3, "update_preimage"): None,  # null-safe compare flags null→'c'
        (3, "update_postimage"): "c",
        (4, "insert"): "d",
    }
    # reverse direction: the insert reads back as a delete
    back = wh.table_changes(t, 1, 0, keys=["k"]).filter(
        "_change_type = 'delete'"
    ).collect()
    assert [(r["k"], r["v"]) for r in back] == [(4, "d")]


def test_delete_where_rewrites_complement_and_versions(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "fact.t"
    # id 10 has a NULL g: its predicate is NULL, so it survives
    wh.append(
        spark.range(11).selectExpr(
            "id", "CASE WHEN id < 10 THEN id % 3 END AS g"
        ),
        t,
    )
    wh.delete_where(t, F.col("g") == 1)
    kept = sorted(r["id"] for r in wh.read(t).collect())
    assert kept == [0, 2, 3, 5, 6, 8, 9, 10]
    # the rewrite is a new version; the old one stays readable
    assert wh.version(t) == 1
    assert wh.read_version(t, 0).count() == 11
    # string predicates work too
    wh.delete_where(t, "id >= 8")
    assert sorted(r["id"] for r in wh.read(t).collect()) == [0, 2, 3, 5, 6]


def test_bucket_drift_metrics_and_rebucket(spark, tmp_path):
    """Drift probe: histogram sums to total, skewed keys trip the
    skew>2 gate, sizing recommends a power of two, and re-bucketing
    preserves content while updating the persisted spec."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.sinks.bucketing import (
        BucketSpec,
        bucket_drift,
        bucket_histogram,
        rebucket,
    )

    # uniform keys: 4 buckets of ~250 rows, skew ≈ 1, right-sized
    uniform = spark.range(1000).select(F.col("id").alias("k"))
    spec = BucketSpec(
        table="t_uniform", key="k", n_buckets=4, target_rows_per_bucket=250
    )
    hist = bucket_histogram(uniform, "k", 4).collect()
    assert sum(r.rows for r in hist) == 1000
    d = bucket_drift(uniform, spec)
    assert d["total_rows"] == 1000
    assert d["recommended_n"] == 4
    assert d["skew"] < 2.0 and not d["rebucket"]

    # one hot key (90% of rows) must trip the skew gate at the same n
    hot = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(7)).otherwise(F.col("id")).alias("k")
    )
    d_hot = bucket_drift(hot, spec)
    assert d_hot["skew"] > 2.0 and d_hot["rebucket"]

    # growth: 10x the rows at the same target → recommended_n is the
    # next power of two ≥ total/target, and rebucket fires
    grown = spark.range(10_000).select(F.col("id").alias("k"))
    d_grown = bucket_drift(grown, spec)
    assert d_grown["recommended_n"] == 64  # ceil(10000/250)=40 → 64
    assert d_grown["rebucket"]

    # rebucket: content invariant, spec persisted with the new n
    tbl, new_spec = rebucket(
        spark, grown, "blc_test_grown", spec, 64, tmp_path
    )
    assert tbl.count() == 10_000
    assert new_spec.n_buckets == 64
    reloaded = BucketSpec.load(tmp_path, "blc_test_grown")
    assert reloaded.n_buckets == 64 and reloaded.key == "k"
    spark.sql("DROP TABLE IF EXISTS blc_test_grown")


def test_surrogate_keys_stable_and_inferred_members(spark):
    """Surrogate keys: re-running assignment is a no-op for existing
    members; new members extend from max(sk). Inferred members: one
    placeholder per missing key, defaults + flag set."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.operators.scd2 import (
        assign_surrogate_keys,
        inferred_members,
    )

    batch1 = spark.createDataFrame([("b",), ("a",), ("c",)], ["k"])
    dim = assign_surrogate_keys(None, batch1, ["k"])
    got = {r.k: r.sk for r in dim.collect()}
    assert got == {"a": 1, "b": 2, "c": 3}  # ordered by business key
    # re-run with overlap + new members: only d/e get keys, from 4
    batch2 = spark.createDataFrame([("c",), ("e",), ("d",), ("e",)], ["k"])
    new = assign_surrogate_keys(dim, batch2, ["k"])
    got2 = {r.k: r.sk for r in new.collect()}
    assert got2 == {"d": 4, "e": 5}
    # blocked variant agrees with the plain one
    blocked = assign_surrogate_keys(
        dim, batch2, ["k"], block=F.substring("k", 1, 1)
    )
    assert {r.k: r.sk for r in blocked.collect()} == got2

    facts = spark.createDataFrame([("a", 1), ("z", 2), ("z", 3)], ["k", "v"])
    ph = inferred_members(facts, dim, ["k"], {"name": "UNKNOWN"})
    rows = ph.collect()
    assert len(rows) == 1 and rows[0].k == "z"
    assert rows[0].name == "UNKNOWN" and rows[0].is_inferred


def test_upsert_file_pruned_rewrites_only_matched_files(spark, tmp_path):
    """Delta's file-pruned MERGE: on a key-clustered layout a narrow
    batch rewrites only the files holding its keys; content equals
    the plain-upsert contract; untouched files stay live and
    physically identical (same path, same bytes)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "dim.c"
    # key-clustered layout: 10 files of 100 keys each (repartitionByRange)
    base = spark.range(1000).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    wh.overwrite(base.repartitionByRange(10, "k"), t)
    files_before = {p.name: p.stat().st_mtime_ns for p in wh._data_files(t)}
    assert len(files_before) == 10

    # batch touches keys 0-49 (one range file) + inserts 2000-2004
    batch = spark.createDataFrame(
        [(k, f"new{k}") for k in range(50)] + [(2000 + i, "ins") for i in range(5)],
        "k long, v string",
    )
    stats = wh.upsert_file_pruned(batch, t, keys=["k"])
    assert stats["files_total"] == 10
    assert stats["files_rewritten"] == 1  # clustered: one file holds 0-49
    assert stats["rows_inserted_or_updated"] == 55

    got = {r.k: r.v for r in wh.read(t).collect()}
    assert len(got) == 1005
    assert got[0] == "new0" and got[49] == "new49" and got[50] == "50"
    assert got[2004] == "ins"
    # untouched files stay live, bit-identical in place (same mtime):
    files_after = {p.name: p.stat().st_mtime_ns for p in wh._data_files(t)}
    untouched = set(files_before) & set(files_after)
    assert len(untouched) == 9
    assert all(files_before[n] == files_after[n] for n in untouched)
    assert not list(wh.root.glob("**/*__dl_stage.*"))  # staging cleaned

    # pure-insert batch rewrites nothing
    stats2 = wh.upsert_file_pruned(
        spark.createDataFrame([(3000, "x")], "k long, v string"), t, ["k"]
    )
    assert stats2["files_rewritten"] == 0
    assert wh.read(t).count() == 1006


def test_file_bloom_prunes_without_false_negatives(spark, tmp_path):
    """On a date-clustered layout (min/max on the key is useless) the
    per-file bloom must skip most files for a point lookup while the
    surviving set still contains EVERY real match; and an absent key
    prunes everything (empty typed frame, no error)."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.operators.filestats import (
        bloom_probe_positions,
        bloom_pruned_read,
        build_file_bloom,
    )

    # 8 files clustered by ts; key appears in exactly 2 files
    df = spark.range(4000).select(
        F.col("id").alias("ts"),
        (F.pmod(F.col("id") * 37, 997)).alias("key"),
    )
    path = tmp_path / "t"
    df.repartitionByRange(8, "ts").write.parquet(str(path))
    blooms = build_file_bloom(spark, sorted(path.glob("*.parquet")), "key")
    assert blooms.count() == 8

    expect = {r.ts for r in df.filter("key = 5").collect()}
    got_df = bloom_pruned_read(spark, blooms, "key", 5)
    got = {r.ts for r in got_df.collect()}
    assert got == expect and expect  # no false negatives, non-trivial

    # pruning actually skipped files: survivors < total
    probes = bloom_probe_positions(spark, 5)
    lit_probes = F.array(*[F.lit(p) for p in probes])
    n_surv = blooms.filter(
        F.size(F.array_except(lit_probes, F.col("bits"))) == 0
    ).count()
    assert n_surv < 8, n_surv

    # absent key: empty but typed
    missing = bloom_pruned_read(spark, blooms, "key", 10_000_000)
    assert missing.count() == 0
    assert set(missing.columns) == {"ts", "key"}


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    """SQL DELETE semantics: only pred==TRUE rows are removed;
    NULL-predicate rows survive, matching the Delta/Iceberg native
    DELETE branches (ADVICE r6 — a plain ~pred silently dropped them)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "fact.nulls"
    df = spark.createDataFrame(
        [(1, -5.0), (2, None), (3, 7.0), (4, None), (5, -1.0)],
        "id long, value double",
    )
    wh.overwrite(df, t)
    wh.delete_where(t, "value < 0")
    assert sorted(r["id"] for r in wh.read(t).collect()) == [2, 3, 4]


def test_persisted_bloom_index_maintained_through_dml(spark, tmp_path):
    """SCALE.md 6.3: the bloom index lives as a _bloom.<table> side
    table keyed on the log's live files, refreshes INCREMENTALLY inside
    file-pruned DML (only rewritten files rebuild) and at the end of
    every full rewrite, and bloom_lookup through it equals the
    full-scan filter before and after every mutation."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "raw.k"
    wh.overwrite(
        spark.range(2000)
        .selectExpr("id AS k", "CAST(id % 7 AS STRING) AS v")
        .repartitionByRange(8, "k"),
        t,
    )
    n_files = wh.build_bloom_index(t, "k")
    assert n_files == 8
    assert wh.table_exists("_bloom.raw.k")

    def full_scan(key):
        return sorted(
            (r.k, r.v) for r in wh.read(t).filter(F.col("k") == key).collect()
        )

    assert sorted(
        (r.k, r.v) for r in wh.bloom_lookup(t, "k", 42).collect()
    ) == full_scan(42)

    # upsert: changed keys + a brand-new key; auto-refresh keeps the
    # lookup exact and only the touched file rows rebuilt
    batch = spark.createDataFrame(
        [(42, "NEW"), (43, "NEW"), (5000, "INS")], "k long, v string"
    )
    stats = wh.upsert_file_pruned(batch, t, keys=["k"])
    assert 0 < stats["files_rewritten"] < 8
    assert [r.v for r in wh.bloom_lookup(t, "k", 42).collect()] == ["NEW"]
    assert [r.v for r in wh.bloom_lookup(t, "k", 5000).collect()] == ["INS"]
    # index row count == live file count (stale rows dropped)
    live = len(wh._data_files(t))
    assert wh.read("_bloom.raw.k").count() == live

    # delete: a full rewrite re-indexes its new files on commit, so
    # the lookup stays exact and a reconcile finds nothing to do
    wh.delete_where(t, "k = 43")
    assert wh.bloom_lookup(t, "k", 43).count() == 0
    assert [r.v for r in wh.bloom_lookup(t, "k", 42).collect()] == ["NEW"]
    assert wh.read("_bloom.raw.k").count() == len(wh._data_files(t))
    st = wh.refresh_bloom_index(t)
    assert st["files_added"] == st["files_removed"] == 0


@pytest.mark.parametrize(
    "dml",
    [
        lambda wh, t, b: wh.delete_where(t, "k = 3"),
        lambda wh, t, b: wh.upsert(b, t, keys=["k"]),
        lambda wh, t, b: wh.merge_ops(
            b.withColumn("_op", F.lit("U")), t, keys=["k"]
        ),
    ],
    ids=["delete_where", "upsert", "merge_ops"],
)
def test_full_rewrite_dml_keeps_bloom_index_current(spark, tmp_path, dml):
    """A full-rewrite DML replaces every data file; the rewrite's
    commit re-indexes them, so no later bloom_lookup reads the whole
    table for want of an index row."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "raw.b"
    wh.overwrite(
        spark.range(200).selectExpr("id AS k", "'old' AS v").repartition(4), t
    )
    wh.build_bloom_index(t, "k")
    dml(wh, t, spark.createDataFrame([(7, "new"), (900, "ins")], "k long, v string"))
    st = wh.refresh_bloom_index(t)
    assert (st["files_added"], st["files_removed"]) == (0, 0)
    assert st["files_total"] == len(wh._data_files(t))


def test_bloom_lookup_survives_stale_index_without_false_negatives(
    spark, tmp_path
):
    """An append the index has not seen yet: its files count as
    'maybe contains' and are always read, so staleness can never drop
    a result row."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "raw.s"
    wh.overwrite(
        spark.range(100).selectExpr("id AS k", "'old' AS v").coalesce(2), t
    )
    wh.build_bloom_index(t, "k")
    # append OUTSIDE the hooked DML paths: index is now stale
    wh.append(
        spark.createDataFrame([(999, "fresh")], "k long, v string"), t
    )
    assert [r.v for r in wh.bloom_lookup(t, "k", 999).collect()] == ["fresh"]
    # explicit refresh reconciles; lookup result unchanged
    st = wh.refresh_bloom_index(t)
    assert st["files_added"] >= 1
    assert [r.v for r in wh.bloom_lookup(t, "k", 999).collect()] == ["fresh"]


def test_bloom_lookup_never_returns_a_dv_deleted_row(spark, tmp_path):
    """A deletion vector leaves the file and its bloom bits in place,
    so the index still admits the file; the lookup reads it through
    the add action's mask and the deleted row stays deleted."""
    from lakehouse_poc_spark.sources.deltalog import DeltaLogWriter

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "raw.d"
    wh.overwrite(
        spark.range(400)
        .selectExpr("id % 100 AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, "k"),
        t,
    )
    wh.build_bloom_index(t, "k")
    DeltaLogWriter(spark, wh.path(t)).delete_where_dv("v = '42'")
    got = sorted(r.v for r in wh.bloom_lookup(t, "k", 42).collect())
    assert got == ["142", "242", "342"]
    assert wh.refresh_bloom_index(t)["files_added"] == 0  # same files


def test_bloom_index_refuses_column_mapped_tables(spark, tmp_path):
    from lakehouse_poc_spark.sources.deltalog import DeltaLogWriter

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "raw.m"
    wh.overwrite(spark.range(10).selectExpr("id AS k", "'x' AS v"), t)
    DeltaLogWriter(spark, wh.path(t)).rename_column("v", "w")
    with pytest.raises(NotImplementedError, match="column-mapped"):
        wh.build_bloom_index(t, "k")


def test_mv_incremental_scans_only_new_files(spark, tmp_path):
    """refresh() cost ∝ appended files: second batch scans only its
    own files, a no-op refresh scans zero, and incremental state
    equals a full rebuild exactly."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.sinks.matview import MaterializedAgg

    wh = Warehouse(spark, str(tmp_path / "wh"))
    ev = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("string").alias("g"),
        (F.col("id") * 1.5).alias("v"),
    )
    t = "src.events"
    wh.append(ev.filter(F.col("k") < 600).repartition(3), t)
    mv = MaterializedAgg(wh, "by_g", t, ["g"], "v")
    s0 = mv.rebuild()
    assert s0["files_scanned"] == s0["files_total"] == 3

    wh.append(ev.filter(F.col("k") >= 600).repartition(2), t)
    s1 = mv.refresh()
    assert s1["files_scanned"] == 2 and s1["files_total"] == 5
    s2 = mv.refresh()
    assert s2["files_scanned"] == 0

    got = {
        (r["g"], r["mv_n"], float(r["mv_sum"]))
        for r in mv.read().collect()
    }
    full = {
        (r["g"], r["n"], float(r["s"]))
        for r in ev.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("v").cast("decimal(30,6)")).alias("s"),
        )
        .collect()
    }
    assert got == full


def test_mv_stale_base_guard(spark, tmp_path):
    """A base rewrite (compaction) invalidates the seen-set: refresh
    refuses rather than double-counting; rebuild recovers."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.sinks.matview import MaterializedAgg

    wh = Warehouse(spark, str(tmp_path / "wh"))
    ev = spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").cast("double").alias("v"),
    )
    t = "src.small"
    wh.append(ev.repartition(2), t)
    mv = MaterializedAgg(wh, "small_by_g", t, ["g"], "v")
    mv.rebuild()
    wh.compact(t, target_files=1)
    with _pytest.raises(ValueError, match="stale_base"):
        mv.refresh()
    s = mv.rebuild()
    assert s["files_total"] >= 1
    assert mv.read().count() == 3


def test_mv_crash_between_files_and_state_never_double_counts(
    spark, tmp_path
):
    """Two-phase commit: a crash AFTER the file-list append but
    BEFORE the state overwrite leaves orphan v+1 file rows; the next
    refresh ignores them (state still at v) and re-folds the files —
    final state equals the ground truth, no double count
    (code-review r7)."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.sinks.matview import MaterializedAgg

    wh = Warehouse(spark, str(tmp_path / "wh"))
    ev = spark.range(200).select(
        (F.col("id") % 5).cast("string").alias("g"),
        F.col("id").cast("double").alias("v"),
    )
    t = "src.crash"
    wh.append(ev.filter(F.col("id") < 100), t)
    mv = MaterializedAgg(wh, "crash_by_g", t, ["g"], "v")
    mv.rebuild()
    wh.append(ev.filter(F.col("id") >= 100), t)

    # simulate the crash: run ONLY phase 1 of refresh (file append at
    # v+1), never the state write
    v = mv._state_version()
    live = mv._live_files()
    seen = mv._seen_files(v)
    new = sorted(set(live) - seen)
    assert new, "fixture must add files"
    mv._record_files(new, version=v + 1, replace=False)

    # recovery: plain refresh must fold the same files exactly once
    s = mv.refresh()
    assert s["files_scanned"] == len(new)
    got = {
        (r["g"], r["mv_n"], float(r["mv_sum"]))
        for r in mv.read().collect()
    }
    want = {
        (r["g"], r["n"], float(r["s"]))
        for r in ev.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("v").cast("decimal(30,6)")).alias("s"),
        )
        .collect()
    }
    assert got == want


def test_merge_ops_three_clauses_and_stats(spark, wh):
    b0 = spark.createDataFrame(
        [("K1", "a"), ("K2", "b"), ("K3", "c")], "k string, v string"
    )
    wh.overwrite(b0, "dim.mo")
    batch = spark.createDataFrame(
        [("K1", "a2", "U"),   # matched update
         ("K2", None, "D"),   # matched delete
         ("K4", "d", "U"),    # insert
         ("K9", None, "D")],  # no-op delete (absent key, CDC replay)
        "k string, v string, _op string",
    )
    stats = wh.merge_ops(batch, "dim.mo", keys=["k"])
    assert stats == {"deleted": 1, "updated": 1, "inserted": 1}
    rows = {r.k: r.v for r in wh.read("dim.mo").collect()}
    assert rows == {"K1": "a2", "K3": "c", "K4": "d"}


def test_merge_ops_bootstraps_missing_table_without_deletes(spark, wh):
    batch = spark.createDataFrame(
        [("K1", "a", "U"), ("K2", None, "D")],
        "k string, v string, _op string",
    )
    stats = wh.merge_ops(batch, "dim.mo2", keys=["k"])
    assert stats == {"deleted": 0, "updated": 0, "inserted": 1}
    assert [r.k for r in wh.read("dim.mo2").collect()] == ["K1"]


# ---------------------------------------------------------------------------
# Reads planned from the log, without a Spark job.


def _varied(spark):
    return spark.sql(
        """SELECT 1 AS a, 'x' AS s, TIMESTAMP'2020-01-01 00:00:00' AS ts,
           TIMESTAMP_NTZ'2020-01-01 00:00:00' AS tsn,
           CAST(1.5 AS DECIMAL(12,3)) AS d, array(1, 2) AS arr,
           map('k', 1) AS m, named_struct('x', 1, 'y', 'z') AS st,
           CAST('ab' AS BINARY) AS b, DATE'2020-01-02' AS dt, 'p1' AS part"""
    )


@pytest.mark.parametrize(
    "partition_by", [None, ["part"], ["dt", "part"]], ids=["plain", "part", "part2"]
)
def test_read_runs_no_job_and_matches_inferred_schema(
    spark, tmp_path, jobs_in_group, partition_by
):
    """The log read plans from the committed schema alone and gives
    the schema Spark infers for the same rows written as plain
    (hive-partitioned) parquet."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(_varied(spark), "l.t", partition_by=partition_by)
    wh.append(_varied(spark), "l.t", partition_by=partition_by)
    df, jobs = jobs_in_group("wh-read", lambda: wh.read("l.t"))
    assert jobs == 0
    plain = _varied(spark).write
    if partition_by:
        plain = plain.partitionBy(*partition_by)
    plain.parquet(str(tmp_path / "plain"))
    assert df.schema == spark.read.parquet(str(tmp_path / "plain")).schema
    assert df.count() == 2


# ---------------------------------------------------------------------------
# Partitioned tables on the log.


def _adds_by_part(wh, t, col):
    from lakehouse_poc_spark.sources.deltalog import _replay

    out: dict[str, set] = {}
    for a in _replay(wh.path(t), None)["adds"]:
        out.setdefault(a["partitionValues"][col], set()).add(a["path"])
    return out


def test_overwrite_partitions_is_one_commit_and_keeps_other_partitions(
    spark, tmp_path
):
    """Dynamic partition overwrite is ONE commit at v+1: the covered
    partitions' files leave, the batch's files arrive, every other
    partition's files stay live untouched; a read of one partition
    scans only its files."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "agg.p"
    schema = "id long, v string, day string"
    wh.overwrite(
        spark.createDataFrame(
            [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2"), (4, "d", "d3")],
            schema,
        ),
        t,
        partition_by=["day"],
    )
    v = wh.version(t)
    before = _adds_by_part(wh, t, "day")
    wh._writer(t).overwrite_partitions(
        spark.createDataFrame([(5, "e", "d2"), (6, "f", "d4")], schema),
        ["day"],
    )
    assert wh.version(t) == v + 1
    after = _adds_by_part(wh, t, "day")
    assert after["d1"] == before["d1"] and after["d3"] == before["d3"]
    assert not after["d2"] & before["d2"] and "d4" in after
    assert sorted(tuple(r) for r in wh.read(t).collect()) == [
        (1, "a", "d1"), (2, "b", "d1"), (4, "d", "d3"),
        (5, "e", "d2"), (6, "f", "d4"),
    ]
    # the files sit in hive directories, so the whole table is one
    # scan, and a filter on the partition column prunes at plan time
    assert all(
        p.startswith(f"day={d}/") for d, ps in after.items() for p in ps
    )
    plan = wh.read(t)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    one = wh.read(t).filter(F.col("day").isin("d1"))
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert "PartitionFilters: [isnotnull(day" in plan, plan
    assert sorted(r.id for r in one.collect()) == [1, 2]
    # the partition spec is immutable, and compaction keeps it
    for write in (wh.append, wh.overwrite):
        with pytest.raises(Exception, match="partition spec mismatch"):
            write(spark.createDataFrame([(7, "g", "d1")], schema), t, ["id"])
    with pytest.raises(Exception, match="partitioned table"):
        wh.compact(t, target_files=1, cluster_by=["id"])
    rows = sorted(tuple(r) for r in wh.read(t).collect())
    wh.compact(t, target_files=1)
    assert {k: len(v) for k, v in _adds_by_part(wh, t, "day").items()} == {
        "d1": 1, "d2": 1, "d3": 1, "d4": 1,
    }
    assert sorted(tuple(r) for r in wh.read(t).collect()) == rows
    # vacuum walks the partition directories: only live files remain
    wh.vacuum(min_age=0)
    on_disk = {
        f.relative_to(wh.path(t)).as_posix()
        for f in wh.path(t).rglob("*.parquet")
        if "_delta_log" not in f.parts
    }
    assert on_disk == set().union(*_adds_by_part(wh, t, "day").values())
    assert sorted(tuple(r) for r in wh.read(t).collect()) == rows


def test_table_under_glob_metacharacters(spark, tmp_path):
    """spark.read.parquet expands every path as a Hadoop glob; a table
    under a directory named with glob metacharacters still appends,
    reads, DV-deletes, compacts and bloom-looks-up by exact path."""
    from lakehouse_poc_spark.sources.deltalog import DeltaLogWriter

    wh = Warehouse(spark, str(tmp_path / "a[b]{c}"))
    t = "raw.g"
    rows = spark.range(100).selectExpr("id AS k", "CAST(id % 10 AS STRING) AS v")
    wh.append(rows.filter("k < 80").repartition(4), t)
    wh.append(rows.filter("k >= 80"), t)
    assert wh.read(t).count() == 100
    wh.build_bloom_index(t, "k")
    DeltaLogWriter(spark, wh.path(t)).delete_where_dv("k = 7")
    assert wh.read(t).count() == 99
    wh.compact(t, target_files=2)
    assert len(wh._data_files(t)) <= 2
    assert sorted(r.k for r in wh.read(t).filter("k < 10").collect()) == [
        0, 1, 2, 3, 4, 5, 6, 8, 9,
    ]
    assert [r.k for r in wh.bloom_lookup(t, "k", 8).collect()] == [8]
    assert wh.bloom_lookup(t, "k", 7).count() == 0
