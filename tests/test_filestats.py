"""File-skipping statistics (operators/filestats.py): the manifest
must prune most files of a range-clustered table for a selective
predicate, and pruning must never change results."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_poc_spark.operators.filestats import (
    collect_file_stats,
    prune_files,
    pruned_read,
)
from lakehouse_poc_spark.sinks.warehouse import Warehouse


def _clustered_table(spark, tmp_path, n_files=10):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(10_000).select(
        F.col("id"), F.pmod(F.col("id") * 7919, 10_000).alias("v")
    )
    wh.append(df.repartition(8), "raw.t")
    wh.compact("raw.t", target_files=n_files, cluster_by=["v"])
    return str(wh.path("raw.t"))


def test_stats_cover_every_file_and_row(spark, tmp_path):
    path = _clustered_table(spark, tmp_path)
    stats = collect_file_stats(spark, path, ["v"])
    rows = stats.collect()
    n_files = len(list((tmp_path / "wh/raw/t").glob("*.parquet")))
    assert len(rows) == n_files
    assert sum(r["n_rows"] for r in rows) == 10_000
    assert all(r["v_min"] <= r["v_max"] for r in rows)


def test_selective_range_prunes_most_files(spark, tmp_path):
    path = _clustered_table(spark, tmp_path)
    stats = collect_file_stats(spark, path, ["v"])
    total = stats.count()
    surviving = prune_files(stats, "v", 1000, 1500)
    # a ~5% range over a 10-file clustered table touches 1-2 files
    assert 1 <= len(surviving) <= max(2, total // 3)


def test_pruned_read_equals_plain_predicate(spark, tmp_path):
    path = _clustered_table(spark, tmp_path)
    stats = collect_file_stats(spark, path, ["v"])
    pruned = pruned_read(spark, stats, "v", 1000, 1500)
    plain = (
        spark.read.parquet(path)
        .filter((F.col("v") >= 1000) & (F.col("v") <= 1500))
    )
    assert sorted(r["id"] for r in pruned.collect()) == sorted(
        r["id"] for r in plain.collect()
    )


def test_empty_overlap_returns_typed_empty_frame(spark, tmp_path):
    path = _clustered_table(spark, tmp_path)
    stats = collect_file_stats(spark, path, ["v"])
    out = pruned_read(spark, stats, "v", 50_000, 60_000)
    assert out.count() == 0
    assert set(out.columns) == {"id", "v"}


def test_zorder_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order layout must let a 2-D box predicate skip files on BOTH
    columns — and the count of surviving files must be a strict subset
    of the clustered file set."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.operators.filestats import (
        collect_file_stats,
        pruned_read_multi,
    )
    from lakehouse_poc_spark.sinks.warehouse import Warehouse, zorder_value

    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    wh = Warehouse(spark, str(tmp_path))
    z = df.withColumn("__z", zorder_value(F.col("x"), F.col("y"), bits=8))
    wh.append(z.repartition(4), "t.z")
    wh.compact("t.z", target_files=16, cluster_by=["__z"])
    stats = collect_file_stats(spark, str(wh.path("t.z")), ["x", "y"])
    n_files = stats.count()
    assert n_files >= 8
    # box covering ~1/16 of the space
    surviving = stats.filter(
        (F.col("x_max") >= 0) & (F.col("x_min") <= 15)
        & (F.col("y_max") >= 0) & (F.col("y_min") <= 15)
    ).count()
    assert surviving < n_files / 2, (surviving, n_files)
    out = pruned_read_multi(spark, stats, [("x", 0, 15), ("y", 0, 15)])
    assert out.count() == 16 * 16


def test_empty_index_fails_fast_with_clear_error(spark):
    """An EMPTY stats/bloom index cannot yield a schema probe file —
    the pruned readers must raise a clear ValueError instead of the
    opaque spark.read.parquet() no-paths crash (ADVICE r6)."""
    import pytest

    from lakehouse_poc_spark.operators.filestats import (
        bloom_pruned_read,
        pruned_read_multi,
    )

    empty_stats = spark.createDataFrame(
        [], "file string, n_rows long, v_min long, v_max long"
    )
    with pytest.raises(ValueError, match="index is empty"):
        pruned_read(spark, empty_stats, "v", 0, 10)
    with pytest.raises(ValueError, match="index is empty"):
        pruned_read_multi(spark, empty_stats, [("v", 0, 10)])
    empty_blooms = spark.createDataFrame(
        [], "file string, bits array<int>"
    )
    with pytest.raises(ValueError, match="index is empty"):
        bloom_pruned_read(spark, empty_blooms, "k", 42)
