"""Apache Iceberg v2 metadata backend (sources/iceberg_meta.py):
snapshot lifecycle, time travel, commit atomicity (version-hint +
create-exclusive metadata claim), stats-pruned scan planning, and the
IcebergMetaWarehouse SCD1 surface. Conformance against FOREIGN
metadata lives in test_iceberg_conformance.py."""

from __future__ import annotations

import json
from decimal import Decimal
from pathlib import Path

import pytest

from lakehouse_poc_spark.sources.iceberg_meta import (
    IcebergMetaError,
    IcebergTable,
    bound_decode,
    bound_encode,
    current_metadata_version,
    live_entries,
    load_metadata,
    plan_files,
    read_avro_dicts,
    read_iceberg,
    snapshot_ids,
    spark_to_iceberg_schema,
)


def _df(spark, lo, hi):
    from pyspark.sql import functions as F

    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            F.format_string("s%d", "id").alias("s"),
        )
    )


def test_create_append_overwrite_and_time_travel(spark, tmp_path):
    p = tmp_path / "t"
    t = IcebergTable(spark, p)
    assert not t.exists()
    assert t.create(_df(spark, 0, 50)) == 1
    assert read_iceberg(spark, p).count() == 50
    assert t.append(_df(spark, 50, 100)) == 2
    assert read_iceberg(spark, p).count() == 100
    sids = snapshot_ids(p)
    assert len(sids) == 2
    assert read_iceberg(spark, p, snapshot_id=sids[0]).count() == 50
    # overwrite: latest shrinks, earlier snapshots still time-travel
    t.overwrite(_df(spark, 0, 10))
    assert read_iceberg(spark, p).count() == 10
    assert read_iceberg(spark, p, snapshot_id=sids[1]).count() == 100
    # metadata chain: v3 current, metadata-log links the history
    md = load_metadata(p)
    assert current_metadata_version(p) == 3
    assert md["format-version"] == 2
    assert len(md["metadata-log"]) == 2
    assert md["last-sequence-number"] == 3


def test_fast_append_carries_prior_manifests(spark, tmp_path):
    """The O(new-files) append property: snapshot 2's manifest list
    must reference snapshot 1's manifest UNCHANGED plus exactly one
    new manifest."""
    p = tmp_path / "t"
    t = IcebergTable(spark, p)
    t.create(_df(spark, 0, 50))
    md1 = load_metadata(p)
    mlist1 = read_avro_dicts(p / md1["snapshots"][0]["manifest-list"])
    t.append(_df(spark, 50, 100))
    md2 = load_metadata(p)
    mlist2 = read_avro_dicts(p / md2["snapshots"][1]["manifest-list"])
    assert len(mlist2) == len(mlist1) + 1
    carried = {m["manifest_path"] for m in mlist1}
    assert carried <= {m["manifest_path"] for m in mlist2}


def test_overwrite_records_deleted_entries(spark, tmp_path):
    """Spec overwrite shape: replaced files re-enter a manifest as
    status=DELETED (skipped by scans, visible to incremental
    consumers)."""
    p = tmp_path / "t"
    t = IcebergTable(spark, p)
    t.create(_df(spark, 0, 50))
    t.overwrite(_df(spark, 0, 10))
    md = load_metadata(p)
    snap = md["snapshots"][-1]
    mlist = read_avro_dicts(p / snap["manifest-list"])
    deleted = sum(m["deleted_files_count"] for m in mlist)
    added = sum(m["added_files_count"] for m in mlist)
    assert deleted > 0 and added > 0
    # live entries exclude the deleted ones
    assert all(e["status"] != 2 for e in live_entries(p))


def test_concurrent_commit_exclusivity(spark, tmp_path):
    """Two writers race for the same metadata version: exactly one
    wins (create-exclusive os.link), the loser fails cleanly."""
    p = tmp_path / "t"
    a = IcebergTable(spark, p)
    a.create(_df(spark, 0, 10))
    md = load_metadata(p)
    # writer B claims v2 out from under writer A's staged commit
    b = IcebergTable(spark, p)
    b.append(_df(spark, 10, 20))
    with pytest.raises(IcebergMetaError, match="concurrent commit"):
        # A still thinks v1 is current -> claims v2 -> loses
        a._commit(md, base=1)
    assert current_metadata_version(p) == 2
    assert read_iceberg(spark, p).count() == 20


def test_version_hint_fallback(spark, tmp_path):
    """A missing/torn version-hint must fall back to scanning
    v*.metadata.json (the HadoopTables recovery path)."""
    p = tmp_path / "t"
    t = IcebergTable(spark, p)
    t.create(_df(spark, 0, 10))
    t.append(_df(spark, 10, 30))
    hint = p / "metadata" / "version-hint.text"
    hint.unlink()
    assert current_metadata_version(p) == 2
    assert read_iceberg(spark, p).count() == 30
    hint.write_text("garbage")  # torn hint
    assert current_metadata_version(p) == 2


def test_plan_files_prunes_by_bounds_and_never_lies(spark, tmp_path):
    p = tmp_path / "t"
    t = IcebergTable(spark, p)
    t.create(_df(spark, 0, 1000).repartitionByRange(8, "k"))
    plan_all = plan_files(p)
    assert len(plan_all["files"]) == 8
    plan = plan_files(p, predicates=[("k", "<", 10)])
    assert plan["skipped"] >= 6
    # pruning is an optimization, never a semantic: the pruned read
    # returns exactly the filtered rows
    got = read_iceberg(spark, p, predicates=[("k", "<", 10)])
    assert sorted(r.k for r in got.collect()) == list(range(10))
    # equality + upper-range prune
    assert plan_files(p, predicates=[("k", "=", 999)])["skipped"] >= 6
    assert plan_files(p, predicates=[("k", ">", 990)])["skipped"] >= 6
    # a predicate on an unknown column prunes nothing
    assert plan_files(p, predicates=[("zz", "=", 1)])["skipped"] == 0


def test_decimal_column_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    p = tmp_path / "t"
    df = spark.createDataFrame(
        [(1, Decimal("12.34")), (2, Decimal("-0.05"))],
        "k long, amt decimal(10,2)",
    )
    IcebergTable(spark, p).create(df)
    ice = spark_to_iceberg_schema(df.schema)
    assert ice["fields"][1]["type"] == "decimal(10, 2)"
    back = read_iceberg(spark, p)
    assert back.schema["amt"].dataType.simpleString() == "decimal(10,2)"
    assert {r.amt for r in back.collect()} == {
        Decimal("12.34"),
        Decimal("-0.05"),
    }


def test_nested_types_fail_fast(spark):
    df = spark.createDataFrame([(1, [1, 2])], "k long, arr array<int>")
    with pytest.raises(IcebergMetaError, match="unsupported Spark type"):
        spark_to_iceberg_schema(df.schema)


def test_bound_codec_roundtrip():
    import datetime

    cases = [
        (42, "int"),
        (-7, "long"),
        (1.5, "double"),
        (datetime.date(2024, 2, 29), "date"),
        ("abc", "string"),
    ]
    for v, t in cases:
        assert bound_decode(bound_encode(v, t), t) == v


def test_warehouse_scd1_and_history(spark, tmp_path):
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.sinks.warehouse import IcebergMetaWarehouse

    wh = IcebergMetaWarehouse(spark, str(tmp_path / "wh"))
    t = "dim.cust"
    b1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, seg string"
    )
    b2 = spark.createDataFrame(
        [(2, "B"), (3, "c")], "k long, seg string"
    )
    wh.upsert(b1, t, keys=["k"])
    wh.upsert(b2, t, keys=["k"])
    got = {r.k: r.seg for r in wh.read(t).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    # snapshot-0 time travel (ordinal API)
    assert {r.k for r in wh.read_version(t, 0).collect()} == {1, 2}
    hist = wh.history(t)
    assert hist[-1]["current"] and len(hist) >= 2
    with pytest.raises(NotImplementedError):
        wh.append(b1, t, partition_by=["seg"])


def test_position_deletes_mor_semantics(spark, tmp_path):
    """r10: spec v2 POSITION deletes — merge-on-read, overlapping
    deletes evaluate against survivors, the delete_seq >= data_seq
    rule leaves later appends unmasked, time travel intact, zero
    data-file rewrites."""
    from pyspark.sql import functions as F

    p = tmp_path / "t"
    t = IcebergTable(spark, p)
    t.create(
        spark.range(100)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
        .repartition(4)
    )
    n_data = len(list((p / "data").glob("*.parquet")))
    r1 = t.delete_where("k % 10 = 3")
    assert r1["rows_deleted"] == 10
    assert read_iceberg(spark, p).count() == 90
    # no data file rewritten; one delete file added
    files = list((p / "data").glob("*.parquet"))
    assert len(files) == n_data + 1
    # second delete overlaps: only the NEW matches count
    r2 = t.delete_where("k % 10 IN (3, 4)")
    assert r2["rows_deleted"] == 10
    assert read_iceberg(spark, p).count() == 80
    # rows appended after the deletes are not masked by them
    t.append(
        spark.range(100, 110).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("g")
        )
    )
    got = {r.k for r in read_iceberg(spark, p).collect()}
    assert 103 in got and 104 in got and len(got) == 90
    # time travel to pre-delete snapshots
    sids = snapshot_ids(p)
    assert read_iceberg(spark, p, snapshot_id=sids[0]).count() == 100
    assert read_iceberg(spark, p, snapshot_id=sids[1]).count() == 90
    # a no-match delete commits nothing
    assert t.delete_where("k = -1")["rows_deleted"] == 0


def test_position_delete_null_predicate_and_overwrite_reset(spark, tmp_path):
    from pyspark.sql import functions as F

    p = tmp_path / "t"
    t = IcebergTable(spark, p)
    t.create(
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, "c")], "k long, v string"
        )
    )
    # NULL-predicate rows survive (SQL DELETE semantics)
    t.delete_where("v < 'b'")
    assert {r.k for r in read_iceberg(spark, p).collect()} == {2, 3}
    # overwrite drops obsolete delete manifests with everything else
    t.overwrite(spark.createDataFrame([(9, "z")], "k long, v string"))
    plan = plan_files(p)
    assert plan["delete_files"] == []
    assert [r.k for r in read_iceberg(spark, p).collect()] == [9]


def test_schema_evolution_add_and_drop(spark, tmp_path):
    """Spec schema evolution: added columns get FRESH field ids and
    read as NULL from old files (no rewrite); dropped columns vanish
    from reads; old snapshots keep their pinned schema; rename is a
    loud boundary (no parquet field-id metadata -> name-mapping would
    be required)."""
    from pyspark.sql import functions as F

    p = tmp_path / "t"
    t = IcebergTable(spark, p)
    t.create(
        spark.range(5).select(
            F.col("id").alias("k"), F.lit("x").alias("old")
        )
    )
    t.update_schema(add=[("band", "string"), ("score", "double")])
    md = load_metadata(p)
    sch = {f["name"]: f for f in md["schemas"][-1]["fields"]}
    assert sch["band"]["id"] == 3 and sch["score"]["id"] == 4
    assert md["last-column-id"] == 4 and md["current-schema-id"] == 1
    # old files: new columns NULL
    got = read_iceberg(spark, p)
    assert got.columns == ["k", "old", "band", "score"]
    assert all(r.band is None and r.score is None for r in got.collect())
    # append WITH the new columns
    t.append(
        spark.range(5, 8).select(
            F.col("id").alias("k"),
            F.lit("y").alias("old"),
            F.lit("hi").alias("band"),
            F.lit(0.5).alias("score"),
        )
    )
    rows = {r.k: (r.band, r.score) for r in read_iceberg(spark, p).collect()}
    assert rows[6] == ("hi", 0.5) and rows[0] == (None, None)
    # stats for the added column carry the TABLE's field id (4), so
    # pruning on it works for new files and never prunes old ones
    plan = plan_files(p, predicates=[("score", ">", 0.9)])
    assert plan["skipped"] >= 1  # the new file's bounds exclude 0.9?
    # (score=0.5 constant -> upper bound 0.5 < 0.9 prunes new files;
    # old files carry no 'score' stats and are never pruned)
    assert read_iceberg(spark, p, predicates=[("score", ">", 0.9)]).count() == 0
    # drop a column
    t.update_schema(drop=["old"])
    got2 = read_iceberg(spark, p)
    assert got2.columns == ["k", "band", "score"]
    # time travel: the FIRST snapshot reads with its pinned 2-column
    # schema, not the evolved one
    sids = snapshot_ids(p)
    old_read = read_iceberg(spark, p, snapshot_id=sids[0])
    assert old_read.columns == ["k", "old"]
    # guards
    with pytest.raises(IcebergMetaError, match="exists"):
        t.update_schema(add=[("band", "string")])
    with pytest.raises(IcebergMetaError, match="no column"):
        t.update_schema(drop=["zzz"])


def test_equality_deletes_mor_semantics(spark, tmp_path):
    """r10: spec v2 EQUALITY deletes — delete-by-key with zero
    data-file rewrites, the STRICTLY-GREATER sequence rule (a key
    re-appended after the delete is visible again), null-safe tuple
    matching, and composition with position deletes."""
    from pyspark.sql import functions as F

    p = tmp_path / "t"
    t = IcebergTable(spark, p)
    t.create(
        spark.range(20)
        .select(F.col("id").alias("k"), (F.col("id") % 3).alias("g"))
        .repartition(2)
    )
    n_data = len(list((p / "data").glob("*.parquet")))
    r = t.equality_delete(
        spark.createDataFrame([(3,), (7,), (7,)], "k long"), ["k"]
    )
    assert r["delete_markers"] == 2  # distinct tuples only
    got = {x.k for x in read_iceberg(spark, p).collect()}
    assert got == set(range(20)) - {3, 7}
    # zero data files rewritten; one delete file added
    assert len(list((p / "data").glob("*.parquet"))) == n_data + 1
    # STRICTLY greater: re-appending the key makes it visible again
    t.append(spark.createDataFrame([(7, 99)], "k long, g long"))
    rows = {(x.k, x.g) for x in read_iceberg(spark, p).collect()}
    assert (7, 99) in rows and len(rows) == 19
    # multi-column tuple match only kills exact combinations
    t.equality_delete(
        spark.createDataFrame([(7, 99), (5, 0)], "k long, g long"),
        ["k", "g"],
    )
    got = {(x.k, x.g) for x in read_iceberg(spark, p).collect()}
    assert (7, 99) not in got and (5, 2) in got and len(got) == 18
    # time travel: pre-delete snapshot unaffected
    assert read_iceberg(spark, p, snapshot_id=snapshot_ids(p)[0]).count() == 20
    # composition with a position delete on the MOR view
    t.delete_where("k = 11")
    assert read_iceberg(spark, p).count() == 17
    # a delete matching nothing still commits its markers (the CDC
    # shape: markers are keys, not matched positions)
    v = t.equality_delete(spark.createDataFrame([(500,)], "k long"), ["k"])
    assert v["delete_markers"] == 1
    assert read_iceberg(spark, p).count() == 17


def test_equality_delete_null_matching_and_guards(spark, tmp_path):
    """NULL delete values match NULL row values (spec null equality);
    unknown columns and dropped-column field ids are loud errors."""
    p = tmp_path / "t"
    t = IcebergTable(spark, p)
    t.create(
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, None), (4, "d")], "k long, v string"
        )
    )
    t.equality_delete(
        spark.createDataFrame([(None,)], "v string"), ["v"]
    )
    assert {r.k for r in read_iceberg(spark, p).collect()} == {1, 4}
    with pytest.raises(IcebergMetaError, match="not in the"):
        t.equality_delete(
            spark.createDataFrame([(1,)], "zz long"), ["zz"]
        )
    # dropping the matched column makes the delete unapplicable: loud
    t.update_schema(drop=["v"])
    with pytest.raises(IcebergMetaError, match="field id"):
        read_iceberg(spark, p).collect()


def test_equality_delete_overwrite_reset_and_orphan_protection(
    spark, tmp_path
):
    """Equality-delete files are LIVE data: the delete snapshot's plan
    references its file, so no orphan sweep may take it; an overwrite
    drops the obsolete delete manifests with everything else."""
    p = tmp_path / "t"
    t = IcebergTable(spark, p)
    t.create(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
    )
    t.equality_delete(spark.createDataFrame([(2,)], "k long"), ["k"])
    eq_files = [
        f.name for f in (p / "data").glob("*.parquet") if "eq-deletes" in f.name
    ]
    assert len(eq_files) == 1
    # referenced by the delete snapshot's plan
    planned = [Path(f["resolved"]).name for f in plan_files(p)["eq_delete_files"]]
    assert planned == eq_files
    assert {r.k for r in read_iceberg(spark, p).collect()} == {1, 3}
    # overwrite resets the manifest set: no delete files planned
    t.overwrite(spark.createDataFrame([(9, "z")], "k long, v string"))
    plan = plan_files(p)
    assert plan["eq_delete_files"] == []
    assert [r.k for r in read_iceberg(spark, p).collect()] == [9]
    # time travel through the delete snapshot still works (the eq
    # delete file stays referenced by history until snapshots expire)
    sids = snapshot_ids(p)
    assert {
        r.k for r in read_iceberg(spark, p, snapshot_id=sids[1]).collect()
    } == {1, 3}


def test_writes_refuse_columns_the_schema_lacks(spark, tmp_path):
    """An append or overwrite never changes the schema: a batch column
    the current schema lacks would be staged into the files but never
    read, so the write is refused and the table is unchanged. Evolution
    goes through update_schema."""
    from lakehouse_poc_spark.sinks.warehouse import IcebergMetaWarehouse

    wh = IcebergMetaWarehouse(spark, str(tmp_path / "wh"))
    t = "dim.w"
    wh.overwrite(spark.createDataFrame([(1, "a")], "k long, a string"), t)
    v = wh.version(t)
    wide = spark.createDataFrame([(2, "b", "x")], "k long, a string, b string")
    for write in (wh.append, wh.overwrite):
        with pytest.raises(IcebergMetaError, match=r"\['b'\]"):
            write(wide, t)
    assert wh.version(t) == v
    assert [tuple(r) for r in wh.read(t).collect()] == [(1, "a")]
    IcebergTable(spark, wh.path(t)).update_schema(add=[("b", "string")])
    wh.append(wide, t)
    assert sorted(tuple(r) for r in wh.read(t).collect()) == [
        (1, "a", None), (2, "b", "x"),
    ]


def test_partition_evolution_orders_plans_from_date_bounds(
    spark, tmp_path, monkeypatch
):
    """The query's evolved layout (about a file per year before 1996,
    a file per month after) lets Iceberg planning skip files by their
    date bounds alone, and the month counts equal a full scan."""
    import datetime

    from pyspark.sql import functions as F

    from lakehouse_poc_spark.plans import etlops

    start = datetime.datetime(1992, 1, 1)
    rows = [
        (i, start + datetime.timedelta(days=i % 2400), float(i % 97) + 0.25)
        for i in range(4000)
    ]
    sf = tmp_path / "sf"
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate timestamp, o_totalprice double"
    ).write.parquet(str(sf / "orders.parquet"))
    monkeypatch.setattr(etlops, "SCRATCH", tmp_path / "scratch")
    got = [tuple(r) for r in etlops.partition_evolution_orders(spark, str(sf)).collect()]

    table = tmp_path / "scratch" / "pevo_sf" / "layer0100" / "orders_evolved"
    plan = plan_files(
        table,
        predicates=[
            ("o_orderdate", ">=", datetime.date(1995, 6, 1)),
            ("o_orderdate", "<=", datetime.date(1996, 3, 31)),
        ],
    )
    assert plan["skipped"] >= len(live_entries(table)) // 2
    assert 0 < len(plan["files"]) < 10
    full = (
        spark.read.parquet(str(sf / "orders.parquet"))
        .withColumn("ym", F.date_format("o_orderdate", "yyyy-MM"))
        .filter(F.col("ym").isin("1995-06", "1996-03"))
        .groupBy("ym")
        .agg(
            F.count(F.lit(1)).cast("bigint"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)")).cast("double"),
        )
        .orderBy("ym")
    )
    assert got == [tuple(r) for r in full.collect()]
    assert [g[0] for g in got] == ["1995-06", "1996-03"]
