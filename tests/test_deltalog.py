"""Delta transaction-log protocol (sources/deltalog.py): the on-disk
contract per the public delta-io PROTOCOL.md — commit naming, action
shapes, replay semantics, time travel, commit mutual exclusion, and
the protocol-version floor. These execute REAL log mechanics (no
delta-spark), so the Delta interop story is tested code, not mocks."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from lakehouse_poc_spark.sinks.warehouse import Warehouse
from lakehouse_poc_spark.sources.deltalog import (
    DeltaLogError,
    DeltaLogWriter,
    current_version,
    read_delta,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def _declare_generated(path, col, expr):
    """Commit ``col GENERATED ALWAYS AS (expr)`` the way another Delta
    writer would: the spec's ``delta.generationExpression`` key in the
    column's schema-field metadata, with minWriterVersion raised to 4.
    ``DeltaLogWriter`` enforces generated columns it finds in a table;
    it does not declare them."""
    from lakehouse_poc_spark.sources.deltalog import _replay

    state = _replay(path, None)
    md = dict(state["metaData"])
    schema = json.loads(md["schemaString"])
    for f in schema["fields"]:
        if f["name"] == col:
            f["metadata"] = {
                **(f.get("metadata") or {}),
                "delta.generationExpression": expr,
            }
    md["schemaString"] = json.dumps(schema)
    protocol = {
        "minReaderVersion": int(state.get("min_reader", 1) or 1),
        "minWriterVersion": max(4, int(state.get("min_writer", 2) or 2)),
    }
    actions = [
        {"commitInfo": {"timestamp": 0, "operation": "SET GENERATED"}},
        {"protocol": protocol},
        {"metaData": md},
    ]
    version = current_version(path) + 1
    (path / "_delta_log" / f"{version:020d}.json").write_text(
        "".join(json.dumps(a) + "\n" for a in actions)
    )


def test_commit_files_and_action_shapes_match_spec(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(_df(spark, [(1, "a"), (2, "b")]))
    w.append(_df(spark, [(3, "c")]))
    log = p / "_delta_log"
    names = sorted(f.name for f in log.glob("*.json"))
    assert names == [f"{0:020d}.json", f"{1:020d}.json"]
    actions0 = [
        json.loads(line) for line in names and (log / names[0]).read_text().splitlines()
    ]
    kinds = [next(iter(a)) for a in actions0]
    assert kinds[0] == "commitInfo"
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds
    proto = next(a["protocol"] for a in actions0 if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = next(a["metaData"] for a in actions0 if "metaData" in a)
    assert meta["format"]["provider"] == "parquet"
    schema = json.loads(meta["schemaString"])
    assert [f["name"] for f in schema["fields"]] == ["id", "v"]
    add = next(a["add"] for a in actions0 if "add" in a)
    assert add["dataChange"] is True and add["partitionValues"] == {}
    assert (p / add["path"]).exists() and add["size"] > 0


def test_replay_append_overwrite_and_time_travel(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(_df(spark, [(1, "a"), (2, "b")]))          # v0
    w.append(_df(spark, [(3, "c")]))                     # v1
    w.overwrite(_df(spark, [(9, "z")]))                  # v2
    assert current_version(p) == 2
    assert sorted(r.id for r in read_delta(spark, p).collect()) == [9]
    assert sorted(r.id for r in read_delta(spark, p, 1).collect()) == [1, 2, 3]
    assert sorted(r.id for r in read_delta(spark, p, 0).collect()) == [1, 2]
    # overwrite recorded remove actions for every v1-live file
    acts = [
        json.loads(line)
        for line in (p / "_delta_log" / f"{2:020d}.json").read_text().splitlines()
    ]
    removed = [a["remove"]["path"] for a in acts if "remove" in a]
    assert len(removed) >= 1 and all((p / f).exists() for f in removed)


def test_commit_mutual_exclusion(spark, tmp_path):
    """The spec's LogStore contract: two writers racing for the SAME
    version — exactly one commit lands; the loser errors instead of
    silently overwriting (the commit point is a create-exclusive
    link, not a clobbering rename)."""
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(_df(spark, [(1, "a")]))
    contested = current_version(p) + 1  # both writers target v1
    # an interloper claims v1 first
    (p / "_delta_log" / f"{contested:020d}.json").write_text(
        json.dumps({"commitInfo": {"operation": "interloper"}}) + "\n"
    )
    with pytest.raises(DeltaLogError, match="concurrent commit"):
        w._commit([], "WRITE", version=contested)
    assert current_version(p) == 1  # the interloper's commit stands
    assert "interloper" in (
        p / "_delta_log" / f"{contested:020d}.json"
    ).read_text()


def test_protocol_floor_rejects_newer_reader_requirement(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(_df(spark, [(1, "a")]))
    log = p / "_delta_log" / f"{1:020d}.json"
    log.write_text(json.dumps({"protocol": {"minReaderVersion": 3}}) + "\n")
    with pytest.raises(DeltaLogError, match="minReaderVersion=3"):
        read_delta(spark, p)
    # ...but the pre-upgrade version still reads
    assert read_delta(spark, p, 0).count() == 1


def test_empty_state_reads_schema_from_metadata(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(_df(spark, [(1, "a")]))
    w.overwrite(_df(spark, []).filter(F.lit(False)))
    out = read_delta(spark, p)
    assert out.count() == 0 and out.columns == ["id", "v"]


def test_version_out_of_range_fails_fast(spark, tmp_path):
    p = tmp_path / "t"
    DeltaLogWriter(spark, p).create(_df(spark, [(1, "a")]))
    with pytest.raises(DeltaLogError, match="version 5"):
        read_delta(spark, p, 5)


# ---------------------------------------------------------------------------
# Warehouse: the warehouse API on protocol storage.


def test_deltalog_warehouse_roundtrip_and_history(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "dim.t"
    assert not wh.table_exists(t)
    wh.overwrite(_df(spark, [(1, "a"), (2, "b")]), t)
    wh.append(_df(spark, [(3, "c")]), t)
    assert wh.table_exists(t) and wh.version(t) == 1
    assert sorted(r.id for r in wh.read(t).collect()) == [1, 2, 3]
    assert wh.read_version(t, 0).count() == 2
    ops = [h["op"] for h in wh.history(t)]
    assert ops == ["CREATE TABLE AS SELECT", "WRITE"]
    # a real Delta log exists on disk
    assert (wh.path(t) / "_delta_log" / f"{0:020d}.json").exists()


def test_deltalog_warehouse_upsert_and_scd2_ride_rewrite_engines(
    spark, tmp_path
):
    """The inherited SCD engines must route through the log (no
    path mechanics): upsert twice, then verify state AND that every
    state change was a commit."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "dim.u"
    wh.upsert(_df(spark, [(1, "a"), (2, "b")]), t, keys=["id"])
    wh.upsert(_df(spark, [(2, "B"), (3, "c")]), t, keys=["id"])
    rows = {r.id: r.v for r in wh.read(t).collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}
    assert wh.version(t) == 1  # create + one rewrite commit
    # time travel still shows the pre-upsert state
    assert {r.id: r.v for r in wh.read_version(t, 0).collect()} == {
        1: "a", 2: "b",
    }


def test_deltalog_warehouse_restore_preserves_history(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "dim.r"
    wh.overwrite(_df(spark, [(1, "a")]), t)
    wh.overwrite(_df(spark, [(2, "b")]), t)
    v = wh.restore(t, 0)
    assert v == 2
    assert [r.id for r in wh.read(t).collect()] == [1]
    assert [r.id for r in wh.read_version(t, 1).collect()] == [2]  # kept


def test_deltalog_warehouse_path_mechanics_fail_fast(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(_df(spark, [(1, "a")]), "dim.t")
    # the file-pruned upsert is a log commit, not a file move
    wh.upsert_file_pruned(_df(spark, [(1, "x")]), "dim.t", keys=["id"])
    assert wh.version("dim.t") == 1
    assert [(r.id, r.v) for r in wh.read("dim.t").collect()] == [(1, "x")]
    # an unpartitioned table stays unpartitioned: the spec is immutable
    with pytest.raises(DeltaLogError, match="partition spec mismatch"):
        wh.append(_df(spark, [(1, "a")]), "dim.t", partition_by=["id"])
    # the rewrite the refusals point to commits through the log
    wh.delete_where("dim.t", "id = 1")
    assert wh.version("dim.t") == 2 and wh.read("dim.t").count() == 0


def _clustered(spark, wh, t, n=500, files=8):
    wh.overwrite(
        spark.range(n)
        .selectExpr("id", "'base' AS v")
        .repartitionByRange(files, "id"),
        t,
    )


def test_deltalog_file_pruned_upsert_is_one_cow_commit(spark, tmp_path):
    """Delta's copy-on-write MERGE: a batch whose keys sit in one file
    rewrites that file only, and the remove + add actions land in ONE
    commit. The superseded file stays readable through read_version
    until vacuum retires it."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "dim.k"
    _clustered(spark, wh, t)
    n_files = len(wh._data_files(t))
    batch = _df(spark, [(10, "new"), (11, "new"), (5000, "ins")])
    stats = wh.upsert_file_pruned(batch, t, keys=["id"])
    assert stats["files_total"] == n_files
    assert 0 < stats["files_rewritten"] < n_files
    assert wh.version(t) == 1  # one commit
    ops = [h["op"] for h in wh.history(t)]
    assert ops[-1] == "MERGE"
    got = wh.read(t)
    assert got.count() == got.select("id").distinct().count() == 501
    assert {r.id: r.v for r in got.filter("v <> 'base'").collect()} == {
        10: "new", 11: "new", 5000: "ins",
    }
    # the superseded file is still on disk: version 0 reads unchanged
    on_disk = len(list(wh.path(t).glob("*.parquet")))
    assert on_disk > len(wh._data_files(t))
    v0 = wh.read_version(t, 0)
    assert v0.count() == 500 and v0.filter("v <> 'base'").count() == 0
    # until vacuum retires it; the live state is untouched
    assert wh.vacuum(min_age=0) == stats["files_rewritten"]
    assert len(list(wh.path(t).glob("*.parquet"))) == len(wh._data_files(t))
    with pytest.raises(Exception):
        wh.read_version(t, 0).collect()
    assert wh.read(t).count() == 501


def test_deltalog_file_pruned_concurrent_reader_never_sees_duplicates(
    spark, tmp_path
):
    """While a writer loops file-pruned upserts over a fixed key set,
    a concurrent reader must never observe duplicate keys or a wrong
    row count: every read replays one committed version, and each
    upsert's removes and adds are one commit."""
    import threading

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "dim.race"
    _clustered(spark, wh, t, n=1000, files=4)
    stop = threading.Event()
    errors: list[Exception] = []
    anomalies: list[tuple[int, int]] = []
    reads = [0]

    def writer() -> None:
        try:
            for i in range(8):
                lo = (i * 97) % 900
                batch = _df(spark, [(lo + j, f"w{i}") for j in range(50)])
                wh.upsert_file_pruned(batch, t, keys=["id"])
        except Exception as exc:
            errors.append(exc)
        finally:
            stop.set()

    def reader() -> None:
        try:
            while not stop.is_set():
                n, nd = wh.read(t).agg(
                    F.count(F.lit(1)), F.countDistinct("id")
                ).collect()[0]
                reads[0] += 1
                if n != 1000 or nd != 1000:
                    anomalies.append((n, nd))
        except Exception as exc:
            errors.append(exc)

    rt = threading.Thread(target=reader)
    wt = threading.Thread(target=writer)
    rt.start()
    wt.start()
    wt.join(timeout=600)
    rt.join(timeout=120)
    assert not wt.is_alive() and not rt.is_alive()
    assert not errors, errors
    assert reads[0] > 0
    assert not anomalies, f"reader saw inconsistent snapshots: {anomalies}"
    assert wh.version(t) == 8
    assert wh.read(t).select("id").distinct().count() == 1000


def test_deltalog_file_pruned_upsert_aborts_on_interleaved_commit(
    spark, tmp_path, monkeypatch
):
    """A commit landing between the touched-file listing and the swap
    fails the upsert (it claims exactly the version after its
    snapshot), reclaims its staged files and leaves the interloper's
    commit standing — a lost update is impossible."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "dim.occ"
    _clustered(spark, wh, t, n=100, files=4)
    orig = DeltaLogWriter._stage_checked
    raced: list[str] = []

    def racing(self, df, state):
        if not raced:  # the listing is done: an append lands now
            raced.append("append")
            wh.append(_df(spark, [(10, "racer")]), t)
            raced.extend(f.name for f in wh.path(t).glob("*.parquet"))
        return orig(self, df, state)

    monkeypatch.setattr(DeltaLogWriter, "_stage_checked", racing)
    with pytest.raises(DeltaLogError, match="concurrent commit at version 1"):
        wh.upsert_file_pruned(_df(spark, [(10, "lost")]), t, keys=["id"])
    assert raced and wh.version(t) == 1
    # no staged file survives, no staging dir either
    assert sorted(f.name for f in wh.path(t).glob("*.parquet")) == sorted(
        raced[1:]
    )
    assert not list(wh.root.glob("**/*__dl_stage.*"))
    got = wh.read(t)
    assert got.count() == 101
    assert [r.v for r in got.filter("id = 10").collect()] == ["base", "racer"]


def test_deltalog_file_pruned_upsert_refuses_deletion_vectors(spark, tmp_path):
    """The touched-file listing needs each row's file, which a
    DV-masked scan does not carry: the upsert refuses until a compact
    folds the vectors in, then runs as usual."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "dim.dv"
    _clustered(spark, wh, t, n=100, files=4)
    DeltaLogWriter(spark, wh.path(t)).delete_where_dv("id = 3")
    batch = _df(spark, [(5, "new")])
    with pytest.raises(NotImplementedError, match="deletion vectors"):
        wh.upsert_file_pruned(batch, t, keys=["id"])
    wh.compact(t, target_files=2)
    assert wh.upsert_file_pruned(batch, t, keys=["id"])["files_rewritten"] == 1
    got = {r.id: r.v for r in wh.read(t).collect()}
    assert len(got) == 99 and 3 not in got and got[5] == "new"


def test_vacuum_ages_a_dropped_file_by_its_remove_action(spark, tmp_path):
    """A file that lived long and was dropped by a fresh commit is
    still listed by the version before it, so a reader that planned
    that version may be reading it: VACUUM keeps it for the retention
    counted from the remove action, not from the file's mtime. The
    tombstone survives a checkpoint."""
    import os
    import time

    from lakehouse_poc_spark.sources.deltalog import write_checkpoint

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "dim.old"
    wh.overwrite(_df(spark, [(1, "a"), (2, "b")]), t)
    old = wh._data_files(t)
    for f in old:  # written a day ago
        os.utime(f, (time.time() - 86400, time.time() - 86400))
    wh.overwrite(_df(spark, [(3, "c")]), t)  # drops them now
    write_checkpoint(wh.path(t))
    assert wh.vacuum(min_age=900) == 0
    assert all(f.exists() for f in old)
    assert wh.read_version(t, 0).count() == 2
    # an orphan no remove names still ages by its mtime
    orphan = wh.path(t) / "part-orphan.parquet"
    orphan.write_bytes(b"x")
    os.utime(orphan, (time.time() - 86400, time.time() - 86400))
    assert wh.vacuum(min_age=900) == 1 and not orphan.exists()
    assert wh.vacuum(min_age=0) == len(old)
    assert [r.id for r in wh.read(t).collect()] == [3]


def test_overwrite_widens_schema_and_append_refuses_new_columns(
    spark, tmp_path
):
    """Delta's overwrite-schema shape: an overwrite whose batch carries
    new columns commits a metaData that keeps the committed fields (and
    the table id) and appends the new ones; the old version still reads
    its old schema. An append never changes the schema: it refuses."""
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(spark.createDataFrame([(1, "a")], "k long, a string"))
    table_id = json.loads(
        (p / "_delta_log" / f"{0:020d}.json").read_text().splitlines()[2]
    )["metaData"]["id"]
    with pytest.raises(DeltaLogError, match=r"\['z'\]"):
        w.append(spark.createDataFrame([(2, "b", 9)], "k long, a string, z long"))
    assert current_version(p) == 0
    w.overwrite(
        spark.createDataFrame([("x", 3, "c")], "b string, k long, a string")
    )
    got = read_delta(spark, p)
    assert got.columns == ["k", "a", "b"]
    assert [tuple(r) for r in got.collect()] == [(3, "c", "x")]
    assert read_delta(spark, p, version=0).columns == ["k", "a"]
    meta = [
        json.loads(line)["metaData"]
        for line in (p / "_delta_log" / f"{1:020d}.json").read_text().splitlines()
        if line.startswith('{"metaData"')
    ]
    assert len(meta) == 1 and meta[0]["id"] == table_id
    # a retyped column takes the batch's type: no live file keeps the old
    w.overwrite(spark.createDataFrame([(5, 7, "z")], "k long, a long, b string"))
    assert dict(read_delta(spark, p).dtypes)["a"] == "bigint"
    assert [tuple(r) for r in read_delta(spark, p).collect()] == [(5, 7, "z")]
    assert read_delta(spark, p, version=1).collect()[0]["a"] == "c"
    # a column-mapped table cannot take new fields this way
    w.rename_column("a", "a2")
    with pytest.raises(DeltaLogError, match="column-mapped"):
        w.overwrite(
            spark.createDataFrame([(4, "d", "y", 1)], "k long, a2 string, b string, q long")
        )


def test_deltalog_warehouse_compact_is_one_commit_same_data(spark, tmp_path):
    """OPTIMIZE on the protocol store: many small files → one commit
    whose adds replace them; data identical, pre-compaction version
    still readable (time travel intact)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "dim.c"
    for i in range(4):
        wh.append(spark.range(i * 10, (i + 1) * 10).selectExpr("id"), t)
    v_before = wh.version(t)
    n_files_before = len(list(wh.path(t).glob("*.parquet")))
    wh.compact(t, target_files=1)
    assert wh.version(t) == v_before + 1  # exactly one commit
    from lakehouse_poc_spark.sources.deltalog import _replay

    live = _replay(wh.path(t), None)["files"]
    assert len(live) < n_files_before
    assert sorted(r.id for r in wh.read(t).collect()) == list(range(40))
    assert wh.read_version(t, v_before).count() == 40  # pre-compaction view


def test_deltalog_warehouse_vacuum_respects_latest_and_age(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "dim.v"
    wh.overwrite(_df(spark, [(1, "a")]), t)
    wh.overwrite(_df(spark, [(2, "b")]), t)
    # young unreferenced files are spared by the retention window
    assert wh.vacuum() == 0
    assert wh.read_version(t, 0).count() == 1
    # forcing age 0 sweeps them; latest still reads, old version fails
    n = wh.vacuum(min_age=0)
    assert n >= 1
    assert [r.id for r in wh.read(t).collect()] == [2]
    import pytest as _pt

    from lakehouse_poc_spark.sources.deltalog import DeltaLogError  # noqa: F401

    with _pt.raises(Exception):
        wh.read_version(t, 0).collect()


def test_checkpoint_roundtrip_and_fast_open(spark, tmp_path):
    from lakehouse_poc_spark.sources.deltalog import write_checkpoint

    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(_df(spark, [(1, "a")]))
    for i in range(2, 6):
        w.append(_df(spark, [(i, "x")]))
    full_before = sorted(
        r["id"] for r in read_delta(spark, p).collect()
    )
    ck = write_checkpoint(p)
    assert ck.name == f"{current_version(p):020d}.checkpoint.parquet"
    ptr = json.loads((p / "_delta_log" / "_last_checkpoint").read_text())
    assert ptr["version"] == current_version(p)
    # checkpointed open == full replay
    assert sorted(r["id"] for r in read_delta(spark, p).collect()) == full_before
    # commits after the checkpoint replay on top of it
    w.append(_df(spark, [(99, "z")]))
    ids = sorted(r["id"] for r in read_delta(spark, p).collect())
    assert ids == full_before + [99]
    # time travel BELOW the checkpoint still works while JSONs survive
    assert len(read_delta(spark, p, version=0).collect()) == 1


def test_checkpoint_survives_log_clean(spark, tmp_path):
    from lakehouse_poc_spark.sources.deltalog import (
        write_checkpoint,
    )

    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(_df(spark, [(1, "a")]))
    w.append(_df(spark, [(2, "b")]))
    w.overwrite(_df(spark, [(7, "q"), (8, "r")]))
    write_checkpoint(p)
    v = current_version(p)
    # clean every JSON commit ≤ checkpoint (the spec's log retention)
    for f in (p / "_delta_log").glob("*.json"):
        if int(f.stem) <= v:
            f.unlink()
    # latest state opens from the checkpoint alone
    assert sorted(r["id"] for r in read_delta(spark, p).collect()) == [7, 8]
    assert current_version(p) == v
    # ...and writers continue on top
    w.append(_df(spark, [(9, "s")]))
    assert sorted(r["id"] for r in read_delta(spark, p).collect()) == [7, 8, 9]
    # time travel below the horizon fails FAST and says why
    with pytest.raises(DeltaLogError, match="truncated|checkpoint"):
        read_delta(spark, p, version=0)


def test_auto_checkpoint_cadence(spark, tmp_path):
    from lakehouse_poc_spark.sources import deltalog as dl

    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(_df(spark, [(0, "a")]))
    for i in range(1, dl.CHECKPOINT_INTERVAL + 1):
        w.append(_df(spark, [(i, "x")]))
    cks = list((p / "_delta_log").glob("*.checkpoint.parquet"))
    assert [c.name for c in cks] == [
        f"{dl.CHECKPOINT_INTERVAL:020d}.checkpoint.parquet"
    ]
    assert (p / "_delta_log" / "_last_checkpoint").exists()
    assert read_delta(spark, p).count() == dl.CHECKPOINT_INTERVAL + 1


def test_partitioned_table_spec_layout_and_pruning(spark, tmp_path):
    from lakehouse_poc_spark.sources.deltalog import read_delta

    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    df = spark.createDataFrame(
        [(1, "1995", 10.0), (2, "1995", 20.0), (3, "1996", 30.0)],
        "id long, y string, v double",
    )
    w.create_partitioned(df, ["y"])
    # spec layout: data files EXCLUDE the partition column; the log
    # carries partitionValues; metaData declares partitionColumns
    log = p / "_delta_log"
    actions = [
        json.loads(line)
        for line in (log / f"{0:020d}.json").read_text().splitlines()
    ]
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["partitionColumns"] == ["y"]
    adds = [a["add"] for a in actions if "add" in a]
    assert sorted(a["partitionValues"]["y"] for a in adds) == [
        "1995",
        "1996",
    ]
    import pyarrow.parquet as pq

    cols = pq.read_schema(str(p / adds[0]["path"])).names
    assert "y" not in cols and {"id", "v"} <= set(cols)
    # reconstitution: full read returns all columns, exact rows
    got = read_delta(spark, p).orderBy("id").collect()
    assert [(r["id"], r["y"], r["v"]) for r in got] == [
        (1, "1995", 10.0),
        (2, "1995", 20.0),
        (3, "1996", 30.0),
    ]
    # partition pruning by metadata
    pruned = read_delta(spark, p, partition_filters={"y": ["1996"]})
    assert [r["id"] for r in pruned.collect()] == [3]
    # append with the same spec works; a different spec fails fast
    w.append_partitioned(
        spark.createDataFrame([(4, "1996", 40.0)], "id long, y string, v double"),
        ["y"],
    )
    assert read_delta(spark, p).count() == 4
    with pytest.raises(DeltaLogError, match="spec mismatch"):
        w.append_partitioned(
            spark.createDataFrame([(9, "x", 1.0)], "id long, v2 string, v double"),
            ["v2"],
        )


def test_partitioned_values_survive_checkpoint(spark, tmp_path):
    from lakehouse_poc_spark.sources.deltalog import (
        read_delta,
        write_checkpoint,
    )

    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create_partitioned(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "id long, k string, v double"
        ),
        ["k"],
    )
    w.append_partitioned(
        spark.createDataFrame([(3, "b", 3.0)], "id long, k string, v double"),
        ["k"],
    )
    write_checkpoint(p)
    # clean the JSON log: state must come from the checkpoint alone,
    # including partitionValues and partitionColumns
    v = current_version(p)
    for f in (p / "_delta_log").glob("*.json"):
        if int(f.stem) <= v:
            f.unlink()
    got = read_delta(spark, p).orderBy("id").collect()
    assert [(r["id"], r["k"]) for r in got] == [(1, "a"), (2, "b"), (3, "b")]
    pruned = read_delta(spark, p, partition_filters={"k": ["b"]})
    assert sorted(r["id"] for r in pruned.collect()) == [2, 3]


def test_add_actions_carry_stats_and_skipping_prunes(spark, tmp_path):
    from lakehouse_poc_spark.sources.deltalog import (
        files_skipped_by_stats,
        write_checkpoint,
    )

    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    # two appends with DISJOINT id ranges → two files with disjoint
    # min/max stats
    w.create(spark.range(0, 100).selectExpr("id", "id * 2 AS v"))
    w.append(spark.range(1000, 1100).selectExpr("id", "id * 2 AS v"))
    actions = [
        json.loads(line)
        for f in sorted((p / "_delta_log").glob("*.json"))
        for line in f.read_text().splitlines()
    ]
    adds = [a["add"] for a in actions if "add" in a]
    stats = [json.loads(a["stats"]) for a in adds if a.get("stats")]
    assert stats and all("minValues" in s and "numRecords" in s for s in stats)
    ids = sorted((s["minValues"]["id"], s["maxValues"]["id"]) for s in stats)
    assert ids[0][0] == 0 and ids[-1][1] == 1099
    # skipping: a range query touching only the second file keeps one
    keep, total = files_skipped_by_stats(p, "id", 1050, 1060)
    assert total >= 2 and len(keep) < total
    kept_rows = spark.read.parquet(
        *[str(p / n) for n in keep]
    ).filter("id BETWEEN 1050 AND 1060")
    assert kept_rows.count() == 11
    # stats survive the checkpoint (spec: stats is a checkpoint column)
    write_checkpoint(p)
    v = current_version(p)
    for f in (p / "_delta_log").glob("*.json"):
        if int(f.stem) <= v:
            f.unlink()
    keep2, total2 = files_skipped_by_stats(p, "id", 1050, 1060)
    assert sorted(keep2) == sorted(keep) and total2 == total


def test_deltalog_optimize_conflict_preserves_raced_append(
    spark, tmp_path, monkeypatch
):
    from lakehouse_poc_spark.sources.deltalog import DeltaLogWriter as DLW

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "dim.optrace"
    wh.append(spark.range(10).selectExpr("id"), t)
    orig = DLW._stage
    raced = []

    def stage_then_append(self, df):
        adds = orig(self, df)
        if not raced:
            raced.append(True)
            wh2 = Warehouse(spark, str(tmp_path / "wh"))
            wh2.append(spark.range(100, 105).selectExpr("id"), t)
        return adds

    monkeypatch.setattr(DLW, "_stage", stage_then_append)
    with pytest.raises(DeltaLogError, match="concurrent commit"):
        wh.compact(t, target_files=1)
    # the raced append survives; the aborted rewrite left no files live
    assert sorted(r.id for r in wh.read(t).collect()) == list(range(10)) + [
        100,
        101,
        102,
        103,
        104,
    ]


def test_check_constraints_stored_and_enforced(spark, tmp_path):
    from lakehouse_poc_spark.sources.deltalog import write_checkpoint

    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(_df(spark, [(1, "a"), (2, "b")]))
    w.set_check_constraint("id_positive", "id > 0")
    # stored the spec's way: a delta.constraints.* table property
    last = sorted((p / "_delta_log").glob("*.json"))[-1]
    meta = next(
        a["metaData"]
        for a in map(json.loads, last.read_text().splitlines())
        if "metaData" in a
    )
    assert meta["configuration"]["delta.constraints.id_positive"] == "id > 0"
    # good batch passes; violating batch is rejected WHOLE with counts
    w.append(_df(spark, [(3, "c")]))
    with pytest.raises(DeltaLogError, match="id_positive.*2 rows"):
        w.append(_df(spark, [(-1, "x"), (0, "y"), (9, "z")]))
    assert read_delta(spark, p).count() == 3  # nothing from the bad batch
    # ADD CONSTRAINT validates existing rows
    with pytest.raises(DeltaLogError, match="existing"):
        w.set_check_constraint("id_small", "id < 2")
    # constraints survive checkpoints (configuration is a checkpoint col)
    write_checkpoint(p)
    v = current_version(p)
    for f in (p / "_delta_log").glob("*.json"):
        if int(f.stem) <= v:
            f.unlink()
    w2 = DeltaLogWriter(spark, p)
    with pytest.raises(DeltaLogError, match="id_positive"):
        w2.append(_df(spark, [(-5, "q")]))
    # NULL passes (SQL CHECK semantics)
    w2.append(_df(spark, [(None, "n")]))
    assert read_delta(spark, p).count() == 4


def test_txn_idempotent_appends_exactly_once(spark, tmp_path):
    from lakehouse_poc_spark.sources.deltalog import write_checkpoint

    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    app = "stream-42"
    assert w.append_txn(_df(spark, [(1, "a")]), app, 0) is not None
    assert w.append_txn(_df(spark, [(2, "b")]), app, 1) is not None
    # retry of batch 1 (a foreachBatch redelivery): NO-OP
    assert w.append_txn(_df(spark, [(2, "b")]), app, 1) is None
    assert w.append_txn(_df(spark, [(2, "b")]), app, 0) is None
    assert sorted(r.id for r in read_delta(spark, p).collect()) == [1, 2]
    # a different appId is an independent ledger
    assert w.append_txn(_df(spark, [(9, "z")]), "other-app", 0) is not None
    assert read_delta(spark, p).count() == 3
    # the marker action is in the log, spec shape
    actions = [
        json.loads(line)
        for f in sorted((p / "_delta_log").glob("*.json"))
        for line in f.read_text().splitlines()
    ]
    txns = [a["txn"] for a in actions if "txn" in a]
    assert {(t["appId"], t["version"]) for t in txns} == {
        (app, 0),
        (app, 1),
        ("other-app", 0),
    }
    # ledger survives checkpoint + log clean (spec: newest txn per
    # appId must be in every checkpoint)
    write_checkpoint(p)
    v = current_version(p)
    for f in (p / "_delta_log").glob("*.json"):
        if int(f.stem) <= v:
            f.unlink()
    w2 = DeltaLogWriter(spark, p)
    assert w2.append_txn(_df(spark, [(3, "c")]), app, 1) is None  # replay
    assert w2.append_txn(_df(spark, [(3, "c")]), app, 2) is not None
    assert read_delta(spark, p).count() == 4


def test_generated_columns_computed_and_verified(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(
        spark.createDataFrame(
            [(1, "a", 2), (2, "bb", 4)], "id long, v string, twice long"
        )
    )
    _declare_generated(p, "twice", "id * 2")
    # batch WITHOUT the column: computed
    w.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    got = {
        r["id"]: r["twice"] for r in read_delta(spark, p).collect()
    }
    assert got == {1: 2, 2: 4, 3: 6}
    # batch WITH a wrong value: rejected whole
    with pytest.raises(DeltaLogError, match="generated column 'twice'"):
        w.append(
            spark.createDataFrame(
                [(4, "d", 99)], "id long, v string, twice long"
            )
        )
    assert read_delta(spark, p).count() == 3


def test_deltalog_clustered_optimize_enables_stats_skipping(spark, tmp_path):
    from lakehouse_poc_spark.sources.deltalog import files_skipped_by_stats

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "fact.clust"
    # interleaved appends: every file spans the whole id range, so
    # stats skipping is useless before OPTIMIZE
    for i in range(4):
        wh.append(
            spark.range(i, 1000, 4).coalesce(1).selectExpr("id"), t
        )
    keep0, total0 = files_skipped_by_stats(wh.path(t), "id", 10, 20)
    assert total0 == 4 and len(keep0) == total0  # nothing skippable
    wh.compact(t, target_files=4, cluster_by=["id"])
    keep1, total1 = files_skipped_by_stats(wh.path(t), "id", 10, 20)
    assert total1 == 4 and len(keep1) < total1  # clustering unlocked it
    assert (
        spark.read.parquet(
            *[str(wh.path(t) / n) for n in keep1]
        )
        .filter("id BETWEEN 10 AND 20")
        .count()
        == 11
    )
    assert wh.read(t).count() == 1000


def test_restore_rolls_back_and_preserves_history(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    df0 = spark.range(10).withColumn("tag", F.lit("v0"))
    df1 = spark.range(3).withColumn("tag", F.lit("v1"))
    w.create(df0)
    w.overwrite(df1)
    v = w.restore(0)
    assert v == 2
    latest = read_delta(spark, p).orderBy("id").collect()
    v0 = read_delta(spark, p, version=0).orderBy("id").collect()
    assert [r["id"] for r in latest] == [r["id"] for r in v0] == list(range(10))
    assert all(r["tag"] == "v0" for r in latest)
    # the undone version stays time-travelable
    v1 = read_delta(spark, p, version=1).collect()
    assert sorted(r["id"] for r in v1) == [0, 1, 2]
    # restore of the restore is stable (round trip back to v1)
    w.restore(1)
    assert sorted(r["id"] for r in read_delta(spark, p).collect()) == [0, 1, 2]


def test_restore_fails_fast_when_target_files_vacuumed(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(spark.range(5))
    w.overwrite(spark.range(100, 103))
    # simulate a vacuum that physically removed v0's files
    from lakehouse_poc_spark.sources.deltalog import _replay

    state0 = _replay(p, 0)
    for f in state0["files"]:
        (p / f).unlink()
    with pytest.raises(DeltaLogError, match="vacuumed"):
        w.restore(0)
    # the failed restore committed NOTHING: latest still reads v1
    assert sorted(r["id"] for r in read_delta(spark, p).collect()) == [
        100,
        101,
        102,
    ]


def test_restore_carries_target_schema(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(spark.range(4).select(F.col("id")))
    wide = spark.range(4).select(
        F.col("id"), (F.col("id") * 2).alias("extra")
    )
    # widen via overwrite (new metaData), then restore back to v0:
    # the restored read must carry v0's narrow schema
    w._commit(w._meta_actions(wide) + w._stage(wide), "WRITE")  # v1 meta
    w.restore(0)
    got = read_delta(spark, p)
    assert got.columns == ["id"]
    assert sorted(r["id"] for r in got.collect()) == [0, 1, 2, 3]


def test_rename_column_is_metadata_only(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(spark.range(6).select(F.col("id"), (F.col("id") * 10).alias("v")))
    from lakehouse_poc_spark.sources.deltalog import _replay

    files_before = set(_replay(p, None)["files"])
    mtimes = {f: (p / f).stat().st_mtime_ns for f in files_before}
    w.rename_column("v", "value")
    state = _replay(p, None)
    # not a single data file added, removed, or rewritten
    assert set(state["files"]) == files_before
    assert all((p / f).stat().st_mtime_ns == mtimes[f] for f in files_before)
    got = read_delta(spark, p)
    assert got.columns == ["id", "value"]
    assert sorted(r["value"] for r in got.collect()) == [
        0, 10, 20, 30, 40, 50,
    ]
    # protocol upgraded to reader 2 / writer 5
    assert state["min_reader"] == 2
    cfg = state["metaData"]["configuration"]
    assert cfg["delta.columnMapping.mode"] == "name"


def test_append_after_rename_writes_physical_names(spark, tmp_path):
    import pyarrow.parquet as pq

    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(spark.range(3).select(F.col("id"), (F.col("id") + 1).alias("v")))
    w.rename_column("v", "value")
    from lakehouse_poc_spark.sources.deltalog import _replay

    before = set(_replay(p, None)["files"])
    w.append(
        spark.range(100, 103).select(
            F.col("id"), (F.col("id") + 1).alias("value")
        )
    )
    new_files = set(_replay(p, None)["files"]) - before
    assert new_files
    for f in new_files:
        cols = pq.read_schema(str(p / f)).names
        assert "v" in cols and "value" not in cols  # physical name
    got = read_delta(spark, p)
    assert got.columns == ["id", "value"]
    assert sorted(r["id"] for r in got.collect()) == [0, 1, 2, 100, 101, 102]


def test_rename_then_checkpoint_keeps_protocol(spark, tmp_path):
    from lakehouse_poc_spark.sources.deltalog import (
        _replay,
        write_checkpoint,
    )

    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(spark.range(4).select(F.col("id"), (F.col("id")).alias("v")))
    w.rename_column("v", "value")
    w.append(
        spark.range(4, 8).select(F.col("id"), F.col("id").alias("value"))
    )
    write_checkpoint(p)
    # delete the JSON commits the checkpoint covers: replay must come
    # from the checkpoint alone, protocol and mapping intact
    for c in (p / "_delta_log").glob("*.json"):
        c.unlink()
    state = _replay(p, None)
    assert state["min_reader"] == 2
    assert state["mapping_mode"] == "name"
    got = read_delta(spark, p)
    assert got.columns == ["id", "value"]
    assert sorted(r["id"] for r in got.collect()) == list(range(8))


def test_rename_guards(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(spark.range(2).select(F.col("id"), F.col("id").alias("v")))
    with pytest.raises(DeltaLogError, match="no such column"):
        w.rename_column("nope", "x")
    with pytest.raises(DeltaLogError, match="already exists"):
        w.rename_column("v", "id")
    # a reader-3 table is still rejected
    import json as _json

    d = p / "_delta_log"
    body = _json.dumps({"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}})
    (d / f"{1:020d}.json").write_text(body + "\n")
    with pytest.raises(DeltaLogError, match="minReaderVersion=3"):
        read_delta(spark, p)


# -- OPTIMIZE (bin-packing compaction) --------------------------------------


def test_optimize_compacts_and_preserves_rows(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    df = spark.range(0, 200).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    w.create(df.repartition(8))                          # v0: 8 files
    v_frag = w.append(df.withColumn("id", F.col("id") + 200).repartition(4))
    before = read_delta(spark, p)
    n_before = before.count()
    res = w.optimize()
    assert res["version"] == v_frag + 1
    assert res["files_after"] < res["files_before"] == 12
    after = read_delta(spark, p)
    assert after.count() == n_before == 400
    assert sorted(r.id for r in after.collect()) == sorted(
        r.id for r in before.collect()
    )
    # pre-OPTIMIZE version stays time-travelable
    assert read_delta(spark, p, v_frag).count() == 400
    # the commit's actions all carry dataChange=false
    log = p / "_delta_log" / f"{res['version']:020d}.json"
    actions = [json.loads(line) for line in log.read_text().splitlines()]
    flags = [
        a[k]["dataChange"]
        for a in actions
        for k in ("add", "remove")
        if k in a
    ]
    assert flags and all(f is False for f in flags)
    # new files carry stats for data skipping
    adds = [a["add"] for a in actions if "add" in a]
    assert all(a.get("stats") for a in adds)


def test_optimize_noop_on_compact_table(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(spark.range(0, 50).coalesce(1))
    v = current_version(p)
    res = w.optimize()
    assert res["version"] == -1 and res["bins_rewritten"] == 0
    assert current_version(p) == v  # no-op does not commit
    # second call after a real optimize also no-ops
    w.append(spark.range(50, 100).coalesce(1))
    assert w.optimize()["version"] >= 0
    assert w.optimize()["version"] == -1


def test_optimize_bins_within_partitions_only(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("k")
    )
    w.create_partitioned(df, ["k"])
    w.append_partitioned(
        df.withColumn("id", F.col("id") + 100), ["k"]
    )
    res = w.optimize()
    assert res["files_after"] < res["files_before"]
    actions = [
        json.loads(line)
        for line in (
            p / "_delta_log" / f"{res['version']:020d}.json"
        ).read_text().splitlines()
    ]
    adds = [a["add"] for a in actions if "add" in a]
    # every rewritten file belongs to exactly one partition value
    assert {tuple(a["partitionValues"].items()) for a in adds} == {
        (("k", "0"),),
        (("k", "1"),),
    }
    after = read_delta(spark, p)
    assert after.count() == 200
    assert after.groupBy("k").count().orderBy("k").collect()[0][1] == 100


def test_optimize_respects_target_size(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(spark.range(0, 1000).repartition(10))
    sizes = [
        json.loads(line)["add"]["size"]
        for line in (p / "_delta_log" / f"{0:020d}.json")
        .read_text()
        .splitlines()
        if "\"add\"" in line
    ]
    # target of ~2.5 files worth: bins of 2 (first-fit), never all 10
    target = int(sum(sizes) / 4)
    res = w.optimize(target_file_bytes=target)
    assert 1 < res["files_after"] < 10
    assert read_delta(spark, p).count() == 1000


# -- VACUUM ------------------------------------------------------------------


def test_vacuum_removes_only_unreferenced_expired_files(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(spark.range(0, 100).repartition(4))
    res = w.optimize()
    assert res["files_before"] == 4
    # fresh files survive the default retention
    assert w.vacuum()["files_removed"] == 0
    # dry run lists but keeps
    dry = w.vacuum(retention_ms=0, force=True, dry_run=True)
    assert dry["files_removed"] == 4
    assert read_delta(spark, p, 0).count() == 100  # still travelable
    # real vacuum deletes exactly the compacted-away originals
    vac = w.vacuum(retention_ms=0, force=True)
    assert vac["files_removed"] == 4 and sorted(vac["removed"]) == sorted(
        dry["removed"]
    )
    assert read_delta(spark, p).count() == 100  # live read untouched
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_delta(spark, p, 0).count()  # horizon crossed -> loud fail
    with _pytest.raises(DeltaLogError, match="vacuumed"):
        w.restore(0)  # restore guard sees the missing bytes


def test_vacuum_retention_check_requires_force(spark, tmp_path):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(spark.range(0, 10).coalesce(1))
    import pytest as _pytest

    with _pytest.raises(DeltaLogError, match="retention"):
        w.vacuum(retention_ms=0)


# -- optimistic concurrency: append retry / conflict abort (r8) ---------


def test_append_retries_past_blind_append_winner(spark, tmp_path):
    """WriteSerializable: two blind appends commute — the loser of
    the commit race retries at the new head instead of erroring."""
    import types

    p = tmp_path / "t"
    w1 = DeltaLogWriter(spark, p)
    w1.create(_df(spark, [(1, "a")]))
    orig = DeltaLogWriter._commit
    raced = []

    def racing(self, actions, op, version=None):
        if not raced and op == "WRITE":
            raced.append(True)
            DeltaLogWriter(spark, p).append(_df(spark, [(2, "winner")]))
        return orig(self, actions, op, version)

    w1._commit = types.MethodType(racing, w1)
    v = w1.append(_df(spark, [(3, "loser-retried")]))
    assert raced and v == 2 and current_version(p) == 2
    assert sorted(r.id for r in read_delta(spark, p).collect()) == [1, 2, 3]


def test_append_retries_past_remove_winner(spark, tmp_path):
    """WriteSerializable conflict matrix: a blind append reads no
    files, so a concurrent OVERWRITE (remove+add winner) COMMUTES
    with it — the loser retries at the new head and both effects
    land (the spec's matrix; r8 treated remove as conflicting, a
    conservative divergence fixed per ADVICE)."""
    import types

    p = tmp_path / "t"
    w1 = DeltaLogWriter(spark, p)
    w1.create(_df(spark, [(1, "a")]))
    orig = DeltaLogWriter._commit
    raced = []

    def racing(self, actions, op, version=None):
        if not raced and op == "WRITE":
            raced.append(True)
            DeltaLogWriter(spark, p).overwrite(_df(spark, [(9, "ow")]))
        return orig(self, actions, op, version)

    w1._commit = types.MethodType(racing, w1)
    v = w1.append(_df(spark, [(3, "c")]))
    # overwrite won version 1; the append retried and landed on top
    assert raced and v == 2
    assert sorted(r.id for r in read_delta(spark, p).collect()) == [3, 9]


def test_append_aborts_when_winner_changed_metadata(spark, tmp_path):
    """A concurrent metaData change (ADD CONSTRAINT here) does NOT
    commute with an append — the appended rows were validated against
    the OLD table contract, so the loser must abort, not retry."""
    import types

    p = tmp_path / "t"
    w1 = DeltaLogWriter(spark, p)
    w1.create(_df(spark, [(1, "a")]))
    orig = DeltaLogWriter._commit
    raced = []

    def racing(self, actions, op, version=None):
        if not raced and op == "WRITE":
            raced.append(True)
            DeltaLogWriter(spark, p).set_check_constraint(
                "id_small", "id < 1000"
            )
        return orig(self, actions, op, version)

    w1._commit = types.MethodType(racing, w1)
    with pytest.raises(DeltaLogError, match="concurrent (metaData|protocol)"):
        w1.append(_df(spark, [(3, "c")]))
    # the constraint stands; the aborted append added nothing
    assert sorted(r.id for r in read_delta(spark, p).collect()) == [1]


def test_append_txn_race_with_same_txn_is_noop(spark, tmp_path):
    """Exactly-once under races: when the commit-race winner carries
    the SAME (appId, version) txn marker, the loser re-consults the
    ledger and returns None instead of double-applying the batch."""
    import types

    p = tmp_path / "t"
    w1 = DeltaLogWriter(spark, p)
    w1.create(_df(spark, [(1, "a")]))
    orig = DeltaLogWriter._commit
    raced = []

    def racing(self, actions, op, version=None):
        if not raced and op == "WRITE":
            raced.append(True)
            DeltaLogWriter(spark, p).append_txn(
                _df(spark, [(5, "batch7")]), app_id="app", txn_version=7
            )
        return orig(self, actions, op, version)

    w1._commit = types.MethodType(racing, w1)
    out = w1.append_txn(_df(spark, [(5, "batch7")]), app_id="app", txn_version=7)
    assert out is None  # the race winner WAS this txn: no-op replay
    assert sorted(r.id for r in read_delta(spark, p).collect()) == [1, 5]


# -- shallow clone (r8) --------------------------------------------------


def test_shallow_clone_zero_copy_divergence_and_vacuum_contract(
    spark, tmp_path
):
    src, dst = tmp_path / "src", tmp_path / "clone"
    ws = DeltaLogWriter(spark, src)
    ws.create(_df(spark, [(1, "a"), (2, "b")]))
    ws.append(_df(spark, [(3, "c")]))
    wc = DeltaLogWriter(spark, dst)
    wc.clone_shallow(src)
    # zero-copy: no data bytes under the clone; adds are absolute
    assert not list(dst.glob("*.parquet"))
    acts = [
        json.loads(line)
        for line in (dst / "_delta_log" / f"{0:020d}.json")
        .read_text()
        .splitlines()
    ]
    add_paths = [a["add"]["path"] for a in acts if "add" in a]
    assert add_paths and all(path.startswith("/") for path in add_paths)
    assert sorted(r.id for r in read_delta(spark, dst).collect()) == [1, 2, 3]
    # divergence is one-way
    wc.append(_df(spark, [(4, "d")]))
    assert sorted(r.id for r in read_delta(spark, src).collect()) == [1, 2, 3]
    assert sorted(r.id for r in read_delta(spark, dst).collect()) == [1, 2, 3, 4]
    # clone vacuum can never touch source bytes (sweeps clone dir only)
    n_src_files = len(list(src.glob("*.parquet")))
    wc.vacuum(retention_ms=0, force=True)
    assert len(list(src.glob("*.parquet"))) == n_src_files
    assert sorted(r.id for r in read_delta(spark, dst).collect()) == [1, 2, 3, 4]
    # ...but the SOURCE's vacuum knows nothing about clones: once the
    # referenced files leave the source snapshot and get vacuumed,
    # the clone breaks — the documented Delta shallow-clone caveat
    ws.overwrite(_df(spark, [(9, "z")]))
    ws.vacuum(retention_ms=0, force=True)
    with pytest.raises(Exception):
        read_delta(spark, dst, version=0).collect()


def test_writer_version_bumps_and_clone_propagates_them(spark, tmp_path):
    """Spec protocol floors: ADD CONSTRAINT raises minWriterVersion
    to 3; the floor of 4 a generated column brings is never lowered by
    a later lower-tier feature, and a shallow clone carries the
    source's writer floor instead of downgrading it."""
    from lakehouse_poc_spark.sources.deltalog import _replay

    src, dst = tmp_path / "src", tmp_path / "clone"
    ws = DeltaLogWriter(spark, src)
    ws.create(_df(spark, [(1, "a")]))
    assert _replay(src, None)["min_writer"] == 2
    ws.set_check_constraint("id_pos", "id > 0")
    assert _replay(src, None)["min_writer"] == 3
    _declare_generated(src, "v", "'a'")  # existing row satisfies it
    assert _replay(src, None)["min_writer"] == 4
    # re-adding a lower-tier feature never downgrades the floor
    ws.set_check_constraint("id_small", "id < 1000")
    assert _replay(src, None)["min_writer"] == 4
    DeltaLogWriter(spark, dst).clone_shallow(src)
    assert _replay(dst, None)["min_writer"] == 4
    # ...and the floor survives a checkpoint round-trip
    from lakehouse_poc_spark.sources.deltalog import write_checkpoint

    write_checkpoint(src)
    for f in (src / "_delta_log").glob("*.json"):
        f.unlink()
    assert _replay(src, None)["min_writer"] == 4


def test_writer_floor_guard_refuses_unsupported_tables(spark, tmp_path):
    """A table whose minWriterVersion exceeds 5 (e.g. table features,
    writer v7) must be REFUSED by this writer — spec rule — while
    reads stay allowed as long as minReaderVersion is supported."""
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(_df(spark, [(1, "a")]))
    import json as _json

    with (p / "_delta_log" / f"{1:020d}.json").open("w") as f:
        f.write(
            _json.dumps(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7}}
            )
            + "\n"
        )
    assert [r.id for r in read_delta(spark, p).collect()] == [1]  # read OK
    with pytest.raises(DeltaLogError, match="minWriterVersion=7"):
        w.append(_df(spark, [(2, "b")]))


def test_clone_of_clone_and_existing_target_rejected(spark, tmp_path):
    src, c1, c2 = tmp_path / "src", tmp_path / "c1", tmp_path / "c2"
    ws = DeltaLogWriter(spark, src)
    ws.create(_df(spark, [(1, "a")]))
    DeltaLogWriter(spark, c1).clone_shallow(src)
    DeltaLogWriter(spark, c2).clone_shallow(c1)  # absolute paths chain
    assert [r.id for r in read_delta(spark, c2).collect()] == [1]
    with pytest.raises(DeltaLogError, match="already exists"):
        DeltaLogWriter(spark, c1).clone_shallow(src)


def test_vacuum_reclaims_aborted_append_orphans(spark, tmp_path):
    """An append that stages files and then ABORTS on a conflicting
    winner leaves untracked parquet orphans in the table dir; VACUUM's
    not-in-snapshot sweep reclaims them after the retention window
    (real Delta vacuums untracked files the same way), and the live
    data is untouched."""
    import types

    p = tmp_path / "t"
    w1 = DeltaLogWriter(spark, p)
    w1.create(_df(spark, [(1, "a")]))
    orig = DeltaLogWriter._commit
    raced = []

    def racing(self, actions, op, version=None):
        if not raced and op == "WRITE":
            raced.append(True)
            DeltaLogWriter(spark, p).set_check_constraint(
                "id_small", "id < 1000"
            )
        return orig(self, actions, op, version)

    w1._commit = types.MethodType(racing, w1)
    n_before = len(list(p.glob("*.parquet")))
    with pytest.raises(DeltaLogError, match="concurrent (metaData|protocol)"):
        w1.append(_df(spark, [(3, "orphaned")]))
    # staged files exist but are untracked
    assert len(list(p.glob("*.parquet"))) > n_before
    res = w1.vacuum(retention_ms=0, force=True)
    assert res["files_removed"] >= 1
    assert sorted(r.id for r in read_delta(spark, p).collect()) == [1]


def test_rejected_batch_unstages_its_files(spark, tmp_path):
    """r10 optimization: constraint checks ride the staging write as
    Observation metrics (one pass). A rejected batch must still leave
    ZERO footprint — same live rows AND no orphan staged parquet in
    the table dir (the old check-then-stage order never staged; the
    new stage-then-check order must clean up)."""
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(_df(spark, [(1, "a"), (2, "b")]))
    w.set_check_constraint("id_positive", "id > 0")
    files_before = sorted(f.name for f in p.glob("*.parquet"))
    with pytest.raises(DeltaLogError, match="id_positive"):
        w.append(_df(spark, [(-5, "x")]))
    assert sorted(f.name for f in p.glob("*.parquet")) == files_before
    assert read_delta(spark, p).count() == 2
    # and the writer still works after the rejection
    w.append(_df(spark, [(7, "g")]))
    assert read_delta(spark, p).count() == 3


# ---------------------------------------------------------------------------
# Reads planned from the log: committed schema, no footer job.


def test_building_a_read_runs_no_spark_job(spark, tmp_path, jobs_in_group):
    """Slack 0: the read schema comes from the log, so building the
    frame never runs a footer-inference job — for the latest version,
    VERSION AS OF, a column-mapped table and a table with deletion
    vectors."""
    plain = tmp_path / "plain"
    w = DeltaLogWriter(spark, plain)
    w.create(_df(spark, [(1, "a"), (2, "b")]))
    w.append(_df(spark, [(3, "c")]))
    mapped = tmp_path / "mapped"
    wm = DeltaLogWriter(spark, mapped)
    wm.create(_df(spark, [(1, "a"), (2, "b")]))
    wm.rename_column("v", "value")
    dv = tmp_path / "dv"
    wd = DeltaLogWriter(spark, dv)
    wd.create(_df(spark, [(1, "a"), (2, "b")]))
    wd.append(_df(spark, [(3, "c")]))
    wd.delete_where_dv("id = 2")
    cases = {
        "latest": (lambda: read_delta(spark, plain), [1, 2, 3]),
        "version": (lambda: read_delta(spark, plain, version=0), [1, 2]),
        "mapped": (lambda: read_delta(spark, mapped), [1, 2]),
        "dv": (lambda: read_delta(spark, dv), [1, 3]),
    }
    for name, (build, want) in cases.items():
        df, jobs = jobs_in_group(f"read_delta_{name}", build)
        assert jobs == 0, f"{name}: building the read ran {jobs} job(s)"
        assert sorted(r.id for r in df.collect()) == want, name


def test_read_schema_equals_footer_inference(spark, tmp_path):
    """The log-planned schema is the one footer inference gave: same
    names, types and nullability, and no field metadata — neither the
    generation expression nor the column-mapping keys leak out."""
    import pyarrow.parquet as pq

    from lakehouse_poc_spark.sources.deltalog import _replay

    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(
        spark.createDataFrame(
            [(1, 10, 2), (2, 20, 4)], "id long not null, v long, twice long"
        )
    )
    _declare_generated(p, "twice", "id * 2")
    w.rename_column("v", "value")
    w.append(spark.createDataFrame([(3, 30)], "id long, value long"))
    files = [str(p / f) for f in _replay(p, None)["files"]]
    assert all("v" in pq.read_schema(f).names for f in files)
    footer = spark.read.parquet(*files).withColumnRenamed("v", "value")
    got = read_delta(spark, p).schema
    assert got == footer.schema
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in got] == [
        ("id", "bigint", True),
        ("value", "bigint", True),
        ("twice", "bigint", True),
    ]
    assert all(f.metadata == {} for f in got.fields)


def test_column_missing_from_an_older_file_reads_as_null(spark, tmp_path):
    """A foreign log whose schemaString lists a column that an older
    data file lacks (schema evolution by a foreign writer): the
    committed schema rules, and the old file's rows read it as NULL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = tmp_path / "t"
    t.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64())}), str(t / "old.parquet")
    )
    pq.write_table(
        pa.table({"id": pa.array([3], pa.int64()), "v": pa.array(["c"])}),
        str(t / "new.parquet"),
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": n, "type": ty, "nullable": True, "metadata": {}}
            for n, ty in (("id", "long"), ("v", "string"))
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "foreign",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema),
                "partitionColumns": [],
                "configuration": {},
            }
        },
    ] + [
        {
            "add": {
                "path": name,
                "partitionValues": {},
                "size": (t / name).stat().st_size,
                "modificationTime": 1700000000000,
                "dataChange": True,
            }
        }
        for name in ("old.parquet", "new.parquet")
    ]
    (t / "_delta_log").mkdir()
    (t / "_delta_log" / f"{0:020d}.json").write_text(
        "\n".join(json.dumps(a) for a in actions) + "\n"
    )
    got = read_delta(spark, t)
    assert got.columns == ["id", "v"]
    assert sorted((r.id, r.v) for r in got.collect()) == [
        (1, None), (2, None), (3, "c"),
    ]


# ---------------------------------------------------------------------------
# ADD CONSTRAINT / SET GENERATED validate the rows a reader sees.


def _amt_table(spark, p, rows=((1, 10, 20), (2, -5, -10))):
    w = DeltaLogWriter(spark, p)
    w.create(spark.createDataFrame(list(rows), "id long, amt long, dbl long"))
    return w


def test_add_constraint_checks_logical_names_after_rename(spark, tmp_path):
    w = _amt_table(spark, tmp_path / "t")
    w.rename_column("amt", "amount")
    w.set_check_constraint("c", "amount > -100")
    with pytest.raises(DeltaLogError, match="1 existing rows violate"):
        w.set_check_constraint("c2", "amount >= 0")


def test_add_constraint_ignores_dv_deleted_rows(spark, tmp_path):
    from lakehouse_poc_spark.sources.deltalog import _replay

    p = tmp_path / "t"
    w = _amt_table(spark, p)
    w.delete_where_dv("amt < 0")
    w.set_check_constraint("c", "amt >= 0")
    cfg = _replay(p, None)["metaData"]["configuration"]
    assert cfg["delta.constraints.c"] == "amt >= 0"


