"""deletionVectors table feature on the Delta-log backend (VERDICT r8
task 4): merge-on-read DELETE with spec-shaped descriptors, the
reader-3/writer-7 table-features protocol handshake, VERSION AS OF,
checkpoint round-trip, RESTORE guards and vacuum safety. See the
module-level contract note in sources/deltalog.py for the payload
codec boundary."""

from __future__ import annotations

import json

import pytest

from lakehouse_poc_spark.sources.deltalog import (
    DeltaLogError,
    DeltaLogWriter,
    _dv_decode,
    _dv_encode,
    _replay,
    current_version,
    read_delta,
    write_checkpoint,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def _mk(spark, path, n=10):
    w = DeltaLogWriter(spark, path)
    w.create(spark.createDataFrame(
        [(i, f"v{i}") for i in range(n)], "id long, v string"
    ).coalesce(2))
    return w


def test_dv_codec_roundtrip_and_corruption():
    pos = [0, 3, 7, 2**40]
    data = _dv_encode(pos)
    assert _dv_decode(data) == pos
    assert _dv_decode(_dv_encode([])) == []
    with pytest.raises(DeltaLogError, match="magic"):
        _dv_decode(b"garbage")
    with pytest.raises(DeltaLogError, match="CRC"):
        _dv_decode(data[:-1] + bytes([data[-1] ^ 1]))


def test_dv_delete_mor_semantics_and_protocol_upgrade(spark, tmp_path):
    p = tmp_path / "t"
    w = _mk(spark, p)
    n_parquet = len(list(p.glob("*.parquet")))
    res = w.delete_where_dv("id % 3 = 0")  # 0,3,6,9
    assert res["rows_deleted"] == 4 and res["version"] == 1
    # no data file rewritten, sidecar(s) written
    assert len(list(p.glob("*.parquet"))) == n_parquet
    assert list(p.glob("deletionvector_*.bin"))
    assert sorted(r.id for r in read_delta(spark, p).collect()) == [
        1, 2, 4, 5, 7, 8,
    ]
    # VERSION AS OF: the pre-delete snapshot still has every row
    assert read_delta(spark, p, 0).count() == 10
    # protocol rose to 3/7 with the feature listed
    st = _replay(p, None)
    assert st["min_reader"] == 3 and st["min_writer"] == 7
    assert "deletionVectors" in st["reader_features"]
    assert "deletionVectors" in st["writer_features"]
    # descriptor shape per spec
    dv_adds = [a for a in st["adds"] if a.get("deletionVector")]
    assert dv_adds
    d = dv_adds[0]["deletionVector"]
    assert d["storageType"] == "p" and d["cardinality"] >= 1
    assert d["sizeInBytes"] > 0


def test_dv_second_delete_merges_and_null_predicate_survives(
    spark, tmp_path
):
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(
        spark.createDataFrame(
            [(0, "a"), (1, None), (2, "c"), (3, "d")], "id long, v string"
        ).coalesce(1)
    )
    w.delete_where_dv("id = 0")
    # MOR evaluation: the already-deleted row can't match again, so a
    # second overlapping delete reports only NEW rows; NULL-predicate
    # rows survive (SQL DELETE semantics)
    res = w.delete_where_dv("id <= 2 AND v IS NOT NULL")
    assert res["rows_deleted"] == 1  # id=2 only (0 already gone; 1 null)
    assert sorted(r.id for r in read_delta(spark, p).collect()) == [1, 3]
    # version history shows each state
    assert read_delta(spark, p, 0).count() == 4
    assert sorted(r.id for r in read_delta(spark, p, 1).collect()) == [1, 2, 3]


def test_dv_survives_checkpoint_roundtrip(spark, tmp_path):
    p = tmp_path / "t"
    w = _mk(spark, p, n=6)
    w.delete_where_dv("id < 2")
    write_checkpoint(p)
    for f in (p / "_delta_log").glob("*.json"):
        f.unlink()
    st = _replay(p, None)
    assert st["min_reader"] == 3 and "deletionVectors" in st["reader_features"]
    assert sorted(r.id for r in read_delta(spark, p).collect()) == [2, 3, 4, 5]


def test_dv_vacuum_keeps_live_sidecars_sweeps_superseded(spark, tmp_path):
    p = tmp_path / "t"
    w = _mk(spark, p, n=6)
    w.delete_where_dv("id = 0")
    first = set(p.glob("deletionvector_*.bin"))
    w.delete_where_dv("id = 1")  # supersedes the file's first sidecar
    now_live = set(p.glob("deletionvector_*.bin")) - first
    assert first and now_live
    res = w.vacuum(retention_ms=0, force=True)
    # the superseded sidecar went; the live one stayed; reads intact
    assert all(not f.exists() for f in first)
    assert all(f.exists() for f in now_live)
    assert any(n.startswith("deletionvector_") for n in res["removed"])
    assert sorted(r.id for r in read_delta(spark, p).collect()) == [2, 3, 4, 5]


def test_warehouse_vacuum_sweeps_superseded_sidecar(spark, tmp_path):
    """The warehouse VACUUM is the writer's, table by table, so a DV
    sidecar a later delete superseded goes with the dropped files."""
    from lakehouse_poc_spark.sinks.warehouse import DeltaLogWarehouse

    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(_df(spark, [(i, f"v{i}") for i in range(6)]).coalesce(1), "t")
    w = DeltaLogWriter(spark, wh.path("t"))
    w.delete_where_dv("id = 0")
    first = set(wh.path("t").glob("deletionvector_*.bin"))
    w.delete_where_dv("id = 1")  # re-adds the file with a new sidecar
    live = set(wh.path("t").glob("deletionvector_*.bin")) - first
    assert wh.vacuum(min_age=0) == len(first)
    assert all(not f.exists() for f in first)
    assert all(f.exists() for f in live)
    assert sorted(r.id for r in wh.read("t").collect()) == [2, 3, 4, 5]


def test_masked_read_is_one_scan(spark, tmp_path):
    """Deletion vectors on three files still plan ONE file scan: every
    row keeps its file and row index, and one broadcast anti-join
    drops the deleted positions."""
    p = tmp_path / "t"
    w = DeltaLogWriter(spark, p)
    w.create(
        spark.range(40)
        .selectExpr("id", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, "id")
    )
    w.delete_where_dv("id % 10 = 3 AND id < 30")  # one row in 3 files
    st = _replay(p, None)
    assert sum(1 for a in st["adds"] if a.get("deletionVector")) == 3
    df = read_delta(spark, p)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert sorted(r.id for r in df.collect()) == [
        i for i in range(40) if i not in (3, 13, 23)
    ]


@pytest.mark.parametrize("name", ["link", "a b+c%d"])
def test_dv_keys_rows_by_the_path_spark_reports(spark, tmp_path, name):
    """Deletes and masks key each row by its data file as Spark reports
    it: a table reached through a symlink, or under a name Spark
    percent-escapes, still deletes and masks exactly."""
    real = tmp_path / "real"
    real.mkdir()
    if name == "link":
        (tmp_path / "link").symlink_to(real)
        p = tmp_path / "link" / "t"
    else:
        p = real / name
    w = _mk(spark, p)
    assert w.delete_where_dv("id < 3")["rows_deleted"] == 3
    assert sorted(r.id for r in read_delta(spark, p).collect()) == list(
        range(3, 10)
    )


def test_dv_restore_guards_vacuumed_sidecar(spark, tmp_path):
    p = tmp_path / "t"
    w = _mk(spark, p, n=6)
    w.delete_where_dv("id = 0")      # v1: DV state
    w.delete_where_dv("id = 1")      # v2: supersedes v1's sidecar
    w.vacuum(retention_ms=0, force=True)  # reclaims v1's sidecar
    with pytest.raises(DeltaLogError, match="deletion vector"):
        w.restore(1)
    # restoring to the PRE-DV version works: plain adds, no sidecars
    v = w.restore(0)
    assert v == 3
    assert read_delta(spark, p).count() == 6


def test_dv_blind_append_commutes_and_writer_floor_enforced(
    spark, tmp_path
):
    """After the protocol upgrade this writer still appends (it
    implements the feature), and the appended rows coexist with DV'd
    files; a table listing an UNKNOWN writer feature is refused."""
    p = tmp_path / "t"
    w = _mk(spark, p, n=4)
    w.delete_where_dv("id = 0")
    w.append(_df(spark, [(100, "new")]))
    assert sorted(r.id for r in read_delta(spark, p).collect()) == [
        1, 2, 3, 100,
    ]
    # foreign feature => refuse writes, allow supported-version reads
    (p / "_delta_log" / f"{current_version(p) + 1:020d}.json").write_text(
        json.dumps(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors", "icebergCompatV2"],
                }
            }
        )
        + "\n"
    )
    assert read_delta(spark, p).count() == 4  # reader features all known
    with pytest.raises(DeltaLogError, match="minWriterVersion=7"):
        w.append(_df(spark, [(101, "x")]))


def _mk_partitioned(spark, p, n=20):
    """Partitioned fixture: c = 'x' for even ids, 'y' for odd."""
    w = DeltaLogWriter(spark, p)
    w.create_partitioned(
        spark.createDataFrame(
            [(i, f"v{i}", "x" if i % 2 == 0 else "y") for i in range(n)],
            "id long, v string, c string",
        ),
        ["c"],
    )
    return w


def test_dv_delete_on_partitioned_table(spark, tmp_path):
    """r10 (VERDICT task 4): merge-on-read DELETE on a PARTITIONED
    table — predicates may mix partition and data columns; partition
    values reconstitute before the predicate; descriptors ride adds
    carrying partitionValues; time travel intact."""
    p = tmp_path / "part"
    w = _mk_partitioned(spark, p)
    n_parquet = len(list(p.rglob("*.parquet")))
    # predicate ON the partition column + a data column
    res = w.delete_where_dv("c = 'x' AND id < 10")  # ids 0,2,4,6,8
    assert res["rows_deleted"] == 5
    assert len(list(p.rglob("*.parquet"))) == n_parquet  # zero rewrites
    got = sorted(r.id for r in read_delta(spark, p).collect())
    assert got == [i for i in range(20) if not (i % 2 == 0 and i < 10)]
    # partition columns still reconstitute on the MOR read
    rows = {r.id: r.c for r in read_delta(spark, p).collect()}
    assert rows[1] == "y" and rows[10] == "x"
    # v0 time travel unaffected
    assert read_delta(spark, p, 0).count() == 20
    # descriptor rides an add WITH partitionValues
    st = _replay(p, None)
    dv_adds = [a for a in st["adds"] if a.get("deletionVector")]
    assert dv_adds and all(
        a.get("partitionValues") == {"c": "x"} for a in dv_adds
    )
    # second overlapping delete merges per file across partitions
    res2 = w.delete_where_dv("id % 3 = 0")  # 3,9,15 live-even? see MOR
    survivors = sorted(r.id for r in read_delta(spark, p).collect())
    assert all(i % 3 != 0 or (i % 2 == 0 and i < 10) for i in survivors)
    assert res2["rows_deleted"] == len(
        [i for i in range(20)
         if i % 3 == 0 and not (i % 2 == 0 and i < 10)]
    )


def test_dv_partitioned_checkpoint_and_restore(spark, tmp_path):
    p = tmp_path / "part"
    w = _mk_partitioned(spark, p)
    w.delete_where_dv("id IN (0, 1)")          # v1
    write_checkpoint(p, current_version(p))
    # replay THROUGH the checkpoint keeps DV descriptors + partitions
    assert read_delta(spark, p).count() == 18
    w.delete_where_dv("id IN (2, 3)")          # v2
    assert read_delta(spark, p).count() == 16
    v = w.restore(1)                           # back to post-first-delete
    assert v == 3
    assert sorted(r.id for r in read_delta(spark, p).collect()) == list(
        range(2, 20)
    )


def test_dv_partitioned_vacuum_keeps_live_sidecars(spark, tmp_path):
    p = tmp_path / "part"
    w = _mk_partitioned(spark, p)
    w.delete_where_dv("id = 0")
    n_sidecars = len(list(p.glob("deletionvector_*.bin")))
    assert n_sidecars >= 1
    res = w.vacuum(retention_ms=0, force=True, dry_run=False)
    # live sidecars survive a zero-retention vacuum
    assert len(list(p.glob("deletionvector_*.bin"))) == n_sidecars
    assert read_delta(spark, p).count() == 19
    assert res["files_removed"] == 0


def test_dv_scope_guard_mapped_tables(spark, tmp_path):
    """Column-mapped tables remain out of DV scope (declared)."""
    import json as _json

    p = tmp_path / "mapped"
    w = _mk(spark, p)
    st = _replay(p, None)
    md = dict(st["metaData"])
    cfg = dict(md.get("configuration") or {})
    cfg["delta.columnMapping.mode"] = "name"
    md["configuration"] = cfg
    sch = _json.loads(md["schemaString"])
    for i, f in enumerate(sch["fields"], start=1):
        f.setdefault("metadata", {})[
            "delta.columnMapping.physicalName"
        ] = f["name"]
        f["metadata"]["delta.columnMapping.id"] = i
    md["schemaString"] = _json.dumps(sch)
    w._commit(
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": md},
        ],
        "SET MAPPING",
    )
    with pytest.raises(DeltaLogError, match="column-mapped"):
        w.delete_where_dv("id = 1")


def test_protocol_upgrade_enumerates_legacy_features(spark, tmp_path):
    """PROTOCOL.md table features: lifting a LEGACY writer floor (here
    4, set by a foreign writer) to writer 7 must enumerate the
    features versions ≤4 implied — appendOnly, invariants,
    checkConstraints, changeDataFeed, generatedColumns — or an
    external writer honoring only the new lists stops enforcing them
    (r10 ADVICE fix)."""
    p = tmp_path / "t"
    w = _mk(spark, p)
    # foreign writer raises the legacy floor to writer 4 (no lists)
    (p / "_delta_log" / f"{1:020d}.json").write_text(
        json.dumps(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}}
        )
        + "\n"
    )
    w.delete_where_dv("id % 3 = 0")
    st = _replay(p, None)
    assert st["min_reader"] == 3 and st["min_writer"] == 7
    assert set(st["writer_features"]) >= {
        "appendOnly",
        "invariants",
        "checkConstraints",
        "changeDataFeed",
        "generatedColumns",
        "deletionVectors",
    }


def test_restore_resolves_relative_dv_sidecars(spark, tmp_path):
    """A foreign writer may record pathOrInlineDv RELATIVE to the
    table base (the reader accepts that); restore's vacuum guard must
    resolve it the same way, not against the process CWD (r10 ADVICE
    fix — the guard used to falsely block the restore)."""
    from lakehouse_poc_spark.sources.deltalog import _dv_encode

    p = tmp_path / "t"
    w = _mk(spark, p)
    st0 = _replay(p, None)
    target = st0["adds"][0]
    # foreign commit: same data file, DV sidecar by RELATIVE name
    sidecar = p / "deletionvector_foreign.bin"
    payload = _dv_encode([0])
    sidecar.write_bytes(payload)
    add = {
        k: v
        for k, v in target.items()
        if k in ("path", "partitionValues", "size")
    }
    add.update(
        {
            "modificationTime": 1700000000000,
            "dataChange": True,
            "deletionVector": {
                "storageType": "p",
                "pathOrInlineDv": "deletionvector_foreign.bin",
                "sizeInBytes": len(payload),
                "cardinality": 1,
            },
        }
    )
    (p / "_delta_log" / f"{1:020d}.json").write_text(
        json.dumps({"add": add}) + "\n"
    )
    n_v1 = read_delta(spark, p, 1).count()
    assert n_v1 == 9  # relative sidecar readable, one row masked
    # v2 undoes the delete (re-add without DV)
    add2 = {k: v for k, v in add.items() if k != "deletionVector"}
    (p / "_delta_log" / f"{2:020d}.json").write_text(
        json.dumps({"add": add2}) + "\n"
    )
    assert read_delta(spark, p).count() == 10
    v = w.restore(1)  # must NOT raise the vacuumed-DV guard
    assert v == 3
    assert read_delta(spark, p).count() == 9


@pytest.mark.parametrize("entry", ["optimize", "warehouse_compact"])
def test_compaction_keeps_dv_deleted_rows_deleted(spark, tmp_path, entry):
    """Both compaction entry points read through the DV-masking path:
    a rewrite must not bring back rows a DV delete removed."""
    from lakehouse_poc_spark.sinks.warehouse import DeltaLogWarehouse

    schema = "id long, amt long"
    wh = DeltaLogWarehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(spark.createDataFrame([(1, 10), (2, -5)], schema), "t")
    wh.append(spark.createDataFrame([(3, 7)], schema), "t")
    wh._writer("t").delete_where_dv("amt < 0")
    want = [(1, 10), (3, 7)]
    assert sorted(map(tuple, wh.read("t").collect())) == want
    if entry == "optimize":
        res = wh._writer("t").optimize()
        assert res["bins_rewritten"] == 1
    else:
        wh.compact("t", target_files=1)
    assert len(_replay(wh.path("t"), None)["files"]) == 1
    assert sorted(map(tuple, wh.read("t").collect())) == want


def test_dv_masks_apply_on_a_column_mapped_table(spark, tmp_path):
    """A foreign table may carry both reader features: a DV'd file
    under name-mode column mapping reads through the same masking
    path, projected to the logical names."""
    p = tmp_path / "t"
    w = _mk(spark, p, n=6)
    w.delete_where_dv("id % 2 = 0")
    st = _replay(p, None)
    md = dict(st["metaData"])
    md["configuration"] = {"delta.columnMapping.mode": "name"}
    sch = json.loads(md["schemaString"])
    for i, f in enumerate(sch["fields"], start=1):
        f["metadata"] = {
            "delta.columnMapping.id": i,
            "delta.columnMapping.physicalName": f["name"],
        }
    sch["fields"][1]["name"] = "value"
    md["schemaString"] = json.dumps(sch)
    w._commit(
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["columnMapping", "deletionVectors"],
                    "writerFeatures": ["columnMapping", "deletionVectors"],
                }
            },
            {"metaData": md},
        ],
        "FOREIGN RENAME",
    )
    got = read_delta(spark, p)
    assert got.columns == ["id", "value"]
    assert sorted(map(tuple, got.collect())) == [
        (1, "v1"), (3, "v3"), (5, "v5"),
    ]
