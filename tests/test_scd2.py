"""SCD2 merge engine invariants (SURVEY.md §5 plan, FIXTURES.md §A.4):
bootstrap, change/close/insert effects, exactly-one-current, validity
chaining, null-safe change detection, idempotence, composite keys,
intra-batch dedup, trim."""

from __future__ import annotations

import dataclasses

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lakehouse_poc_spark.config import PipelineConfig, TechnicalColumns
from lakehouse_poc_spark.pipeline import run_pipeline
from lakehouse_poc_spark.operators.scd2 import MergeStats, scd2_merge

T1 = "2030-01-01 00:00:00"
T2 = "2030-01-02 00:00:00"
T3 = "2030-01-03 00:00:00"

CFG = PipelineConfig(
    name="kosten",
    raw_table="layer0100.kosten_raw",
    dim_table="layer0150.dim_kostenstelle",
    business_key=("Kostenstelle",),
    compare_columns=("Bezeichnung", "Bereich"),
    technical=TechnicalColumns("GueltigVon", "GueltigBis", "IsCurrent"),
)


def batch(spark, rows):
    return spark.createDataFrame(
        rows, "Kostenstelle string, Bezeichnung string, Bereich string"
    )


BATCH1 = [("K1", "Verwaltung", "Zentral"), ("K2", "Fertigung", "Werk 1"), ("K3", "Vertrieb", "Nord")]


def test_bootstrap(spark, wh):
    stats = run_pipeline(spark, wh, CFG, T1, batch=batch(spark, BATCH1))
    assert dataclasses.asdict(stats) == {"unchanged": 0, "new_keys": 3, "updated_keys": 0}
    dim = wh.read(CFG.dim_table)
    assert dim.count() == 3
    assert dim.filter(F.col("IsCurrent")).count() == 3
    assert dim.filter(F.col("GueltigBis").isNotNull()).count() == 0


def test_two_effect_merge_and_invariants(spark, wh):
    run_pipeline(spark, wh, CFG, T1, batch=batch(spark, BATCH1))
    stats = run_pipeline(
        spark,
        wh,
        CFG,
        T2,
        batch=batch(
            spark,
            [
                ("K1", "Verwaltung", "Zentral"),      # unchanged
                ("K2", "Fertigung", "Werk 2"),        # changed
                ("K4", "Einkauf", "Sued"),            # new key
            ],
        ),
    )
    assert dataclasses.asdict(stats) == {"unchanged": 1, "new_keys": 1, "updated_keys": 1}
    dim = wh.read(CFG.dim_table)

    # exactly one current row per key
    cur_per_key = (
        dim.filter("IsCurrent").groupBy("Kostenstelle").count().filter("count > 1")
    )
    assert cur_per_key.count() == 0
    # changed key: closed old row AND inserted new version (two-effect,
    # the semantics the reference SQL notebooks silently drop)
    k2 = dim.filter(F.col("Kostenstelle") == "K2").orderBy("GueltigVon").collect()
    assert len(k2) == 2
    closed, opened = k2
    assert not closed.IsCurrent and str(closed.GueltigBis) == f"{T2}"
    assert opened.IsCurrent and str(opened.GueltigVon) == f"{T2}" and opened.Bereich == "Werk 2"
    # validity chains: closed.GueltigBis == successor.GueltigVon
    assert closed.GueltigBis == opened.GueltigVon
    # unchanged key untouched (valid_from still T1)
    k1 = dim.filter("Kostenstelle = 'K1'").collect()
    assert len(k1) == 1 and str(k1[0].GueltigVon) == f"{T1}"
    # absent key K3 untouched and still current
    k3 = dim.filter("Kostenstelle = 'K3'").collect()
    assert len(k3) == 1 and k3[0].IsCurrent


def test_idempotent_rerun(spark, wh):
    run_pipeline(spark, wh, CFG, T1, batch=batch(spark, BATCH1))
    stats = run_pipeline(spark, wh, CFG, T2, batch=batch(spark, BATCH1))
    assert dataclasses.asdict(stats) == {"unchanged": 3, "new_keys": 0, "updated_keys": 0}
    dim = wh.read(CFG.dim_table)
    assert dim.count() == 3
    assert dim.filter(~F.col("IsCurrent")).count() == 0


def test_null_safe_change_detection(spark, wh):
    """NULL↔value transitions must count as change (the reference's
    null-unsafe `!=` + partial guard misses value→NULL; SURVEY §7.0.2)."""
    run_pipeline(spark, wh, CFG, T1, batch=batch(spark, [("K1", "A", "X")]))
    s2 = run_pipeline(spark, wh, CFG, T2, batch=batch(spark, [("K1", "A", None)]))
    assert s2.updated_keys == 1
    s3 = run_pipeline(spark, wh, CFG, T3, batch=batch(spark, [("K1", "A", "X")]))
    assert s3.updated_keys == 1
    dim = wh.read(CFG.dim_table)
    assert dim.count() == 3
    cur = dim.filter("IsCurrent").collect()
    assert len(cur) == 1 and cur[0].Bereich == "X"


def test_composite_business_key(spark, wh):
    cfg = PipelineConfig(
        name="personal",
        raw_table="l0.personal_raw",
        dim_table="l1.dim_personal",
        business_key=("Personalnummer", "Abteilung"),
        compare_columns=("Name",),
    )
    b = spark.createDataFrame(
        [("P1", "IT", "Alice"), ("P1", "HR", "Alice")],
        "Personalnummer string, Abteilung string, Name string",
    )
    run_pipeline(spark, wh, cfg, T1, batch=b)
    b2 = spark.createDataFrame(
        [("P1", "IT", "Alicia"), ("P1", "HR", "Alice")],
        "Personalnummer string, Abteilung string, Name string",
    )
    stats = run_pipeline(spark, wh, cfg, T2, batch=b2)
    assert dataclasses.asdict(stats) == {"unchanged": 1, "new_keys": 0, "updated_keys": 1}
    dim = wh.read(cfg.dim_table)
    assert dim.count() == 3  # 2 original + 1 new version of (P1, IT)


def test_intra_batch_dedup_and_trim(spark, wh):
    """Duplicate keys within a batch: latest ingest wins; values trimmed
    (FIXTURES.md §A.4 batch-2 scenario). Same-run duplicates share one
    IngestTimestamp; dedup-latest keeps one row per key, so exact dupes
    collapse and differing dupes are resolved by its order stability."""
    b1 = batch(spark, [("K1", "  Verwaltung  ", " Zentral")] * 3)
    stats = run_pipeline(spark, wh, CFG, T1, batch=b1)
    assert dataclasses.asdict(stats) == {"unchanged": 0, "new_keys": 1, "updated_keys": 0}
    dim = wh.read(CFG.dim_table).collect()
    assert len(dim) == 1
    assert dim[0].Bezeichnung == "Verwaltung" and dim[0].Bereich == "Zentral"
    b2 = batch(spark, [("K1", "Verwaltung", "Neu")] * 2)
    stats = run_pipeline(spark, wh, CFG, T2, batch=b2)
    assert dataclasses.asdict(stats) == {"unchanged": 0, "new_keys": 0, "updated_keys": 1}
    assert wh.read(CFG.dim_table).count() == 2


def test_merge_without_pipeline(spark, wh):
    """scd2_merge consumes any deduped frame directly (no raw landing)."""
    b = batch(spark, BATCH1)
    stats = scd2_merge(wh, CFG, b, T1)
    assert stats.new_keys == 3
    stats2 = scd2_merge(wh, CFG, batch(spark, [("K1", "Verwaltung", "Neu")]), T2)
    assert dataclasses.asdict(stats2) == {"unchanged": 0, "new_keys": 0, "updated_keys": 1}
    # absent keys stay current; K1 has history
    dim = wh.read(CFG.dim_table)
    assert dim.count() == 4
    assert dim.filter("IsCurrent").count() == 3


def test_run_many_fanout_and_skip(spark, wh):
    """O2/O3: the config-driven multi-table loop merges every table
    with a batch and skips tables with none (the reference's
    'no files matched' early return)."""
    from lakehouse_poc_spark.pipeline import run_many

    cfg_a = CFG
    cfg_b = PipelineConfig(
        name="personal",
        raw_table="layer0100.personal_raw",
        dim_table="layer0150.dim_personal",
        business_key=("Personalnummer",),
        compare_columns=("Name", "Abteilung"),
    )
    cfg_skip = PipelineConfig(
        name="nobatch",
        raw_table="layer0100.none_raw",
        dim_table="layer0150.dim_none",
        business_key=("k",),
        compare_columns=("v",),
    )
    batches = {
        "kosten": batch(spark, BATCH1),
        "personal": spark.createDataFrame(
            [("P1", "A", "X"), ("P2", "B", "Y")],
            "Personalnummer string, Name string, Abteilung string",
        ),
    }
    out = run_many(spark, wh, [cfg_a, cfg_b, cfg_skip], T1, batches=batches)
    assert set(out) == {"kosten", "personal"}
    assert out["kosten"].new_keys == 3
    assert out["personal"].new_keys == 2
    assert not wh.table_exists(cfg_skip.dim_table)
    assert wh.read(cfg_b.dim_table).count() == 2


def test_point_in_time_join_picks_single_valid_version(spark):
    """PIT join semantics on a hand-built two-version dimension:
    exactly one version per fact, NULLs before the first version and
    for absent keys, open-ended current version matches."""
    import datetime as dt

    from pyspark.sql import functions as F

    from lakehouse_poc_spark.operators.scd2 import point_in_time_join

    ts = dt.datetime
    dim = spark.createDataFrame(
        [
            (1, "v1", ts(2024, 1, 1), ts(2024, 1, 10)),
            (1, "v2", ts(2024, 1, 10), None),
            (2, "only", ts(2024, 1, 5), None),
        ],
        "k long, val string, valid_from timestamp, valid_to timestamp",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, ts(2024, 1, 2)),   # inside v1
            (101, 1, ts(2024, 1, 10)),  # boundary: v1 closed, v2 open
            (102, 1, ts(2023, 12, 31)), # before first version -> NULL
            (103, 2, ts(2024, 1, 6)),   # open-ended match
            (104, 3, ts(2024, 1, 6)),   # absent key -> NULL
        ],
        "fid long, k long, ts timestamp",
    )
    out = point_in_time_join(
        facts, dim, ["k"], "ts", "valid_from", "valid_to"
    )
    assert out.count() == 5  # no row multiplication
    got = {r.fid: r.val for r in out.collect()}
    assert got == {100: "v1", 101: "v2", 102: None, 103: "only", 104: None}


def test_bitemporal_correct_and_as_of(spark):
    """Bitemporal algebra: a retroactive correction closes the old
    belief (audit-preserved), re-inserts validity remainders, and
    both time axes slice correctly afterwards."""
    from lakehouse_poc_spark.operators.bitemporal import bitemporal_correct

    def as_of(bidim, valid_at, known_at=None):
        """The rows believed true for business date ``valid_at`` as
        known at ``known_at`` (default: current belief)."""
        tx = "tx_to IS NULL"
        if known_at is not None:
            k = f"TIMESTAMP '{known_at}'"
            tx = f"tx_from <= {k} AND (tx_to IS NULL OR {k} < tx_to)"
        return bidim.filter(
            f"valid_from <= DATE '{valid_at}' AND DATE '{valid_at}' < valid_to AND {tx}"
        )

    dim = spark.createDataFrame(
        [(1, "GOLD", "1995-01-01", "9999-12-31", "2024-01-01 00:00:00", None),
         (2, "IRON", "1995-01-01", "9999-12-31", "2024-01-01 00:00:00", None)],
        "k long, seg string, valid_from string, valid_to string, "
        "tx_from string, tx_to string",
    ).selectExpr(
        "k", "seg",
        "CAST(valid_from AS DATE) AS valid_from",
        "CAST(valid_to AS DATE) AS valid_to",
        "CAST(tx_from AS TIMESTAMP) AS tx_from",
        "CAST(tx_to AS TIMESTAMP) AS tx_to",
    )
    corr = spark.createDataFrame(
        [(1, "FIXED", "2000-01-01", "2010-01-01")],
        "k long, seg string, valid_from string, valid_to string",
    ).selectExpr(
        "k", "seg",
        "CAST(valid_from AS DATE) AS valid_from",
        "CAST(valid_to AS DATE) AS valid_to",
    )
    out = bitemporal_correct(dim, corr, ["k"], "2024-06-01 00:00:00")
    rows = out.collect()
    assert len(rows) == 5  # untouched k=2, superseded, left, right, new

    # current belief at business date 2005: k=1 FIXED, k=2 IRON
    cur = {r.k: r.seg for r in as_of(out, "2005-06-15").collect()}
    assert cur == {1: "FIXED", 2: "IRON"}
    # belief about 2005 as known BEFORE the correction: k=1 still GOLD
    old = {
        r.k: r.seg
        for r in as_of(out, "2005-06-15", known_at="2024-03-01 00:00:00").collect()
    }
    assert old == {1: "GOLD", 2: "IRON"}
    # outside the corrected window, current belief keeps the old value
    edge = {r.k: r.seg for r in as_of(out, "1998-01-01").collect()}
    assert edge == {1: "GOLD", 2: "IRON"}
    # every (key, valid date, knowledge time) has exactly ONE row
    assert as_of(out, "2005-06-15").groupBy("k").count().filter(
        "count > 1"
    ).count() == 0


def test_scd3_prev_value_and_idempotent_reapply(spark, wh):
    """SCD3 keeps exactly one previous value; re-applying the same
    batch changes nothing (no-op upsert), and a THIRD change shifts
    prev to the second value (only one level of history — the Type 3
    contract)."""
    from pyspark.sql import functions as F

    from lakehouse_poc_spark.operators.scd2 import scd3_upsert

    t = "dim.s3"
    b1 = spark.createDataFrame(
        [(1, "A"), (2, "B")], ["k", "seg"]
    )
    scd3_upsert(wh, t, b1, ["k"], "seg", "2024-01-01 00:00:00")
    b2 = spark.createDataFrame([(1, "X"), (3, "C")], ["k", "seg"])
    scd3_upsert(wh, t, b2, ["k"], "seg", "2024-01-02 00:00:00")
    rows = {r["k"]: r for r in wh.read(t).collect()}
    assert rows[1]["seg"] == "X" and rows[1]["seg_prev"] == "A"
    assert str(rows[1]["seg_changed_at"]).startswith("2024-01-02")
    assert rows[2]["seg"] == "B" and rows[2]["seg_prev"] is None
    assert rows[3]["seg"] == "C" and rows[3]["seg_prev"] is None
    # idempotent re-apply
    scd3_upsert(wh, t, b2, ["k"], "seg", "2024-01-03 00:00:00")
    r1 = {r["k"]: r for r in wh.read(t).collect()}[1]
    assert r1["seg_prev"] == "A"
    assert str(r1["seg_changed_at"]).startswith("2024-01-02")
    # third change: prev shifts, only one level kept
    b3 = spark.createDataFrame([(1, "Y")], ["k", "seg"])
    scd3_upsert(wh, t, b3, ["k"], "seg", "2024-01-04 00:00:00")
    r1 = {r["k"]: r for r in wh.read(t).collect()}[1]
    assert r1["seg"] == "Y" and r1["seg_prev"] == "X"
    assert str(r1["seg_changed_at"]).startswith("2024-01-04")


def test_scd3_null_key_rows_update_not_drop(spark, wh):
    """NULL keys match via eqNullSafe (presence markers, not key
    isNotNull): a NULL-keyed update lands instead of silently
    vanishing or inserting an all-NULL row (code-review r7)."""
    from pyspark.sql import functions as F  # noqa: F401

    from lakehouse_poc_spark.operators.scd2 import scd3_upsert

    t = "dim.s3null"
    b1 = spark.createDataFrame(
        [(None, "A"), ("k1", "B")], "k string, seg string"
    )
    scd3_upsert(wh, t, b1, ["k"], "seg", "2024-01-01 00:00:00")
    b2 = spark.createDataFrame([(None, "Z")], "k string, seg string")
    scd3_upsert(wh, t, b2, ["k"], "seg", "2024-01-02 00:00:00")
    rows = {r["k"]: r for r in wh.read(t).collect()}
    assert set(rows) == {None, "k1"}
    assert rows[None]["seg"] == "Z" and rows[None]["seg_prev"] == "A"
    assert str(rows[None]["seg_changed_at"]).startswith("2024-01-02")
    assert rows["k1"]["seg"] == "B" and rows["k1"]["seg_prev"] is None


# ---------------------------------------------------------------------------
# Write-side (MERGE-path) schema evolution — VERDICT r7 task 3.

EVO_CFG1 = PipelineConfig(
    name="evo",
    raw_table="layer0100.evo_raw",
    dim_table="layer0150.dim_evo",
    business_key=("k",),
    compare_columns=("a",),
)
EVO_CFG2 = PipelineConfig(
    name="evo",
    raw_table="layer0100.evo_raw",
    dim_table="layer0150.dim_evo",
    business_key=("k",),
    compare_columns=("a", "b"),
)


def _evo_batches(spark):
    b1 = spark.createDataFrame([("K1", "x"), ("K2", "y")], "k string, a string")
    b2 = spark.createDataFrame(
        [("K1", "x", "new"), ("K2", "y", None), ("K3", "z", "n3")],
        "k string, a string, b string",
    )
    return b1, b2


def test_scd2_evolve_widens_and_null_backfills(spark, wh):
    b1, b2 = _evo_batches(spark)
    scd2_merge(wh, EVO_CFG1, b1, T1)
    stats = scd2_merge(wh, EVO_CFG2, b2, T2, evolve=True)
    # K1: b NULL->'new' = changed; K2: b NULL vs NULL = unchanged; K3 new
    assert dataclasses.asdict(stats) == {"unchanged": 1, "new_keys": 1, "updated_keys": 1}
    dim = wh.read(EVO_CFG2.dim_table)
    assert "b" in dim.columns
    rows = {(r["k"], r["is_current"]): r for r in dim.collect()}
    assert rows[("K1", False)]["b"] is None          # history null-backfill
    assert rows[("K1", True)]["b"] == "new"
    assert rows[("K2", True)]["b"] is None           # untouched, backfilled
    assert str(rows[("K2", True)]["valid_from"]).startswith("2030-01-01")
    assert rows[("K3", True)]["b"] == "n3"


def test_scd2_evolve_idempotent_reapply(spark, wh):
    b1, b2 = _evo_batches(spark)
    scd2_merge(wh, EVO_CFG1, b1, T1)
    scd2_merge(wh, EVO_CFG2, b2, T2, evolve=True)
    before = sorted(map(tuple, wh.read(EVO_CFG2.dim_table).collect()))
    stats = scd2_merge(wh, EVO_CFG2, b2, T3, evolve=True)
    assert dataclasses.asdict(stats) == {"unchanged": 3, "new_keys": 0, "updated_keys": 0}
    after = sorted(map(tuple, wh.read(EVO_CFG2.dim_table).collect()))
    assert before == after


def test_scd2_evolve_false_fails_fast(spark, wh):
    b1, b2 = _evo_batches(spark)
    scd2_merge(wh, EVO_CFG1, b1, T1)
    with pytest.raises(ValueError, match=r"\['b'\].*evolve=True"):
        scd2_merge(wh, EVO_CFG2, b2, T2)
    # target untouched by the failed merge
    dim = wh.read(EVO_CFG1.dim_table)
    assert "b" not in dim.columns and dim.count() == 2


def test_scd2_evolve_on_deltalog_warehouse(spark, tmp_path):
    """The evolution path rides apply_scd2_changeset's full-rewrite leg,
    which the Warehouse commits as one log overwrite — the widened
    schema must land in the log (a new metaData), and time travel still
    reads the PRE-evolution schema at the pre-merge version."""
    from lakehouse_poc_spark.sinks.warehouse import Warehouse

    dwh = Warehouse(spark, str(tmp_path / "dwh"))
    b1, b2 = _evo_batches(spark)
    scd2_merge(dwh, EVO_CFG1, b1, T1)
    v1 = dwh.version(EVO_CFG1.dim_table)
    scd2_merge(dwh, EVO_CFG2, b2, T2, evolve=True)
    assert dwh.version(EVO_CFG2.dim_table) == v1 + 1
    dim = dwh.read(EVO_CFG2.dim_table)
    assert "b" in dim.columns
    assert dim.filter(F.col("is_current")).count() == 3
    assert dim.filter(F.col("b").isNotNull()).count() > 0
    old = dwh.read_version(EVO_CFG1.dim_table, v1)
    assert "b" not in old.columns


def test_scd4_current_plus_history(spark, wh):
    from lakehouse_poc_spark.operators.scd2 import scd4_upsert

    t = "dim.scd4"
    b1 = spark.createDataFrame(
        [("K1", "a"), ("K2", "b")], ["k", "attr"]
    )
    scd4_upsert(wh, t, b1, ["k"], "attr", "2024-01-01 00:00:00")
    cur = wh.read(t).toPandas().sort_values("k")
    assert list(cur["attr"]) == ["a", "b"]
    assert wh.read(f"{t}__hist").count() == 0

    # K1 changes, K2 unchanged, K3 new
    b2 = spark.createDataFrame(
        [("K1", "a2"), ("K2", "b"), ("K3", "c")], ["k", "attr"]
    )
    scd4_upsert(wh, t, b2, ["k"], "attr", "2024-01-02 00:00:00")
    cur = wh.read(t).toPandas().sort_values("k").reset_index(drop=True)
    assert list(cur["attr"]) == ["a2", "b", "c"]
    # loaded_at: changed + new rows stamped T2, unchanged keeps T1
    stamps = dict(zip(cur["k"], cur["loaded_at"].astype(str)))
    assert stamps["K1"].startswith("2024-01-02")
    assert stamps["K2"].startswith("2024-01-01")
    assert stamps["K3"].startswith("2024-01-02")
    hist = wh.read(f"{t}__hist").toPandas()
    assert len(hist) == 1
    assert hist.iloc[0]["k"] == "K1" and hist.iloc[0]["attr"] == "a"
    assert str(hist.iloc[0]["archived_at"]).startswith("2024-01-02")

    # idempotent replay: same batch again → no new history rows
    scd4_upsert(wh, t, b2, ["k"], "attr", "2024-01-03 00:00:00")
    assert wh.read(f"{t}__hist").count() == 1
    cur3 = wh.read(t).toPandas().sort_values("k").reset_index(drop=True)
    assert list(cur3["attr"]) == ["a2", "b", "c"]
    # unchanged rows keep their original load stamps on replay
    stamps3 = dict(zip(cur3["k"], cur3["loaded_at"].astype(str)))
    assert stamps3["K1"].startswith("2024-01-02")


def test_scd4_null_safe_change_detection(spark, wh):
    from lakehouse_poc_spark.operators.scd2 import scd4_upsert

    t = "dim.scd4n"
    b1 = spark.createDataFrame([("K1", None), ("K2", "x")], ["k", "attr"])
    scd4_upsert(wh, t, b1, ["k"], "attr", "2024-01-01 00:00:00")
    # NULL→value and value→NULL both count as changes
    b2 = spark.createDataFrame([("K1", "y"), ("K2", None)], ["k", "attr"])
    scd4_upsert(wh, t, b2, ["k"], "attr", "2024-01-02 00:00:00")
    hist = wh.read(f"{t}__hist").toPandas().sort_values("k")
    assert list(hist["k"]) == ["K1", "K2"]
    assert hist.iloc[0]["attr"] is None or pd.isna(hist.iloc[0]["attr"])
    assert hist.iloc[1]["attr"] == "x"


def test_scd6_history_with_type1_overlay(spark, wh):
    from lakehouse_poc_spark.operators.scd2 import scd6_upsert

    t = "dim.scd6"
    b1 = spark.createDataFrame([("K1", "a"), ("K2", "b")], ["k", "attr"])
    scd6_upsert(wh, t, b1, ["k"], "attr", "2024-01-01 00:00:00")
    # K1 changes twice, K3 arrives
    b2 = spark.createDataFrame([("K1", "a2"), ("K3", "c")], ["k", "attr"])
    scd6_upsert(wh, t, b2, ["k"], "attr", "2024-01-02 00:00:00")
    b3 = spark.createDataFrame([("K1", "a3")], ["k", "attr"])
    scd6_upsert(wh, t, b3, ["k"], "attr", "2024-01-03 00:00:00")
    out = (
        wh.read(t)
        .toPandas()
        .sort_values(["k", "valid_from"])
        .reset_index(drop=True)
    )
    k1 = out[out["k"] == "K1"]
    # full SCD2 history...
    assert list(k1["attr"]) == ["a", "a2", "a3"]
    assert list(k1["is_current"]) == [False, False, True]
    # ...and the type-1 overlay says TODAY'S value on every row
    assert list(k1["attr_current"]) == ["a3", "a3", "a3"]
    # closed rows chain: valid_to of row i == valid_from of row i+1
    assert list(k1["valid_to"].astype(str).str[:10]) == [
        "2024-01-02",
        "2024-01-03",
        "NaT",
    ]
    # untouched and unchanged keys: single open row, overlay == value
    k2 = out[out["k"] == "K2"]
    assert len(k2) == 1 and bool(k2.iloc[0]["is_current"])
    assert k2.iloc[0]["attr_current"] == "b"
    # idempotent replay: same batch again → nothing moves
    scd6_upsert(wh, t, b3, ["k"], "attr", "2024-01-04 00:00:00")
    out2 = wh.read(t).toPandas()
    assert len(out2) == len(out)
    assert (out2["k"] == "K1").sum() == 3


# ---------------------------------------------------------------------------
# One-pass merge shape and the observed stats.

# Jobs one scd2_merge runs on a tiny batch, measured on local[4] with 4
# shuffle partitions (slack 0, the test_shuffle_budget discipline): the
# bootstrap is one observed overwrite; the existing-table path is one
# shuffle-map job per join side and the write that fills the
# Observation (the dimension's schema comes from its footer key on the
# driver, with no job).
BOOTSTRAP_JOB_BUDGET = 1
MERGE_JOB_BUDGET = 3


def _dim_rows(wh):
    return sorted(tuple(map(str, r)) for r in wh.read(CFG.dim_table).collect())


def test_one_pass_merge_job_budget_and_no_cache(spark, wh, jobs_in_group):
    sc = spark.sparkContext
    persisted_before = set(sc._jsc.getPersistentRDDs().keySet())
    b1 = batch(spark, BATCH1)
    boot, boot_jobs = jobs_in_group(
        "scd2-bootstrap", lambda: scd2_merge(wh, CFG, b1, T1)
    )
    assert dataclasses.asdict(boot) == {"unchanged": 0, "new_keys": 3, "updated_keys": 0}
    b2 = batch(
        spark,
        [
            ("K1", "Verwaltung", "Zentral"),
            ("K2", "Fertigung", "Werk 2"),
            ("K4", "Einkauf", "Sued"),
        ],
    )
    stats, merge_jobs = jobs_in_group(
        "scd2-merge", lambda: scd2_merge(wh, CFG, b2, T2)
    )
    assert dataclasses.asdict(stats) == {"unchanged": 1, "new_keys": 1, "updated_keys": 1}
    assert set(sc._jsc.getPersistentRDDs().keySet()) == persisted_before
    assert boot_jobs <= BOOTSTRAP_JOB_BUDGET, (
        f"bootstrap ran {boot_jobs} jobs (budget {BOOTSTRAP_JOB_BUDGET})"
    )
    assert merge_jobs <= MERGE_JOB_BUDGET, (
        f"merge ran {merge_jobs} jobs (budget {MERGE_JOB_BUDGET}) — "
        "a second pass over the join crept in"
    )
    assert wh.read(CFG.dim_table).count() == 5


def test_observed_stats_batch_from_another_session(spark, wh):
    """The Observation is registered in the batch's session. A batch
    from a different session than the warehouse (the foreachBatch case)
    must still fill it instead of blocking Observation.get forever."""
    import threading

    scd2_merge(wh, CFG, batch(spark, BATCH1), T1)
    other = spark.newSession()
    b2 = other.createDataFrame(
        [("K2", "Fertigung", "Werk 2"), ("K4", "Einkauf", "Sued")],
        "Kostenstelle string, Bezeichnung string, Bereich string",
    )
    result = {}

    def run():
        try:
            result["stats"] = scd2_merge(wh, CFG, b2, T2)
        except Exception as e:  # surfaced by the assert below
            result["error"] = e

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(timeout=180)
    assert not th.is_alive(), "scd2_merge hung waiting for its Observation"
    assert "error" not in result, result.get("error")
    assert dataclasses.asdict(result["stats"]) == {
        "unchanged": 0, "new_keys": 1, "updated_keys": 1,
    }
    assert wh.read(CFG.dim_table).count() == 5


def test_empty_batch_is_a_no_op(spark, wh):
    """An empty batch counts zero on both paths: the bootstrap writes an
    empty dimension, a merge leaves the existing one as it was."""
    assert scd2_merge(wh, CFG, batch(spark, []), T1) == MergeStats(0, 0, 0)
    assert wh.read(CFG.dim_table).count() == 0
    scd2_merge(wh, CFG, batch(spark, BATCH1), T1)
    scd2_merge(wh, CFG, batch(spark, [("K2", "Fertigung", "Werk 2")]), T2)
    before = _dim_rows(wh)
    stats = scd2_merge(wh, CFG, batch(spark, []), T3)
    assert stats == MergeStats(0, 0, 0)
    assert _dim_rows(wh) == before


def test_null_business_key_inserts_and_keeps_target(spark, wh):
    """Key equality is null-unsafe: a NULL-keyed batch row never matches,
    so it is inserted as new and the NULL-keyed open row is kept."""
    b1 = batch(spark, [(None, "Alt", "X"), ("K1", "A", "B")])
    scd2_merge(wh, CFG, b1, T1)
    stats = scd2_merge(
        wh, CFG, batch(spark, [(None, "Neu", "Y"), ("K1", "A", "B")]), T2
    )
    assert dataclasses.asdict(stats) == {"unchanged": 1, "new_keys": 1, "updated_keys": 0}
    dim = wh.read(CFG.dim_table)
    nulls = sorted(
        (r.Bezeichnung, str(r.GueltigVon), r.GueltigBis, r.IsCurrent)
        for r in dim.filter(F.col("Kostenstelle").isNull()).collect()
    )
    assert nulls == [("Alt", T1, None, True), ("Neu", T2, None, True)]
    assert dim.count() == 3


def test_rerun_with_same_run_ts(spark, wh):
    """A replayed batch at the same run_ts changes nothing; a changed
    batch at the bootstrap's run_ts closes the row with an empty
    validity interval (valid_from == valid_to) and opens the new one."""
    scd2_merge(wh, CFG, batch(spark, BATCH1), T1)
    b2 = batch(spark, [("K2", "Fertigung", "Werk 2"), ("K4", "Einkauf", "Sued")])
    scd2_merge(wh, CFG, b2, T2)
    before = _dim_rows(wh)
    replay = scd2_merge(wh, CFG, b2, T2)
    assert dataclasses.asdict(replay) == {"unchanged": 2, "new_keys": 0, "updated_keys": 0}
    assert _dim_rows(wh) == before

    cfg2 = dataclasses.replace(CFG, dim_table="layer0150.dim_kostenstelle2")
    scd2_merge(wh, cfg2, batch(spark, BATCH1), T1)
    same_ts = scd2_merge(
        wh, cfg2, batch(spark, [("K1", "Verwaltung", "Neu")]), T1
    )
    assert dataclasses.asdict(same_ts) == {"unchanged": 0, "new_keys": 0, "updated_keys": 1}
    k1 = sorted(
        (str(r.GueltigVon), str(r.GueltigBis), r.IsCurrent, r.Bereich)
        for r in wh.read(cfg2.dim_table)
        .filter(F.col("Kostenstelle") == "K1")
        .collect()
    )
    assert k1 == [(T1, T1, False, "Zentral"), (T1, "None", True, "Neu")]


def test_scd2_on_delta_log_versions_and_change_feed(spark, wh):
    """The paper's sink is Delta. Two pipeline merges commit the
    dimension as log versions 0 and 1: version 0 reads back the
    bootstrap, and the change feed between them holds the merge's
    inserts and update pre/post images."""
    b2 = [("K1", "Verwaltung", "Zentral"), ("K2", "Fertigung", "Werk 2"),
          ("K4", "Einkauf", "Sued")]
    stats = [
        run_pipeline(spark, wh, CFG, ts, batch=batch(spark, rows))
        for ts, rows in ((T1, BATCH1), (T2, b2))
    ]
    assert dataclasses.asdict(stats[1]) == {
        "unchanged": 1, "new_keys": 1, "updated_keys": 1,
    }

    t = CFG.dim_table
    cols = ["Kostenstelle", "Bereich", "GueltigVon", "GueltigBis", "IsCurrent"]

    def rows(df):
        return sorted(tuple(map(str, r)) for r in df.select(*cols).collect())

    assert wh.version(t) == 1
    assert rows(wh.read_version(t, 0)) == [
        (k, bereich, T1, "None", "True") for k, _, bereich in BATCH1
    ]

    changes = wh.table_changes(t, 0, 1, keys=["Kostenstelle", "GueltigVon"])
    got = sorted(
        tuple(map(str, r))
        for r in changes.select(*cols, "_change_type").collect()
    )
    assert got == [
        ("K2", "Werk 1", T1, T2, "False", "update_postimage"),
        ("K2", "Werk 1", T1, "None", "True", "update_preimage"),
        ("K2", "Werk 2", T2, "None", "True", "insert"),
        ("K4", "Sued", T2, "None", "True", "insert"),
    ]
