"""The pipeline's two concurrent branches (raw landing beside the SCD2
merge), their job budget, their failure contract, and the ``overlap``
helper they run on."""

from __future__ import annotations

import threading
import time
from dataclasses import asdict

import pytest
from pyspark.sql import functions as F

from lakehouse_poc_spark import pipeline
from lakehouse_poc_spark.config import PipelineConfig
from lakehouse_poc_spark.operators.ingest import INGEST_TS
from lakehouse_poc_spark.session import overlap
from lakehouse_poc_spark.sinks.warehouse import Warehouse
from lakehouse_poc_spark.sources.readers import CsvDialect

T1 = "2030-01-01 00:00:00"
T2 = "2030-01-02 00:00:00"

BATCH1 = [("K1", "Verwaltung", "Zentral"), ("K2", "Fertigung", "Werk 1"), ("K3", "Vertrieb", "Nord")]
BATCH2 = [("K1", "Verwaltung", "Zentral"), ("K2", "Fertigung", "Werk 2"), ("K4", "Einkauf", "Sued")]


def _cfg(**kw) -> PipelineConfig:
    return PipelineConfig(
        name="kosten",
        raw_table="layer0100.kosten_raw",
        dim_table="layer0150.dim_kostenstelle",
        business_key=("Kostenstelle",),
        compare_columns=("Bezeichnung", "Bereich"),
        **kw,
    )


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "Kostenstelle string, Bezeichnung string, Bereich string"
    )


def _rows(df):
    return sorted(tuple(map(str, r)) for r in df.collect())


# ---------------------------------------------------------------------------
# overlap


def test_overlap_returns_results_in_order():
    def slow(v, s):
        def f():
            time.sleep(s)
            return v

        return f

    assert overlap(slow("a", 0.2), slow("b", 0.0), slow("c", 0.1)) == ["a", "b", "c"]


def test_overlap_reraises_first_error_after_every_branch_finished():
    done = threading.Event()

    def fails():
        raise ValueError("first")

    def slow_branch():
        time.sleep(0.3)
        done.set()

    def fails_later():
        time.sleep(0.1)
        raise KeyError("second")

    with pytest.raises(ValueError, match="first"):
        overlap(fails, slow_branch, fails_later)
    assert done.is_set()


def test_overlap_branches_inherit_job_group_and_leave_conf(spark, jobs_in_group):
    def a():
        return spark.range(10).count()

    def b():
        return spark.range(20).count()

    _, serial_jobs = jobs_in_group("serial-group", lambda: [a(), b()])
    confs = spark.sql("SET").collect()
    counts, jobs = jobs_in_group("overlap-group", lambda: overlap(a, b))
    assert counts == [10, 20]
    assert jobs == serial_jobs > 0
    assert spark.sql("SET").collect() == confs


# ---------------------------------------------------------------------------
# run_pipeline

# Jobs of one run_pipeline op on a CSV extract, local[4] with 4 shuffle
# partitions, counted with jobs_in_group, overlapped branch included
# (slack 0): CSV schema inference (2), then beside each other the raw
# append (1) and the dimension: the bootstrap is the dedup shuffle and
# the overwrite (2), the merge one shuffle-map job per join side and the
# write (3).
PIPELINE_BOOTSTRAP_JOB_BUDGET = 5
PIPELINE_MERGE_JOB_BUDGET = 6


def _write_csv(path, rows):
    lines = ["Kostenstelle;Bezeichnung;Bereich"] + [";".join(r) for r in rows]
    path.write_bytes(("\r\n".join(lines) + "\r\n").encode("cp1252"))


def test_run_pipeline_job_budget(spark, wh, tmp_path, jobs_in_group):
    src = tmp_path / "in"
    src.mkdir()
    f1, f2 = src / "KOSTEN_1.csv", src / "KOSTEN_2.csv"
    _write_csv(f1, BATCH1)
    _write_csv(f2, BATCH2)
    dialect = CsvDialect(sep=";", encoding="cp1252")
    boot, boot_jobs = jobs_in_group(
        "pipeline-bootstrap",
        lambda: pipeline.run_pipeline(
            spark, wh, _cfg(source_path=str(f1), dialect=dialect), T1
        ),
    )
    stats, merge_jobs = jobs_in_group(
        "pipeline-merge",
        lambda: pipeline.run_pipeline(
            spark, wh, _cfg(source_path=str(f2), dialect=dialect), T2
        ),
    )
    assert asdict(boot) == {"unchanged": 0, "new_keys": 3, "updated_keys": 0}
    assert asdict(stats) == {"unchanged": 1, "new_keys": 1, "updated_keys": 1}
    assert boot_jobs <= PIPELINE_BOOTSTRAP_JOB_BUDGET, boot_jobs
    assert merge_jobs <= PIPELINE_MERGE_JOB_BUDGET, merge_jobs
    assert wh.read(_cfg().raw_table).count() == 6


def _fail_once(obj, name, monkeypatch):
    orig = getattr(obj, name)
    calls = {"n": 0}

    def flaky(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError(f"injected failure in {name}")
        return orig(*args, **kwargs)

    monkeypatch.setattr(obj, name, flaky)


@pytest.mark.parametrize("failing", ["append", "apply_scd2_changeset"])
def test_failed_branch_rerun_converges(spark, tmp_path, monkeypatch, failing):
    """One branch fails, the other may have committed; rerunning the
    same run_ts yields the dimension of an uninterrupted run, and the
    raw table holds the batch."""
    cfg = _cfg()
    ref = Warehouse(spark, str(tmp_path / "ref"))
    pipeline.run_pipeline(spark, ref, cfg, T1, batch=_batch(spark, BATCH1))
    pipeline.run_pipeline(spark, ref, cfg, T2, batch=_batch(spark, BATCH2))

    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipeline.run_pipeline(spark, wh, cfg, T1, batch=_batch(spark, BATCH1))
    _fail_once(wh, failing, monkeypatch)
    with pytest.raises(RuntimeError, match="injected failure"):
        pipeline.run_pipeline(spark, wh, cfg, T2, batch=_batch(spark, BATCH2))
    pipeline.run_pipeline(spark, wh, cfg, T2, batch=_batch(spark, BATCH2))

    assert _rows(wh.read(cfg.dim_table)) == _rows(ref.read(cfg.dim_table))
    landed = (
        wh.read(cfg.raw_table)
        .filter(F.col(INGEST_TS) == F.lit(T2).cast("timestamp"))
        .select(*cfg.wanted_columns)
        .distinct()
    )
    assert _rows(landed) == sorted(tuple(r) for r in BATCH2)


# ---------------------------------------------------------------------------
# A crash at the commit point


def _crash_at_commit(wh, method, monkeypatch):
    """The first commit-point ``os.link`` that ``wh.<method>`` reaches
    (in its own thread) raises, as if the process died there: the data
    files are staged, the commit never lands."""
    import os

    armed, fired, real_link = threading.local(), [], os.link

    def link(src, dst, *a, **kw):
        if getattr(armed, "on", False) and not fired:
            fired.append(str(dst))
            raise OSError("simulated crash at the commit point")
        return real_link(src, dst, *a, **kw)

    orig = getattr(wh, method)

    def armed_call(*a, **kw):
        armed.on = True
        try:
            return orig(*a, **kw)
        finally:
            armed.on = False

    monkeypatch.setattr(os, "link", link)
    monkeypatch.setattr(wh, method, armed_call)
    return fired


@pytest.mark.parametrize(
    "method, table", [("apply_scd2_changeset", "dim"), ("append", "raw")]
)
def test_crash_at_commit_point_keeps_version_and_rerun_converges(
    spark, tmp_path, monkeypatch, method, table
):
    """The paper's pipeline dies at the commit point of the SCD2 apply,
    or of the raw append. A fresh reader still sees the last committed
    version v; vacuum removes the orphaned staged files and no file of
    version v; rerunning the same run_ts yields the dimension of an
    uninterrupted run."""
    from lakehouse_poc_spark.sources.deltalog import _replay

    cfg = _cfg()
    ref = Warehouse(spark, str(tmp_path / "ref"))
    pipeline.run_pipeline(spark, ref, cfg, T1, batch=_batch(spark, BATCH1))
    pipeline.run_pipeline(spark, ref, cfg, T2, batch=_batch(spark, BATCH2))

    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    pipeline.run_pipeline(spark, wh, cfg, T1, batch=_batch(spark, BATCH1))
    t = cfg.dim_table if table == "dim" else cfg.raw_table
    p = wh.path(t)
    v = wh.version(t)
    rows_v = _rows(wh.read(t))
    fired = _crash_at_commit(wh, method, monkeypatch)
    with pytest.raises(OSError, match="commit point"):
        pipeline.run_pipeline(spark, wh, cfg, T2, batch=_batch(spark, BATCH2))
    monkeypatch.undo()
    assert fired and fired[0].endswith(f"{v + 1:020d}.json")

    fresh = Warehouse(spark, root)
    assert fresh.version(t) == v
    assert _rows(fresh.read(t)) == rows_v
    referenced = {f for u in range(v + 1) for f in _replay(p, u)["files"]}
    orphans = {f.name for f in p.glob("*.parquet")} - referenced
    assert orphans  # the staged files the commit never referenced
    live_v = set(_replay(p, v)["files"])
    fresh.vacuum(min_age=0)
    left = {f.name for f in p.glob("*.parquet")}
    assert not orphans & left
    assert live_v <= left
    assert _rows(fresh.read_version(t, v)) == rows_v

    pipeline.run_pipeline(spark, fresh, cfg, T2, batch=_batch(spark, BATCH2))
    assert _rows(fresh.read(cfg.dim_table)) == _rows(ref.read(cfg.dim_table))
    landed = (
        fresh.read(cfg.raw_table)
        .filter(F.col(INGEST_TS) == F.lit(T2).cast("timestamp"))
        .select(*cfg.wanted_columns)
        .distinct()
    )
    assert _rows(landed) == sorted(tuple(r) for r in BATCH2)
