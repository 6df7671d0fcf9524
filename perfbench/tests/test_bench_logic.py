"""Tests of the benchmark's own logic: the generators' truth models,
the checkers, the tail-percentile rule and the event-log parser.

Run with: python3 -m pytest perfbench/tests -q
No Spark session is started.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path
from types import SimpleNamespace

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import eventlog  # noqa: E402
import gen  # noqa: E402
import hygiene  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


# --- generator truth ---------------------------------------------------------


def parse_csv(data: bytes) -> list[list[str]]:
    text = data.decode("cp1252")
    assert text.endswith("\r\n")
    return [line.split(";") for line in text.split("\r\n")[:-1]]


def test_dimension_truth_on_a_tiny_run():
    src = gen.DimensionSource(10, seed=3, dup_frac=0.3, pad_frac=0.3, null_frac=0.2)
    first = src.next_batch()
    assert (first.new_keys, first.updated_keys, first.unchanged) == (10, 0, 0)
    before = dict(src.state)
    second = src.next_batch()
    # 3% of 10 keys rounds to 0, so one key changes; 1% adds one key
    assert (second.new_keys, second.updated_keys, second.unchanged) == (1, 1, 9)
    assert len(src.state) == 11
    changed = [k for k in before if before[k] != src.state[k]]
    assert len(changed) == 1
    assert src.versions[changed[0]] == 2
    assert sum(src.versions.values()) == 12


def test_snapshot_carries_every_key_with_dupes_padding_and_nulls():
    src = gen.DimensionSource(200, seed=5, dup_frac=0.2, pad_frac=0.3, null_frac=0.2)
    src.next_batch()
    rows = parse_csv(src.snapshot_csv())
    assert rows[0] == [gen.KEY_COL, *gen.COMPARE_COLS]
    body = rows[1:]
    assert len(body) > len(src.state)  # exact duplicates
    seen = {}
    for key, *vals in body:
        clean = tuple(v.strip() or None for v in vals)
        assert clean == src.state[key]
        seen.setdefault(key, set()).add(tuple(vals))
    assert set(seen) == set(src.state)
    assert all(len(v) == 1 for v in seen.values())  # duplicates are exact
    assert any(v != v.strip() for _, *vals in body for v in vals)  # padding
    assert any(v == "" for _, *vals in body for v in vals)  # NULLs


def test_same_seed_same_extract():
    a, b = gen.DimensionSource(50, seed=9), gen.DimensionSource(50, seed=9)
    for _ in range(3):
        a.next_batch(), b.next_batch()
    assert a.snapshot_csv() == b.snapshot_csv()


# --- checkers reject wrong results -------------------------------------------


def test_merge_stats_checker():
    truth = gen.BatchTruth("2026-01-01 01:00:00", new_keys=2, updated_keys=3, unchanged=5, rows=10)
    ok = SimpleNamespace(new_keys=2, updated_keys=3, unchanged=5)
    wrong = SimpleNamespace(new_keys=2, updated_keys=2, unchanged=6)
    assert workloads.merge_stats_errors(ok, truth) == []
    assert workloads.merge_stats_errors(wrong, truth)


def _dimension(src: gen.DimensionSource) -> pd.DataFrame:
    """A correct SCD2 table for a two-batch model: one closed and one
    open version for every changed key."""
    t1, t2 = pd.Timestamp("2026-01-01 00:00"), pd.Timestamp("2026-01-01 01:00")
    rows = []
    for k, vals in src.state.items():
        if src.versions[k] == 2:
            rows.append({gen.KEY_COL: k, **dict(zip(gen.COMPARE_COLS, ("old", "old"))),
                         "valid_from": t1, "valid_to": t2, "is_current": False})
            rows.append({gen.KEY_COL: k, **dict(zip(gen.COMPARE_COLS, vals)),
                         "valid_from": t2, "valid_to": pd.NaT, "is_current": True})
        else:
            rows.append({gen.KEY_COL: k, **dict(zip(gen.COMPARE_COLS, vals)),
                         "valid_from": t1, "valid_to": pd.NaT, "is_current": True})
    return pd.DataFrame(rows)


TECH = SimpleNamespace(valid_from="valid_from", valid_to="valid_to", is_current="is_current")


def test_dimension_checker_accepts_a_correct_table():
    src = gen.DimensionSource(20, seed=1, change_frac=0.2)
    src.next_batch(), src.next_batch()
    assert workloads.dimension_errors(_dimension(src), TECH, src) == []


def test_dimension_checker_rejects_wrong_tables():
    src = gen.DimensionSource(20, seed=1, change_frac=0.2)
    src.next_batch(), src.next_batch()
    good = _dimension(src)
    changed = next(k for k, v in src.versions.items() if v == 2)

    wrong_value = good.copy()
    i = wrong_value.index[wrong_value["is_current"]][0]
    wrong_value.loc[i, gen.COMPARE_COLS[0]] = "not in the model"
    assert workloads.dimension_errors(wrong_value, TECH, src)

    two_open = good.copy()
    two_open.loc[(two_open[gen.KEY_COL] == changed) & ~two_open["is_current"], "is_current"] = True
    assert workloads.dimension_errors(two_open, TECH, src)

    gap = good.copy()
    gap.loc[(gap[gen.KEY_COL] == changed) & ~gap["is_current"], "valid_to"] = pd.Timestamp("2026-01-01 00:30")
    assert workloads.dimension_errors(gap, TECH, src)

    lost_history = good[~((good[gen.KEY_COL] == changed) & ~good["is_current"])]
    assert workloads.dimension_errors(lost_history, TECH, src)


def test_deltalog_shadow_and_read_checker():
    import random

    dml = workloads.DeltaLogDml(seed=1, work=Path("unused"))
    dml.shadow = gen.OrdersShadow()
    rng = random.Random(1)
    dml.shadow.apply(dml.shadow.new_rows(rng, 50, 5))
    n, h = dml.shadow.snapshot()
    assert n == 50
    op = dml._read_op()
    assert op.check((n, h)) == []
    assert op.check((n + 1, h))
    assert op.check((n, h + 1))
    # an upsert that changes one row changes the hash, not the count
    key = next(iter(dml.shadow.rows))
    cust, status, cents, day, prio = dml.shadow.rows[key]
    dml.shadow.apply({key: (cust, status, cents + 1, day, prio)})
    assert dml.shadow.snapshot()[0] == n and dml.shadow.snapshot()[1] != h
    gone = dml.shadow.delete_cust(cust)
    assert gone >= 1 and dml.shadow.snapshot()[0] == n - gone


def test_query_result_hash():
    cols = ["b", "a"]
    rows = [(1.0, "x"), (2.5, "y")]
    same = [("y", 2.5 + 1e-13), ("x", 1)]  # other column order and row order
    assert workloads.rows_hash(workloads.canonical_rows(rows, cols)) == workloads.rows_hash(
        workloads.canonical_rows(same, ["a", "b"])
    )
    wrong = [(1.0, "x"), (2.6, "y")]
    assert workloads.rows_hash(workloads.canonical_rows(rows, cols)) != workloads.rows_hash(
        workloads.canonical_rows(wrong, cols)
    )


def test_session_drift_is_named():
    base = hygiene.SessionState({"a": "1"}, frozenset({"v"}), frozenset({1}), True)
    assert hygiene.drift(base, base) == []
    leaked = hygiene.SessionState({"a": "2", "b": "x"}, frozenset({"v", "w"}), frozenset({1, 7}), False)
    d = hygiene.drift(base, leaked)
    assert any("conf a" in x for x in d) and any("conf b" in x for x in d)
    assert any("temp view added: w" in x for x in d)
    assert any("persisted RDDs" in x for x in d)
    assert any("cache manager" in x for x in d)


# --- tail percentile ---------------------------------------------------------


@pytest.mark.parametrize("n,pct", [(1, 50), (7, 50), (20, 50), (21, 52), (100, 90), (200, 95), (1000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct


def test_summarize_tail_never_below_median():
    vals = [float(i) for i in range(1, 101)]
    s = stats.summarize(vals)
    assert s["n"] == 100 and s["tail_pct"] == 90 and s["tail"] == 90.0
    assert s["p50"] == 50.5
    small = stats.summarize([3.0, 1.0, 2.0, 10.0])
    assert small["tail"] >= small["p50"]


# --- event log ---------------------------------------------------------------


def test_event_log_parser_and_attribution():
    lines = (HERE / "data" / "events_small.jsonl").read_text().splitlines()
    ops = [tuple(o) for o in json.loads((HERE / "data" / "events_small_ops.json").read_text())["ops"]]
    log = eventlog.parse_lines(lines)
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert all(j.end_ms >= j.submit_ms for j in log.jobs.values())
    profs = eventlog.attribute(log, ops)
    # op 0: an aggregation collected twice (jobs 0-2; skipped stages have
    # no tasks); op 1: one mapInPandas job
    assert [p.jobs for p in profs] == [3, 1]
    assert [p.tasks.tasks for p in profs] == [4, 2]
    assert profs[0].tasks.python_ms == 0
    assert profs[1].tasks.python_ms == 1455 + 1596
    assert profs[0].tasks.shuffle_write_bytes > 0
    for p, (s, e) in zip(profs, ops):
        assert 0 < p.job_union_s <= e - s
    assert eventlog.jobs_within(log, ops[1:]) == 1


def test_stage_reused_by_a_later_job_is_charged_once():
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 5}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1100},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 7}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100},
    ]
    log = eventlog.parse_lines(json.dumps(e) for e in ev)
    # job 0 ran outside every op; the op's job must not be charged for it
    (prof,) = eventlog.attribute(log, [(1.5, 3.0)])
    assert prof.jobs == 1 and prof.stages == 1 and prof.tasks.run_ms == 7
    assert prof.job_union_s == pytest.approx(0.1)


def test_union_of_intervals():
    assert eventlog.union_s([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert eventlog.union_s([]) == 0
