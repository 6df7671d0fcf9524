"""One workload run in a fresh process; started by ``run.py``.

Usage: python3 worker.py --workload NAME --seed N --seconds S --trace 0|1
       --work DIR --result FILE

Writes one JSON object to ``--result``: the end-to-end metrics, the
workload's own numbers and, with ``--trace 1``, the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import threading
import time
import traceback
from pathlib import Path

import eventlog
import hygiene
import spans
from workloads import WORKLOADS, passes_for

SETUP_REPS = 3
CLK_TCK = os.sysconf("SC_CLK_TCK")
WAREHOUSE_METHODS = (
    "append", "read", "table_exists", "overwrite_from_plan", "apply_scd2_changeset",
    "upsert", "delete_where", "read_version", "compact", "vacuum",
)


def process_tree() -> list[int]:
    """This process and all its descendants: the JVM and its Python
    workers."""
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            fields = (d / "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(d.name))
    todo, out = [os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds the given processes have used. Time
    the hypervisor takes from a virtual CPU is charged to steal, not to
    the process."""
    ticks = 0
    for pid in pids:
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(fields[11]) + int(fields[12])
    return ticks / CLK_TCK


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled from ``/proc``."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> int:
        total = 0
        for pid in process_tree():
            try:
                for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.sample())
            self._stop.wait(self.interval)


def session(name: str, work: Path, rep: int, trace: bool):
    from lakehouse_poc_spark.session import get_spark

    conf = {
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "2g"),
        # no hsperfdata file in /tmp: the run writes only under its work dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
    }
    if trace:
        log_dir = work / "eventlog" / f"rep{rep}"
        log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(log_dir),
            "spark.eventLog.compress": "false",
        })
    return get_spark(f"perfbench-{name}", extra_conf=conf)


def instrument(tracer: spans.Tracer) -> None:
    """Module-level wrappers; installed before set-up, charged only to
    spans recorded inside timed ops."""
    from lakehouse_poc_spark import pipeline
    from lakehouse_poc_spark.sources import deltalog

    tracer.patch(pipeline, "read_csv", "readers.read_csv")
    tracer.patch(pipeline, "load_raw", "pipeline.load_raw")
    tracer.patch(pipeline, "transform_dim", "pipeline.transform_dim")
    tracer.patch(pipeline, "scd2_merge", "scd2.scd2_merge")
    tracer.patch(deltalog, "read_delta", "deltalog.read_delta")
    tracer.patch(deltalog, "write_checkpoint", "deltalog.write_checkpoint")


def files_under(root: Path) -> dict[str, int]:
    return {str(p): p.stat().st_size for p in root.rglob("*") if p.is_file()}


def live_files(wh) -> int:
    from lakehouse_poc_spark.sinks.warehouse import DeltaLogWarehouse
    from lakehouse_poc_spark.sources import deltalog

    if wh is None:
        return 0
    if isinstance(wh, DeltaLogWarehouse):
        return sum(
            len(deltalog._replay(d.parent, None)["files"]) for d in wh.root.glob("**/_delta_log")
        )
    return sum(1 for p in wh.root.rglob("*.parquet") if "__" not in str(p.relative_to(wh.root)))


def deltalog_counts(wh) -> dict[str, float]:
    from lakehouse_poc_spark.sources import deltalog

    out = {"commits": 0.0, "commits_since_checkpoint": 0.0, "log_bytes": 0.0}
    for log in (wh.root.glob("**/_delta_log") if wh is not None else []):
        commits = list(log.glob("*.json"))
        out["commits"] += len(commits)
        out["log_bytes"] += sum(p.stat().st_size for p in log.iterdir() if p.is_file())
        cp = deltalog._last_checkpoint_meta(log.parent)
        last_cp = int(cp["version"]) if cp else -1
        out["commits_since_checkpoint"] += deltalog.current_version(log.parent) - last_cp
    return out


def run(args) -> dict:
    work = Path(args.work)
    for sub in ("tmp", "data"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    trace = bool(args.trace)
    tracer = spans.Tracer() if trace else spans.NullTracer()
    wl = WORKLOADS[args.workload](args.seed, work / "data", tracer=tracer)
    phases = {"start": time.time()}
    wl.prepare()
    phases["prepare"] = time.time()
    if trace:
        instrument(tracer)

    setups, gets, warms = [], [], []
    spark = None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.time()
        spark = session(args.workload, work, rep, trace)
        t1 = time.time()
        wl.setup(spark)
        t2 = time.time()
        setups.append(t2 - t0)
        gets.append(t1 - t0)
        warms.append(t2 - t1)
    phases["setup"] = time.time()
    wl.verify(spark)
    phases["verify"] = time.time()
    wh = getattr(wl, "wh", None)
    if trace:
        if wh is not None:
            tracer.instrument(wh, list(WAREHOUSE_METHODS), "warehouse")
        spark.streams.addListener(spans.stream_listener(tracer))

    ops, errors, drifted = [], [], 0
    files_written = bytes_written = warm_ops = warm_failed = 0
    before_files = None
    # untimed warm-up ops first: the JIT keeps speeding the op up for
    # several calls after set-up
    warm = wl.WARMUP_PASSES * len(wl.PASS)
    passes = passes_for(args.seconds, wl.NOMINAL_PASS_S)
    target = warm + passes * len(wl.PASS)
    done = 0
    while done < target:
        timed = done >= warm
        if timed and trace and wh is not None and before_files is None:
            before_files = files_under(wh.root)
        op = wl.next_op()
        state = hygiene.snapshot(spark)
        tracer.op = len(ops) if timed else None
        pids = process_tree()
        c0 = tree_cpu_s(pids)
        t0 = time.time()
        try:
            res = op.call()
            err = []
        except Exception as exc:  # an op that raises is a failed op
            res, err = None, [f"{op.name} raised {exc!r}"[:500]]
        t1 = time.time()
        cpu = tree_cpu_s(pids) - c0
        tracer.op = None
        if not err:
            try:
                err = op.check(res)
            except Exception as exc:
                err = [f"{op.name} check raised {exc!r}"[:500]]
        after = hygiene.snapshot(spark)
        leak = hygiene.drift(state, after)
        if leak:
            drifted += 1
            hygiene.restore(spark, state, after)
            err = err + [f"{op.name} left session state: {leak}"]
        errors.extend(err)
        done += op.kind != "maint"
        if not timed:
            warm_ops += 1
            warm_failed += bool(err)
            continue
        ops.append({"kind": op.kind, "name": op.name, "start": t0, "end": t1, "cpu": cpu, "ok": not err, "rows": op.rows})
        if trace and wh is not None:
            now_files = files_under(wh.root)
            new = {p: s for p, s in now_files.items() if p not in before_files}
            files_written += len(new)
            bytes_written += sum(new.values())
            before_files = now_files

    phases["measure"] = time.time()
    fin_errors, extras = wl.finish(spark)
    phases["finish"] = time.time()
    errors.extend(fin_errors)
    layer = {}
    if trace:
        layer = layer_metrics(tracer, wl, ops, gets, warms, setups, drifted, files_written, bytes_written)
    spark.stop()
    if trace:
        layer.update(spark_layer(work, ops, tracer, wl))
        tracer.close()
    return {
        "ops": ops,
        "setups": setups,
        "errors": errors[:20],
        "n_errors": len(errors),
        "final_ok": not fin_errors,
        "warm_ops": warm_ops,
        "warm_failed": warm_failed,
        "extras": extras,
        "layer": layer,
        "passes": passes,
        "phases_s": {k: round(phases[k] - phases["start"], 2) for k in phases},
    }


def layer_metrics(tracer, wl, ops, gets, warms, setups, drifted, files_written, bytes_written) -> dict:
    n = len(ops)
    tot = tracer.totals()

    def s(name):
        return tot.get(name, {}).get("s", 0.0) / n

    m = {
        "session.get_spark_s": statistics.median(gets),
        "session.warmup_s": statistics.median(warms),
        "session.first_setup_s": setups[0],
        "session.conf_drift": float(drifted),
        "readers.read_csv_s": s("readers.read_csv"),
        "pipeline.load_raw_s": s("pipeline.load_raw"),
        "pipeline.transform_dim_s": s("pipeline.transform_dim"),
        "scd2.scd2_merge_s": s("scd2.scd2_merge"),
        "scd2.scd2_merge_self_s": tot.get("scd2.scd2_merge", {}).get("self_s", 0.0) / n,
        "deltalog.read_delta_s": s("deltalog.read_delta"),
        "deltalog.write_checkpoint_s": s("deltalog.write_checkpoint"),
    }
    for meth in WAREHOUSE_METHODS:
        t = tot.get(f"warehouse.{meth}", {})
        m[f"warehouse.{meth}_s"] = t.get("s", 0.0) / n
        m[f"warehouse.{meth}_calls"] = t.get("calls", 0) / n
    wh = getattr(wl, "wh", None)
    m["warehouse.files_written"] = files_written / n
    m["warehouse.bytes_written"] = bytes_written / n
    m["warehouse.files_live"] = float(live_files(wh))
    for k, v in deltalog_counts(wh).items():
        m[f"deltalog.{k}"] = v
    if runs_queries(wl):
        m["plans.build_s"] = s("plans.build")
        m["plans.exec_s"] = s("plans.exec")
        for k in ("batches", "empty_batches", "addBatch_ms", "queryPlanning_ms", "walCommit_ms",
                  "commitOffsets_ms", "triggerExecution_ms"):
            m[f"stream.{k}"] = tracer.counts.get(f"stream.{k}", 0.0) / n
    return m


def runs_queries(wl) -> bool:
    """The plans and stream layers exist only where registered queries
    run; elsewhere their metrics would be a constant 0."""
    return wl.name == "query_mix"


def spark_layer(work: Path, ops: list[dict], tracer, wl) -> dict:
    """Job, stage and task numbers per op from the final session's
    event log, and jobs charged to spans."""
    log = eventlog.load(work / "eventlog" / f"rep{SETUP_REPS - 1}")
    intervals = [(o["start"], o["end"]) for o in ops]
    profs = eventlog.attribute(log, intervals)
    n = len(ops)
    wall = sum(e - s for s, e in intervals)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    tt = eventlog.TaskTotals()
    for p in profs:
        tt.add(p.tasks)
    m = {
        "spark.jobs": sum(p.jobs for p in profs) / n,
        "spark.stages": sum(p.stages for p in profs) / n,
        "spark.tasks": tt.tasks / n,
        "spark.executor_run_s": tt.run_ms / 1e3 / n,
        "spark.executor_cpu_s": tt.cpu_ns / 1e9 / n,
        "spark.jvm_gc_s": tt.gc_ms / 1e3 / n,
        "spark.input_bytes": tt.input_bytes / n,
        "spark.output_bytes": tt.output_bytes / n,
        "spark.shuffle_read_bytes": tt.shuffle_read_bytes / n,
        "spark.shuffle_write_bytes": tt.shuffle_write_bytes / n,
        "spark.spill_bytes": tt.spill_bytes / n,
        "spark.python_worker_s": tt.python_ms / 1e3 / n,
        "spark.driver_only_s": sum(max(0.0, (e - s) - p.job_union_s) for (s, e), p in zip(intervals, profs)) / n,
        "spark.core_busy_frac": (tt.run_ms / 1e3) / (wall * cores) if wall else 0.0,
    }
    spans_jobs = [("readers.read_csv", "readers.read_csv_jobs"), ("scd2.scd2_merge", "scd2.scd2_merge_jobs")]
    if runs_queries(wl):
        spans_jobs += [("plans.build", "plans.build_jobs"), ("plans.exec", "plans.exec_jobs")]
    for span_name, metric in spans_jobs:
        m[metric] = eventlog.jobs_within(log, tracer.intervals(span_name)) / n
    return m


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args()
    with RssSampler() as rss:
        try:
            out = run(args)
        except Exception:
            traceback.print_exc()
            return 1
    out["peak_rss_mb"] = rss.peak_kb / 1024.0
    Path(args.result).write_text(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
