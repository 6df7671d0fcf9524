"""Lakehouse benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload scd2_pipeline --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --all            # every workload, untraced

Each run starts ``worker.py`` in a fresh process with its own
warehouse, scratch and Spark local directories under
``.perfbench_work/`` at the repository root, which is removed when the
run ends. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run is made
twice, untraced and traced, and the metrics are the per-layer ones,
the workload's own numbers and the tracing overhead (traced minus
untraced) of every end-to-end metric. See ``METRICS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

WORKLOAD_NAMES = ("scd2_pipeline", "deltalog_dml", "query_mix")
LIMIT_S = 170.0

def machine_env(work: Path) -> dict[str, str]:
    """Environment of a run: sized to the host, every scratch
    directory inside the run's own work directory."""
    cpus = len(os.sched_getaffinity(0))
    mem_kb = 8 << 20
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            mem_kb = int(line.split()[1])
    driver_mb = max(1024, min(4096, mem_kb // 1024 // 6))
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_MASTER", "MASTER")}
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_GRAFT_STREAM_SCRATCH": str(work / "stream"),
        "SPARK_GRAFT_BATCH_SCRATCH": str(work / "batch"),
        "TMPDIR": str(work / "tmp"),
        # the launcher JVM that spark-submit starts first: no hsperfdata
        # file in /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), env.get("PYTHONPATH")) if p),
    })
    return env


def _group_alive(pgid: int) -> bool:
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            fields = (d / "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def run_worker(workload: str, seed: int, seconds: float, trace: int, limit: float) -> dict:
    """Run one workload in a fresh process group; return its result."""
    base = ROOT / ".perfbench_work"
    work = base / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "stream", "batch", "tmp"):
        (work / sub).mkdir(parents=True)
    result = work / "result.json"
    cmd = [
        sys.executable, str(HERE / "worker.py"), "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--work", str(work), "--result", str(result),
    ]
    log_path = work / "worker.log"
    try:
        with open(log_path, "wb") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=machine_env(work), stdout=log,
                                    stderr=subprocess.STDOUT, start_new_session=True)
            try:
                code = proc.wait(timeout=limit)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                for sig in (signal.SIGTERM, signal.SIGKILL):
                    try:
                        os.killpg(proc.pid, sig)
                    except ProcessLookupError:
                        break
                    deadline = time.time() + 5
                    while _group_alive(proc.pid) and time.time() < deadline:
                        time.sleep(0.1)
                    if not _group_alive(proc.pid):
                        break
                proc.wait()
        if code != 0 or not result.exists():
            tail = log_path.read_text(errors="replace")[-4000:]
            why = "timed out" if code is None else f"exited with {code}"
            raise RuntimeError(f"{workload} worker {why}:\n{tail}")
        return json.loads(result.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            base.rmdir()
        except OSError:
            pass


def summarize(r: dict) -> tuple[dict, dict]:
    """End-to-end metrics and the workload's own numbers from one
    worker result. Each value is ``(value, unit, samples)``. Latency is
    taken over the workload's read and write ops; the maintenance ops
    ``deltalog_dml`` runs at fixed commit intervals count in the busy
    time that ``ops_per_s`` divides by."""
    ops = [o for o in r["ops"] if o["kind"] != "maint"]
    dur = [o["end"] - o["start"] for o in ops]
    busy = sum(o["end"] - o["start"] for o in r["ops"])
    all_ = stats.summarize(dur)
    e2e = {
        "setup_s": (statistics.median(r["setups"]), "s", len(r["setups"])),
        "op_p50_s": (all_["p50"], "s", all_["n"]),
        "ops_per_s": (len(ops) / busy, "1/s", len(ops)),
    }
    own = {
        "op_tail_s": (all_["tail"], "s", all_["n"]),
        "op_tail_pct": (float(all_["tail_pct"]), "pct", all_["n"]),
        "peak_rss_mb": (r["peak_rss_mb"], "MB", 1),
        # CPU seconds the worker, the JVM and its Python workers spend per op
        "op_cpu_s": (statistics.median(o["cpu"] for o in ops), "s", len(ops)),
    }
    for kind in ("read", "write"):
        k = stats.summarize([o["end"] - o["start"] for o in ops if o["kind"] == kind])
        own[f"{kind}_p50_s"] = (k["p50"], "s", k["n"])
        own[f"{kind}_tail_s"] = (k["tail"], "s", k["n"])
    rows = sum(o["rows"] for o in ops if o["ok"])
    own["rows_per_s"] = (rows / busy, "1/s", len(ops))
    own["pass_wall_s"] = (busy / r["passes"], "s", r["passes"])
    own["storage_amp"] = (float(r["extras"].get("storage_amp", 0.0)), "ratio", 1)
    failed = sum(not o["ok"] for o in r["ops"])
    own["failed_ops_frac"] = (failed / len(r["ops"]), "ratio", len(r["ops"]))
    return e2e, own


def counts(r: dict) -> tuple[int, int, bool]:
    """Ops attempted and failed, warm-up ops included; a failed
    end-of-run check counts as one more failure."""
    attempted = len(r["ops"]) + r["warm_ops"]
    failed = sum(not o["ok"] for o in r["ops"]) + r["warm_failed"] + (0 if r["final_ok"] else 1)
    return attempted, failed, failed == 0


def report(workload: str, table: dict, out=sys.stdout) -> None:
    for name, (value, unit, n) in table.items():
        print(f"{workload:14s} {name:34s} {value:14.6g} {unit:9s} n={n}", file=out)


def print_phases(workload: str, r: dict) -> None:
    print(f"{workload:14s} phases (s since start): {r['phases_s']}")


def print_errors(r: dict) -> None:
    for e in r["errors"]:
        print(f"failed op: {e}", file=sys.stderr)


def run_one(args) -> dict:
    start = time.time()
    # a traced run is two processes, untraced then traced; each measures
    # half the work so that both fit the time limit of one run
    seconds = args.seconds / 2 if args.trace else args.seconds
    plain = run_worker(args.workload, args.seed, seconds, 0, LIMIT_S)
    print_phases(args.workload, plain)
    print_errors(plain)
    e2e, own = summarize(plain)
    report(args.workload, e2e)
    report(args.workload, own)
    attempted, failed, correct = counts(plain)
    if not args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
        return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    traced = run_worker(args.workload, args.seed, seconds, 1, LIMIT_S - (time.time() - start))
    print_errors(traced)
    t_e2e, _ = summarize(traced)
    layer = {k: (v, layer_unit(k), len(traced["ops"])) for k, v in traced["layer"].items()}
    for k, (v, u, n) in own.items():
        layer[f"workload.{k}"] = (v, u, n)
    for k, (v, u, n) in e2e.items():
        layer[f"overhead.{k}"] = (t_e2e[k][0] - v, u, n)
    report(args.workload, layer)
    a2, f2, c2 = counts(traced)
    metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in layer.items()}
    return {"correct": correct and c2, "attempted": attempted + a2, "failed": failed + f2, "metrics": metrics}


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric from its name; values are per timed
    op unless the name says otherwise."""
    if name.endswith("_frac"):
        return "ratio"
    if name.startswith("session."):
        return "s" if name.endswith("_s") else "count"
    if name in ("warehouse.files_live", "deltalog.commits", "deltalog.commits_since_checkpoint"):
        return "count"
    if name == "deltalog.log_bytes":
        return "B"
    if name.endswith("_s"):
        return "s/op"
    if name.endswith("_ms"):
        return "ms/op"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "B/op"
    return "count/op"


def run_all(args) -> dict:
    attempted = failed = 0
    correct = True
    metrics = {}
    for w in WORKLOAD_NAMES:
        r = run_worker(w, args.seed, args.seconds, 0, LIMIT_S)
        print_phases(w, r)
        print_errors(r)
        e2e, own = summarize(r)
        report(w, e2e)
        report(w, own)
        a, f, c = counts(r)
        attempted, failed, correct = attempted + a, failed + f, correct and c
        metrics.update({f"{w}.{k}": {"value": v, "unit": u} for k, (v, u, _) in e2e.items()})
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOAD_NAMES)
    p.add_argument("--all", action="store_true", help="run every workload untraced")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=30.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not args.all and not args.workload:
        p.error("pass --workload NAME or --all")
    if not (ROOT / "lakehouse_poc_spark" / "__init__.py").is_file():
        print(f"engine package lakehouse_poc_spark not found under {ROOT}", file=sys.stderr)
        return 2
    try:
        out = run_all(args) if args.all else run_one(args)
    except RuntimeError as exc:
        print(str(exc), file=sys.stderr)
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
