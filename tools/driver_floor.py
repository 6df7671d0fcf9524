"""Where the paper's pipeline op spends its driver time.

Runs warm ``pipeline.run_pipeline`` ops on the seeded CSV extracts of
the benchmark's ``scd2_pipeline`` workload (``perfbench/gen.py``; set-up
and correctness check are the workload's own) and prints, per op:

- the median wall time;
- the Spark jobs it ran, counted by job group (an op's concurrent
  branches inherit the group, so they are included);
- the Py4J round trips it made: every call the Python driver sends to
  the JVM, counted by wrapping the gateway client's ``send_command``.

    python tools/driver_floor.py --seed 1 --ops 9 --cpus 4

Nothing under ``perfbench/`` is changed; its modules are only imported.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))


class Py4JCounter:
    """Counts the commands sent through one Py4J gateway client, from
    every thread."""

    def __init__(self, client):
        self.n = 0
        self._lock = threading.Lock()
        send = client.send_command

        def counting(*args, **kwargs):
            with self._lock:
                self.n += 1
            return send(*args, **kwargs)

        client.send_command = counting


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--ops", type=int, default=9, help="timed ops after set-up")
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()

    from workloads import Scd2Pipeline

    from lakehouse_poc_spark.session import get_spark

    work = Path(tempfile.mkdtemp(prefix="driver_floor_"))
    spark = get_spark("driver_floor", cpus=args.cpus)
    sc = spark.sparkContext
    try:
        wl = Scd2Pipeline(args.seed, work)
        wl.prepare()
        wl.setup(spark)  # bootstrap and one warm-up merge, checked
        counter = Py4JCounter(sc._gateway._gateway_client)
        times, jobs, calls = [], [], []
        for i in range(args.ops):
            op = wl.next_op()
            group = f"driver_floor:{i}"
            sc.setJobGroup(group, group)
            n0 = counter.n
            t0 = time.perf_counter()
            res = op.call()
            times.append(time.perf_counter() - t0)
            calls.append(counter.n - n0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            errs = op.check(res)
            if errs:
                raise RuntimeError(f"op {i} failed its check: {errs}")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "seed": args.seed,
                "ops": args.ops,
                "op_median_s": round(statistics.median(times), 3),
                "jobs_per_op": statistics.median(jobs),
                "py4j_calls_per_op": statistics.median(calls),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
