"""Per-task floor of a Spark Python task: job wall time and worker CPU.

Runs a no-op engine kernel (`mapInArrow` over a 24-partition range;
the kernel imports `varint_rvv_spark` and returns one row per task) a
few times on the `get_spark` session.  Each task reports its worker
pid and that process's CPU time (`resource.getrusage`) when it ends;
the difference between two consecutive tasks of one reused worker is
everything that worker spent on the later task, including PySpark's
per-task setup before the kernel runs.  The first task of each worker
has no predecessor and is left out.

Prints one line per job (wall seconds) and a summary of the per-task
CPU deltas, plus whether the workers run the engine's stat-keyed
`zipimporter.invalidate_caches` (varint_rvv_spark/__init__.py).

Usage: python bench/task_overhead.py [reps]   (default 4 jobs;
SPARK_GRAFT_CPUS sets local[N], default 3).  Run it alone on the host.
"""

from __future__ import annotations

import collections
import os
import statistics
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

PARTITIONS = 24


def kernel(batches):
    """No-op engine kernel: import the engine, report pid and CPU."""
    import resource
    import zipimport

    import pyarrow as pa

    import varint_rvv_spark

    for _ in batches:
        pass
    ru = resource.getrusage(resource.RUSAGE_SELF)
    fn = zipimport.zipimporter.invalidate_caches
    yield pa.RecordBatch.from_pydict({
        "pid": [os.getpid()],
        "cpu_s": [ru.ru_utime + ru.ru_stime],
        "end_s": [time.time()],
        "keyed": [fn.__module__ == varint_rvv_spark.__name__]})


def main() -> None:
    from varint_rvv_spark.plans.session import get_spark

    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "3")
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    spark = get_spark(app="task-overhead", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(0, PARTITIONS, 1, PARTITIONS)
    schema = "pid long, cpu_s double, end_s double, keyed boolean"
    rows = []
    for rep in range(reps):
        t0 = time.perf_counter()
        got = df.mapInArrow(kernel, schema).collect()
        wall = time.perf_counter() - t0
        rows += got
        print(f"job {rep}: {wall:.3f} s wall, {len(got)} tasks, "
              f"{len({r.pid for r in got})} workers")
    by_pid = collections.defaultdict(list)
    for r in rows:
        by_pid[r.pid].append((r.end_s, r.cpu_s))
    deltas = []
    for seq in by_pid.values():
        cpu = [c for _, c in sorted(seq)]
        deltas += [b - a for a, b in zip(cpu, cpu[1:])]
    if len(deltas) > 1:
        q = statistics.quantiles(deltas, n=4)
        print(f"per-task worker CPU over {len(deltas)} tasks "
              f"({len(by_pid)} workers): median {q[1]:.3f} s "
              f"[{q[0]:.3f}, {q[2]:.3f}], max {max(deltas):.3f} s")
    print(f"stat-keyed invalidate_caches in workers: "
          f"{sum(r.keyed for r in rows)}/{len(rows)} tasks")
    spark.stop()


if __name__ == "__main__":
    main()
