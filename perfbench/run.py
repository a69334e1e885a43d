"""Repo benchmark: one command, two workloads, one JSON result line.

    python3 perfbench/run.py --workload pages_etl --seed 1 \
        --seconds 25 --trace 0

Run from the repository root.  `--trace 0` prints the end-to-end
metrics (BENCHMARK.json `end_to_end`); `--trace 1` runs the same
workload with spans around each layer call, adds one probe per layer,
writes the spans to .perfbench/traces/ and prints the per-layer
metrics.  Everything the run writes stays under .perfbench/ in the
working directory.  README.md in this directory explains the design.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")
# local[min(3, cores)]: one core stays free for the JVM's JIT and GC
# threads and this process, which made run-to-run spread much smaller on
# a 4-vCPU machine (README.md)
MAX_CORES = 3
HEAP = "3g"


def _contain_env() -> None:
    """Point every temporary and Spark scratch directory into WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts   # spark-submit's JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={WORK}/warehouse",
        # the driver starts at its full heap: no heap resizing, whose
        # timing differs from run to run; and compiles with C1 only, so
        # no run waits on C2 compiles, whose progress differs from run
        # to run.  C1 alone reserves a 48 MB code cache, which Spark's
        # generated code outgrows within a run; 240 MB is what the
        # default tiered JIT reserves (README.md, "JIT: C1 only")
        f"--driver-java-options '{java_opts} -Xms{HEAP} "
        "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m'",
        "pyspark-shell"])


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import varint_rvv_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    import layers
    from spans import Tracer
    from workload import SPECS, Run

    if args.workload not in SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(SPECS)}", file=sys.stderr)
        return 2
    spec = SPECS[args.workload]

    shutil.rmtree(WORK, ignore_errors=True)
    _contain_env()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{time.time_ns()}"
    tr = Tracer(run_id, enabled=bool(args.trace))

    from varint_rvv_spark.plans.session import get_spark

    spark = None
    try:
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            spark = get_spark(app="perfbench")
            spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        run = Run(spark, spec, args.seed, WORK, tr)
        gen_s = run.generate()
        warm_s = run.warm_up()
        setup_s = session_s + gen_s + warm_s
        t1 = time.perf_counter()
        run.load_oracles()
        t2 = time.perf_counter()
        run.measure(args.seconds, min_cycles=2 if args.trace else 1)
        print(f"perfbench: setup {setup_s:.1f} s (session {session_s:.1f},"
              f" generate {gen_s:.1f}, warm-up {warm_s:.1f}), oracles "
              f"{t2 - t1:.1f} s, measured {time.perf_counter() - t2:.1f} s",
              file=sys.stderr)
        # every timed call in run order, to tell drift from noise
        print("perfbench: " + " | ".join(
            f"{what} " + " ".join(f"{t:.2f}" for t in times)
            for what, times in (("ingest", run.ingest_s),
                                ("scan", run.scan_s),
                                ("lookup", run.lookup_s))), file=sys.stderr)
        if args.trace:
            layers.probe_spark(run)
            layers.probe_local(run)
            metrics = layers.per_layer(run)
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            tr.write(os.path.join(STATE, "traces", run_id + ".jsonl"))
        else:
            metrics = run.end_to_end(setup_s)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    # the result must carry exactly the metrics BENCHMARK.json declares
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    if sorted(m["name"] for m in declared) != sorted(metrics):
        print(f"perfbench: metrics differ from BENCHMARK.json: "
              f"{sorted(set(metrics) ^ {m['name'] for m in declared})}",
              file=sys.stderr)
        return 1
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted,
                      "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
