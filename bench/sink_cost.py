"""Cost of the column-partitioned chunk sink.

Encodes the `ints_etl` benchmark input (perfbench/inputs.py, 480k rows
in 8 files read one file per split, 30,000-row chunks) once, caches the
chunk frame, then times writing it, alternating:
- `write_encoded` (`partitionBy("column")`: one file per task and
  column directory);
- the same parquet write without `partitionBy` (one file per task).

Then it times the whole ingest call,
`write_encoded(encode_chunks_scan(input))`, alternating:
- the direct write (the encode's Python tasks write the store files
  with pyarrow, the driver commits them);
- the same call with the Spark path forced (`direct_read_splits`
  answering None, so Spark reads the input and writes the chunks).

It also times one local-filesystem `setPermission` through py4j and
says whether Hadoop's native code is loaded: without it every local
`mkdirs`/`create` of the sink sets permissions by forking `chmod`.

Prints the median (and quartiles) of each, and the files each write
leaves (data files, and all files with `_SUCCESS` and `.crc` sidecars).

Usage: python bench/sink_cost.py [reps]   (default 7 writes of each;
SPARK_GRAFT_CPUS sets local[N], default 3).  Run it alone on the host.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
for p in (REPO, os.path.join(REPO, "perfbench")):
    if p not in sys.path:
        sys.path.insert(0, p)

SEED = 7
PERMISSION_CALLS = 50


def _files(path: str) -> str:
    names = [f for _, _, fs in os.walk(path) for f in fs]
    return (f"{sum(f.endswith('.parquet') for f in names)} data files "
            f"({len(names)} files in all)")


def _summary(name: str, times: list, files: str | None = None) -> None:
    q = statistics.quantiles(times, n=4) if len(times) > 1 else times * 3
    extra = f", {files}" if files is not None else ""
    print(f"{name}: median {statistics.median(times) * 1e3:.1f} ms "
          f"[{q[0] * 1e3:.1f}, {q[2] * 1e3:.1f}] over {len(times)}"
          f"{extra}")


def _alternate(sinks: dict, reps: int, work: str) -> None:
    """Time each `sinks[name](path)` `reps` times, alternating, after
    one warm-up round; print each one's summary."""
    times = {name: [] for name in sinks}
    files = {}
    for rep in range(reps + 1):          # the first round warms up
        for i, (name, write) in enumerate(sinks.items()):
            path = os.path.join(work, f"out-{i}-{rep}")
            t0 = time.perf_counter()
            write(path)
            if rep:
                times[name].append(time.perf_counter() - t0)
            files[name] = _files(path)
            shutil.rmtree(path)
    for name in sinks:
        _summary(name, times[name], files[name])


def main() -> None:
    from inputs import INTS, write_input
    from workload import SPECS, pinned_splits

    from varint_rvv_spark.operators.encode import encode_chunks_scan
    from varint_rvv_spark.plans.session import get_spark
    from varint_rvv_spark.sources import tables
    from varint_rvv_spark.sources.tables import ROWGROUP_BYTES, write_encoded

    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "3")
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    spark = get_spark(app="sink-cost", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm
    work = tempfile.mkdtemp(prefix="sink-cost-")
    try:
        spec = SPECS["ints_etl"]
        src = os.path.join(work, "input")
        write_input(INTS, spec.rows, spec.files, SEED, src)
        with pinned_splits(spark):
            chunks = encode_chunks_scan(
                spark.read.parquet(src),
                rows_per_chunk=spec.rows_per_chunk).cache()
            print(f"chunk frame: {chunks.count()} rows in "
                  f"{chunks.rdd.getNumPartitions()} partitions")

        def flat(path):
            (chunks.write.mode("overwrite")
             .option("parquet.block.size", str(ROWGROUP_BYTES))
             .parquet(path))

        _alternate({"partitionBy(column)": lambda p: write_encoded(
                        chunks, p, mode="overwrite"),
                    "no partitionBy": flat}, reps, work)
        chunks.unpersist()

        def ingest(path):
            with pinned_splits(spark):
                write_encoded(encode_chunks_scan(
                    spark.read.parquet(src),
                    rows_per_chunk=spec.rows_per_chunk), path)

        def ingest_via_spark(path):
            direct = tables.direct_read_splits
            tables.direct_read_splits = lambda df: None
            try:
                ingest(path)
            finally:
                tables.direct_read_splits = direct

        _alternate({"ingest, direct write": ingest,
                    "ingest, Spark path forced": ingest_via_spark},
                   reps, work)

        native = jvm.org.apache.hadoop.util.NativeCodeLoader \
            .isNativeCodeLoaded()
        fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(
            spark.sparkContext._jsc.hadoopConfiguration())
        target = os.path.join(work, "perm")
        Path(target).touch()
        path = jvm.org.apache.hadoop.fs.Path(target)
        perm = jvm.org.apache.hadoop.fs.permission.FsPermission("644")
        perm_s = []
        for _ in range(PERMISSION_CALLS):
            t0 = time.perf_counter()
            fs.setPermission(path, perm)
            perm_s.append(time.perf_counter() - t0)
        _summary(f"local setPermission via py4j (native code loaded: "
                 f"{native})", perm_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
