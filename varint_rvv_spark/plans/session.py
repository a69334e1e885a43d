"""SparkSession builder with the engine's physical-execution defaults.

Scale stance (SURVEY.md §4): AQE on (skew-join + partition coalescing),
Arrow batches sized to the codec chunk target, UTC session timezone so
DuckDB-oracle comparisons are stable, shuffle partitions ≈ cores for
local mode (a 1000-executor deployment overrides via spark-submit conf;
nothing here hard-codes local assumptions).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_BATCH_ROWS = 65536  # the LMUL/window-size analogue (SURVEY §4)

# InferFiltersFromGenerate synthesizes `size(arr) > 0 AND isnotnull(arr)`
# below every explode; predicate pushdown then inlines the full array
# expression into that filter, so an explode over a computed array
# (shingles, grams) re-evaluates its builder 2-3x per row — measured 3x
# on the k=5 shingle pipeline (19.0 s vs 6.5 s for one evaluation;
# OPTIMIZATION_r06.md finding 1).  Explode itself already skips empty/null arrays, and every
# generate in this engine is over a map-side computed array where the
# inferred filter prunes nothing earlier than the generate does, so the
# rule is pure loss here (optimization-guide §4.4 duplication, built-in
# edition).
EXCLUDED_OPTIMIZER_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")


def ship_package(spark: SparkSession) -> str:
    """Ship varint_rvv_spark to executors (the --py-files analogue).

    A cluster deployment passes the zip via ``spark-submit --py-files``;
    for programmatic sessions we zip the installed package and
    ``addPyFile`` it so Python workers can unpickle the Arrow kernels.
    """
    import pathlib
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent.parent
    zpath = pathlib.Path(tempfile.gettempdir()) / "varint_rvv_spark_pkg.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, "varint_rvv_spark/" + str(py.relative_to(pkg_dir)))
    spark.sparkContext.addPyFile(str(zpath))
    return str(zpath)


def get_spark(app: str = "varint_rvv_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    spark = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.optimizer.excludedRules",
                EXCLUDED_OPTIMIZER_RULES)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(DEFAULT_BATCH_ROWS))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # THP fault path is slow on some kernels; see varint_rvv_spark
        # __init__ — belt-and-braces for workers that import numpy first
        .config("spark.executorEnv.NUMPY_MADVISE_HUGEPAGE", "0")
        .config("spark.yarn.appMasterEnv.NUMPY_MADVISE_HUGEPAGE", "0")
        .getOrCreate()
    )
    ship_package(spark)
    return spark
