"""varint_rvv_spark — a from-scratch PySpark-native per-column
lightweight-compression engine (SURVEY.md / BASELINE.json north_rule).

Layers:
* ``codecs``    — numpy/Arrow batch kernels: varint (the reference
  semantics core), delta/FOR, dictionary, RLE, bit-packing, zstd, FSST,
  with per-chunk auto-selection.
* ``sources``   — pages-table synthesis + format abstraction
  (parquet-backed Iceberg-shaped tables).
* ``operators`` — Spark-side encode/decode pipelines (mapInArrow),
  checkpoint-resume, dedup, similarity, text analysis.
* ``plans``     — session builder, partitioning/salting helpers.

Importing the package also tunes the process it runs in: it turns off
numpy's huge-page madvise everywhere, and inside a PySpark Python
worker on CPython < 3.13 it stops the per-task re-read of every zip
archive on ``sys.path`` (``_keep_zip_directories``).
"""

__version__ = "0.1.0"

# Disable numpy's MADV_HUGEPAGE madvise: on kernels where the THP fault
# path is slow (measured here: first-touch on a 256 MB array 3-10 s vs
# 0.13 s without), every fresh large ndarray allocation stalls.  This
# runs in each process that imports the engine — driver and Spark
# Python workers alike.
import os as _os
import sys as _sys

_os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
try:
    import numpy as _np

    _np.core.multiarray._set_madvise_hugepage(False)
except Exception:  # pragma: no cover - numpy>=2 moved the hook
    pass


def _keep_zip_directories() -> None:
    """Re-read a zip archive's directory only when the file changed.

    Before every task PySpark's worker calls
    ``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``).
    On CPython < 3.13 every ``zipimporter`` then re-parses its whole
    archive directory in pure Python.  A reused worker holds about 17
    importers over ``pyspark.zip`` (1,328 entries), which cost
    0.15-0.24 s of CPU per task before the task read a byte (4-vCPU
    host, ``bench/task_overhead.py``).  CPython 3.13 defers that
    re-read until the next lookup; this replacement skips it while
    ``os.stat(archive)``'s (mtime_ns, size, inode) is what that
    importer last read, so a zip that is added or rewritten is still
    re-read, while an unchanged one is parsed once per importer, on the
    worker's first task after the engine is imported.  A failing stat
    falls back to the original method.

    The engine's kernels import this package while they unpickle, so a
    reused worker pays the re-read on its first engine task only.  An
    engine-owned ``spark.python.daemon.module`` would also cover that
    first task, but the daemon cannot import the engine: the engine's
    zip reaches workers only per task (``addPyFile``).
    """
    import zipimport

    original = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = _os.stat(self.archive)
        except OSError:
            return original(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_vrs_read_stat", None) != key:
            original(self)
            self._vrs_read_stat = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


# PYTHON_WORKER_FACTORY_SECRET is set in both daemon-forked and plain
# PySpark workers, never in the driver
if ("PYTHON_WORKER_FACTORY_SECRET" in _os.environ
        and _sys.version_info < (3, 13)):
    _keep_zip_directories()
