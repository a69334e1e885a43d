"""The stat-keyed `zipimporter.invalidate_caches` the engine installs in
PySpark Python workers (varint_rvv_spark/__init__.py): an unchanged
archive is not re-read, a changed one is, and the driver keeps
CPython's own method."""

import os
import sys
import zipfile
import zipimport

import pytest

import varint_rvv_spark

KEYED = sys.version_info < (3, 13)


def _is_engines(fn) -> bool:
    return fn.__module__ == varint_rvv_spark.__name__


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.mark.skipif(not KEYED, reason="CPython >= 3.13 reads zip "
                    "directories lazily; nothing is installed")
def test_unchanged_zip_is_read_once_changed_zip_again(tmp_path,
                                                      monkeypatch):
    path = tmp_path / "mods.zip"
    _write_zip(path, {"mod_a": "A = 1\n"})
    importer = zipimport.zipimporter(str(path))
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    # restore the class attribute when the test ends
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    varint_rvv_spark._keep_zip_directories()
    assert _is_engines(zipimport.zipimporter.invalidate_caches)

    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(reads) == 1
    assert importer.find_spec("mod_b") is None

    _write_zip(path, {"mod_a": "A = 1\n", "mod_b": "B = 2\n"})
    importer.invalidate_caches()
    assert len(reads) == 2
    assert importer.find_spec("mod_b") is not None
    importer.invalidate_caches()
    assert len(reads) == 2

    # a stat that fails falls back to CPython's method, which drops
    # the directory of an archive that is gone
    os.remove(path)
    importer.invalidate_caches()
    assert importer.find_spec("mod_a") is None


def test_workers_run_the_stat_keyed_method(spark):
    def kernel(batches):
        import zipimport

        import pyarrow as pa

        import varint_rvv_spark

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {"keyed": [fn.__module__ == varint_rvv_spark.__name__]})

    rows = (spark.range(0, 8, 1, 8)
            .mapInArrow(kernel, "keyed boolean").collect())
    assert [r.keyed for r in rows] == [KEYED] * 8


def test_driver_keeps_cpython_invalidate_caches():
    assert "PYTHON_WORKER_FACTORY_SECRET" not in os.environ
    assert not _is_engines(zipimport.zipimporter.invalidate_caches)
