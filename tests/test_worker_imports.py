"""PySpark's worker calls ``importlib.invalidate_caches()`` before every task.
The engine package makes that call cheap for zip archives (CPython 3.13's
lazy ``zipimporter.invalidate_caches``, backported on older interpreters):
invalidation reads no archive, a changed archive is still seen on the next
import, and the patch is active inside Spark's Python workers."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import ocr_mini_service_spark
from ocr_mini_service_spark import pipeline


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _count_directory_reads(monkeypatch):
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.mark.skipif(
    not hasattr(zipimport, "_read_directory"),
    reason="zipimport has no pure-Python directory reader to count",
)
def test_invalidate_caches_reads_no_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a"])
    importer = zipimport.zipimporter(archive)
    calls = _count_directory_reads(monkeypatch)

    assert ocr_mini_service_spark.lazy_zip_invalidation()
    importer.invalidate_caches()
    assert calls == []
    # the next lookup reads the directory again, once
    assert importer.find_spec("a") is not None
    assert importer.find_spec("a") is not None
    assert calls == [archive]


def test_changed_archive_is_seen_after_invalidation(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zipmod_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("zipmod_a", "zipmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("zipmod_a").NAME == "zipmod_a"
    with pytest.raises(ImportError):
        importlib.import_module("zipmod_b")

    _write_zip(archive, ["zipmod_a", "zipmod_b"])
    importlib.invalidate_caches()
    assert importlib.import_module("zipmod_b").NAME == "zipmod_b"


def test_workers_invalidate_without_reading_zips(spark):
    def probe(batches):
        # Referring to ``pipeline`` makes the worker import the engine
        # package when it unpickles this function, as it does for the
        # engine's own functions.
        engine = sys.modules[pipeline.__package__]
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "lazy": [engine.lazy_zip_invalidation()],
                "reads": [len(reads)],
                "zip_importers": [
                    sum(
                        isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values()
                    )
                ],
            }
        )

    rows = (
        spark.range(0, 400, numPartitions=4)
        .mapInArrow(probe, "lazy boolean, reads long, zip_importers long")
        .collect()
    )
    assert len(rows) == 4
    # the workers' sys.path still holds archives to re-read: py4j's, and
    # pyspark.zip behind the installed pyspark as the fallback
    assert all(r.zip_importers > 0 for r in rows), rows
    assert all(r.lazy and r.reads == 0 for r in rows), rows
