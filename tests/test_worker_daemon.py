"""A local session's Python worker daemon (``ocr_mini_service_spark.daemon``)
imports PySpark from an installed copy of the same release instead of from
pyspark.zip, and leaves ``sys.path`` alone whenever it cannot tell that the
two copies are the same."""

import sys
import zipfile

import pyarrow as pa
import pytest

from ocr_mini_service_spark import daemon
from ocr_mini_service_spark.session import DAEMON_MODULE_CONF

SOURCES = {"pyspark/version.py": '__version__ = "4.1.2"\n',
           "pyspark/worker.py": "def main(): pass\n"}


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _write_tree(root, files):
    for name, text in files.items():
        (root / name).parent.mkdir(parents=True, exist_ok=True)
        (root / name).write_text(text)
    return str(root)


def test_same_release_moves_the_zip_behind_the_installed_copy(tmp_path):
    archive = _write_zip(tmp_path / "pyspark.zip", SOURCES)
    site = _write_tree(tmp_path / "site", SOURCES)
    path = ["/cwd", archive, "/py4j.zip", site, "/after"]
    assert daemon.installed_pyspark_first(path) == ["/cwd", "/py4j.zip", site, archive, "/after"]


def test_other_release_leaves_the_path(tmp_path):
    archive = _write_zip(tmp_path / "pyspark.zip", SOURCES)
    site = _write_tree(tmp_path / "site",
                       {**SOURCES, "pyspark/version.py": '__version__ = "4.0.0"\n'})
    path = [archive, site]
    assert daemon.installed_pyspark_first(path) == path


def test_no_zip_leaves_the_path(tmp_path):
    site = _write_tree(tmp_path / "site", SOURCES)
    path = ["/cwd", site]
    assert daemon.installed_pyspark_first(path) == path


@pytest.mark.parametrize("archive", ["garbage", "missing", "no_worker"])
def test_unreadable_zip_leaves_the_path(tmp_path, archive):
    zip_path = tmp_path / "pyspark.zip"
    if archive == "garbage":
        zip_path.write_bytes(b"not a zip archive")
    elif archive == "no_worker":
        _write_zip(zip_path, {"pyspark/version.py": SOURCES["pyspark/version.py"]})
    site = _write_tree(tmp_path / "site", SOURCES)
    path = [str(zip_path), site]
    assert daemon.installed_pyspark_first(path) == path


def test_session_names_the_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get(DAEMON_MODULE_CONF) == daemon.__name__


def test_workers_import_pyspark_outside_the_zip(spark):
    def probe(batches):
        import pyspark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"pyspark_file": [pyspark.__file__], "daemon": [sys.argv[0]]}
        )

    rows = (
        spark.range(0, 400, numPartitions=4)
        .mapInArrow(probe, "pyspark_file string, daemon string")
        .collect()
    )
    assert len(rows) == 4
    assert not any(".zip" in r.pyspark_file for r in rows), rows
    assert all(r.daemon.endswith("ocr_mini_service_spark/daemon.py") for r in rows), rows
