"""The manifest job's write tasks are sized by input bytes while the bucket
stays the commit and resume unit: one file per bucket, the same manifest rows
at any task count, and resume-state reads that find the manifest where
Spark's writer put it, and neither run a Spark read nor log an ERROR when no
manifest exists yet."""

import datetime
import glob
import os
import re
import subprocess
import sys

import duckdb
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql.readwriter import DataFrameReader

from ocr_mini_service_spark import manifest
from ocr_mini_service_spark.manifest import (
    bucket_expr,
    committed_buckets,
    load_transcripts,
    persisted_n_buckets,
    read_manifest,
    run_with_manifest,
    write_task_count,
)
from ocr_mini_service_spark.synth import write_transcripts_parquet

MIB = 1 << 20
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def inp(tmp_path_factory):
    return write_transcripts_parquet(
        str(tmp_path_factory.mktemp("tasks") / "t.parquet"), 800
    )


def test_write_task_count_bounds():
    for n_buckets in (1, 4, 8, 32, 256):
        for par in (1, 4, 16, 64):
            for input_bytes in (0, 1, 8 * MIB, 161 * MIB, 10**13):
                counts = [
                    write_task_count(input_bytes, n_buckets, pending, par)
                    for pending in range(n_buckets + 1)
                ]
                assert all(min(par, n_buckets) <= n <= n_buckets for n in counts)
                # fewer pending buckets never means more tasks
                assert counts == sorted(counts)
    # the 10k- and 200k-turn perfbench inputs on 4 cores, 32 buckets
    assert write_task_count(8_082_637, 32, 32, 4) == 4
    assert write_task_count(160_759_334, 32, 32, 4) == 10
    # a resume with half the buckets committed sizes for half the bytes
    assert write_task_count(160_759_334, 32, 16, 4) == 5
    # cluster scale caps at one task per bucket
    assert write_task_count(10**13, 256, 256, 1000) == 256


def _part_files(out: str) -> dict[str, int]:
    return {
        os.path.basename(d): len(glob.glob(f"{d}/part-*.parquet"))
        for d in glob.glob(f"{out}/bucket=*")
    }


def _manifest_rows(out: str):
    return duckdb.sql(
        f"SELECT bucket, status, n_turns, n_words_kept, n_words_dropped, "
        f"n_errors, error, n_buckets FROM '{out}/_manifest/*.parquet' "
        f"ORDER BY bucket"
    ).fetchall()


def test_tasks_sized_by_bytes_one_file_per_bucket(spark, tmp_path, inp, monkeypatch):
    n_buckets = 8
    floor = min(spark.sparkContext.defaultParallelism, n_buckets)
    outs = {k: str(tmp_path / k) for k in ("fresh", "resumed", "per_bucket")}

    fresh = run_with_manifest(
        spark, load_transcripts(spark, inp), outs["fresh"], n_buckets=n_buckets
    )
    assert floor <= fresh["n_tasks"] < n_buckets  # 800 turns: the floor

    half = load_transcripts(spark, inp).filter(bucket_expr(n_buckets) < 4)
    first = run_with_manifest(spark, half, outs["resumed"], n_buckets=n_buckets)
    assert first["buckets_done"] == 4
    resumed = run_with_manifest(
        spark, load_transcripts(spark, inp), outs["resumed"],
        n_buckets=n_buckets, resume=True,
    )
    assert (resumed["buckets_skipped"], resumed["buckets_done"]) == (4, 4)
    assert floor <= resumed["n_tasks"] <= fresh["n_tasks"]

    # one task per bucket, the task count before tasks were sized by bytes
    monkeypatch.setattr(manifest, "TASK_BYTES", 1)
    per_bucket = run_with_manifest(
        spark, load_transcripts(spark, inp), outs["per_bucket"], n_buckets=n_buckets
    )
    assert per_bucket["n_tasks"] == n_buckets

    for out in outs.values():
        assert _part_files(out) == {f"bucket={k}": 1 for k in range(n_buckets)}
    rows = _manifest_rows(outs["per_bucket"])
    n_in = duckdb.sql(f"SELECT COUNT(*) FROM '{inp}'").fetchone()[0]
    assert len(rows) == n_buckets and sum(r[2] for r in rows) == n_in
    assert _manifest_rows(outs["fresh"]) == rows
    assert _manifest_rows(outs["resumed"]) == rows


def test_missing_manifest_is_none_without_a_spark_read(spark, tmp_path, monkeypatch):
    reads = []
    real_read = DataFrameReader.parquet

    def spy_read(self, *paths, **options):
        reads.append(paths)
        return real_read(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy_read)
    # a run killed before its first commit leaves only the progress log
    killed = tmp_path / "killed"
    (killed / "_manifest").mkdir(parents=True)
    (killed / "_manifest" / "_progress.jsonl").write_text('{"type": "progress"}\n')
    # regression guard only: a failed read also starts no job
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup())
    for out in (str(tmp_path / "absent"), str(killed), f"file://{killed}", f"file:{killed}"):
        assert read_manifest(spark, out) is None
        assert committed_buckets(spark, out) == set()
        assert persisted_n_buckets(spark, out) is None
    assert reads == []
    assert set(st.getJobIdsForGroup()) == before

    (killed / "_manifest" / "part-0.parquet").write_bytes(b"")
    assert manifest.exists(spark, f"file:{killed}/_manifest")


def _commit_one_manifest_row(spark, out: str) -> None:
    now = datetime.datetime.now(datetime.timezone.utc)
    row = dict(
        bucket=0, status="completed", n_turns=3, n_words_kept=5,
        n_words_dropped=0, n_errors=0, error=None, started_at=now,
        committed_at=now, n_buckets=8,
    )
    manifest._append_manifest(spark, out, [row])


def test_manifest_found_where_spark_resolves_the_path(spark, tmp_path):
    """A path without a scheme is resolved against fs.defaultFS, as Spark's
    writer resolves it, not looked up on the driver's local disk.  A viewfs
    mount stands in for a remote default filesystem: /data is tmp_path."""
    _commit_one_manifest_row(spark, str(tmp_path / "out"))
    conf = {
        "fs.defaultFS": "viewfs://t/",
        "fs.viewfs.mounttable.t.link./data": f"file://{tmp_path}",
        "fs.viewfs.impl.disable.cache": "true",
    }
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        assert not os.path.exists("/data/out")
        assert committed_buckets(spark, "/data/out") == {0}
        assert persisted_n_buckets(spark, "/data/out") == 8
    finally:
        for k in conf:
            spark.conf.unset(k)
    # the one-slash form Hadoop prints for local paths
    assert committed_buckets(spark, f"file:{tmp_path}/out") == {0}


def test_scheme_less_output_resumes_on_the_default_fs(spark, tmp_path, inp):
    """Under a non-local fs.defaultFS, a path without a scheme puts the data
    AND the manifest on the default filesystem, so resume finds every
    committed bucket.  A viewfs mount at <tmp>/mnt over <tmp>/real stands in
    for a remote default filesystem: nothing may land at the local
    mount-point path."""
    mnt, real = tmp_path / "mnt", tmp_path / "real"
    real.mkdir()
    conf = {
        "fs.defaultFS": "viewfs://t/",
        f"fs.viewfs.mounttable.t.link.{mnt}": f"file://{real}",
        "fs.viewfs.impl.disable.cache": "true",
    }
    transcripts = load_transcripts(spark, f"file://{inp}")
    out = str(mnt / "out")
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        first = run_with_manifest(spark, transcripts, out, n_buckets=4)
        again = run_with_manifest(spark, transcripts, out, n_buckets=4, resume=True)
    finally:
        for k in conf:
            spark.conf.unset(k)
    assert first["buckets_done"] == 4
    assert (again["buckets_skipped"], again["n_turns"]) == (4, 0)
    assert not os.path.exists(mnt / "out" / "_manifest")
    assert len(_manifest_rows(str(real / "out"))) == 4


def test_truncated_manifest_part_raises(spark, tmp_path):
    out = str(tmp_path / "out")
    _commit_one_manifest_row(spark, out)
    assert committed_buckets(spark, out) == {0}
    (part,) = glob.glob(f"{out}/_manifest/part-*.parquet")
    with open(part, "r+b") as f:
        f.truncate(os.path.getsize(part) // 2)
    # corruption must surface, never read as "no manifest" (which would
    # silently re-extract every committed bucket); the part was written
    # through Hadoop's checksummed local filesystem, so the read fails on
    # the part's checksum before it reaches the footer
    with pytest.raises(
        Py4JJavaError, match=rf"ChecksumException: Checksum error: file:{re.escape(part)}"
    ):
        committed_buckets(spark, out)


def test_fresh_run_logs_no_error(tmp_path, inp):
    """Two fresh runs in one session log no ERROR: a missing manifest is
    detected on the storage side, not by a failed Spark read (which logs
    one, with a stack trace, once a session has used an Observation).  The
    JVM logs to its own stderr, so the runs happen in a child process."""
    script = (
        "import sys\n"
        "from ocr_mini_service_spark.session import get_spark\n"
        "from ocr_mini_service_spark.manifest import load_transcripts, run_with_manifest\n"
        "spark = get_spark(master='local[2]')\n"
        "for out in sys.argv[2:]:\n"
        "    run_with_manifest(spark, load_transcripts(spark, sys.argv[1]), out, n_buckets=4)\n"
        "spark.stop()\n"
    )
    outs = [str(tmp_path / k) for k in ("a", "b")]
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, "-c", script, inp, *outs],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert all(os.path.isdir(f"{out}/_manifest") for out in outs)
    errors = [line for line in r.stderr.splitlines() if " ERROR " in line]
    assert not errors, errors
