"""The manifest job's write tasks are sized by input bytes while the bucket
stays the commit and resume unit: one file per bucket, the same manifest rows
at any task count, and resume-state reads that find the manifest where the
data was committed, and neither run a Spark read nor log an ERROR when no
manifest exists yet.  The write tasks stage their own Parquet files and the
driver commits them: each bucket is written and counted once after a task
retry, a rerun, or a crash before the manifest append."""

import datetime
import glob
import json
import os
import re
import shutil
import subprocess
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.readwriter import DataFrameReader
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

from ocr_mini_service_spark import manifest
from ocr_mini_service_spark.pipeline import _arrow_extracted_schema
from ocr_mini_service_spark.schema import EXTRACTED
from ocr_mini_service_spark.streaming import run_incremental
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
    manifest._append_manifest(*manifest._resolved_output(spark, out), [row])


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


def _assert_each_key_and_bucket_once(out: str, inp: str, n_buckets: int) -> None:
    """Every input key exactly once in the data, one file and one manifest
    row per bucket, and the manifest's n_turns summing to the input."""
    assert _part_files(out) == {f"bucket={k}": 1 for k in range(n_buckets)}
    n_in = duckdb.sql(f"SELECT COUNT(*) FROM '{inp}'").fetchone()[0]
    rows, keys = duckdb.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT (conv_id, turn_idx)) "
        f"FROM '{out}/bucket=*/*.parquet'"
    ).fetchone()
    assert rows == keys == n_in
    buckets = [r[0] for r in _manifest_rows(out)]
    assert buckets == list(range(n_buckets))
    assert sum(r[2] for r in _manifest_rows(out)) == n_in


def test_rerun_without_resume_keeps_one_manifest_row_per_bucket(spark, tmp_path, inp):
    """A second plain run into the same output replaces its buckets' manifest
    rows instead of adding a second row per bucket."""
    out = str(tmp_path / "out")
    for _ in range(2):
        run_with_manifest(spark, load_transcripts(spark, inp), out, n_buckets=4)
    _assert_each_key_and_bucket_once(out, inp, 4)
    assert len(glob.glob(f"{out}/_manifest/part-*.parquet")) == 1


def test_manifest_commit_folds_leftover_parts(spark, tmp_path):
    """A crash between a manifest commit's rename and its deletes leaves the
    older parts beside the new one: the next commit keeps the latest row of
    each bucket it does not rewrite, once."""
    out = str(tmp_path / "out")
    now = datetime.datetime.now(datetime.timezone.utc)
    row = dict(
        status="completed", n_words_kept=5, n_words_dropped=0, n_errors=0,
        error=None, started_at=now, committed_at=now, n_buckets=8,
    )
    target = manifest._resolved_output(spark, out)
    manifest._append_manifest(*target, [dict(row, bucket=0, n_turns=3),
                                        dict(row, bucket=1, n_turns=4)])
    (first,) = glob.glob(f"{out}/_manifest/part-*.parquet")
    leftover = f"{out}/_manifest/part-leftover.parquet"
    shutil.copy(first, leftover)
    later = now + datetime.timedelta(seconds=1)
    manifest._append_manifest(*target, [dict(row, bucket=1, n_turns=6, committed_at=later)])
    assert len(glob.glob(f"{out}/_manifest/part-*.parquet")) == 1
    shutil.copy(glob.glob(f"{out}/_manifest/part-*.parquet")[0], leftover)
    manifest._append_manifest(*target, [dict(row, bucket=2, n_turns=7)])
    assert [r[:3] for r in _manifest_rows(out)] == [
        (0, "completed", 3), (1, "completed", 6), (2, "completed", 7)
    ]


def test_crash_before_manifest_append_then_resume(spark, tmp_path, inp, monkeypatch):
    """A crash after the bucket files are committed but before the manifest
    append: resume redoes every bucket without a manifest row and replaces
    its directory, so each key and each bucket ends up once."""
    out = str(tmp_path / "out")
    real = manifest._append_manifest
    calls = []

    def crash_once(*args):
        calls.append(args)
        if len(calls) == 1:
            raise RuntimeError("crash before the manifest append")
        return real(*args)

    monkeypatch.setattr(manifest, "_append_manifest", crash_once)
    with pytest.raises(RuntimeError, match="crash before the manifest append"):
        run_with_manifest(spark, load_transcripts(spark, inp), out, n_buckets=8)
    # the data commit happened (the renames precede the append), the manifest
    # did not, and the run's task staging directories were left behind
    assert _part_files(out) == {f"bucket={k}": 1 for k in range(8)}
    assert read_manifest(spark, out) is None
    assert glob.glob(f"{out}/_staging/*/*-0")

    again = run_with_manifest(
        spark, load_transcripts(spark, inp), out, n_buckets=8, resume=True
    )
    assert (again["buckets_skipped"], again["buckets_done"]) == (0, 8)
    _assert_each_key_and_bucket_once(out, inp, 8)
    assert not os.path.exists(f"{out}/_staging")


def test_failed_first_task_attempt_is_written_and_counted_once(tmp_path, inp):
    """Under local[4,2] a failed task is retried once.  The first attempt of
    partition 0 writes bucket 0's file in full and then fails: a file stands
    where its next bucket's staging directory goes.  The commit takes only
    the retry's files and counts, so each bucket is written and counted
    once.  The trap is placed when the run id is drawn (after the job has
    cleared older staging), through the ``uuid`` module the manifest module
    uses; the job runs in a child process because the test session is
    ``local[4]``, where a failed task fails the job."""
    script = (
        "import json, sys, types, uuid, os\n"
        "from ocr_mini_service_spark import manifest\n"
        "from ocr_mini_service_spark.session import get_spark\n"
        "inp, out = sys.argv[1:3]\n"
        "def trapped_uuid4():\n"
        "    u = uuid.uuid4()\n"
        "    manifest.uuid = uuid  # only the run id is trapped\n"
        "    for k in range(1, 8):\n"
        "        d = f'{out}/_staging/{u.hex}/0-0'\n"
        "        os.makedirs(d, exist_ok=True)\n"
        "        open(f'{d}/bucket={k}', 'w').close()\n"
        "    return u\n"
        "manifest.uuid = types.SimpleNamespace(uuid4=trapped_uuid4)\n"
        "spark = get_spark(master='local[4,2]')\n"
        "stats = manifest.run_with_manifest(\n"
        "    spark, manifest.load_transcripts(spark, inp), out, n_buckets=8)\n"
        "st = spark.sparkContext.statusTracker()\n"
        "stages = [s for j in st.getJobIdsForGroup() for s in st.getJobInfo(j).stageIds]\n"
        "stats['failed_tasks'] = sum(st.getStageInfo(s).numFailedTasks for s in stages)\n"
        "print(json.dumps(stats))\n"
        "spark.stop()\n"
    )
    out = str(tmp_path / "out")
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, "-c", script, inp, out],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    stats = json.loads(r.stdout.strip().splitlines()[-1])
    assert stats["failed_tasks"] == 1, stats
    assert "FileExistsError" in r.stderr
    assert stats["buckets_done"] == 8
    _assert_each_key_and_bucket_once(out, inp, 8)
    assert not os.path.exists(f"{out}/_staging")


def test_committed_files_keep_sparks_schema(spark, tmp_path, inp):
    """The files the write tasks stage carry the schema Spark's Parquet
    writer gave them: EXTRACTED as Arrow, nullability included (conv_id and
    turn_idx required, nested fields as declared).  Read back by Spark, the
    output is EXTRACTED plus the ``bucket`` partition column; Spark's file
    reader declares every column and nested field nullable."""
    out = str(tmp_path / "out")
    run_with_manifest(spark, load_transcripts(spark, inp), out, n_buckets=4)
    want = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType), nullable=f.nullable)
         for f in EXTRACTED.fields]
    )
    assert not want.field("conv_id").nullable and not want.field("turn_idx").nullable
    files = glob.glob(f"{out}/bucket=*/part-*.parquet")
    assert len(files) == 4
    for f in files:
        assert pq.read_schema(f).equals(want, check_metadata=False), f
    read_back = StructType(
        [StructField(f.name, _nullable(f.dataType), True) for f in EXTRACTED.fields]
        + [StructField("bucket", IntegerType(), True)]
    )
    assert spark.read.parquet(out).schema == read_back


def _nullable(t):
    """``t`` with every nested field and element nullable, as Spark's file
    reader declares them."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    return t


def test_drain_files_keep_the_manifest_jobs_schema(spark, tmp_path, inp):
    """The webhook drain's files come from the same task writer, so they
    carry the same file schema; Spark reads the drain's output back as
    EXTRACTED with every field nullable, as it read the files its own
    writer made before."""
    out = str(tmp_path / "out")
    run_incremental(spark, os.path.dirname(inp), out, str(tmp_path / "ckpt"),
                    on_batch=lambda payload: None)
    files = glob.glob(f"{out}/batch-*.parquet")
    assert files
    for f in files:
        assert pq.read_schema(f).equals(_arrow_extracted_schema(exact=True),
                                        check_metadata=False), f
    assert spark.read.parquet(out).schema == StructType(
        [StructField(f.name, _nullable(f.dataType), True) for f in EXTRACTED.fields]
    )


def test_scheme_pyarrow_cannot_open_fails_before_the_job(spark):
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path("s3a://b/out/_staging/r")
    with pytest.raises(ValueError, match="pyarrow.fs, which cannot open s3a://b/out"):
        manifest._task_uri(path)


class _CrashOnBucketRename:
    """The output's Hadoop FileSystem, except that the first rename onto a
    ``bucket=<k>/`` directory raises: the crash between the data commit's
    delete of the old directory and the rename of the new one."""

    def __init__(self, fs):
        self._fs = fs
        self.crashed = False

    def rename(self, src, dst):
        if not self.crashed and dst.getName().startswith("bucket="):
            self.crashed = True
            raise RuntimeError("crash between the bucket delete and its rename")
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_crash_between_bucket_delete_and_rename_then_resume(spark, tmp_path, inp, monkeypatch):
    """A rerun without resume into a committed output crashes after it
    deleted ``bucket=0/`` and before it renamed the new directory in.  The
    bucket's manifest row no longer says completed (the modulus stays
    pinned), so resume redoes it: every key once, one row per bucket."""
    out = str(tmp_path / "out")
    run_with_manifest(spark, load_transcripts(spark, inp), out, n_buckets=4)
    real = manifest._resolved_output

    def crashing_output(*args):
        fs, path = real(*args)
        return _CrashOnBucketRename(fs), path

    monkeypatch.setattr(manifest, "_resolved_output", crashing_output)
    with pytest.raises(RuntimeError, match="crash between the bucket delete"):
        run_with_manifest(spark, load_transcripts(spark, inp), out, n_buckets=4)
    monkeypatch.undo()
    assert not os.path.exists(f"{out}/bucket=0")
    assert persisted_n_buckets(spark, out) == 4
    assert 0 not in committed_buckets(spark, out)

    run_with_manifest(spark, load_transcripts(spark, inp), out, resume=True)
    _assert_each_key_and_bucket_once(out, inp, 4)
    assert {r[1] for r in _manifest_rows(out)} == {"completed"}


def test_resume_state_reads_start_no_spark_job(spark, tmp_path, inp):
    """The resume-state reads decode the manifest on the driver: no Spark
    job, and the same answers as the committed rows."""
    out = str(tmp_path / "out")
    run_with_manifest(spark, load_transcripts(spark, inp), out, n_buckets=4)
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup())
    assert committed_buckets(spark, out) == {0, 1, 2, 3}
    assert persisted_n_buckets(spark, out) == 4
    assert set(st.getJobIdsForGroup()) == before


def test_corrupt_manifest_part_raises_not_resets_resume_state(spark, tmp_path, inp):
    """A manifest part that does not decode (here one with no checksum
    sidecar, as on a store without them) raises from every resume-state
    read and from a resumed run, which re-extracts nothing; it is never
    read as "no manifest"."""
    out = str(tmp_path / "out")
    run_with_manifest(spark, load_transcripts(spark, inp), out, n_buckets=4)
    (part,) = glob.glob(f"{out}/_manifest/part-*.parquet")
    os.remove(os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc"))
    with open(part, "r+b") as f:
        f.truncate(os.path.getsize(part) // 2)
    files = {f: os.path.getmtime(f) for f in glob.glob(f"{out}/bucket=*/*.parquet")}
    with pytest.raises(pa.ArrowInvalid):
        committed_buckets(spark, out)
    with pytest.raises(pa.ArrowInvalid):
        persisted_n_buckets(spark, out)
    with pytest.raises(pa.ArrowInvalid):
        run_with_manifest(spark, load_transcripts(spark, inp), out, resume=True)
    assert {f: os.path.getmtime(f) for f in glob.glob(f"{out}/bucket=*/*.parquet")} == files
