"""The webhook drain (``run_incremental(on_batch=...)``) commits each
micro-batch once: its files land once and its ``batch_id`` is posted once as
completed, after a kill inside a micro-batch, a replay with or without the
batch's ``_batches/<batch_id>`` marker, or a callback that raises."""

import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException

from ocr_mini_service_spark.pipeline import _arrow_extracted_schema
from ocr_mini_service_spark.streaming import run_incremental
from ocr_mini_service_spark.synth import gen_transcripts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_FILES, TURNS_PER_FILE = 40, 5  # 16 files per trigger: batches 0, 1 and 2


@pytest.fixture(scope="module")
def arrivals(tmp_path_factory):
    inp = tmp_path_factory.mktemp("drain") / "in"
    inp.mkdir()
    table = pa.Table.from_pandas(
        gen_transcripts(N_FILES * TURNS_PER_FILE, seed=5), preserve_index=False
    )
    for i in range(N_FILES):
        pq.write_table(table.slice(i * TURNS_PER_FILE, TURNS_PER_FILE),
                       inp / f"part-{i:05d}.parquet")
    return str(inp)


class Spy:
    """A local stand-in for the webhook endpoint: one JSON line per post."""

    def __init__(self, path):
        self.path = str(path)

    def __call__(self, payload: dict) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(payload) + "\n")

    def posts(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        return [json.loads(line) for line in open(self.path)]


def _drain(spark, arrivals, tmp_path, on_batch):
    return run_incremental(spark, arrivals, str(tmp_path / "out"),
                           str(tmp_path / "ckpt"), on_batch=on_batch)


def _assert_each_key_once(out: str) -> None:
    rows, keys = duckdb.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT (conv_id, turn_idx)) FROM '{out}/*.parquet'"
    ).fetchone()
    assert rows == keys == N_FILES * TURNS_PER_FILE, (rows, keys)


def _assert_each_batch_posted_once(posts: list[dict]) -> None:
    done = [p["batch_id"] for p in posts if p["status"] == "completed"]
    assert sorted(done) == [0, 1, 2], done
    assert sum(p["n_turns"] for p in posts if p["status"] == "completed") == (
        N_FILES * TURNS_PER_FILE
    )


def _forget_checkpoint_commit(ckpt, batch_id: int) -> None:
    """The state a crash before the checkpoint commit of ``batch_id``
    leaves: the next drain re-runs that batch."""
    for f in (f"{ckpt}/commits/{batch_id}", f"{ckpt}/commits/.{batch_id}.crc"):
        if os.path.exists(f):
            os.remove(f)


_CHILD = """
import json, sys, time
from ocr_mini_service_spark import streaming
from ocr_mini_service_spark.session import get_spark

inp, out, ckpt, spy, gate, where = sys.argv[1:]

def block():
    open(gate, "w").close()
    time.sleep(600)

real_write_file = streaming._write_file

def write_file(fs, path, data):
    if where == "marker" and path.toString().endswith("/_batches/1"):
        block()  # batch 1's files are renamed in, its marker is not written
    real_write_file(fs, path, data)

streaming._write_file = write_file

def post(payload):
    with open(spy, "a") as f:
        f.write(json.dumps(payload) + "\\n")
    if where == "post" and payload["batch_id"] == 1:
        block()  # batch 1 is committed and posted, its checkpoint commit is not

spark = get_spark(master="local[2]")
streaming.run_incremental(spark, inp, out, ckpt, on_batch=post)
"""


@pytest.mark.parametrize("where", ["marker", "post"])
def test_sigkill_inside_a_micro_batch_then_resume(spark, arrivals, tmp_path, where):
    """SIGKILL the drain's process group inside batch 1, after its files
    are renamed into the output and before its checkpoint commit: either
    before its marker is written or after its post.  The resumed drain
    leaves every key once and posts no batch twice.  The kill is gated on a
    file the blocked child writes, not on a sleep."""
    out, ckpt, gate = tmp_path / "out", tmp_path / "ckpt", tmp_path / "gate"
    spy = Spy(tmp_path / "posts.jsonl")
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.Popen(
        [sys.executable, "-c", _CHILD, arrivals, str(out), str(ckpt), spy.path,
         str(gate), where],
        cwd=REPO, env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,
    )
    try:
        deadline = time.time() + 300
        while not gate.exists() and proc.poll() is None and time.time() < deadline:
            time.sleep(0.05)
        assert gate.exists(), f"the drain never reached batch 1; returncode={proc.poll()}"
    finally:
        os.killpg(proc.pid, signal.SIGKILL)  # the driver and its JVM, no clean-up
        proc.wait(60)

    assert glob.glob(f"{out}/batch-00001-*.parquet")
    assert os.path.exists(f"{out}/_batches/1") == (where == "post")
    assert not os.path.exists(f"{ckpt}/commits/1")
    posted = [p["batch_id"] for p in spy.posts()]
    assert posted == ([0] if where == "marker" else [0, 1])

    _drain(spark, arrivals, tmp_path, spy)
    _assert_each_key_once(str(out))
    _assert_each_batch_posted_once(spy.posts())
    assert sorted(glob.glob("[!.]*", root_dir=f"{out}/_batches")) == ["0", "1", "2"]
    assert not os.path.exists(f"{out}/_staging")


def test_replay_with_marker_appends_and_posts_nothing(spark, arrivals, tmp_path):
    """A crash after batch 2's marker and before its checkpoint commit: the
    replay finds the marker and neither writes nor posts."""
    spy = Spy(tmp_path / "posts.jsonl")
    _drain(spark, arrivals, tmp_path, spy)
    out = str(tmp_path / "out")
    files = sorted(os.listdir(out))
    posts = spy.posts()
    _assert_each_batch_posted_once(posts)

    _forget_checkpoint_commit(tmp_path / "ckpt", 2)
    _drain(spark, arrivals, tmp_path, spy)
    assert os.path.exists(tmp_path / "ckpt" / "commits" / "2")  # the replay ran
    assert spy.posts() == posts
    assert sorted(os.listdir(out)) == files
    _assert_each_key_once(out)


def test_replay_without_marker_replaces_its_own_files(spark, arrivals, tmp_path):
    """A crash after batch 2's files were renamed in and before its marker,
    by an attempt that wrote more files than the replay does: the replay
    deletes every file of batch 2, commits its own and posts batch 2 once.
    The other batches' files, and a file named as Spark's file sink names
    its partition 2, are untouched."""
    spy = Spy(tmp_path / "posts.jsonl")
    _drain(spark, arrivals, tmp_path, spy)
    out = str(tmp_path / "out")
    posts = [p for p in spy.posts() if p["batch_id"] != 2]
    others = {f: os.path.getmtime(f"{out}/{f}") for f in os.listdir(out)
              if f.startswith(("batch-00000-", "batch-00001-"))}
    batch2 = sorted(glob.glob(f"{out}/batch-00002-*.parquet"))
    assert batch2
    planted = f"{out}/batch-00002-{len(batch2) + 3:05d}.parquet"
    shutil.copy(batch2[0], planted)
    for f in (f"{out}/_batches/2", f"{out}/_batches/.2.crc"):
        os.remove(f)
    _forget_checkpoint_commit(tmp_path / "ckpt", 2)
    spark_named = f"{out}/part-00002-0d1c2b3a-c000.snappy.parquet"
    pq.write_table(_arrow_extracted_schema(exact=True).empty_table(), spark_named)
    os.remove(spy.path)
    for p in posts:
        spy(p)

    _drain(spark, arrivals, tmp_path, spy)
    _assert_each_key_once(out)
    _assert_each_batch_posted_once(spy.posts())
    assert {f: os.path.getmtime(f"{out}/{f}") for f in others} == others
    assert not os.path.exists(planted)
    assert os.path.exists(spark_named)


def test_on_batch_raising_on_a_completed_payload_posts_no_failed(spark, arrivals, tmp_path):
    """A callback that raises on batch 0's completed payload fails the
    query without also posting "failed" for that batch.  Batch 0 is
    committed (its marker stands), so the resumed drain does not post it
    again: the post was lost, never doubled."""
    spy = Spy(tmp_path / "posts.jsonl")

    def post_then_raise(payload):
        spy(payload)
        if payload["status"] == "completed":
            raise RuntimeError("webhook endpoint down")

    with pytest.raises(StreamingQueryException, match="webhook endpoint down"):
        _drain(spark, arrivals, tmp_path, post_then_raise)
    assert [(p["batch_id"], p["status"]) for p in spy.posts()] == [(0, "completed")]

    _drain(spark, arrivals, tmp_path, spy)
    _assert_each_key_once(str(tmp_path / "out"))
    _assert_each_batch_posted_once(spy.posts())


def test_compaction_refuses_a_drain_output(spark, arrivals, tmp_path):
    """A drain output has no manifest and no bucket column: compaction
    raises before any Spark job and creates nothing at its destination."""
    from ocr_mini_service_spark.manifest import compact_output

    two_batches = tmp_path / "in"
    two_batches.mkdir()
    for name in sorted(os.listdir(arrivals))[:20]:  # 16 files, then 4
        shutil.copy(os.path.join(arrivals, name), two_batches)
    spy = Spy(tmp_path / "posts.jsonl")
    _drain(spark, str(two_batches), tmp_path, spy)
    assert [p["batch_id"] for p in spy.posts()] == [0, 1]

    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup())
    dst = tmp_path / "compacted"
    with pytest.raises(ValueError, match="has no manifest"):
        compact_output(spark, str(tmp_path / "out"), str(dst))
    assert set(st.getJobIdsForGroup()) == before
    assert not dst.exists()
