"""Resumable per-partition commit manifest — the Spark re-expression of the
reference's ``JobStatus`` map (/root/reference/src/types/return-strategy.types.ts:9-17,
src/ocr/image-recognition.service.ts:25, 61-67, 189-214): one row per
partition-bucket with status, extraction metrics (blocks kept/dropped, error
counts — service.ts:184-186) and commit lineage, enabling idempotent resume.

Layout (plain parquet; every path resolves through the session's Hadoop conf,
as Spark's own reader and writer resolve it):

    <output>/bucket=<k>/part-*.parquet     data, one file per bucket
    <output>/_manifest/part-*.parquet      manifest rows, one per bucket
    <output>/_staging/<run>/               a running job's task files

Partitioning strategy (north rule): bucket = pmod(xxhash64(conv_id, salt), N)
with salt = pmod(xxhash64(turn_idx), S).  Hashing conv_id keeps a
conversation's turns in at most S buckets (mostly co-located) while the salt
bounds the skew of pathologically long conversations — a 10^6-turn
conversation spreads over S tasks instead of serializing one (SURVEY.md §4.2).

The bucket is the commit and resume unit, not the task unit: the write job
range-partitions the pending buckets onto ``n_tasks`` contiguous ranges sized
by input bytes (``write_task_count``), so every bucket still lands in exactly
one task and one file, while small inputs do not pay a Python task per bucket.

Write path: the JVM ships thin input rows to the Python write tasks and gets
back one small row per bucket.  Each task extracts its rows with the columnar
kernel and writes every bucket's Parquet file itself with pyarrow, under
``_staging/<run>/<partition>-<attempt>/``; the extracted rows never cross
back into the JVM.  The driver collects the rows (one successful attempt per
partition), renames each staged bucket directory over ``bucket=<k>/``
through the output's Hadoop FileSystem, and then appends the buckets'
manifest rows.

Crash atomicity: the manifest append is the single commit point.  It is one
parquet part written through the Hadoop FileSystem of the output (temp name,
then rename), so the manifest lands beside the data on every filesystem.
A crash before it leaves buckets without a manifest row; resume redoes them
and replaces their directories, so the re-run adds no duplicates.  Staged
files of killed runs and failed attempts are never read; ``_staging`` is
cleared before each job and after its commit.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import math
import threading
import time
import uuid
from collections.abc import Collection

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .pipeline import _arrow_extracted_schema, input_columns
from .schema import TRANSCRIPTS

SALT_FACTOR = 32

# Input bytes one Python write task is sized for.  Every Python task pays a
# fixed cost however little it does, so small inputs must not pay one task
# per bucket.  16 MiB (≈20k turns) is an estimate, not a tuned value.
# Re-timed with the tasks writing the Parquet files themselves (32
# buckets, warm run_with_manifest, 4-vCPU VM, one session each): at 10k
# turns (8.1 MB) the parallelism floor decides, and its 4 tasks took
# 1.4–2.2 s (median 1.6 s) against 2.1–3.0 s (median 2.3 s) for 32 tasks,
# 4 runs each; at 200k turns (154 MB) the rule's 10 tasks took 15.4–17.9 s
# (median 15.6 s), within the run-to-run drift of the 4-task floor
# (14.3–16.2 s) and of 32 tasks (14.7–15.8 s), 4 runs each over two
# sessions.  So the count matters little at 200k and the floor matters at
# 10k.  Unverified above 200k turns: re-derive it once a benchmark
# workload falls between the floor and the cap.  At cluster scale the count
# caps at n_buckets, one task per bucket.
TASK_BYTES = 16 << 20

_MANIFEST_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), True),
        StructField("status", StringType(), False),
        StructField("n_turns", LongType(), False),
        StructField("n_words_kept", LongType(), True),
        StructField("n_words_dropped", LongType(), True),
        StructField("n_errors", LongType(), False),
        StructField("error", StringType(), True),
        StructField("started_at", TimestampType(), False),
        StructField("committed_at", TimestampType(), False),
        # the bucket modulus the output was written under: bucket ids are
        # only meaningful relative to it, so resume must reuse it (validated
        # in run_with_manifest — a different modulus would silently drop
        # turns whose new id collides with a committed old id)
        StructField("n_buckets", IntegerType(), True),
    ]
)

# What a write task returns per bucket file it staged: the JVM never sees
# the extracted rows, only these.  ``path`` is relative to the run's
# staging directory.
_STAGED = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("path", StringType(), False),
        StructField("n_turns", LongType(), False),
        StructField("n_words_kept", LongType(), False),
        StructField("n_words_dropped", LongType(), False),
        StructField("n_errors", LongType(), False),
    ]
)


def bucket_expr(n_buckets: int, salt_factor: int = SALT_FACTOR):
    """Deterministic bucket assignment from (conv_id, turn_idx) — recomputable
    on both the input and output side, so no column needs to survive the
    extraction kernel."""
    salt = F.pmod(F.xxhash64(F.col("turn_idx").cast("long")), F.lit(salt_factor))
    return F.pmod(F.xxhash64(F.col("conv_id"), salt), F.lit(n_buckets)).cast("int")


def _hadoop_path(spark: SparkSession, location: str):
    """``location`` qualified, with its Hadoop FileSystem, resolved with the
    session's Hadoop conf exactly as Spark's reader and writer resolve it (a
    path without a scheme is relative to ``fs.defaultFS``)."""
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(location)
    fs = path.getFileSystem(conf)
    return fs, fs.makeQualified(path)


def _resolved_output(spark: SparkSession, output: str):
    """``output``, created if missing and resolved through any mount table
    (viewfs) to the path that stores it, with that path's FileSystem: the
    write tasks write there, and a rename within it never crosses a
    mount."""
    fs, path = _hadoop_path(spark, output)
    fs.mkdirs(path)
    path = fs.resolvePath(path)
    return path.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf()), path


def _visible(fs, path) -> list:
    """The files under ``path`` that Spark's file index reads (it skips
    names starting with "_" or ".")."""
    if not fs.exists(path):
        return []
    return [
        st.getPath() for st in fs.listStatus(path)
        if not st.getPath().getName().startswith(("_", "."))
    ]


def exists(spark: SparkSession, location: str) -> bool:
    """At least one visible file under ``location``, checked without running
    a Spark read."""
    return bool(_visible(*_hadoop_path(spark, location)))


def read_manifest(spark: SparkSession, output: str) -> DataFrame | None:
    """The manifest rows, or None when no manifest part has been committed.
    Existence is checked on the storage side, not by letting a Spark read
    fail (a failed read logs an ERROR); a corrupt part still raises."""
    path = f"{output}/_manifest"
    if not exists(spark, path):
        return None
    return spark.read.parquet(path)


def committed_buckets(spark: SparkSession, output: str) -> set[int]:
    m = read_manifest(spark, output)
    if m is None:
        return set()
    rows = m.filter(F.col("status") == "completed").select("bucket").distinct().collect()
    return {r["bucket"] for r in rows}


def persisted_n_buckets(spark: SparkSession, output: str) -> int | None:
    """The bucket modulus recorded in an existing output's manifest (None if
    no manifest, or one predating the n_buckets column).  A manifest carrying
    MULTIPLE moduli is already incoherent — surface it, don't pick one."""
    m = read_manifest(spark, output)
    if m is None or "n_buckets" not in m.columns:
        return None
    rows = (
        m.select("n_buckets").filter(F.col("n_buckets").isNotNull()).distinct().collect()
    )
    vals = sorted(r["n_buckets"] for r in rows)
    if len(vals) > 1:
        raise ValueError(
            f"manifest at {output}/_manifest mixes bucket moduli {vals}; the "
            "output cannot be resumed coherently — clear it and rerun"
        )
    return vals[0] if vals else None


def _append_manifest(spark: SparkSession, output: str, rows: list[dict]) -> None:
    """Commit the (one-row-per-bucket) manifest rows of a run: the manifest's
    single commit point.

    The manifest is rewritten as one part that holds ``rows`` plus, for
    every bucket ``rows`` does not cover, the latest row the older parts
    hold; then the older parts are deleted.  So a rerun without resume
    replaces its buckets' rows instead of adding a second one.  A crash
    between the rename and the deletes leaves rows twice, which
    ``committed_buckets``/``persisted_n_buckets`` read as one and the next
    commit folds away.

    The manifest is driver-sized by construction, so the part is encoded on
    the driver with pyarrow (no Spark job) and read and written through the
    Hadoop FileSystem of the qualified path, the one the data's commit
    used.  Temp name + rename: a crash mid-write must not leave a corrupt
    part visible to read_manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    if not rows:
        return
    fs, path = _hadoop_path(spark, f"{output}/_manifest")
    jvm = spark.sparkContext._jvm
    older = _visible(fs, path)
    latest: dict = {}
    new = {r["bucket"] for r in rows}
    for part in older:
        stream = fs.open(part)
        try:
            data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        finally:
            stream.close()
        for r in pq.read_table(pa.BufferReader(data)).to_pylist():
            b = r["bucket"]
            if b not in new and (b not in latest or r["committed_at"] > latest[b]["committed_at"]):
                latest[b] = r

    arrow_schema = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in _MANIFEST_SCHEMA.fields]
    )
    kept = sorted(latest.values(), key=lambda r: r["bucket"])
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist(kept + rows, schema=arrow_schema), buf)
    Path = jvm.org.apache.hadoop.fs.Path
    final = Path(path, f"part-{uuid.uuid4().hex}.parquet")
    tmp = Path(path, f".{final.getName()}.tmp")
    out = fs.create(tmp)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise OSError(f"manifest part rename {tmp} -> {final} failed")
    for part in older:
        fs.delete(part, False)


@contextlib.contextmanager
def _emit_progress(spark: SparkSession, output: str, interval: float = 0.5):
    """Mid-job progress events riding the write action (the SSE
    ``{type: 'progress', progress, message}`` stream analog,
    /root/reference/docs/api.md:127-144): a driver-side poller samples the
    SparkListener-backed status tracker and appends JSON lines to
    ``_manifest/_progress.jsonl`` (underscore-prefixed → invisible to
    parquet readers of the manifest).  Outputs that resolve to the local
    filesystem only — an external monitor on a real cluster reads the
    Spark UI / event log instead."""
    uri = _hadoop_path(spark, output)[1].toUri()
    if uri.getScheme() != "file":
        yield
        return
    local = uri.getPath()
    import os

    os.makedirs(f"{local}/_manifest", exist_ok=True)
    path = f"{local}/_manifest/_progress.jsonl"

    def _write(payload: dict) -> None:
        payload["ts"] = time.time()
        with open(path, "a") as f:
            f.write(json.dumps(payload) + "\n")

    stop = threading.Event()

    def _poll() -> None:
        # one sample as the job starts, then one per interval: a job shorter
        # than the interval still reports progress before its terminal event
        st = spark.sparkContext.statusTracker()
        while True:
            try:
                ids = st.getActiveStageIds()
                done = total = 0
                for sid in ids:
                    info = st.getStageInfo(sid)
                    if info is not None:
                        done += info.numCompletedTasks
                        total += info.numTasks
                _write(
                    {
                        "type": "progress",
                        "active_stages": len(ids),
                        "tasks_done": done,
                        "tasks_total": total,
                        "message": f"{done}/{total} tasks in {len(ids)} active stages",
                    }
                )
            except Exception:
                return  # context torn down mid-poll
            if stop.wait(interval):
                return

    t = threading.Thread(target=_poll, daemon=True)
    t.start()
    # terminal event mirrors the reference's complete/error split
    # (/root/reference/src/ocr/image-recognition.service.ts:360-368,405-413):
    # a failed write must emit {type: 'failed'}, never 'complete'
    try:
        yield
    except BaseException as exc:
        stop.set()
        t.join(timeout=2)
        _write({"type": "failed", "error": f"{type(exc).__name__}: {exc}"})
        raise
    else:
        stop.set()
        t.join(timeout=2)
        _write({"type": "complete"})


def write_task_count(
    input_bytes: int, n_buckets: int, pending_buckets: int, parallelism: int
) -> int:
    """Python tasks for the write job: enough for ``TASK_BYTES`` of pending
    input each, at least the parallelism, at most one per bucket."""
    want = math.ceil(input_bytes * pending_buckets / n_buckets / TASK_BYTES)
    return min(n_buckets, max(parallelism, want))


def _stage_bucket_files(batches, staging: str):
    """A write task: extract each input batch with the columnar kernel and
    stream every bucket's rows into one Parquet file under this attempt's
    own directory, ``<staging>/<partition>-<attempt>/bucket=<k>/``.  The
    batches arrive sorted by bucket, so a bucket is one run of rows and
    one open writer.  Yields one ``_STAGED`` row per file written."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.fs as pafs
    import pyarrow.parquet as pq
    from pyspark import TaskContext
    from pyspark.sql.pandas.types import to_arrow_type

    from . import columnar

    ctx = TaskContext.get()
    task_dir = f"{ctx.partitionId()}-{ctx.attemptNumber()}"
    fs, root = pafs.FileSystem.from_uri(f"{staging}/{task_dir}")
    schema = _arrow_extracted_schema(exact=True)
    staged_schema = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in _STAGED.fields]
    )
    bucket, writer, path, tally = None, None, None, None

    def close():
        writer.close()
        return pa.RecordBatch.from_pylist(
            [dict(bucket=bucket, path=path, n_turns=tally[0], n_words_kept=tally[1],
                  n_words_dropped=tally[2], n_errors=tally[3])],
            schema=staged_schema,
        )

    try:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            out = columnar.extract_batch(batch, schema)
            keys = batch.column("bucket").to_numpy()
            cuts = [0, *(np.flatnonzero(np.diff(keys)) + 1).tolist(), len(keys)]
            kept = pc.fill_null(out.column("n_blocks_kept"), 0).to_numpy()
            dropped = pc.fill_null(out.column("n_blocks_dropped"), 0).to_numpy()
            errors = pc.is_valid(out.column("error")).to_numpy(zero_copy_only=False)
            for a, b in zip(cuts[:-1], cuts[1:]):
                if keys[a] != bucket:
                    if writer is not None:
                        yield close()
                    bucket = int(keys[a])
                    name = f"bucket={bucket}/part-{ctx.partitionId():05d}.parquet"
                    fs.create_dir(f"{root}/bucket={bucket}")
                    writer = pq.ParquetWriter(f"{root}/{name}", schema, filesystem=fs)
                    path, tally = f"{task_dir}/{name}", [0, 0, 0, 0]
                writer.write_batch(out.slice(a, b - a))
                tally[0] += b - a
                tally[1] += int(kept[a:b].sum())
                tally[2] += int(dropped[a:b].sum())
                tally[3] += int(errors[a:b].sum())
        if writer is not None:
            yield close()
    finally:
        if writer is not None:
            writer.close()  # a failed attempt's file; closing twice is a no-op


def bucketed_write_plan(
    transcripts: DataFrame,
    n_buckets: int,
    n_tasks: int,
    staging: str,
    skipped: Collection[int] = (),
    salt_factor: int = SALT_FACTOR,
) -> DataFrame:
    """The batch job's plan: the write tasks stage one Parquet file per
    bucket under ``staging`` (a URI pyarrow opens) and return only the
    ``_STAGED`` rows.

    One shuffle, on the thin input (raw turns); the fat extracted rows
    never enter the JVM.  Range partitioning on the bucket id keeps every
    bucket inside one of ``n_tasks`` contiguous ranges, so each bucket is
    one run of rows in one task and one file; the sort, also on the input,
    gives the stable (conv_id, turn_idx) order within each bucket, and the
    extraction keeps it.  The write sits above the one Exchange, in the
    job's result stage: ``collect()`` returns one successful attempt per
    partition, however often a task is retried."""
    df = transcripts.select(
        *input_columns(transcripts), bucket_expr(n_buckets, salt_factor).alias("bucket")
    )
    if skipped:
        df = df.filter(~F.col("bucket").isin(*[int(b) for b in skipped]))
    df = df.repartitionByRange(n_tasks, "bucket").sortWithinPartitions(
        "bucket", "conv_id", "turn_idx"
    )

    def stage_bucket_files(batches):
        return _stage_bucket_files(batches, staging)

    return df.mapInArrow(stage_bucket_files, _STAGED)


def _task_uri(path) -> str:
    """The URI the write tasks open ``path`` (a resolved Hadoop path) with.
    They write through pyarrow, not Hadoop, so a scheme pyarrow cannot open
    fails here, before any Spark job."""
    import pyarrow.fs as pafs

    uri = path.toUri().toString()
    try:
        pafs.FileSystem.from_uri(uri)
    except (ValueError, OSError) as exc:
        raise ValueError(
            f"the write tasks open the output through pyarrow.fs, which cannot "
            f"open {uri}: {exc}"
        ) from exc
    return uri


def run_with_manifest(
    spark: SparkSession,
    transcripts: DataFrame,
    output: str,
    n_buckets: int | None = None,
    resume: bool = False,
    salt_factor: int = SALT_FACTOR,
) -> dict:
    """Extract all not-yet-committed buckets in one Spark job, commit their
    files on the driver, then commit their manifest rows.  Returns run
    stats.

    The write tasks write the extracted rows themselves
    (``bucketed_write_plan``) and return one small row per bucket file:
    its staged path and its manifest metrics (turns, words kept and
    dropped, errors), tallied from the rows the task wrote.  ``collect()``
    returns exactly one successful attempt per partition, so each bucket
    is written once and counted once, whatever attempts failed before
    (tests/test_manifest_tasks.py retries a task under ``local[4,2]``).
    The driver then renames each staged bucket directory over
    ``bucket=<k>/`` through the output's Hadoop FileSystem and appends the
    manifest rows: that append is the commit point.  tests/test_manifest_metrics.py checks the rows
    against DuckDB's per-bucket aggregate of the committed files."""
    # An existing output's manifest pins the bucket modulus: ids are only
    # meaningful relative to it.  Resuming (or overwriting into) the same
    # output with a different modulus would silently DROP turns whose new id
    # collides with a committed old id and duplicate others — so an explicit
    # mismatch is an error, and an unspecified n_buckets ADOPTS the persisted
    # value rather than the parallelism default.
    persisted = persisted_n_buckets(spark, output)
    if n_buckets is not None and persisted is not None and persisted != n_buckets:
        raise ValueError(
            f"output {output} was written with n_buckets={persisted}, but "
            f"n_buckets={n_buckets} was requested; rerun with "
            f"n_buckets={persisted} (or clear the output)"
        )
    if n_buckets is None:
        # 8 buckets per slot: finer buckets shrink the per-bucket retry unit
        # for resume.  The write's task count is sized separately
        # (write_task_count); the 1.37x measured at local[32] for 64 -> 256
        # buckets on 600k turns (BENCH/BASELINE.md "thread-scaling
        # attribution") came from task waves, not buckets.
        n_buckets = (
            persisted
            if persisted is not None
            else 8 * spark.sparkContext.defaultParallelism
        )

    started_at = datetime.datetime.now(datetime.timezone.utc)

    skipped: set[int] = committed_buckets(spark, output) if resume else set()
    # the planner's size estimate (file bytes for a scan): no Spark job
    input_bytes = transcripts._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    n_tasks = write_task_count(
        int(input_bytes),
        n_buckets,
        n_buckets - len(skipped),
        spark.sparkContext.defaultParallelism,
    )

    t0 = time.time()
    fs, out = _resolved_output(spark, output)
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    staging_root = Path(out, "_staging")
    fs.delete(staging_root, True)  # a killed run's attempts
    staging = Path(staging_root, uuid.uuid4().hex)
    plan = bucketed_write_plan(
        transcripts, n_buckets, n_tasks, _task_uri(staging), skipped, salt_factor
    )
    with _emit_progress(spark, output):
        staged = sorted((r.asDict() for r in plan.collect()), key=lambda r: r["bucket"])
        # the data commit: each staged bucket directory, which holds just
        # the bucket's file, replaces the committed one (a directory rename,
        # not mkdirs + file rename: a Hadoop mkdirs costs ≈4.5 ms locally)
        for r in staged:
            bucket_dir = Path(out, f"bucket={r['bucket']}")
            src = Path(staging, r["path"].rsplit("/", 1)[0])
            fs.delete(bucket_dir, True)
            if not fs.rename(src, bucket_dir):
                raise OSError(f"bucket directory rename {src} -> {bucket_dir} failed")
    t_write = time.time() - t0

    committed_at = datetime.datetime.now(datetime.timezone.utc)
    rows = [
        dict(
            bucket=r["bucket"],
            status="completed",
            n_turns=r["n_turns"],
            n_words_kept=r["n_words_kept"],
            n_words_dropped=r["n_words_dropped"],
            n_errors=r["n_errors"],
            error=None,
            started_at=started_at,
            committed_at=committed_at,
            n_buckets=n_buckets,
        )
        for r in staged
    ]
    t0 = time.time()
    _append_manifest(spark, output, rows)
    fs.delete(staging_root, True)
    return {
        "n_turns": sum(r["n_turns"] for r in rows),
        "buckets_done": len(rows),
        "buckets_skipped": len(skipped),
        "n_buckets": n_buckets,
        "n_tasks": n_tasks,
        "t_write": t_write,
        "t_manifest": time.time() - t0,
    }


def load_transcripts(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(TRANSCRIPTS).parquet(path)


def compact_output(spark: SparkSession, src: str, dst: str) -> dict:
    """Small-file compaction of a committed extraction output — the table
    maintenance a long-lived ingest target needs: every ``--resume`` batch
    and every streaming trigger appends its own part files per bucket, and
    scan-task scheduling over thousands of tiny files eventually dominates
    read cost.  Rewrites the data so each bucket partition holds ONE file,
    preserving rows bit-for-bit and carrying the manifest (and its pinned
    ``n_buckets``) to the destination — ``--resume`` against the compacted
    output skips every bucket, exactly as against the original.

    Writes to a NEW location: Spark cannot overwrite a path it is reading
    from (lazy scan during write), and a same-path rewrite would also
    destroy the crash-atomicity story — the swap (rename or catalog
    pointer flip) is the operator's one atomic step.  At 100 TB this runs
    per-partition-range, not whole-table; the shuffle is the compaction's
    inherent cost (rows must land in one task per bucket to become one
    file per bucket).

    Returns {"rows", "files_before", "files_after", "buckets"} — counts
    derived distributedly via input_file_name(), FS-agnostic."""
    df = spark.read.parquet(src)
    n_buckets = persisted_n_buckets(spark, src)
    files_before = df.select(F.input_file_name()).distinct().count()
    rows_before = df.count()
    # one task per bucket value -> one file per bucket dir
    compacted = df.repartition(int(n_buckets or 256), "bucket")
    (
        compacted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(dst)
    )
    m = read_manifest(spark, src)
    if m is not None:
        m.write.mode("overwrite").parquet(f"{dst}/_manifest")
    out = spark.read.parquet(dst)
    rows_after = out.count()
    if rows_after != rows_before:
        raise RuntimeError(
            f"compaction row-count mismatch: {rows_before} -> {rows_after}"
        )
    files_after = out.select(F.input_file_name()).distinct().count()
    return {
        "rows": rows_after,
        "files_before": files_before,
        "files_after": files_after,
        "buckets": n_buckets,
    }
