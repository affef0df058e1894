"""Resumable per-partition commit manifest — the Spark re-expression of the
reference's ``JobStatus`` map (/root/reference/src/types/return-strategy.types.ts:9-17,
src/ocr/image-recognition.service.ts:25, 61-67, 189-214): one row per
partition-bucket with status, extraction metrics (blocks kept/dropped, error
counts — service.ts:184-186) and commit lineage, enabling idempotent resume.

Layout (plain parquet; every path resolves through the session's Hadoop conf,
as Spark's own reader and writer resolve it):

    <output>/bucket=<k>/part-*.parquet     data, one file per bucket
    <output>/_manifest/part-*.parquet      append-only manifest rows

Partitioning strategy (north rule): bucket = pmod(xxhash64(conv_id, salt), N)
with salt = pmod(xxhash64(turn_idx), S).  Hashing conv_id keeps a
conversation's turns in at most S buckets (mostly co-located) while the salt
bounds the skew of pathologically long conversations — a 10^6-turn
conversation spreads over S tasks instead of serializing one (SURVEY.md §4.2).

The bucket is the commit and resume unit, not the task unit: the write job
range-partitions the pending buckets onto ``n_tasks`` contiguous ranges sized
by input bytes (``write_task_count``), so every bucket still lands in exactly
one task and one file, while small inputs do not pay a Python task per bucket.

Crash atomicity: data files are committed by Spark's parquet commit protocol;
manifest rows are appended only AFTER the data write returns.  The per-bucket
metrics are accumulator tallies riding that same write action, so a manifest
row is always backed by committed data.  Each append is one parquet part
written through the Hadoop FileSystem of the output (temp name, then rename),
so the manifest lands beside the data on every filesystem.  A crash between
data and manifest re-runs that bucket; dynamic partition overwrite makes the
re-run idempotent (no duplicates).
"""

from __future__ import annotations

import contextlib
import datetime
import json
import math
import threading
import time
from collections.abc import Collection

from pyspark.accumulators import AccumulatorParam
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

from .pipeline import extract_fused
from .schema import TRANSCRIPTS

SALT_FACTOR = 32

# Input bytes one Python write task is sized for.  Every Python task pays a
# fixed cost however little it does, so small inputs must not pay one task
# per bucket.  Most of that cost was PySpark's worker re-reading the
# directory of pyspark.zip before each task (≈0.3 s on Python 3.11); the
# package's lazy zip invalidation (``__init__.py``) removes it, and a
# trivial 4-task Arrow job on a 4-vCPU VM now takes ≈0.14 s against
# ≈0.07 s without Python.  16 MiB (≈20k turns) is an estimate, not a
# tuned value, and was set while the fixed cost was ≈0.3 s.  With 32
# buckets, median wall time: at 10k turns (8.1 MB) the parallelism floor
# decides (4 tasks, 2.6 s against 6.3 s at 32 tasks, 3 runs each), so
# TASK_BYTES has no effect there; at 200k turns (161 MB) its 10 tasks
# (41.9 s) were within the ±5 s run-to-run drift of 32 tasks (44.0 s, 8
# runs each) and of the 4-task floor (31.7, 38.9 s).  The runs are in
# CHANGES.md.  Unverified above 200k turns: re-derive it once a benchmark
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


def exists(spark: SparkSession, location: str) -> bool:
    """At least one visible file under ``location``, checked without running
    a Spark read."""
    fs, path = _hadoop_path(spark, location)
    # Spark's file index skips names starting with "_" or "."
    return fs.exists(path) and any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(path)
    )


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
    """Append the (one-row-per-bucket) manifest delta as one parquet part.

    The manifest is driver-sized by construction, so the part is encoded on
    the driver with pyarrow (no Spark job) and written through the Hadoop
    FileSystem of the qualified path, the one Spark's writer used for the
    data.  Temp name + rename: a crash mid-write must not leave a corrupt
    part visible to read_manifest."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    arrow_schema = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in _MANIFEST_SCHEMA.fields]
    )
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist(rows, schema=arrow_schema), buf)
    fs, path = _hadoop_path(spark, f"{output}/_manifest")
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    final = Path(path, f"part-{uuid.uuid4().hex}.parquet")
    tmp = Path(path, f".{final.getName()}.tmp")
    out = fs.create(tmp)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise OSError(f"manifest part rename {tmp} -> {final} failed")


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
        st = spark.sparkContext.statusTracker()
        while not stop.wait(interval):
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


class _BucketMetricsParam(AccumulatorParam):
    """dict[bucket -> (n_turns, n_words_kept, n_words_dropped, n_errors)]
    merged by element-wise sum."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, t in b.items():
            cur = a.get(k)
            a[k] = t if cur is None else tuple(x + y for x, y in zip(cur, t))
        return a


def write_task_count(
    input_bytes: int, n_buckets: int, pending_buckets: int, parallelism: int
) -> int:
    """Python tasks for the write job: enough for ``TASK_BYTES`` of pending
    input each, at least the parallelism, at most one per bucket."""
    want = math.ceil(input_bytes * pending_buckets / n_buckets / TASK_BYTES)
    return min(n_buckets, max(parallelism, want))


def bucketed_write_plan(
    transcripts: DataFrame,
    n_buckets: int,
    n_tasks: int,
    skipped: Collection[int] = (),
    salt_factor: int = SALT_FACTOR,
    bucket_accum=None,
) -> DataFrame:
    """The batch job's plan, up to the partitioned write.

    One shuffle on the small input side (raw turns), none on the fat output
    side.  Range partitioning on the bucket id keeps every bucket inside one
    of ``n_tasks`` contiguous ranges, so partitionBy still writes one file
    per bucket; the sort gives the stable turn order within each bucket and
    declares the ordering the partitionBy writer needs, so the writer does
    not insert its own partition-column sort.  The extraction sits above
    the one Exchange, in the write job's result stage (the condition the
    ``bucket_accum`` tallies rely on, see ``run_with_manifest``)."""
    df = transcripts.withColumn("bucket", bucket_expr(n_buckets, salt_factor))
    if skipped:
        df = df.filter(~F.col("bucket").isin(*[int(b) for b in skipped]))
    extracted = extract_fused(
        df.repartitionByRange(n_tasks, "bucket"), bucket_accum=bucket_accum
    ).withColumn("bucket", bucket_expr(n_buckets, salt_factor))
    return extracted.sortWithinPartitions("bucket", "conv_id", "turn_idx")


def _write_buckets(df: DataFrame, output: str) -> None:
    """Write ``df`` partitioned by bucket, replacing only the buckets it
    holds (dynamic partition overwrite: a re-run bucket is idempotent)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(output)
    )


def run_with_manifest(
    spark: SparkSession,
    transcripts: DataFrame,
    output: str,
    n_buckets: int | None = None,
    resume: bool = False,
    salt_factor: int = SALT_FACTOR,
) -> dict:
    """Extract all not-yet-committed buckets in one Spark job; append manifest
    rows per bucket after the data commit.  Returns run stats.

    The per-bucket manifest metrics are tallied task-side inside the
    extraction kernel into an accumulator and merged on the driver — zero
    extra Spark jobs, nothing re-read.  They count each turn exactly once
    because ``mapInArrow`` runs in the write job's result stage, above the
    plan's one Exchange (tests/test_plans.py asserts it): Spark merges a
    result task's accumulator updates once per partition, however often the
    task is retried.  In a shuffle-map stage a recomputed task would add its
    tallies again.  tests/test_manifest_metrics.py checks the rows against
    DuckDB's per-bucket aggregate of the committed files."""
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
    accum = spark.sparkContext.accumulator({}, _BucketMetricsParam())
    plan = bucketed_write_plan(
        transcripts, n_buckets, n_tasks, skipped, salt_factor, bucket_accum=accum
    )
    with _emit_progress(spark, output):
        _write_buckets(plan, output)
    t_write = time.time() - t0

    committed_at = datetime.datetime.now(datetime.timezone.utc)
    rows = [
        dict(
            bucket=b,
            status="completed",
            n_turns=n,
            n_words_kept=kept,
            n_words_dropped=dropped,
            n_errors=errors,
            error=None,
            started_at=started_at,
            committed_at=committed_at,
            n_buckets=n_buckets,
        )
        for b, (n, kept, dropped, errors) in sorted(accum.value.items())
    ]
    t0 = time.time()
    _append_manifest(spark, output, rows)
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
    _write_buckets(compacted, dst)
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
