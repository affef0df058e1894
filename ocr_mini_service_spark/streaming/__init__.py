"""Incremental extraction via Structured Streaming.

The reference is a continuously running service with per-job progress events
and three result-delivery strategies (SSE / webhook / polling —
/root/reference/src/ocr/image-recognition.service.ts:24, 310-326, 352-385,
445-482).  The Spark re-expressions (SURVEY.md §2.8):

- new transcript files arrive in a directory → ``readStream`` → one
  ``foreachBatch`` sink that writes and commits each micro-batch the way
  the manifest job commits its buckets: one Spark job whose Python tasks
  extract the raw rows and write their own Parquet files, then a commit on
  the driver whose ``_batches/<batch_id>`` marker is the batch's commit
  point.  ``Trigger.AvailableNow`` drains what exists and stops (resumable
  drain ≅ the job lifecycle; checkpointLocation ≅ the job-status map).  A
  replay of a batch whose marker exists (a crash before the checkpoint
  commit) writes nothing, and one without replaces the batch's files, so
  no batch's rows land twice.  A crash after the renames and before the
  marker leaves that batch's files readable until the replay replaces
  them.
- **webhook (S8)**: ``on_batch`` receives ``{batch_id, status, n_turns,
  n_words_kept, n_words_dropped, n_errors, timestamp}`` (the
  ``WebhookPayload`` analog, return-strategy.types.ts:19-25) after the
  marker, so no ``batch_id`` is posted twice as completed; a crash after
  the marker and before the post loses that post.
- **SSE (S7)**: ``attach_progress_listener`` registers a
  ``StreamingQueryListener`` that appends one JSON progress line per
  micro-batch to a file — the SSE ``{type: 'progress', ...}`` event stream
  analog (docs/api.md:127-144).
"""

from __future__ import annotations

import functools
import json
import time
import uuid
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..manifest import (
    _STAGED,
    _resolved_output,
    _stage_bucket_files,
    _task_uri,
    _write_file,
)
from ..pipeline import input_columns
from ..schema import TRANSCRIPTS


def run_incremental(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    on_batch: Callable[[dict], None] | None = None,
):
    """Drain all unprocessed transcript files into the extracted table.
    Returns the StreamingQuery (already awaited when available_now).

    Each micro-batch is one Spark job: its tasks extract the batch's raw
    rows and write one Parquet file each under
    ``<output>/_staging/<batch_id>-<uuid>/`` (the manifest job's task
    writer, ``manifest._stage_bucket_files``, with a constant key), and
    return only their files' paths and counts.  The driver then commits
    the batch through the output's Hadoop FileSystem:

    1. it renames the staged files to ``<output>/batch-<batch_id>-<i>.parquet``
       (a replay first deletes the batch's earlier files, whatever their
       number);
    2. it writes the ``<output>/_batches/<batch_id>`` marker, which holds
       the payload: the batch's commit point;
    3. with ``on_batch``, it posts the payload, summed from the tasks'
       counts.

    A batch whose marker exists is a replay of a committed batch (a crash
    came before the checkpoint commit) and does nothing.  A failure before
    the marker fails the query, after posting ``status="failed"`` when
    there is an ``on_batch``; an ``on_batch`` that raises on the completed
    payload fails the query without a second post.  A crash after the
    marker and before the post loses that post and never doubles it.  A
    crash during or after the renames and before the marker leaves that
    batch's files readable until the replay replaces them.  An output
    holding ``_spark_metadata/`` (Spark's file sink wrote it) is refused
    before the query starts: Spark's reader would list only the files in
    that log."""
    return _drain(spark, _arrivals(spark, input_dir), output_dir, checkpoint_dir,
                  available_now, on_batch)


def _arrivals(spark: SparkSession, input_dir: str):
    return (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )


def _drain(spark, stream, output_dir, checkpoint_dir, available_now, on_batch):
    """Run ``stream`` into ``output_dir`` through the committing
    ``foreachBatch`` sink that ``run_incremental`` describes."""
    fs, out = _resolved_output(spark, output_dir)
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    if fs.exists(Path(out, "_spark_metadata")):
        raise ValueError(f"{out} holds _spark_metadata/ (Spark's file sink wrote it): "
                         f"Spark's reader would not list the drain's batch files")
    staging_root = Path(out, "_staging")
    fs.delete(staging_root, True)  # a killed drain's attempts
    staging_uri = _task_uri(staging_root)
    batches = Path(out, "_batches")
    post = on_batch or (lambda payload: None)

    def _sink(bdf, batch_id: int) -> None:
        marker = Path(batches, str(batch_id))
        if fs.exists(marker):
            return  # committed (and posted) before the checkpoint commit
        try:
            name = f"{batch_id}-{uuid.uuid4().hex}"
            staged = bdf.select(
                *input_columns(bdf), F.lit(0).alias("bucket")
            ).mapInArrow(
                functools.partial(_stage_bucket_files, staging=f"{staging_uri}/{name}"),
                _STAGED,
            ).collect()
            payload = _commit_batch(fs, out, Path(staging_root, name), marker,
                                    int(batch_id), staged)
        except Exception as e:  # failure path ≅ webhook status='failed'
            post({"batch_id": int(batch_id), "status": "failed",
                  "error": str(e), "timestamp": time.time()})
            raise
        post(payload)

    writer = (
        stream.writeStream.option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .foreachBatch(_sink)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="10 seconds").start()


def _commit_batch(fs, out, staging, marker, batch_id: int, staged: list) -> dict:
    """Commit one micro-batch's staged files into ``out`` and write its
    marker; returns the batch's webhook payload.  The files get names keyed
    by the batch, and a replay (no marker yet) first deletes the files an
    earlier attempt of the batch committed, so its rows land once whatever
    the earlier attempt's file count."""
    from pyspark import SparkContext

    Path = SparkContext._jvm.org.apache.hadoop.fs.Path
    # not Spark's ``part-<partition>-<job>`` names: a replay's delete must
    # not match files an earlier sink wrote into the same output
    prefix = f"batch-{batch_id:05d}-"
    for st in fs.globStatus(Path(out, f"{prefix}*.parquet")) or []:
        fs.delete(st.getPath(), False)
    for i, r in enumerate(staged):
        src, dst = Path(staging, r["path"]), Path(out, f"{prefix}{i:05d}.parquet")
        if not fs.rename(src, dst):
            raise OSError(f"batch file rename {src} -> {dst} failed")
    # the batch's emptied task directories and failed attempts' files (a
    # query runs its batches one at a time, so nothing else is staged);
    # before the marker, so that nothing after it can fail the batch
    fs.delete(staging.getParent(), True)
    payload = {
        "batch_id": batch_id,
        "status": "completed",
        "n_turns": sum(r["n_turns"] for r in staged),
        "n_words_kept": sum(r["n_words_kept"] for r in staged),
        "n_words_dropped": sum(r["n_words_dropped"] for r in staged),
        "n_errors": sum(r["n_errors"] for r in staged),
        "timestamp": time.time(),  # WebhookPayload.timestamp
    }
    _write_file(fs, marker, json.dumps(payload).encode())  # the batch's commit point
    return payload


def run_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    delay: str = "10 minutes",
):
    """Streaming ingestion dedup: replayed turn deliveries (the retrying-
    producer analog of the reference's at-least-once webhook POSTs — the
    same turn file can arrive twice) are dropped on the (conv_id, turn_idx)
    key via ``dropDuplicatesWithinWatermark``, so downstream extraction sees
    each turn once WITHOUT unbounded state: the dedup state for a key
    expires once the event-time watermark passes ``delay`` beyond it — at
    10^12-turn scale the state store holds only the watermark horizon, never
    the corpus (a plain dropDuplicates would pin every key forever).
    AvailableNow drain + checkpoint: resume keeps the watermark and the
    in-horizon keys, so a replay straddling two drains is still dropped."""
    stream = (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    deduped = stream.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )
    q = (
        deduped.writeStream.option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


SESSION_OUT = (
    "conv_id string, session_start timestamp, session_end timestamp, "
    "n_turns long, n_chars long"
)
SESSION_STATE = "start_us long, last_us long, n_turns long, n_chars long"


def run_session_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gap_minutes: int = 30,
    watermark: str = "1 minute",
    trigger_files: int = 1,
):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    gap-based conversation sessionization.  Per conv_id the state holds ONE
    open session (start, last-activity, counts); a turn arriving more than
    ``gap_minutes`` after the last closes the session (emitted) and opens a
    new one; an open session with no further turns is flushed by an
    EVENT-TIME TIMEOUT when the watermark passes last + gap — so emission
    is driven by stream progress, never wall-clock, and a drain is
    reproducible.

    This is the semantics ``session_gap_events`` computes in batch (lag +
    cumulative gap-flag window); the streaming twin needs custom state
    because the lag window is unbounded over an infinite stream.  Scale
    shape: state is O(1) per ACTIVE conversation (four longs — the
    watermark horizon bounds how long a conversation stays active), turns
    reach the operator partitioned by conv_id, and late turns beyond the
    watermark are fenced by Spark before the kernel sees them.  Checkpoint
    resume carries open sessions across drains (pinned by test)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def sessionize(key, pdfs, state):
        import pandas as pd  # executor-side

        conv_id = key[0]
        cols = ["conv_id", "session_start", "session_end", "n_turns", "n_chars"]

        def closed_row(start_us, last_us, n, c):
            return {
                "conv_id": conv_id,
                "session_start": pd.Timestamp(start_us, unit="us"),
                "session_end": pd.Timestamp(last_us, unit="us"),
                "n_turns": n,
                "n_chars": c,
            }

        if state.hasTimedOut:
            start, last, n, c = state.get
            state.remove()
            yield pd.DataFrame([closed_row(start, last, n, c)], columns=cols)
            return
        start = last = None
        n = c = 0
        if state.exists:
            start, last, n, c = state.get
        closed = []
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts", "n_chars"], kind="mergesort"
        )
        for r in batch.itertuples(index=False):
            ts_us = int(pd.Timestamp(r.ts).value // 1_000)
            if last is not None and ts_us - last > gap_us:
                closed.append(closed_row(start, last, n, c))
                start, last, n, c = None, None, 0, 0
            if start is None:
                start = ts_us
            # clamp, don't assign: a late-but-within-watermark turn from a
            # later micro-batch may be out of order ACROSS batches (the
            # per-batch sort only fixes within-batch order); letting it
            # regress last-activity would mis-time subsequent gap splits
            # and emit a session_end earlier than a member turn.  Lateness
            # is bounded by the watermark delay, so the clamp absorbs it
            # into the open session — the same session the sorted batch
            # twin assigns it to when delay <= gap.
            start = min(start, ts_us)
            last = max(last, ts_us) if last is not None else ts_us
            n += 1
            c += int(r.n_chars)
        state.update((int(start), int(last), int(n), int(c)))
        # event-time timeout at last + gap (ms): fires once the watermark
        # passes it — the no-more-turns flush
        state.setTimeoutTimestamp(last // 1_000 + gap_us // 1_000)
        yield pd.DataFrame(closed, columns=cols)

    stream = (
        spark.readStream.schema(TRANSCRIPTS)
        # trigger_files=1 gives the finest micro-batch granularity (tests
        # pin cross-batch state semantics with it); a drain over many
        # files should batch more coarsely — per-BATCH cost is dominated
        # by the per-active-key pandas kernel invocation, so batches ∝
        # files multiplies that by the file count
        .option("maxFilesPerTrigger", trigger_files)
        .parquet(input_dir)
    )
    turns = stream.select(
        "conv_id", "ts", F.length("text").cast("long").alias("n_chars")
    ).withWatermark("ts", watermark)
    sessions = turns.groupBy("conv_id").applyInPandasWithState(
        sessionize,
        SESSION_OUT,
        SESSION_STATE,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    q = (
        sessions.writeStream.option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def attach_progress_listener(spark: SparkSession, progress_path: str):
    """Register a StreamingQueryListener appending one JSON line per
    micro-batch progress event (the SSE progress-stream analog).  Returns the
    listener; pass it to ``spark.streams.removeListener`` when done."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            self._emit({"type": "start", "query_id": str(event.id)})

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self._emit(
                {
                    "type": "progress",
                    "query_id": str(p.id),
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "message": f"batch {p.batchId}: {p.numInputRows} rows",
                }
            )

        def onQueryTerminated(self, event) -> None:
            self._emit({"type": "complete", "query_id": str(event.id)})

        def onQueryIdle(self, event) -> None:
            pass

        def _emit(self, payload: dict) -> None:
            payload["ts"] = time.time()
            with open(progress_path, "a") as f:
                f.write(json.dumps(payload) + "\n")

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener


def run_enriched_stream(
    spark: SparkSession,
    input_dir: str,
    lang_dim,
    output_dir: str,
    checkpoint_dir: str,
):
    """Stream-static enrichment: the arriving transcript stream joined
    against a fixed-size dimension table (conv_id -> lang, the reference's
    per-request ``language`` option lifted to a routing table,
    ocr.service.ts:149-153) BEFORE the extraction kernel, so the joined
    column drives the kernel's per-turn language seam (``input_columns``
    passes it to the write tasks).  This is the standard stream-static
    broadcast pattern: the static side is planned into every micro-batch
    as a broadcast hash join — no state store, no watermark, nothing
    accumulates across batches; at production scale the dimension
    re-broadcasts per batch and the stream side never shuffles.

    AvailableNow drain through ``run_incremental``'s sink and commit, with
    no ``on_batch``; returns the finished StreamingQuery.  The checkpoint
    carries file progress, so a resumed drain never re-extracts (and never
    re-joins) a completed batch."""
    enriched = _arrivals(spark, input_dir).join(
        F.broadcast(lang_dim.select("conv_id", "lang")), "conv_id", "left"
    )
    return _drain(spark, enriched, output_dir, checkpoint_dir,
                  available_now=True, on_batch=None)
