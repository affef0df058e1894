"""Incremental extraction via Structured Streaming.

The reference is a continuously running service with per-job progress events
and three result-delivery strategies (SSE / webhook / polling —
/root/reference/src/ocr/image-recognition.service.ts:24, 310-326, 352-385,
445-482).  The Spark re-expressions (SURVEY.md §2.8):

- new transcript files arrive in a directory → ``readStream`` → the same
  fused extraction → sink; ``Trigger.AvailableNow`` drains what exists and
  stops (resumable drain ≅ the job lifecycle; checkpointLocation ≅ the
  job-status map).
- **webhook (S8)**: ``on_batch`` plugs an external per-batch callback into a
  ``foreachBatch`` sink — after each micro-batch's data write, the callback
  receives ``{batch_id, status, n_turns, n_words_kept, n_words_dropped,
  n_errors}`` (the ``WebhookPayload`` analog,
  return-strategy.types.ts:19-25).  Delivery is at-least-once per batch —
  the same contract as an HTTP POST retry loop.  The checkpoint skips a
  batch on resume only once its commit is written: a process that dies
  between a batch's data write and that commit re-runs the batch on
  resume, appending its rows again and posting its ``batch_id`` a second
  time.
- **SSE (S7)**: ``attach_progress_listener`` registers a
  ``StreamingQueryListener`` that appends one JSON progress line per
  micro-batch to a file — the SSE ``{type: 'progress', ...}`` event stream
  analog (docs/api.md:127-144).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..pipeline import extract_fused
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

    Without ``on_batch``, the exactly-once parquet file sink is used.  With
    it, a ``foreachBatch`` sink writes each micro-batch then invokes the
    callback with the batch's status + metrics (S8 webhook analog; the write
    itself is append-mode, so the end-to-end guarantee is the documented
    at-least-once of foreachBatch)."""
    stream = (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )

    extracted = extract_fused(stream)
    if on_batch is None:
        writer = (
            extracted.writeStream.option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .format("parquet")
            .option("path", output_dir)
        )
    else:

        def _sink(bdf, batch_id: int) -> None:
            # one pass for the write, one driver-sized agg for the payload
            # metrics (mirrors the batch manifest row / webhook body)
            bdf.persist()
            try:
                bdf.write.mode("append").parquet(output_dir)
                m = bdf.agg(
                    F.count(F.lit(1)).alias("n_turns"),
                    F.sum("n_blocks_kept").alias("n_words_kept"),
                    F.sum("n_blocks_dropped").alias("n_words_dropped"),
                    F.count("error").alias("n_errors"),
                ).collect()[0]
                on_batch(
                    {
                        "batch_id": int(batch_id),
                        "status": "completed",
                        "n_turns": int(m["n_turns"]),
                        "n_words_kept": int(m["n_words_kept"] or 0),
                        "n_words_dropped": int(m["n_words_dropped"] or 0),
                        "n_errors": int(m["n_errors"]),
                        "timestamp": time.time(),  # WebhookPayload.timestamp
                    }
                )
            except Exception as e:  # failure path ≅ webhook status='failed'
                on_batch(
                    {
                        "batch_id": int(batch_id),
                        "status": "failed",
                        "error": str(e),
                        "timestamp": time.time(),
                    }
                )
                raise
            finally:
                bdf.unpersist()

        writer = (
            extracted.writeStream.option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .foreachBatch(_sink)
        )

    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="10 seconds").start()


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
    column drives the kernel's per-turn language seam.  This is the
    standard stream-static broadcast pattern: the static side is planned
    into every micro-batch as a broadcast hash join — no state store, no
    watermark, nothing accumulates across batches; at production scale the
    dimension re-broadcasts per batch and the stream side never shuffles.

    AvailableNow drain; returns the finished StreamingQuery.  The
    checkpoint carries file progress, so a resumed drain never re-extracts
    (and never re-joins) a completed batch."""
    stream = (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    enriched = stream.join(
        F.broadcast(lang_dim.select("conv_id", "lang")), "conv_id", "left"
    )
    extracted = extract_fused(enriched)
    writer = (
        extracted.writeStream.option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .format("parquet")
        .option("path", output_dir)
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return q
