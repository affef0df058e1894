"""Incremental (Structured Streaming) drain + checkpoint resume, and the
batch manifest resume path: no duplicates, no missing turns (SURVEY §5.2
item 4)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_mini_service_spark.manifest import bucket_expr, committed_buckets, run_with_manifest
from ocr_mini_service_spark.schema import TRANSCRIPTS
from ocr_mini_service_spark.streaming import run_incremental
from ocr_mini_service_spark.synth import gen_transcripts


@pytest.fixture(scope="module")
def pdfs():
    df = gen_transcripts(300, seed=7)
    return df.iloc[:150], df.iloc[150:]


def test_streaming_availablenow_resume(spark, tmp_path, pdfs):
    first, second = pdfs
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(inp)
    pq.write_table(pa.Table.from_pandas(first, preserve_index=False), f"{inp}/a.parquet")

    run_incremental(spark, inp, out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == len(first)

    # new file arrives; same checkpoint → only the delta is processed
    pq.write_table(pa.Table.from_pandas(second, preserve_index=False), f"{inp}/b.parquet")
    run_incremental(spark, inp, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == len(first) + len(second)
    # no duplicates
    assert got.select("conv_id", "turn_idx").distinct().count() == len(first) + len(second)


def test_foreachbatch_external_sink_and_no_duplicate_posts(spark, tmp_path, pdfs):
    """S8 webhook analog: the foreachBatch sink posts {batch_id, status,
    metrics} to a pluggable callback once each batch's files and its
    ``_batches/<batch_id>`` marker are committed
    (image-recognition.service.ts:445-482).  A checkpoint resume re-posts
    no batch; tests/test_drain_commit.py replays batches and kills the
    drain inside one."""
    import json

    first, second = pdfs
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    spy = tmp_path / "posts.jsonl"
    os.makedirs(inp)

    def post(payload: dict) -> None:  # local HTTP-POST stand-in (file spy)
        with open(spy, "a") as f:
            f.write(json.dumps(payload) + "\n")

    pq.write_table(pa.Table.from_pandas(first, preserve_index=False), f"{inp}/a.parquet")
    run_incremental(spark, inp, out, ckpt, on_batch=post)
    posts = [json.loads(line) for line in open(spy)]
    assert len(posts) >= 1
    assert all(p["status"] == "completed" for p in posts)
    assert sum(p["n_turns"] for p in posts) == len(first)
    assert {"batch_id", "status", "n_turns", "n_words_kept", "n_words_dropped",
            "n_errors"} <= set(posts[0])

    # drained checkpoint, no new data -> resume must not re-post anything
    run_incremental(spark, inp, out, ckpt, on_batch=post)
    assert [json.loads(line) for line in open(spy)] == posts

    # new file -> exactly the delta is posted, rows land in the output
    pq.write_table(pa.Table.from_pandas(second, preserve_index=False), f"{inp}/b.parquet")
    run_incremental(spark, inp, out, ckpt, on_batch=post)
    posts2 = [json.loads(line) for line in open(spy)]
    assert sum(p["n_turns"] for p in posts2) == len(first) + len(second)
    got = spark.read.parquet(out)
    assert got.select("conv_id", "turn_idx").distinct().count() == len(first) + len(second)


def test_streaming_progress_listener(spark, tmp_path, pdfs):
    """S7 SSE analog: a StreamingQueryListener appends one JSON progress
    event per micro-batch (docs/api.md:127-144 event grammar)."""
    import json

    from ocr_mini_service_spark.streaming import attach_progress_listener

    first, _ = pdfs
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    progress = str(tmp_path / "events.jsonl")
    os.makedirs(inp)
    pq.write_table(pa.Table.from_pandas(first, preserve_index=False), f"{inp}/a.parquet")

    listener = attach_progress_listener(spark, progress)
    try:
        run_incremental(spark, inp, out, ckpt)
        # listener events are delivered asynchronously on the listener bus
        import time as _t

        for _ in range(40):
            if os.path.exists(progress) and any(
                json.loads(line)["type"] == "progress" for line in open(progress)
            ):
                break
            _t.sleep(0.25)
        events = [json.loads(line) for line in open(progress)]
        assert any(e["type"] == "start" for e in events)
        prog = [e for e in events if e["type"] == "progress"]
        assert prog and prog[0]["num_input_rows"] > 0
    finally:
        spark.streams.removeListener(listener)


def test_manifest_partial_then_resume(spark, tmp_path, pdfs):
    """Simulated crash: first run covers only half the buckets (input
    pre-filtered), second run with resume completes the rest; the final table
    is complete and duplicate-free."""
    first, second = pdfs
    import pandas as pd

    full_pd = pd.concat([first, second], ignore_index=True)
    full = spark.createDataFrame(full_pd, schema=TRANSCRIPTS)
    out = str(tmp_path / "mout")
    n_buckets = 8

    partial = full.withColumn("b", bucket_expr(n_buckets)).filter(F.col("b") < 4).drop("b")
    stats1 = run_with_manifest(spark, partial, out, n_buckets=n_buckets)
    assert 0 < stats1["buckets_done"] <= 4
    assert committed_buckets(spark, out) == set(range(0, 4)) & committed_buckets(spark, out)

    stats2 = run_with_manifest(spark, full, out, n_buckets=n_buckets, resume=True)
    assert stats2["buckets_skipped"] == stats1["buckets_done"]

    got = spark.read.parquet(out)
    assert got.count() == len(full_pd)
    assert got.select("conv_id", "turn_idx").distinct().count() == len(full_pd)


def test_streaming_dedup_drops_replays_within_watermark(spark, tmp_path):
    """Ingestion dedup: duplicate deliveries of the same (conv_id, turn_idx)
    — within one drain AND replayed across a checkpointed resume — reach the
    output exactly once; fresh keys still flow."""
    from ocr_mini_service_spark.streaming import run_dedup_stream

    df = gen_transcripts(120, seed=11)
    first, second = df.iloc[:60], df.iloc[60:]
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    os.makedirs(inp)
    # drain 1: the same 60 turns delivered twice (producer retry)
    # delay must exceed the synthetic ts spread: otherwise drain-2 rows whose
    # event time sits below the advanced watermark are fenced as LATE (the
    # documented watermark contract), which is not what this test pins
    delay = "3650 days"
    pq.write_table(pa.Table.from_pandas(first, preserve_index=False), f"{inp}/a.parquet")
    pq.write_table(pa.Table.from_pandas(first, preserve_index=False), f"{inp}/a_retry.parquet")
    run_dedup_stream(spark, inp, out, ckpt, delay=delay)
    got = spark.read.parquet(out)
    assert got.count() == len(first)
    # drain 2: a cross-drain replay of drain 1 plus genuinely new turns
    pq.write_table(pa.Table.from_pandas(first, preserve_index=False), f"{inp}/a_replay.parquet")
    pq.write_table(pa.Table.from_pandas(second, preserve_index=False), f"{inp}/b.parquet")
    run_dedup_stream(spark, inp, out, ckpt, delay=delay)
    got = spark.read.parquet(out)
    assert got.count() == len(first) + len(second)
    assert got.select("conv_id", "turn_idx").distinct().count() == len(df)


def test_resume_pins_bucket_modulus(spark, tmp_path, pdfs):
    """The manifest persists the bucket modulus: resuming (or overwriting
    into) the same output with a DIFFERENT n_buckets is an error (new ids
    colliding with committed old ids would silently drop turns), and an
    unspecified n_buckets ADOPTS the persisted value instead of the
    parallelism default."""
    first, _ = pdfs
    df = spark.createDataFrame(first, schema=TRANSCRIPTS)
    out = str(tmp_path / "pinned")
    stats1 = run_with_manifest(spark, df, out, n_buckets=8)
    assert stats1["n_buckets"] == 8

    with pytest.raises(ValueError, match="n_buckets=8"):
        run_with_manifest(spark, df, out, n_buckets=16, resume=True)
    with pytest.raises(ValueError, match="n_buckets=8"):
        run_with_manifest(spark, df, out, n_buckets=16)  # overwrite too

    # unspecified modulus adopts the persisted one — a full resume skips
    # every committed bucket and writes nothing new
    stats2 = run_with_manifest(spark, df, out, resume=True)
    assert stats2["n_buckets"] == 8
    assert stats2["buckets_skipped"] == stats1["buckets_done"]
    assert stats2["n_turns"] == 0
    assert spark.read.parquet(out).count() == len(first)


def test_stream_static_enrichment_routes_the_kernel(spark, tmp_path, pdfs):
    """run_enriched_stream: the broadcast dimension's lang column reaches
    the kernel per turn — convs routed to an unsupported language fail the
    OCR branch in isolation (error set, turn still completes), mapped and
    unmapped convs resolve to their dim/default language, and a resumed
    drain re-extracts nothing."""
    from ocr_mini_service_spark.kernel import DEFAULT_LANGUAGE
    from ocr_mini_service_spark.streaming import run_enriched_stream

    first, second = pdfs
    inp, out, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    os.makedirs(inp)
    pq.write_table(
        pa.Table.from_pandas(first, preserve_index=False), f"{inp}/a.parquet"
    )
    convs = sorted(set(first["conv_id"]))
    assert len(convs) >= 3
    dim = spark.createDataFrame(
        [(convs[0], "xxx"), (convs[1], "eng")], ["conv_id", "lang"]
    )

    run_enriched_stream(spark, inp, dim, out, ckpt)
    got = spark.read.parquet(out)
    n1 = got.count()
    assert n1 == len(first)
    by_conv = {
        r["conv_id"]: r
        for r in got.groupBy("conv_id").agg(
            F.first("lang").alias("lang"),
            F.count("error").alias("n_err"),
            F.count("*").alias("n"),
        ).collect()
    }
    bad = by_conv[convs[0]]
    assert bad["lang"] == "xxx" and bad["n_err"] == bad["n"]  # isolated fail
    assert by_conv[convs[1]]["lang"] == "eng"
    assert by_conv[convs[1]]["n_err"] == 0
    assert by_conv[convs[2]]["lang"] == DEFAULT_LANGUAGE  # unmapped conv
    assert by_conv[convs[2]]["n_err"] == 0

    # resume: nothing new → nothing re-extracted, no duplicates
    run_enriched_stream(spark, inp, dim, out, ckpt)
    assert spark.read.parquet(out).count() == n1
