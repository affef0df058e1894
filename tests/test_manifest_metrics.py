"""The manifest rows the job derives from its task-side accumulator equal the
committed files' contents bucket for bucket, checked by DuckDB without Spark
(SURVEY.md §2.1 S7/S9)."""

import duckdb

from ocr_mini_service_spark.manifest import load_transcripts, run_with_manifest
from ocr_mini_service_spark.synth import write_transcripts_parquet


def _manifest_rows(out):
    return duckdb.sql(
        f"SELECT bucket, n_turns, n_words_kept, n_words_dropped, n_errors "
        f"FROM '{out}/_manifest/*.parquet' ORDER BY bucket"
    ).fetchall()


def test_observed_metrics_match_committed(spark, tmp_path):
    inp = str(tmp_path / "t.parquet")
    write_transcripts_parquet(inp, 800)
    out = str(tmp_path / "extracted")
    stats = run_with_manifest(
        spark, load_transcripts(spark, inp), out, n_buckets=8
    )

    committed = duckdb.sql(
        f"SELECT bucket, COUNT(*), SUM(n_blocks_kept), SUM(n_blocks_dropped), "
        f"COUNT(error) FROM read_parquet('{out}/bucket=*/*.parquet', "
        f"hive_partitioning=1) GROUP BY bucket ORDER BY bucket"
    ).fetchall()
    assert [r[0] for r in committed] == list(range(8))
    n_in = duckdb.sql(f"SELECT COUNT(*) FROM '{inp}'").fetchone()[0]
    assert sum(r[1] for r in committed) == stats["n_turns"] == n_in
    assert sum(r[4] for r in committed) > 0  # the synth mix has error turns
    assert _manifest_rows(out) == committed

    # mid-job progress events (SSE analog) rode the write action: at least
    # one sampled progress row plus the terminal complete row, and the
    # underscore-prefixed file did not confuse the parquet manifest readers
    # (the read above succeeded)
    import json

    with open(f"{out}/_manifest/_progress.jsonl") as f:
        events = [json.loads(line) for line in f]
    assert events[-1]["type"] == "complete"
    assert any(e["type"] == "progress" for e in events)


def test_progress_reports_failed_on_error(spark, tmp_path):
    """A raised write must close the progress stream with {type: 'failed'},
    never 'complete' (the reference's complete/error event split,
    image-recognition.service.ts:360-413; ADVICE r2)."""
    import json

    import pytest

    from ocr_mini_service_spark.manifest import _emit_progress

    out = str(tmp_path / "failing")
    with pytest.raises(ValueError, match="boom"):
        with _emit_progress(spark, out):
            raise ValueError("boom")
    with open(f"{out}/_manifest/_progress.jsonl") as f:
        events = [json.loads(line) for line in f]
    assert events[-1]["type"] == "failed"
    assert "boom" in events[-1]["error"]
    assert not any(e["type"] == "complete" for e in events)


def test_compact_output_one_file_per_bucket_resume_noop(spark, tmp_path):
    """compact_output rewrites a fragmented committed output to one file per
    bucket, bit-for-bit (DuckDB as the independent reader), carries the
    manifest so --resume against the compacted location skips every bucket,
    and refuses nothing it shouldn't (row-count guard is exercised by the
    equality assert)."""
    from ocr_mini_service_spark.manifest import persisted_n_buckets
    from run_compact import run as compact_run

    inp = str(tmp_path / "t.parquet")
    write_transcripts_parquet(inp, 400)
    out = str(tmp_path / "extracted")
    stats = run_with_manifest(spark, load_transcripts(spark, inp), out, n_buckets=8)

    # fragment the committed output the way resumed batches / streaming
    # triggers do: many part files per bucket dir, manifest carried over
    frag = str(tmp_path / "fragmented")
    spark.read.parquet(out).repartition(32).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(frag)
    spark.read.parquet(f"{out}/_manifest").write.mode("overwrite").parquet(
        f"{frag}/_manifest"
    )

    dst = str(tmp_path / "compacted")
    res = compact_run(spark, frag, dst)
    assert res["rows"] == stats["n_turns"]
    assert res["buckets"] == 8
    assert res["files_before"] > 8  # fragmented state really was fragmented
    assert res["files_after"] == 8  # ONE file per bucket dir

    # bit-for-bit row equality, independent reader
    rows = {
        p: duckdb.sql(
            f"SELECT * FROM read_parquet('{p}/bucket=*/*.parquet', "
            f"hive_partitioning=1) ORDER BY ALL"
        ).fetchall()
        for p in (frag, dst)
    }
    assert rows[frag] == rows[dst]

    # the manifest (and its pinned modulus) travelled: resume is a no-op
    assert persisted_n_buckets(spark, dst) == 8
    again = run_with_manifest(
        spark, load_transcripts(spark, inp), dst, resume=True
    )
    assert again["buckets_skipped"] == 8
    assert again["n_turns"] == 0
