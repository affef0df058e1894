#!/usr/bin/env python
"""Batch extraction job — the spark-submit entrypoint.

    spark-submit --py-files engine.zip run_extract.py \
        --input /path/transcripts_parquet --output /path/extracted

Local dev:
    python run_extract.py --input IN --output OUT [--synth N]

Reads the transcripts table (conv_id, turn_idx, role, text, tool, ts), runs
the fused extraction pipeline, writes the ``extracted`` table partitioned by
a conv_id hash bucket, sorted by (conv_id, turn_idx) within partitions
(stable turn ordering per the north rule).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="transcripts parquet path")
    p.add_argument("--output", required=True, help="extracted output path")
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    p.add_argument("--buckets", type=int, default=None,
                   help="conv_id hash buckets: the output partitions, one file "
                        "each, and the resume unit (default: 8x parallelism); "
                        "the write's task count is sized from the input bytes")
    p.add_argument("--synth", type=int, default=None,
                   help="generate a deterministic synthetic input of N turns at --input first")
    p.add_argument("--resume", action="store_true",
                   help="skip buckets already committed in the output manifest")
    p.add_argument("--hierarchy", action="store_true",
                   help="also write the lines/paragraphs/blocks rollup table "
                        "to <output>_hierarchy (docs/api.md:147-159 model)")
    args = p.parse_args(argv)

    from ocr_mini_service_spark.session import get_spark

    if args.synth:
        from ocr_mini_service_spark.synth import write_transcripts_parquet

        write_transcripts_parquet(args.input, args.synth)

    spark = get_spark(app_name="extract-transcripts", master=args.master)
    t0 = time.time()

    from ocr_mini_service_spark.manifest import load_transcripts, run_with_manifest

    transcripts = load_transcripts(spark, args.input)

    stats = run_with_manifest(
        spark, transcripts, args.output, n_buckets=args.buckets, resume=args.resume
    )

    if args.hierarchy:
        from ocr_mini_service_spark.hierarchy import write_hierarchy

        write_hierarchy(transcripts, f"{args.output}_hierarchy")

    wall = time.time() - t0
    n = stats["n_turns"]
    print(json.dumps({
        "job": "extract",
        "n_turns": n,
        "buckets_done": stats["buckets_done"],
        "buckets_skipped": stats["buckets_skipped"],
        "n_tasks": stats["n_tasks"],
        "wall_sec": round(wall, 2),
        "turns_per_sec": round(n / wall, 1) if wall > 0 else None,
        "output": args.output,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
