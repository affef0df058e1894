#!/usr/bin/env python
"""Batch corpus-curation job — the spark-submit entrypoint composing the
curation operators into a MATERIALIZED curated corpus (the artifact a
training run consumes), not just funnel counts:

    spark-submit --py-files engine.zip run_curate.py \
        --sf-dir /path/corpus_dir --output /path/curated

Stages, all computed as per-doc flags in one DAG and applied at the end:

1. quality gate — Gopher rules (``gopher_flags``: word count, mean word
   length, distinct ratio, stopword floor);
2. normalized exact dedup — canonical keep per normalized-content key
   (``_norm_expr`` + the ``line_dedup`` keeper shape: ONE aggregation on
   the key, join mark-back, never a window over a hot content key);
3. train-split selection — deterministic content-hash split
   (``_split_expr``);
4. benchmark decontamination — the PRODUCTION Bloom shape
   (``_bloom_flags``): held-out grams folded into a fixed-size bitmap,
   probed map-side; conservative (false positives drop a few clean docs,
   never the reverse);
5. per-source mixture downsampling (``_mixture``).

Writes the curated docs table as plain parquet (UNORDERED —
readers sort; a presentation repartition(1) would funnel the corpus
through one task) and prints ONE JSON stats line with cumulative
survivor counts per stage.

Local dev:
    python run_curate.py --sf-dir /root/testdata/sf0.01 --output /tmp/curated
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def run(spark, sf_dir: str, output: str) -> dict:
    """The job body, on a caller-owned SparkSession (main() wraps it with
    session lifecycle; tests call it directly on the fixture session)."""
    from pyspark.sql import functions as F

    from ocr_mini_service_spark.operators.corpus import (
        _bloom_flags,
        _mixture,
        _norm_expr,
        _split_expr,
        gopher_flags,
    )
    from ocr_mini_service_spark.sources import load

    t0 = time.time()

    docs = load(spark, sf_dir, "documents")

    # per-doc flags, each a doc_id-keyed frame joined onto the base
    quality = gopher_flags(docs).select("doc_id", "pass_gopher")
    nk = docs.select("doc_id", F.md5(_norm_expr()).alias("nk"))
    keepers = nk.groupBy("nk").agg(F.min("doc_id").alias("keeper"))
    canon = nk.join(keepers, "nk").select(
        "doc_id", (F.col("doc_id") == F.col("keeper")).cast("int").alias("canonical")
    )
    split = docs.select(
        "doc_id", (_split_expr() == "train").cast("int").alias("is_train")
    )
    # _bloom_flags covers train docs only; non-train docs default clean=1
    # (they are dropped by the split gate anyway)
    bloom = _bloom_flags(spark, sf_dir).select(
        "doc_id", (F.col("bloom_contaminated") == 0).cast("int").alias("clean")
    )
    mix = _mixture(docs).select("doc_id", "kept")

    flagged = (
        docs.join(quality, "doc_id")
        .join(canon, "doc_id")
        .join(split, "doc_id")
        .join(bloom, "doc_id", "left")
        .join(mix, "doc_id")
        .select(
            "doc_id",
            "text",
            "lang",
            "source",
            "pass_gopher",
            "canonical",
            "is_train",
            F.coalesce("clean", F.lit(1)).alias("clean"),
            "kept",
        )
    )

    # cumulative survivor counts in ONE aggregation pass (the
    # curation_funnel stage semantics), then the final filter + write
    agg = flagged.agg(
        F.count("*").alias("s_raw"),
        F.sum("pass_gopher").alias("s_quality"),
        F.sum(F.col("pass_gopher") * F.col("canonical")).alias("s_dedup"),
        F.sum(
            F.col("pass_gopher") * F.col("canonical") * F.col("is_train")
        ).alias("s_train"),
        F.sum(
            F.col("pass_gopher")
            * F.col("canonical")
            * F.col("is_train")
            * F.col("clean")
        ).alias("s_clean"),
        F.sum(
            F.col("pass_gopher")
            * F.col("canonical")
            * F.col("is_train")
            * F.col("clean")
            * F.col("kept")
        ).alias("s_final"),
    ).collect()[0]

    curated = flagged.filter(
        (F.col("pass_gopher") == 1)
        & (F.col("canonical") == 1)
        & (F.col("is_train") == 1)
        & (F.col("clean") == 1)
        & (F.col("kept") == 1)
    ).select("doc_id", "text", "lang", "source")
    curated_path = f"{output}/curated"
    curated.write.mode("overwrite").parquet(curated_path)

    return {
        "job": "curate",
        "stages": {
            "raw": int(agg["s_raw"]),
            "quality": int(agg["s_quality"]),
            "dedup": int(agg["s_dedup"]),
            "train": int(agg["s_train"]),
            "decontaminated": int(agg["s_clean"]),
            "mixed": int(agg["s_final"]),
        },
        "n_curated": int(agg["s_final"]),
        "wall_sec": round(time.time() - t0, 2),
        "output": curated_path,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--sf-dir", required=True,
                   help="corpus dir containing documents.parquet")
    p.add_argument("--output", required=True, help="curated output dir")
    p.add_argument("--master", default=None,
                   help="spark master (default local[$SPARK_GRAFT_CPUS])")
    args = p.parse_args(argv)

    from ocr_mini_service_spark.session import get_spark

    spark = get_spark(app_name="curate-corpus", master=args.master)
    try:
        print(json.dumps(run(spark, args.sf_dir, args.output)))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
