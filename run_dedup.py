#!/usr/bin/env python
"""Batch near-dup curation job — the spark-submit entrypoint for the dedup
pipeline's PRODUCTION shape:

    spark-submit --py-files engine.zip run_dedup.py \
        --sf-dir /path/corpus_dir --output /path/dedup

Stage 1 resolves duplicate clusters over the LSH candidate-pair graph
(``dedup_clusters``) and MATERIALIZES the labels table once as parquet.
Stage 2+ never re-derive the clustering: survivors (the kept corpus +
per-survivor removal audit) filter the READ-BACK labels table
(``dedup_survivors(clusters=...)``), and the same persisted frame is what
any further consumer (membership filters, join-backs) would read.  Contrast
with the standalone driver queries, which derive everything inline because
the correctness harness evaluates each query in isolation.

Local dev:
    python run_dedup.py --sf-dir /root/testdata/sf0.01 --output /tmp/dedup
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--sf-dir", required=True,
                   help="corpus dir containing documents.parquet")
    p.add_argument("--output", required=True,
                   help="output dir (labels + survivors tables)")
    p.add_argument("--master", default=None,
                   help="spark master (default local[$SPARK_GRAFT_CPUS])")
    p.add_argument("--algo", choices=("minlabel", "star"), default="minlabel",
                   help="connected-components algorithm (star = large-star/"
                        "small-star, O(log n) rounds on chain-shaped graphs)")
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from ocr_mini_service_spark.operators.dedup import _clusters_frame
    from ocr_mini_service_spark.session import get_spark

    spark = get_spark(app_name="dedup-corpus", master=args.master)
    t0 = time.time()

    labels_path = f"{args.output}/cluster_labels"
    survivors_path = f"{args.output}/survivors"

    # stage 1: cluster once, persist the labels table (the artifact).
    # UNORDERED frames throughout: the driver queries' ordered() wrapper is
    # a repartition(1) presentation sort — funneling a corpus-wide labels
    # table through one task is exactly the single-partition bottleneck the
    # clustering docstring warns composed consumers about.  Readers sort.
    labels = _clusters_frame(spark, args.sf_dir, algo=args.algo)
    labels.write.mode("overwrite").parquet(labels_path)
    t_cluster = time.time() - t0

    # stage 2: survivors filter the PERSISTED labels — no re-clustering,
    # no shuffle (a doc_id == cluster_id filter over the read-back table)
    t1 = time.time()
    persisted = spark.read.parquet(labels_path)
    survivors = persisted.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id",
        (F.col("cluster_size") - 1).cast("long").alias("n_dupes_removed"),
    )
    survivors.write.mode("overwrite").parquet(survivors_path)
    t_survive = time.time() - t1

    n_docs = persisted.count()
    n_kept = spark.read.parquet(survivors_path).count()
    print(json.dumps({
        "job": "dedup",
        "algo": args.algo,
        "n_docs": n_docs,
        "n_survivors": n_kept,
        "n_removed": n_docs - n_kept,
        "cluster_sec": round(t_cluster, 2),
        "survivors_sec": round(t_survive, 2),
        "labels": labels_path,
        "survivors": survivors_path,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
