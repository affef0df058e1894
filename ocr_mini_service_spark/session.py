"""SparkSession factory with the scale-oriented configuration the engine
assumes everywhere (SURVEY.md §4.2):

- AQE on (skew-join splitting, empty/small-relation propagation — subsumes the
  reference's empty-build-side early exit, image-recognition.service.ts:256-258)
- Arrow on for every pandas UDF boundary, with a bounded batch size so
  pathological 10 MB turns can't blow Python-worker memory
- shuffle partitions sized to the local core count (on a real cluster this is
  set per-job via spark-submit --conf)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def infer_shuffle_partitions(master: str, cpus: int) -> int:
    """Total task slots implied by a master URL: local[N] and
    local[N,maxFailures] → N; local[*] → cpu count;
    local-cluster[workers,cores,mem] → workers*cores; anything else (a real
    cluster URL) → cpus (overridden per-job via spark-submit)."""
    inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
    if master.startswith("local-cluster"):
        workers, cores_per, _ = inner.split(",")
        return int(workers) * int(cores_per)
    inner = inner.split(",")[0]
    if inner in ("*", "") or not inner.isdigit():
        return cpus
    return int(inner)


def get_spark(
    app_name: str = "ocr-mini-service-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 2048,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    # Under spark-submit the gateway JVM already carries --master / --conf
    # (PythonRunner exports PYSPARK_GATEWAY_PORT); forcing a master here
    # would fight the submit-time cluster URL, so inherit it instead.
    under_submit = master is None and "PYSPARK_GATEWAY_PORT" in os.environ
    if not under_submit:
        master = master or f"local[{cpus}]"
    infer_width_from_cluster = under_submit and shuffle_partitions is None
    if shuffle_partitions is None:
        shuffle_partitions = infer_shuffle_partitions(master or "", cpus)

    b = SparkSession.builder.appName(app_name)
    if not under_submit:
        b = b.master(master)
    b = (
        b
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        # transcripts rows are fat (KB-scale text payloads): split scans much
        # finer than the 128 MB default or a single file serializes the
        # whole pipeline behind 1-2 scan tasks
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if infer_width_from_cluster:
        # size the shuffle width to the actual submitted cluster once the
        # master URL is known (runtime conf, safe post-start)
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(infer_shuffle_partitions(spark.sparkContext.master, cpus)),
        )
    return spark


def env_report(spark: SparkSession) -> dict:
    """Environment/debug introspection — the ``GET /ocr/debug`` analog
    (/root/reference/src/ocr/ocr.service.ts:23-92 reports temp dir, engine
    version, installed languages; here: engine versions, parallelism, the
    scale-critical confs, and the supported language set).  The Python
    version and whether zip imports invalidate lazily are here because every
    Python task's fixed cost depends on them."""
    import platform

    import pandas
    import pyarrow

    from . import lazy_zip_invalidation
    from .kernel import SUPPORTED_LANGUAGES

    sc = spark.sparkContext
    conf_keys = [
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.session.timeZone",
    ]
    return {
        "spark_version": spark.version,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "python_worker": "arrow",  # no row-at-a-time UDFs anywhere (SURVEY §2.9)
        "python_version": platform.python_version(),
        "lazy_zip_invalidation": lazy_zip_invalidation(),
        "pyarrow_version": pyarrow.__version__,
        "pandas_version": pandas.__version__,
        "conf": {k: spark.conf.get(k, None) for k in conf_keys},
        "languages": sorted(SUPPORTED_LANGUAGES),
    }
