"""env_report ≅ the reference's GET /ocr/debug environment introspection
(ocr.service.ts:23-92): engine versions, parallelism, the scale confs the
engine assumes, and the installed-language set."""

import platform

from ocr_mini_service_spark.kernel import DEFAULT_LANGUAGE
from ocr_mini_service_spark.session import env_report, infer_shuffle_partitions


def test_infer_shuffle_partitions():
    assert infer_shuffle_partitions("local[8]", 32) == 8
    assert infer_shuffle_partitions("local[*]", 32) == 32
    assert infer_shuffle_partitions("local", 32) == 32
    assert infer_shuffle_partitions("local[4,2]", 32) == 4  # maxFailures=2
    # the scaling-bench executor emulation: workers x cores-per-worker
    assert infer_shuffle_partitions("local-cluster[4,2,6144]", 32) == 8
    assert infer_shuffle_partitions("local-cluster[1,2,6144]", 32) == 2
    assert infer_shuffle_partitions("spark://host:7077", 16) == 16


def test_env_report(spark):
    r = env_report(spark)
    assert r["spark_version"].startswith("4.")
    assert r["default_parallelism"] >= 1
    assert r["conf"]["spark.sql.adaptive.enabled"] == "true"
    assert r["conf"]["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    assert DEFAULT_LANGUAGE in r["languages"]
    assert r["python_version"] == platform.python_version()
    assert r["lazy_zip_invalidation"] is True
    assert r["worker_pyspark"] == "installed"
    assert r["conf"]["spark.python.daemon.module"] == "ocr_mini_service_spark.daemon"
