"""Table IO — the storage seam (SURVEY.md §7.1(7)).

All scans and table writes in the engine go through a ``TableIO``
implementation so a catalog-backed format slots in without touching call
sites.  ``ParquetIO`` is the tested default (plain paths); ``IcebergIO``
carries the Iceberg call shapes (`spark.read.format('iceberg')`, `writeTo`
with dynamic partition overwrite) but cannot run here — the
iceberg-spark-runtime jar is not bundled with local pyspark (verified), so
it is exercised only as an interface, honestly documented.

The driver testdata star schema (SURVEY.md §2.1 S1) loads through the same
seam via ``load``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


class TableIO:
    """Read/write seam.  ``location`` is impl-defined: a filesystem path for
    ParquetIO, a catalog table identifier for IcebergIO."""

    def read(
        self, spark: SparkSession, location: str, schema: StructType | None = None
    ) -> DataFrame:
        raise NotImplementedError

    def write(
        self,
        df: DataFrame,
        location: str,
        partition_by: tuple[str, ...] = (),
        mode: str = "overwrite",
        dynamic: bool = False,
    ) -> None:
        raise NotImplementedError

    def append(self, df: DataFrame, location: str) -> None:
        raise NotImplementedError

    def exists(self, spark: SparkSession, location: str) -> bool:
        """Whether ``location`` holds a readable table, checked without
        running a Spark read."""
        raise NotImplementedError


class ParquetIO(TableIO):
    """Plain-parquet emulation of an Iceberg table: hive partition dirs +
    dynamic partition overwrite give the same idempotent-recommit semantics
    the manifest layer needs."""

    def read(
        self, spark: SparkSession, location: str, schema: StructType | None = None
    ) -> DataFrame:
        r = spark.read
        if schema is not None:
            r = r.schema(schema)  # no inference on the hot path
        return r.parquet(location)

    def write(
        self,
        df: DataFrame,
        location: str,
        partition_by: tuple[str, ...] = (),
        mode: str = "overwrite",
        dynamic: bool = False,
    ) -> None:
        w = df.write.mode(mode)
        if dynamic:
            w = w.option("partitionOverwriteMode", "dynamic")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(location)

    def append(self, df: DataFrame, location: str) -> None:
        df.write.mode("append").parquet(location)

    def exists(self, spark: SparkSession, location: str) -> bool:
        """At least one visible file under ``location``, resolved through the
        Hadoop FileSystem with the session's Hadoop conf, exactly as Spark's
        reader resolves it (a path without a scheme is relative to
        ``fs.defaultFS``)."""
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(location)
        fs = path.getFileSystem(conf)
        # Spark's file index skips names starting with "_" or "."
        return fs.exists(path) and any(
            not st.getPath().getName().startswith(("_", "."))
            for st in fs.listStatus(path)
        )


class IcebergIO(TableIO):
    """Iceberg catalog binding (requires iceberg-spark-runtime on the
    cluster + a configured catalog; NOT runnable in this container — kept as
    the documented slot-in, same seam, zero call-site changes)."""

    def read(
        self, spark: SparkSession, location: str, schema: StructType | None = None
    ) -> DataFrame:
        return spark.read.format("iceberg").load(location)

    def _builder(self, df: DataFrame, location: str, partition_by: tuple[str, ...]):
        from pyspark.sql import functions as F

        w = df.writeTo(location).using("iceberg")
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        return w

    def write(
        self,
        df: DataFrame,
        location: str,
        partition_by: tuple[str, ...] = (),
        mode: str = "overwrite",
        dynamic: bool = False,
    ) -> None:
        # contract mirror of ParquetIO.write (ADVICE r2): honor mode and
        # partition_by; dynamic=True means idempotent per-partition
        # recommit; every mode creates the (partitioned) table on first
        # write, because ParquetIO's first write always succeeds too
        if mode == "append":
            try:
                df.writeTo(location).append()
            except Exception as e:
                if not self._is_missing_table(e):
                    raise
                self._builder(df, location, partition_by).create()
            return
        if dynamic:
            try:
                df.writeTo(location).overwritePartitions()
            except Exception as e:
                # ONLY the missing-table condition means first write; any
                # other analysis failure (schema mismatch, unresolved
                # column, catalog misconfig) must surface as itself, not
                # as a misleading downstream create() error
                if not self._is_missing_table(e):
                    raise
                self._builder(df, location, partition_by).create()
            return
        self._builder(df, location, partition_by).createOrReplace()

    @staticmethod
    def _is_missing_table(e: Exception) -> bool:
        from pyspark.errors import AnalysisException

        if not isinstance(e, AnalysisException):
            return False
        cond = ""
        for attr in ("getCondition", "getErrorClass"):  # Spark 4 / legacy
            getter = getattr(e, attr, None)
            if getter is not None and not cond:
                try:
                    cond = getter() or ""
                except Exception:
                    cond = ""
        hay = f"{cond} {e}"
        return "TABLE_OR_VIEW_NOT_FOUND" in hay or "NoSuchTable" in hay

    def append(self, df: DataFrame, location: str) -> None:
        df.writeTo(location).append()

    def exists(self, spark: SparkSession, location: str) -> bool:
        return spark.catalog.tableExists(location)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str,
    n_buckets: int,
    path: str | None = None,
    sort_by: tuple[str, ...] = (),
) -> None:
    """Bucketed (+ sorted) table write — the co-located-join layout: two
    tables bucketed by the same key into the same bucket count join WITHOUT
    a shuffle on either side (each bucket pair is a map-side sort-merge),
    the layout a 100 TB pipeline gives its repeatedly-joined spine tables
    (transcripts x labels x metrics on conv_id).  Bucket metadata lives in
    the session catalog; ``path`` makes the table external.  Plan-pinned by
    tests/test_bucketing.py (zero Exchange under the join)."""
    w = df.write.mode("overwrite").format("parquet")
    if path:
        w = w.option("path", path)
    w = w.bucketBy(n_buckets, bucket_by)
    w = w.sortBy(*(sort_by or (bucket_by,)))
    w.saveAsTable(table)


DEFAULT_IO: TableIO = ParquetIO()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return DEFAULT_IO.read(spark, f"{sf_dir}/{name}.parquet")
