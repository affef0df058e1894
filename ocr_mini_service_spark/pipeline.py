"""The extraction pipeline: ``extract_fused``, one narrow ``mapInArrow``
pass (scan → columnar kernel → write) for 10^12-turn scale.  Zero shuffles,
embarrassingly parallel, scales linearly with executors; the greedy
reading-order clustering (order-dependent, not window-expressible —
/root/reference/src/types/parse-tsv-output.function.ts:208-250) lives inside
the columnar kernel (``columnar.py``), which extracts a whole Arrow batch at
a time.

The per-turn kernel in ``kernel.py`` is the serial oracle this path is
checked against.  The pass calls it only for the turns the columnar kernel
hands back (its fallback) and for ``parse_codes``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .schema import EXTRACTED


def _arrow_extracted_schema(exact: bool = False):
    """Arrow schema mirroring EXTRACTED, built lazily on the worker (pyspark's
    type mapper is import-heavy).  ``exact`` keeps EXTRACTED's top-level
    nullability (``conv_id`` and ``turn_idx`` required), as in the Parquet
    files the manifest job writes; otherwise every column is nullable."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.schema([pa.field(f.name, to_arrow_type(f.dataType),
                               nullable=f.nullable or not exact)
                      for f in EXTRACTED.fields])


def input_columns(transcripts: DataFrame) -> list[str]:
    """The columns the kernel reads: (conv_id, turn_idx, text, tool) plus
    the optional per-turn ``lang`` options column (the reference's
    request-body ``language`` option, controller:101-128) when present.
    Pruned by hand because Catalyst cannot prune inside an arrow/pandas UDF
    (SURVEY.md §4.1)."""
    cols = ["conv_id", "turn_idx", "text", "tool"]
    if "lang" in transcripts.columns:
        cols.append("lang")
    return cols


def _fused_arrow_batches(batches):
    """Arrow-native driver: each input RecordBatch goes through the columnar
    kernel (``columnar.extract_batch``) and comes out as one EXTRACTED
    RecordBatch, without pandas."""
    from . import columnar

    schema = _arrow_extracted_schema()
    for batch in batches:
        yield columnar.extract_batch(batch, schema)


def extract_fused(transcripts: DataFrame) -> DataFrame:
    """transcripts → extracted, one Arrow-batched pass (mapInArrow) over the
    ``input_columns``.  Row order within each partition is preserved
    (narrow, order-stable op), so an input-side sort survives to the
    output.  The manifest job does not go through this DataFrame: its write
    tasks run the same kernel and write the Parquet files themselves
    (``manifest.bucketed_write_plan``)."""
    return transcripts.select(*input_columns(transcripts)).mapInArrow(
        _fused_arrow_batches, schema=EXTRACTED
    )


def finalize(extracted: DataFrame) -> DataFrame:
    """Stable output ordering (north rule / W2)."""
    return extracted.orderBy("conv_id", "turn_idx")
