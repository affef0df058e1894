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


def _arrow_extracted_schema():
    """Arrow schema mirroring EXTRACTED, built lazily on the worker (pyspark's
    type mapper is import-heavy)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.schema([pa.field(f.name, to_arrow_type(f.dataType), nullable=True)
                      for f in EXTRACTED.fields])


def _fused_arrow_batches(batches, bucket_accum=None):
    """Arrow-native driver: each input RecordBatch goes through the columnar
    kernel (``columnar.extract_batch``) and comes out as one EXTRACTED
    RecordBatch, without pandas.

    When ``bucket_accum`` is given (and the input batch carries a ``bucket``
    column), per-bucket extraction metrics are tallied task-side into the
    accumulator from the output's count and error columns — see
    ``extract_fused``."""
    import numpy as np
    import pyarrow.compute as pc

    from . import columnar

    schema = _arrow_extracted_schema()
    for batch in batches:
        out = columnar.extract_batch(batch, schema)
        if bucket_accum is not None and "bucket" in batch.schema.names:
            buckets, which = np.unique(batch.column("bucket").to_numpy(), return_inverse=True)
            tallies = [np.bincount(which, weights=w, minlength=len(buckets)).astype(np.int64)
                       for w in (None,
                                 out.column("n_blocks_kept").to_numpy(),
                                 out.column("n_blocks_dropped").to_numpy(),
                                 pc.is_valid(out.column("error")).to_numpy(zero_copy_only=False))]
            bucket_accum.add({int(b): tuple(int(t[i]) for t in tallies)
                              for i, b in enumerate(buckets.tolist())})
        yield out


def extract_fused(transcripts: DataFrame, bucket_accum=None) -> DataFrame:
    """transcripts → extracted, one Arrow-batched pass (mapInArrow).

    Input columns are pruned manually to (conv_id, turn_idx, text, tool)
    plus the optional per-turn ``lang`` options column (the reference's
    request-body ``language`` option, controller:101-128) when present,
    because Catalyst cannot prune inside an arrow/pandas UDF (SURVEY.md §4.1).
    Row order within each partition is preserved (narrow, order-stable op), so
    an input-side sort survives to the output files.

    ``bucket_accum`` (optional): a dict-valued Spark accumulator; when given
    and the input has a ``bucket`` column, each task adds
    ``{bucket: (n_turns, n_words_kept, n_words_dropped, n_errors)}`` as it
    extracts — per-bucket manifest metrics with NO second scan of the
    committed output (the 100 TB path; see manifest.run_with_manifest).
    The tallies are exactly-once only while this pass runs in the job's
    result stage, as it does above the manifest job's one Exchange: Spark
    merges a result task's accumulator updates once per partition, but a
    recomputed shuffle-map task would add its updates again."""
    cols = ["conv_id", "turn_idx", "text", "tool"]
    if "lang" in transcripts.columns:
        cols.append("lang")
    if bucket_accum is not None and "bucket" in transcripts.columns:
        cols.append("bucket")
    pruned = transcripts.select(*cols)

    def fn(batches):
        return _fused_arrow_batches(batches, bucket_accum=bucket_accum)

    return pruned.mapInArrow(fn, schema=EXTRACTED)


def finalize(extracted: DataFrame) -> DataFrame:
    """Stable output ordering (north rule / W2)."""
    return extracted.orderBy("conv_id", "turn_idx")
