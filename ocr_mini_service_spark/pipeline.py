"""The extraction pipeline, in two equivalent Spark expressions.

1. ``extract_fused`` — the production path for 10^12-turn scale: one narrow
   ``mapInArrow`` pass (scan → columnar kernel → write).  Zero shuffles,
   embarrassingly parallel, scales linearly with executors; the greedy
   reading-order clustering (order-dependent, not window-expressible —
   /root/reference/src/types/parse-tsv-output.function.ts:208-250) lives
   inside the columnar kernel (``columnar.py``), which extracts a whole Arrow
   batch at a time.

2. ``extract_relational`` — the same semantics decomposed into native Spark
   operators (block explode → filter/project/normalize → dims equi-join →
   grouped reading-order kernel → theta anti-join → ordered aggregation →
   branch recombination by outer join on the turn spine).  It exists to (a)
   prove each reference operator has a faithful Catalyst expression and (b)
   cross-check the fused path; both must match the serial oracle bit-for-bit.

The per-turn kernel in ``kernel.py`` is the serial oracle both paths are
checked against.  The fused path calls it only for the turns the columnar
kernel hands back (its fallback) and for ``parse_codes``; the relational
path calls its parse and reading-order functions from inside its operators.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from . import kernel
from .schema import EXTRACTED, WORD

# ---------------------------------------------------------------------------
# Fused path
# ---------------------------------------------------------------------------


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
    Updates ride the single write action, so Spark applies each successful
    task's contribution exactly once (restarted tasks do not double-count)."""
    cols = ["conv_id", "turn_idx", "text", "tool"]
    if "lang" in transcripts.columns:
        cols.append("lang")
    if bucket_accum is not None and "bucket" in transcripts.columns:
        cols.append("bucket")
    pruned = transcripts.select(*cols)

    def fn(batches):
        return _fused_arrow_batches(batches, bucket_accum=bucket_accum)

    return pruned.mapInArrow(fn, schema=EXTRACTED)


# ---------------------------------------------------------------------------
# Relational path
# ---------------------------------------------------------------------------

# kind='b' rows are exploded layout blocks (raw pixel ints ≅ TesseractTsvLineData,
# parse-tsv-output.function.ts:113-126); kind='m' is the one per-turn meta row
# (page dims from the level-1 lookup + branch error).
_RAW = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("kind", StringType(), False),
        StructField("line_no", IntegerType(), True),
        StructField("level", DoubleType(), True),
        StructField("block_num", DoubleType(), True),
        StructField("par_num", DoubleType(), True),
        StructField("line_num", DoubleType(), True),
        StructField("word_num", DoubleType(), True),
        StructField("left_px", DoubleType(), True),
        StructField("top_px", DoubleType(), True),
        StructField("width_px", DoubleType(), True),
        StructField("height_px", DoubleType(), True),
        StructField("conf_raw", DoubleType(), True),
        StructField("text", StringType(), True),
        StructField("page_w", DoubleType(), True),
        StructField("page_h", DoubleType(), True),
        StructField("lang", StringType(), True),
        StructField("ocr_error", StringType(), True),
    ]
)

_RAW_COLS = [f.name for f in _RAW.fields]


def _emit_blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out: list[dict] = []
        langs = (
            pdf["lang"]
            if "lang" in pdf.columns
            else [None] * len(pdf)
        )
        for c, t, text, lg in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"], langs):
            t = int(t)
            resolved = lg if isinstance(lg, str) and lg else kernel.DEFAULT_LANGUAGE
            if not kernel.validate_language(resolved):
                # unsupported language ≅ tesseract non-zero exit
                # (ocr.service.ts:240-246) — OCR branch fails, turn completes
                pw, ph, rows, err = None, None, [], f"ocr_failed: unsupported language: {resolved}"
            else:
                try:
                    pw, ph, rows = kernel.parse_tsv_blocks(text)
                    err = None
                except Exception as e:  # branch isolation (image-recognition.service.ts:165-168)
                    pw, ph, rows, err = None, None, [], f"ocr_failed: {e}"
            out.append(
                {"conv_id": c, "turn_idx": t, "kind": "m", "page_w": pw,
                 "page_h": ph, "lang": resolved, "ocr_error": err}
            )
            for r in rows:
                out.append({"conv_id": c, "turn_idx": t, "kind": "b", **r})
        yield pd.DataFrame(out, columns=_RAW_COLS)


_CODES_ROW = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("kind", StringType(), False),
        StructField("code_idx", IntegerType(), True),
        StructField("code_id", StringType(), True),
        StructField("content", StringType(), True),
        StructField("code_type", StringType(), True),
        StructField("left", DoubleType(), True),
        StructField("top", DoubleType(), True),
        StructField("width", DoubleType(), True),
        StructField("height", DoubleType(), True),
        StructField("codes_error", StringType(), True),
    ]
)

_CODES_COLS = [f.name for f in _CODES_ROW.fields]


def _emit_codes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out: list[dict] = []
        for c, t, tool in zip(pdf["conv_id"], pdf["turn_idx"], pdf["tool"]):
            t = int(t)
            try:
                codes = kernel.parse_codes(tool)
            except Exception as e:  # codes-branch isolation
                out.append({"conv_id": c, "turn_idx": t, "kind": "m",
                            "codes_error": f"codes_failed: {e}"})
                continue
            for i, cd in enumerate(codes):
                out.append(
                    {"conv_id": c, "turn_idx": t, "kind": "c", "code_idx": i,
                     "code_id": kernel.det_id(c, t, "code", i),
                     "content": cd["content"], "code_type": cd["code_type"],
                     "left": cd["left"], "top": cd["top"],
                     "width": cd["width"], "height": cd["height"]}
                )
        yield pd.DataFrame(out, columns=_CODES_COLS)


_ORDERED = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("rank", IntegerType(), False),
        StructField("word_id", StringType(), False),
        StructField("text", StringType(), False),
        StructField("confidence", DoubleType(), True),
        StructField("left", DoubleType(), True),
        StructField("top", DoubleType(), True),
        StructField("width", DoubleType(), True),
        StructField("height", DoubleType(), True),
        StructField("baseline", DoubleType(), True),
    ]
)


def _order_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped reading-order kernel (applyInPandas per (conv_id, turn_idx)).
    Emission order must be restored first — shuffles don't preserve it and the
    greedy anchor is arrival-order-dependent."""
    pdf = pdf.sort_values("line_no", kind="mergesort")
    words = pdf.to_dict("records")
    ordered = kernel.reading_order(words)
    conv, turn = pdf["conv_id"].iloc[0], int(pdf["turn_idx"].iloc[0])
    out = [
        {
            "conv_id": conv,
            "turn_idx": turn,
            "rank": i,
            "word_id": kernel.det_id(
                conv, turn, int(w["block_num"]), int(w["par_num"]),
                int(w["line_num"]), int(w["word_num"])
            ),
            "text": w["text"],
            "confidence": w["confidence"],
            "left": w["left"],
            "top": w["top"],
            "width": w["width"],
            "height": w["height"],
            "baseline": w["baseline"],
        }
        for i, w in enumerate(ordered)
    ]
    return pd.DataFrame(out, columns=[f.name for f in _ORDERED.fields])


# literal factors shared with the kernel so JVM-side arithmetic produces
# bit-identical doubles (same literals, same op order)
_BASELINE_FACTOR = 1 - kernel.DESCENDER_FACTOR


def baseline_expr(text_col, top_col, height_col):
    """Native-Catalyst baseline (P7+P8): regex char-class descender predicate
    over lowercased text, conditional arithmetic — whole-stage-codegen'd."""
    has_desc = F.lower(text_col).rlike(kernel.DESCENDER_REGEX)
    return F.when(has_desc, top_col + height_col * F.lit(_BASELINE_FACTOR)).otherwise(
        top_col + height_col
    )


def extract_relational(transcripts: DataFrame) -> DataFrame:
    """Operator-decomposed pipeline; see module docstring.

    Persisting the raw emission is a showcase-path convenience (the two
    branches both read it); the production path (``extract_fused``) has no
    materialization at all."""
    spine = transcripts.select("conv_id", "turn_idx")

    in_cols = ["conv_id", "turn_idx", "text"]
    if "lang" in transcripts.columns:
        in_cols.append("lang")
    raw = transcripts.select(*in_cols).mapInPandas(
        _emit_blocks, schema=_RAW
    ).persist()

    dims = raw.filter(F.col("kind") == "m").select(
        "conv_id", "turn_idx", "page_w", "page_h", "lang", "ocr_error"
    )

    # P2/P5/P6: level-5 + non-blank filter (native, codegen'd)
    words_px = raw.filter(
        (F.col("kind") == "b") & (F.col("level") == 5.0) & (F.trim("text") != "")
    ).drop("kind", "page_w", "page_h", "lang", "ocr_error")

    # J3: page-dims enrichment join (equi on the turn key; the reference's
    # level-1 lookup applied to every row of the page,
    # parse-tsv-output.function.ts:144-167)
    wj = words_px.join(dims.drop("lang", "ocr_error"), ["conv_id", "turn_idx"])

    # P3/P4: typed projection + normalization (Java double division gives the
    # reference's IEEE inf/nan zero semantics)
    trimmed = F.trim(F.col("text"))
    norm = wj.select(
        "conv_id",
        "turn_idx",
        "line_no",
        F.col("block_num").cast("int").alias("block_num"),
        F.col("par_num").cast("int").alias("par_num"),
        F.col("line_num").cast("int").alias("line_num"),
        F.col("word_num").cast("int").alias("word_num"),
        (F.col("left_px") / F.col("page_w")).alias("left"),
        (F.col("top_px") / F.col("page_h")).alias("top"),
        (F.col("width_px") / F.col("page_w")).alias("width"),
        (F.col("height_px") / F.col("page_h")).alias("height"),
        (F.col("conf_raw") / F.lit(100.0)).alias("confidence"),
        trimmed.alias("text"),
        baseline_expr(
            trimmed,
            F.col("top_px") / F.col("page_h"),
            F.col("height_px") / F.col("page_h"),
        ).alias("baseline"),
    )

    # A3: total word count per turn (pre-anti-join) for the dropped metric
    totals = norm.groupBy("conv_id", "turn_idx").agg(F.count("*").alias("n_total"))

    # W1: greedy reading-order kernel per turn (rank assigned BEFORE the
    # anti-join — the reference orders first, prunes second, service.ts:176)
    ordered = norm.groupBy("conv_id", "turn_idx").applyInPandas(_order_group, schema=_ORDERED)

    codes_raw = transcripts.select("conv_id", "turn_idx", "tool").mapInPandas(
        _emit_codes, schema=_CODES_ROW
    ).persist()
    codes = codes_raw.filter(F.col("kind") == "c")
    code_errs = codes_raw.filter(F.col("kind") == "m").select(
        "conv_id", "turn_idx", "codes_error"
    )

    # J1: overlap theta anti-join — equi key (conv_id, turn_idx) + range
    # residual; boundary touch (<=) is NOT overlap
    # (image-recognition.service.ts:285-302)
    w, c = ordered.alias("w"), codes.alias("c")
    no_overlap = (
        (F.col("w.left") + F.col("w.width") <= F.col("c.left"))
        | (F.col("c.left") + F.col("c.width") <= F.col("w.left"))
        | (F.col("w.top") + F.col("w.height") <= F.col("c.top"))
        | (F.col("c.top") + F.col("c.height") <= F.col("w.top"))
    )
    kept = w.join(
        c,
        (F.col("w.conv_id") == F.col("c.conv_id"))
        & (F.col("w.turn_idx") == F.col("c.turn_idx"))
        & ~no_overlap,
        "left_anti",
    )

    # A5/W2: ordered aggregation — explicit rank sort inside array_sort
    # (collect_list order is never relied upon, SURVEY §4.3)
    word_struct = F.struct(
        F.col("rank"),
        F.col("word_id"),
        F.col("text"),
        F.col("confidence"),
        F.col("left"),
        F.col("top"),
        F.col("width"),
        F.col("height"),
        F.col("baseline"),
    )
    # A5 doc-level confidence: quantized-integer mean over kept words
    # (kernel.mean_confidence's exact distributed twin — integer sum is
    # order-independent, so the shuffle cannot perturb the value; NaN
    # confidences are excluded on both sides)
    qconf = F.when(
        ~F.isnan(F.col("confidence")),
        F.round(F.col("confidence") * F.lit(kernel.CONF_QUANT)).cast("long"),
    )
    wagg = (
        kept.groupBy("conv_id", "turn_idx")
        .agg(
            F.array_sort(F.collect_list(word_struct)).alias("ws"),
            F.sum(qconf).alias("qsum"),
            F.count(qconf).alias("qn"),
        )
        .select(
            "conv_id",
            "turn_idx",
            F.when(
                F.col("qn") > 0,
                (F.col("qsum").cast("double") / F.col("qn")) / F.lit(float(kernel.CONF_QUANT)),
            ).alias("confidence"),
            F.transform(
                "ws",
                lambda s: F.struct(
                    s["word_id"].alias("word_id"),
                    s["text"].alias("text"),
                    s["confidence"].alias("confidence"),
                    s["left"].alias("left"),
                    s["top"].alias("top"),
                    s["width"].alias("width"),
                    s["height"].alias("height"),
                    s["baseline"].alias("baseline"),
                ),
            ).alias("words"),
            F.transform("ws", lambda s: s["text"]).alias("texts"),
            F.size("ws").alias("n_kept"),
        )
        .select(
            "conv_id",
            "turn_idx",
            "confidence",
            "words",
            "n_kept",
            F.concat_ws(" ", F.col("texts")).alias("extracted_text"),
            # spans: running character offsets via a fold (F.aggregate):
            # start_i = sum(len_j + 1 for j < i); end exclusive
            F.aggregate(
                "texts",
                F.struct(
                    F.lit(0).alias("pos"),
                    F.expr(
                        "CAST(array() AS array<struct<start:int,end:int>>)"
                    ).alias("arr"),
                ),
                lambda acc, t: F.struct(
                    (acc["pos"] + F.length(t) + F.lit(1)).alias("pos"),
                    F.concat(
                        acc["arr"],
                        F.array(
                            F.struct(
                                acc["pos"].alias("start"),
                                (acc["pos"] + F.length(t)).alias("end"),
                            )
                        ),
                    ).alias("arr"),
                ),
                lambda acc: acc["arr"],
            ).alias("spans"),
        )
    )

    code_struct = F.struct(
        F.col("code_idx"),
        F.col("code_id"),
        F.col("content"),
        F.col("code_type"),
        F.col("left"),
        F.col("top"),
        F.col("width"),
        F.col("height"),
    )
    cagg = (
        codes.groupBy("conv_id", "turn_idx")
        .agg(F.array_sort(F.collect_list(code_struct)).alias("cs"))
        .select(
            "conv_id",
            "turn_idx",
            F.transform(
                "cs",
                lambda s: F.struct(
                    s["code_id"].alias("code_id"),
                    s["content"].alias("content"),
                    s["code_type"].alias("code_type"),
                    s["left"].alias("left"),
                    s["top"].alias("top"),
                    s["width"].alias("width"),
                    s["height"].alias("height"),
                ),
            ).alias("codes"),
        )
    )

    # J4: recombine the two branches on the turn spine (outer recombination of
    # independent pipelines ≅ Promise.all + assembly, service.ts:164-182)
    empty_words = F.expr(f"CAST(array() AS array<{WORD.simpleString()}>)")
    result = (
        spine.join(wagg, ["conv_id", "turn_idx"], "left")
        .join(cagg, ["conv_id", "turn_idx"], "left")
        .join(totals, ["conv_id", "turn_idx"], "left")
        .join(
            dims.select("conv_id", "turn_idx", "lang", "ocr_error"),
            ["conv_id", "turn_idx"],
            "left",
        )
        .join(code_errs, ["conv_id", "turn_idx"], "left")
        .select(
            "conv_id",
            "turn_idx",
            F.coalesce("extracted_text", F.lit("")).alias("extracted_text"),
            F.col("confidence"),
            F.coalesce(
                "spans", F.expr("CAST(array() AS array<struct<start:int,end:int>>)")
            ).alias("spans"),
            F.coalesce("words", empty_words).alias("words"),
            F.coalesce(
                "codes",
                F.expr(
                    "CAST(array() AS array<struct<code_id:string,content:string,"
                    "code_type:string,left:double,top:double,width:double,height:double>>)"
                ),
            ).alias("codes"),
            F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_blocks_kept"),
            (F.coalesce("n_total", F.lit(0)) - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_blocks_dropped"),
            F.col("lang"),
            F.nullif(
                F.concat_ws("; ", F.col("ocr_error"), F.col("codes_error")), F.lit("")
            ).alias("error"),
        )
    )
    return result


def finalize(extracted: DataFrame) -> DataFrame:
    """Stable output ordering (north rule / W2)."""
    return extracted.orderBy("conv_id", "turn_idx")
