"""Fixed StructType schemas for the pipeline tables (SURVEY.md §1.5).

No schema inference anywhere on the hot path — the reference declares all
shapes statically (TS interfaces, src/types/ocr.types.ts) and so do we.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Input: BASELINE.json input_hint
TRANSCRIPTS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

SPAN = StructType(
    [StructField("start", IntegerType(), False), StructField("end", IntegerType(), False)]
)

WORD = StructType(
    [
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

CODE = StructType(
    [
        StructField("code_id", StringType(), False),
        StructField("content", StringType(), True),
        StructField("code_type", StringType(), True),
        StructField("left", DoubleType(), True),
        StructField("top", DoubleType(), True),
        StructField("width", DoubleType(), True),
        StructField("height", DoubleType(), True),
    ]
)

# Golden output, one row per turn ≅ OcrProcessResult
# (/root/reference/src/types/ocr.types.ts:22-25) + the doc-level mean word
# confidence the golden response carries (example-ocr-response.json:4) +
# the per-turn language option (ocr.service.ts:153) + extraction metrics
EXTRACTED = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("extracted_text", StringType(), True),
        StructField("confidence", DoubleType(), True),
        StructField("spans", ArrayType(SPAN), True),
        StructField("words", ArrayType(WORD), True),
        StructField("codes", ArrayType(CODE), True),
        StructField("n_blocks_kept", IntegerType(), True),
        StructField("n_blocks_dropped", IntegerType(), True),
        StructField("lang", StringType(), True),
        StructField("error", StringType(), True),
    ]
)

# Run manifest ≅ the reference's JobStatus map
# (/root/reference/src/types/return-strategy.types.ts:9-17) at
# partition-bucket granularity: resumable commit bookkeeping + metrics.
MANIFEST = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("status", StringType(), False),  # completed | failed
        StructField("n_turns", LongType(), True),
        StructField("n_words_kept", LongType(), True),
        StructField("n_words_dropped", LongType(), True),
        StructField("n_errors", LongType(), True),
        StructField("error", StringType(), True),
        StructField("started_at", TimestampType(), True),
        StructField("committed_at", TimestampType(), True),
    ]
)
