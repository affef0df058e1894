"""Hierarchy rollup — the reference's documented lines/paragraphs/blocks
result model (`/root/reference/docs/api.md:147-159,193-207`, the
``OCRHierarchyElement`` model in `.kiro/steering/tech.md`, consumed by
`scripts/test/test-ocr.sh:175-184`): each level-2/3/4 TSV row becomes a
positioned element whose ``child_ids`` list the contained next-level
elements (block → paragraphs → lines → words), with bboxes normalized by
the page dims and deterministic sha-256 surrogate ids (§1.4: the
reference's nanoids are random, so equality compares geometry, ordering
and linkage, never raw ids).  Word children are the parse-stage words
(``str.strip()``-trimmed, non-blank level-5 rows —
`parse-tsv-output.function.ts:173`), i.e. pre-overlap-pruning, and their
ids use the same recipe as the extraction kernel, so hierarchy rows
cross-link to ``extracted.words``.

Spark expression (SURVEY.md §2.4 A4): one narrow ``mapInArrow`` pass.  A
turn's elements depend only on its own TSV, so each turn is parsed with
``kernel.parse_tsv_blocks`` and rolled up bottom-up inside the pass; no
shuffle, window or join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DoubleType, StringType, StructField, StructType

from . import kernel

ELEMENT = StructType(
    [
        StructField("id", StringType()),
        StructField("content", StringType()),
        StructField("left", DoubleType()),
        StructField("top", DoubleType()),
        StructField("width", DoubleType()),
        StructField("height", DoubleType()),
        StructField("child_ids", ArrayType(StringType())),
    ]
)

# bottom-up, so each level's content feeds its parent: (kind, TSV level,
# number of key columns — block_num, par_num, line_num)
_LEVELS = (("line", 4.0, 3), ("paragraph", 3.0, 2), ("block", 2.0, 1))
_KEYS = ("block_num", "par_num", "line_num", "word_num")
_COLUMNS = ("blocks", "paragraphs", "lines")


def _key(row: dict, n: int) -> tuple[int, ...]:
    return tuple(int(row[k]) for k in _KEYS[:n])


def _rollup(conv_id: str, turn_idx: int, page_w: float, page_h: float,
            rows: list[dict]) -> dict[str, list[tuple]]:
    """One turn's elements per kind, each a ``(id, content, left, top, width,
    height, child_ids)`` tuple in document (TSV emission) order.  An
    element's content is its children's contents joined by a space; its
    children are the next level's elements under its key, in emission
    order."""
    children: dict[tuple, list[tuple[str, str]]] = {}  # line key -> words
    at_level: dict[float, list[dict]] = {level: [] for _, level, _ in _LEVELS}
    for r in rows:
        if r["level"] == 5.0:
            text = r["text"].strip()
            if text:
                key = _key(r, 4)
                children.setdefault(key[:3], []).append(
                    (kernel.det_id(conv_id, turn_idx, *key), text))
        elif r["level"] in at_level:
            at_level[r["level"]].append(r)
    out = {}
    for kind, level, n_keys in _LEVELS:
        parents: dict[tuple, list[tuple[str, str]]] = {}
        elements = []
        for r in at_level[level]:
            key = _key(r, n_keys)
            kids = children.get(key, [])
            el_id = kernel.det_id(conv_id, turn_idx, kind, *key)
            content = " ".join(c for _, c in kids)
            elements.append((
                el_id, content,
                kernel.js_div(r["left_px"], page_w), kernel.js_div(r["top_px"], page_h),
                kernel.js_div(r["width_px"], page_w), kernel.js_div(r["height_px"], page_h),
                [i for i, _ in kids],
            ))
            parents.setdefault(key[:-1], []).append((el_id, content))
        children = parents
        out[kind + "s"] = elements
    return out


def _rollup_turn(conv_id: str, turn_idx: int, text: str) -> dict[str, list[tuple]]:
    """A turn that fails to parse, or has an element whose keys are not
    integers (``int(nan)``), has no elements: its OCR branch fails, as in
    extraction (image-recognition.service.ts:165-168), and the job goes on."""
    try:
        return _rollup(conv_id, turn_idx, *kernel.parse_tsv_blocks(text))
    except (ValueError, OverflowError):
        return {c: [] for c in _COLUMNS}


def _hierarchy_batches(batches):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    level_type = to_arrow_type(ArrayType(ELEMENT))
    for batch in batches:
        turns = [_rollup_turn(c, t, x) for c, t, x in zip(
            *(batch.column(n).to_pylist() for n in ("conv_id", "turn_idx", "text")))]
        yield pa.RecordBatch.from_arrays(
            [batch.column("conv_id"), batch.column("turn_idx"),
             *(pa.array([t[c] for t in turns], type=level_type) for c in _COLUMNS)],
            names=["conv_id", "turn_idx", *_COLUMNS],
        )


def extract_hierarchy(transcripts: DataFrame) -> DataFrame:
    """transcripts → one row per turn: blocks / paragraphs / lines arrays of
    ``struct<id, content, left, top, width, height, child_ids>`` in document
    order.  ``content`` is the element's aggregated text (line = space-joined
    child words, paragraph = joined lines, block = joined paragraphs — the
    ``StructureContent`` payload of ``OCRHierarchyElement``).  Geometry is
    normalized with ``kernel.js_div``, so a zero page dimension gives inf/nan
    as in the extraction kernel."""
    schema = StructType(
        [transcripts.schema["conv_id"], transcripts.schema["turn_idx"]]
        + [StructField(c, ArrayType(ELEMENT), False) for c in _COLUMNS]
    )
    return transcripts.select("conv_id", "turn_idx", "text").mapInArrow(
        _hierarchy_batches, schema=schema
    )


def write_hierarchy(transcripts: DataFrame, path: str) -> None:
    extract_hierarchy(transcripts).write.mode("overwrite").parquet(path)
