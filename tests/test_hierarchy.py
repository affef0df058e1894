"""extract_hierarchy vs a serial oracle built directly on
kernel.parse_tsv_blocks — pins the documented block→paragraph→line→word
linkage model (docs/api.md:147-159; OCRHierarchyElement)."""

import math

import pandas as pd
import pytest

from ocr_mini_service_spark import kernel
from ocr_mini_service_spark.hierarchy import extract_hierarchy
from ocr_mini_service_spark.synth import gen_transcripts

_LEVELS = [
    ("block", 2, ("block_num",), "paragraph"),
    ("paragraph", 3, ("block_num", "par_num"), "line"),
    ("line", 4, ("block_num", "par_num", "line_num"), "word"),
]


def _oracle_turn(conv_id: str, turn_idx: int, text: str) -> dict:
    empty = {"blocks": [], "paragraphs": [], "lines": []}
    try:
        pw, ph, rows = kernel.parse_tsv_blocks(text)
    except Exception:
        return empty
    if not rows:
        return empty

    def keyed(r, keys):
        return tuple(int(r[k]) for k in keys)

    words = [r for r in rows if int(r["level"]) == 5 and r["text"].strip()]
    word_ids = {}
    word_texts: dict[tuple, list] = {}
    for r in words:
        k = (int(r["block_num"]), int(r["par_num"]), int(r["line_num"]))
        word_ids.setdefault(k, []).append(
            (r["line_no"], kernel.det_id(conv_id, turn_idx, int(r["block_num"]),
                                         int(r["par_num"]), int(r["line_num"]),
                                         int(r["word_num"])))
        )
        word_texts.setdefault(k, []).append((r["line_no"], r["text"].strip()))

    out = {}
    level_ids: dict[str, dict[tuple, list]] = {"word": {k: v for k, v in word_ids.items()}}
    for kind, lvl, keys, _ in _LEVELS:
        level_ids[kind] = {}
        for r in rows:
            if int(r["level"]) != lvl:
                continue
            k = keyed(r, keys)
            level_ids[kind].setdefault(k, []).append(
                (r["line_no"], kernel.det_id(conv_id, turn_idx, kind, *k))
            )
    # bottom-up content rollup mirroring the engine: an element's content is
    # the emit-order join of its children's contents (line = its words)
    ent: dict[str, list] = {
        "word": [(o, t, k) for k, lst in word_texts.items() for o, t in lst]
    }
    contents: dict[str, dict[int, str]] = {}
    for kind, lvl, keys, child_kind in reversed(_LEVELS):
        ent[kind] = []
        contents[kind] = {}
        for r in rows:
            if int(r["level"]) != lvl:
                continue
            k = keyed(r, keys)
            kids = sorted((o, t) for o, t, ck in ent[child_kind] if ck[: len(k)] == k)
            content = " ".join(t for _, t in kids)
            ent[kind].append((r["line_no"], content, k))
            contents[kind][r["line_no"]] = content
    for kind, lvl, keys, child_kind in _LEVELS:
        elems = []
        for r in rows:
            if int(r["level"]) != lvl:
                continue
            k = keyed(r, keys)
            kids = []
            for ck, entries in level_ids[child_kind].items():
                if ck[: len(k)] == k:
                    kids.extend(entries)
            kids.sort()
            elems.append(
                (
                    r["line_no"],
                    {
                        "id": kernel.det_id(conv_id, turn_idx, kind, *k),
                        "content": contents[kind][r["line_no"]],
                        "left": r["left_px"] / pw,
                        "top": r["top_px"] / ph,
                        "width": r["width_px"] / pw,
                        "height": r["height_px"] / ph,
                        "child_ids": [i for _, i in kids],
                    },
                )
            )
        elems.sort(key=lambda e: e[0])
        out[kind + "s"] = [e for _, e in elems]
    return {"blocks": out["blocks"], "paragraphs": out["paragraphs"],
            "lines": out["lines"]}


@pytest.mark.parametrize("n_turns", [300])
def test_hierarchy_matches_oracle(spark, n_turns):
    pdf = gen_transcripts(n_turns)
    got = {
        (r["conv_id"], r["turn_idx"]): r
        for r in extract_hierarchy(spark.createDataFrame(pdf)).collect()
    }
    assert len(got) == len(pdf)
    checked_nonempty = 0
    for rec in pdf.itertuples():
        want = _oracle_turn(rec.conv_id, int(rec.turn_idx), rec.text)
        have = got[(rec.conv_id, int(rec.turn_idx))]
        for col in ("blocks", "paragraphs", "lines"):
            h = [row.asDict(recursive=True) for row in have[col]]
            w = want[col]
            assert len(h) == len(w), (rec.conv_id, rec.turn_idx, col)
            for he, we in zip(h, w):
                assert he["id"] == we["id"], (rec.conv_id, rec.turn_idx, col)
                assert he["child_ids"] == we["child_ids"], (rec.conv_id, rec.turn_idx, col)
                assert he["content"] == we["content"], (rec.conv_id, rec.turn_idx, col)
                for f in ("left", "top", "width", "height"):
                    assert repr(he[f]) == repr(we[f]), (rec.conv_id, rec.turn_idx, col, f)
            if w:
                checked_nonempty += 1
    assert checked_nonempty > 100  # the corpus genuinely exercises the rollup


def test_hierarchy_links_into_extracted_words(spark):
    """Cross-linkage: line child_ids use the extraction kernel's word-id
    recipe, so every extracted word id appears in exactly one line."""
    from ocr_mini_service_spark.pipeline import extract_fused

    pdf = gen_transcripts(60, edge_cases=False)
    sdf = spark.createDataFrame(pdf)
    words = {
        w["word_id"]
        for r in extract_fused(sdf).collect()
        for w in r["words"]
    }
    line_children = {
        cid
        for r in extract_hierarchy(sdf).collect()
        for ln in r["lines"]
        for cid in ln["child_ids"]
    }
    assert words <= line_children


def test_hierarchy_lines_driver_query_reconstructs_documents(spark, sf_dir):
    """The flat driver view of the rollup tells the whole story per doc:
    line contents concatenated in line order equal the document's first 40
    normalized words, word counts telescope, and ids are unique."""
    import re

    from ocr_mini_service_spark.operators import transcribe

    df = transcribe.hierarchy_lines(spark, sf_dir).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    want = docs.set_index("doc_id")["text"].map(
        lambda s: " ".join(re.sub(r"\s+", " ", s.strip()).split(" ")[:40])
    )
    got = (
        df.sort_values(["doc_id", "line_idx"])
        .groupby("doc_id")["content"]
        .apply(" ".join)
    )
    assert got.to_dict() == want.reindex(got.index).to_dict()
    assert df["line_id"].is_unique
    assert (df.groupby("doc_id")["n_words"].sum() == want.reindex(got.index).str.split().str.len()).all()
    assert df["n_words"].between(1, 10).all()


def test_hierarchy_parents_link_to_lines(spark, sf_dir):
    """Cross-level consistency of the flat driver views: the paragraph's
    child count equals the doc's line count, the block parents exactly one
    paragraph, and parent content equals the line contents joined in line
    order (bottom-up aggregation all the way to the root)."""
    from ocr_mini_service_spark.operators import transcribe

    parents = transcribe.hierarchy_parents(spark, sf_dir).toPandas()
    lines = transcribe.hierarchy_lines(spark, sf_dir).toPandas()
    per_doc_lines = lines.groupby("doc_id")
    n_lines = per_doc_lines.size()
    joined = (
        lines.sort_values(["doc_id", "line_idx"])
        .groupby("doc_id")["content"]
        .apply(lambda s: " ".join(x for x in s if x))
    )
    blocks = parents[parents["kind"] == "block"].set_index("doc_id")
    paras = parents[parents["kind"] == "paragraph"].set_index("doc_id")
    assert (blocks["n_children"] == 1).all()
    assert (paras["n_children"] == n_lines.reindex(paras.index)).all()
    assert blocks["content"].to_dict() == joined.reindex(blocks.index).to_dict()
    assert paras["content"].to_dict() == joined.reindex(paras.index).to_dict()
    # geometry: parent height spans all lines
    assert (blocks["height"] * 1000).round().astype(int).eq(
        n_lines.reindex(blocks.index) * 100
    ).all()


_HEADER = (
    "level\tpage_num\tblock_num\tpar_num\tline_num\tword_num\t"
    "left\ttop\twidth\theight\tconf\ttext"
)


def _tsv(page_w: int, page_h: int, *words: str) -> str:
    """One block > paragraph > line holding ``words`` (word_num 0, 1, ...)."""
    rows = [_HEADER, f"1\t1\t0\t0\t0\t0\t0\t0\t{page_w}\t{page_h}\t-1\t"]
    rows += [f"{lvl}\t1\t0\t0\t0\t0\t0\t100\t300\t20\t-1\t" for lvl in (2, 3, 4)]
    rows += [f"5\t1\t0\t0\t0\t{i}\t{100 * (i + 1)}\t100\t90\t20\t80\t{w}"
             for i, w in enumerate(words)]
    return "\n".join(rows)


def _one_turn(spark, text: str) -> dict:
    pdf = pd.DataFrame({"conv_id": ["c"], "turn_idx": [0], "text": [text]})
    (row,) = extract_hierarchy(spark.createDataFrame(pdf)).collect()
    return row.asDict(recursive=True)


def test_word_text_is_trimmed_like_str_strip(spark):
    """Parse-stage words are trimmed with ``str.strip()``, as the oracle and
    the extraction kernel trim them: an ideographic space (U+3000) and a
    vertical tab are whitespace, and a whitespace-only word is no child."""
    got = _one_turn(spark, _tsv(1000, 1000, "　a　", "\x0b", "\x0bb"))
    words = [kernel.det_id("c", 0, 0, 0, 0, n) for n in (0, 2)]
    line_id = kernel.det_id("c", 0, "line", 0, 0, 0)
    par_id = kernel.det_id("c", 0, "paragraph", 0, 0)
    assert [(e["content"], e["child_ids"]) for e in got["lines"]] == [("a b", words)]
    assert [(e["content"], e["child_ids"]) for e in got["paragraphs"]] == [("a b", [line_id])]
    assert [(e["content"], e["child_ids"]) for e in got["blocks"]] == [("a b", [par_id])]


@pytest.mark.parametrize(
    "page_w, page_h, want",
    [
        # (left, top, width, height) of each element: left_px 0, top_px 100,
        # width_px 300, height_px 20 over the page dims, as kernel.js_div
        # divides: x/0 -> inf, 0/0 -> nan
        (0, 1000, (math.nan, 0.1, math.inf, 0.02)),
        (1000, 0, (0.0, math.inf, 0.3, math.inf)),
    ],
)
def test_zero_page_dimension_normalizes_like_js_div(spark, page_w, page_h, want):
    got = _one_turn(spark, _tsv(page_w, page_h, "a"))
    for col in ("blocks", "paragraphs", "lines"):
        (el,) = got[col]
        have = tuple(el[f] for f in ("left", "top", "width", "height"))
        assert repr(have) == repr(want), col
        assert el["content"] == "a"


def test_non_integer_element_key_empties_only_that_turn(spark):
    bad = _tsv(1000, 1000, "a").replace("\n4\t1\t0\t0\t0\t", "\n4\t1\t0\t0\tx\t")
    assert bad != _tsv(1000, 1000, "a")
    pdf = pd.DataFrame({"conv_id": ["bad", "good"], "turn_idx": [0, 0],
                        "text": [bad, _tsv(1000, 1000, "a")]})
    got = {r["conv_id"]: r for r in extract_hierarchy(spark.createDataFrame(pdf)).collect()}
    assert [len(got["bad"][c]) for c in ("blocks", "paragraphs", "lines")] == [0, 0, 0]
    assert [len(got["good"][c]) for c in ("blocks", "paragraphs", "lines")] == [1, 1, 1]


_ELEMENT_DDL = (
    "array<struct<id:string,content:string,left:double,top:double,width:double,"
    "height:double,child_ids:array<string>>>"
)


def test_write_hierarchy_reads_back_with_the_same_schema(spark, tmp_path):
    """``run_extract --hierarchy`` output: Spark reads back the in-memory
    schema (made nullable, as Spark writes every file column), the Parquet
    lists keep their ``element`` names and nullability, and there is one
    row per input turn."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    from ocr_mini_service_spark.hierarchy import write_hierarchy
    from ocr_mini_service_spark.schema import TRANSCRIPTS

    pdf = gen_transcripts(40)
    sdf = spark.createDataFrame(pdf, schema=TRANSCRIPTS)
    levels = ("blocks", "paragraphs", "lines")
    readback = _parse_datatype_string(
        "conv_id string, turn_idx int, " + ", ".join(f"{c} {_ELEMENT_DDL}" for c in levels)
    )
    in_memory = StructType(
        [StructField("conv_id", readback["conv_id"].dataType, False),
         StructField("turn_idx", readback["turn_idx"].dataType, False)]
        + [StructField(c, readback[c].dataType, False) for c in levels]
    )
    assert extract_hierarchy(sdf).schema == in_memory

    out = str(tmp_path / "hierarchy")
    write_hierarchy(sdf, out)
    back = spark.read.parquet(out)
    assert back.schema == readback
    assert back.count() == len(pdf)
    assert back.select("conv_id", "turn_idx").distinct().count() == len(pdf)

    element = pa.struct(
        [("id", pa.string()), ("content", pa.string())]
        + [(f, pa.float64()) for f in ("left", "top", "width", "height")]
        + [("child_ids", pa.list_(pa.field("element", pa.string())))]
    )
    want = pa.schema(
        [pa.field("conv_id", pa.string(), False), pa.field("turn_idx", pa.int32(), False)]
        + [pa.field(c, pa.list_(pa.field("element", element)), False) for c in levels]
    )
    files = list((tmp_path / "hierarchy").glob("*.parquet"))
    assert files
    for f in files:
        assert pq.read_schema(f).remove_metadata().equals(want), f
