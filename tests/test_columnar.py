"""The columnar kernel (``columnar.extract_batch``) against the per-turn
oracle (``kernel.extract_turn``), without Spark.

- a differential property: hypothesis batches that mix canonical turns with
  hostile ones (non-canonical integer cells, edge whitespace, missing or
  malformed page lines, short and long rows, unsupported languages,
  malformed ``tool`` JSON) give, row by row and in input order, what the
  oracle gives, floats compared by ``repr``;
- fast-path coverage: on the default synth mix only the named edge turns
  reach the per-turn fallback, so a too-strict shape check cannot hide
  behind a matching output;
- the stored character classes equal a fresh scan of every code point;
- group means add left to right on every interpreter.
"""

import json
import math
import sys

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ocr_mini_service_spark import columnar, kernel
from ocr_mini_service_spark.pipeline import _arrow_extracted_schema
from ocr_mini_service_spark.synth import TSV_HEADER, gen_transcripts

SCHEMA = _arrow_extracted_schema()
W = H = 1000


def _canon(x):
    """Nested output value with floats as repr (nan-safe)."""
    if isinstance(x, float):
        return "nan" if math.isnan(x) else repr(x)
    if isinstance(x, dict):
        return {k: _canon(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_canon(v) for v in x]
    return x


def _batch(turns, langs=None):
    cols = {
        "conv_id": pa.array([t[0] for t in turns], pa.string()),
        "turn_idx": pa.array([t[1] for t in turns], pa.int32()),
        "text": pa.array([t[2] for t in turns], pa.string()),
        "tool": pa.array([t[3] for t in turns], pa.string()),
    }
    if langs is not None:
        cols["lang"] = pa.array(langs, pa.string())
    return pa.RecordBatch.from_pydict(cols)


def _oracle(batch):
    d = batch.to_pydict()
    langs = d.get("lang", [None] * batch.num_rows)
    return [kernel.extract_turn(c, t, x, tl, lg) for c, t, x, tl, lg in
            zip(d["conv_id"], d["turn_idx"], d["text"], d["tool"], langs)]


def _assert_matches_oracle(batch):
    got = columnar.extract_batch(batch, SCHEMA)
    assert got.schema == SCHEMA
    want = _oracle(batch)
    assert got.num_rows == len(want)
    for i, (g, w) in enumerate(zip(got.to_pylist(), want)):
        assert _canon(g) == _canon(w), f"row {i}"


@pytest.fixture
def fallback_calls(monkeypatch):
    """(conv_id, turn_idx) of every turn sent to the per-turn kernel."""
    calls = []
    real = kernel.extract_turn

    def spy(conv_id, turn_idx, *args):
        calls.append((conv_id, turn_idx))
        return real(conv_id, turn_idx, *args)

    monkeypatch.setattr(kernel, "extract_turn", spy)
    return calls


# -- hostile batches ---------------------------------------------------------

_HOSTILE = {
    # values the columnar kernel must send to the per-turn kernel, or read
    # exactly as it does
    "int": ["05", " 5", "+5", "5x", "1_0", "١٢", "1234567890123456",
            "123456789012345", "-0", "-7", "", "x", "5\x1c", "\x1c5"],
    "level": ["05", " 5", "+5", "5x", "\x0b5", "\x1c5", "٥", "-5", "", "4", "1"],
    "word": [" ", " lead", "trail ", "\x1cx", "x\u3000", "\u3000", "a b", "x\x85"],
    "dim": ["0", "05", "+9", "x", "-0", "1234567890123456"],
    "pad": [" ", "\n", "\x1c", "\u3000", "\x85"],
}
_word_text = st.one_of(
    st.sampled_from(["jump", "Größe", "GYM", "Ç", "(a)", "ok", "hill", "Ju", "query;", ""]),
    st.text(alphabet=st.characters(blacklist_categories=("Cs", "Zs", "Zl", "Zp", "Cc")),
            max_size=5),
)


@st.composite
def _row(draw):
    """A canonical word row; small tops and heights make baselines collide."""
    cells = [draw(st.sampled_from(["5"] * 6 + ["4", "3"])), "1"]
    cells += [str(draw(st.integers(0, 9))) for _ in range(4)]
    cells += [str(draw(st.integers(0, 1000))), str(draw(st.integers(0, 30))),
              str(draw(st.integers(0, 300))), str(draw(st.integers(0, 30))),
              str(draw(st.integers(-1, 100)))]
    cells.append(draw(_word_text))
    delta = draw(st.sampled_from([0, 0, 0, 0, 0, 1, -1, -6]))
    return cells + ["extra"] * delta if delta > 0 else cells[:len(cells) + delta]


def _page_cells(w, h):
    # a non-blank last cell: a text ending in a tab would be stripped
    return ["1", "1", "0", "0", "0", "0", "0", "0", w, h, "-1", "page"]


@st.composite
def _text(draw):
    """A TSV turn with at most one defect, so that each fallback rule is met
    on its own in otherwise columnar turns."""
    kind = draw(st.sampled_from(["tsv"] * 8 + ["none", "empty", "header"]))
    if kind == "none":
        return None
    if kind == "empty":
        return ""
    if kind == "header":
        return TSV_HEADER
    rows = draw(st.lists(_row(), max_size=12))
    page = _page_cells(str(W), str(draw(st.sampled_from([H, 200, 1000, 2000]))))
    defect = draw(st.sampled_from([None] * 6 + sorted(_HOSTILE) + ["no_page", "page_cells"]))
    pick = st.sampled_from
    wide = [r for r in rows if len(r) >= 12]
    if defect == "int" and wide:
        draw(pick(wide))[draw(st.integers(2, 10))] = draw(pick(_HOSTILE["int"]))
    elif defect == "level" and wide:
        draw(pick(wide))[0] = draw(pick(_HOSTILE["level"]))
    elif defect == "word" and wide:
        draw(pick(wide))[11] = draw(pick(_HOSTILE["word"]))
    elif defect == "dim":
        page[draw(pick([8, 9]))] = draw(pick(_HOSTILE["dim"]))
    elif defect == "page_cells":
        page = page[:11] if draw(st.booleans()) else page + ["x"]
    lines = ["\t".join(r) for r in rows]
    if defect != "no_page":
        lines.insert(draw(st.integers(0, len(lines))), "\t".join(page))
    text = "\n".join([TSV_HEADER, *lines])
    if defect == "pad":
        p = draw(pick(_HOSTILE["pad"]))
        text = p + text if draw(st.booleans()) else text + p
    return text


_point = st.integers(-50, 1100)


@st.composite
def _tool(draw):
    kind = draw(st.sampled_from(["codes", "codes", "", "", "none", "bad", "zero"]))
    if kind == "none":
        return None
    if kind in ("", "bad"):
        return "" if kind == "" else "{not json"
    codes = [{"points": [{"x": draw(_point), "y": draw(_point)}
                         for _ in range(draw(st.integers(0, 3)))],
              "data": "d", "typeName": "qr_code"} for _ in range(draw(st.integers(0, 3)))]
    w = 0 if kind == "zero" else W
    return json.dumps({"width": w, "height": H, "codes": codes})


_lang = st.sampled_from([None, "", "deu", "eng", "deu+eng", "fra", "deu+", "+", "eng+osd"])


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(_text(), _tool(), _lang), min_size=1, max_size=10),
       st.booleans())
def test_columnar_matches_per_turn_kernel(turns, with_lang):
    batch = _batch([(f"c{i % 3}", i, text, tool) for i, (text, tool, _) in enumerate(turns)],
                   [lg for _, _, lg in turns] if with_lang else None)
    _assert_matches_oracle(batch)


def _hostile_turns():
    """One canonical turn, then one turn per hostile value at each place it
    can sit, each otherwise canonical."""
    page = _page_cells("1000", "800")
    rows = [["5", "1", "0", "0", "0", str(i), str(100 * i), "20", "50", "30", "90", w]
            for i, w in enumerate(["jump", "ok", "GYM"])]

    def tsv(page=page, rows=rows, where=None, value=None, pad=""):
        rows = [list(r) for r in rows]
        if where is not None:
            rows[1][where] = value
        body = "\n".join([TSV_HEADER, *("\t".join(r) for r in [page, *rows] if r)])
        return [pad + body, body + pad]

    turns = tsv()[:1]
    for v in _HOSTILE["level"]:
        turns += tsv(where=0, value=v)[:1]
    for v in _HOSTILE["word"]:
        turns += tsv(where=11, value=v)[:1]
    for v in _HOSTILE["int"]:
        for k in range(2, 11):
            turns += tsv(where=k, value=v)[:1]
    for v in _HOSTILE["dim"]:
        turns += tsv(page=page[:8] + [v, "800"] + page[10:]) + tsv(page=page[:9] + [v] + page[10:])
    for v in _HOSTILE["pad"]:
        turns += tsv(pad=v)
    return turns + tsv(page=[])[:1] + tsv(page=page[:11])[:1] + tsv(page=page + ["x"])[:1]


def test_each_hostile_cell_matches_the_oracle(fallback_calls):
    """Every hostile value, each in a turn of its own, between canonical turns
    (which stay columnar)."""
    hostile = _hostile_turns()
    turns = []
    for i, text in enumerate(hostile):
        turns += [("ok", 2 * i, hostile[0], ""), ("bad", 2 * i + 1, text, "")]
    batch = _batch(turns)
    _assert_matches_oracle(batch)
    fallback_calls.clear()
    columnar.extract_batch(batch, SCHEMA)
    assert fallback_calls and all(c == "bad" for c, _ in fallback_calls)


def test_fallback_rows_keep_their_position(fallback_calls):
    good = gen_transcripts(4, seed=3, edge_cases=False)
    g = list(zip(good["conv_id"], good["text"], good["tool"]))
    no_page = "\n".join([TSV_HEADER, "5\t1\t0\t0\t0\t0\t10\t10\t50\t30\t90\torphan"])
    padded = " " + g[0][1]
    turns = [(g[0][0], 0, g[0][1], g[0][2]), ("x", 1, no_page, ""),
             (g[1][0], 2, g[1][1], g[1][2]), ("y", 3, padded, ""),
             (g[2][0], 4, g[2][1], g[2][2])]
    batch = _batch(turns)
    _assert_matches_oracle(batch)
    fallback_calls.clear()
    columnar.extract_batch(batch, SCHEMA)
    assert fallback_calls == [("x", 1), ("y", 3)]


def test_tolerance_and_touching_codes_match_the_oracle():
    """Baselines exactly BASELINE_TOLERANCE apart share a group (so the words
    sort by left); a code touching a word's edge does not drop it."""
    page = "1\t1\t0\t0\t0\t0\t0\t0\t1000\t400\t-1\t"
    text = "\n".join([TSV_HEADER, page,
                      "5\t1\t0\t0\t0\t0\t300\t0\t10\t0\t90\ta",   # baseline 0
                      "5\t1\t0\t0\t0\t1\t100\t0\t10\t1\t90\tb",   # baseline 1/400
                      "5\t1\t0\t0\t1\t0\t500\t200\t100\t40\t90\tc"])
    touch = {"points": [{"x": 600, "y": 0}, {"x": 700, "y": 400}], "data": "t", "typeName": "x"}
    batch = _batch([("c", 0, text, json.dumps({"width": 1000, "height": 400, "codes": [touch]}))])
    assert columnar.extract_batch(batch, SCHEMA).column("extracted_text").to_pylist() == ["b a c"]
    _assert_matches_oracle(batch)


def test_unsupported_language_keeps_the_error_text():
    batch = _batch([("c", 0, "\n".join([TSV_HEADER, "1\t" * 11]), ""), ("c", 1, None, "{")],
                   ["fra+deu", "deu+"])
    out = columnar.extract_batch(batch, SCHEMA).to_pylist()
    assert [r["error"] for r in out] == [
        "ocr_failed: unsupported language: fra+deu",
        "ocr_failed: unsupported language: deu+; codes_failed: "
        "Expecting property name enclosed in double quotes: line 1 column 2 (char 1)",
    ]
    _assert_matches_oracle(batch)


# -- fast-path coverage ----------------------------------------------------------


def test_synth_mix_takes_the_columnar_path(fallback_calls):
    """Every generated turn is extracted columnar; of the edge turns only the
    whitespace-only word (edge 3) and the missing page line fall back."""
    df = gen_transcripts(3000, seed=1)
    table = pa.Table.from_pandas(df[["conv_id", "turn_idx", "text", "tool"]],
                                 preserve_index=False)
    got = [r for b in table.to_batches(max_chunksize=1024)
           for r in columnar.extract_batch(b, SCHEMA).to_pylist()]
    assert sorted(fallback_calls) == [("conv_edge", 2), ("conv_edge", 14)]
    fallback_calls.clear()
    want = _oracle(pa.RecordBatch.from_pandas(df[["conv_id", "turn_idx", "text", "tool"]],
                                              preserve_index=False))
    assert [_canon(r) for r in got] == [_canon(r) for r in want]


# -- stored constants ------------------------------------------------------------


def _ranges(pred):
    out = []
    for cp in range(sys.maxunicode + 1):
        if 0xD800 <= cp <= 0xDFFF or not pred(chr(cp)):
            continue
        if out and out[-1][1] == cp - 1:
            out[-1][1] = cp
        else:
            out.append([cp, cp])
    return tuple(map(tuple, out))


def test_descender_class_is_every_code_point_lowering_to_a_descender():
    assert columnar.DESCENDER_RANGES == _ranges(
        lambda c: not kernel.DESCENDER_CHARS.isdisjoint(c.lower()))


def test_space_class_is_str_isspace():
    assert columnar.SPACE_RANGES == _ranges(str.isspace)


def test_group_sums_round_like_builtin_sum():
    """Both kernels add a group's baselines left to right, as the reference's
    ``reduce`` and Python 3.11's ``sum()`` do; the compensated ``sum()`` of
    Python 3.12+ gives ≈2.6 here, so the value is fixed, not ``sum()``'s."""
    values = [1e16, 1.0, 1.0, -1e16, 0.1, 0.2, 0.3]
    got = columnar._group_sums(np.array(values), np.array([0]), np.array([len(values)]))
    assert repr(got[0]) == "0.6000000000000001"
    assert repr(kernel._baseline_sum([{"baseline": v} for v in values])) == "0.6000000000000001"
