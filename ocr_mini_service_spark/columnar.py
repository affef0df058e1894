"""Columnar extraction kernel: one Arrow ``RecordBatch`` of transcripts in,
one ``EXTRACTED`` RecordBatch out.

It computes what ``kernel.extract_turn`` computes, a batch at a time instead
of a turn at a time:

- the TSV is split into lines and cells with ``pyarrow.compute`` over the
  whole batch; numbers, normalization and baselines are numpy arrays indexed
  by list offsets;
- the greedy reading order runs across all turns at once, one step per word
  position (``_reading_order``);
- the overlap anti-join pairs each word with the codes of its own turn;
- ``words``, ``spans`` and ``codes`` are built with ``ListArray.from_arrays``
  and ``StructArray``.

The ``tool`` JSON is still parsed per turn by ``kernel.parse_codes`` (only
turns with a payload pay for it), and word ids are one ``sha256`` per word.

A turn whose shape this kernel does not model goes to ``kernel.extract_turn``,
the per-turn oracle, and its row is put back at its input position.  Those
turns are the ones whose

- text has leading or trailing ``str.isspace`` characters (``strip`` would
  change it);
- TSV has no page line (``ocr_failed``), or a page line without exactly 12
  cells, or a page width or height that is 0 or not a canonical integer;
- level cell other than ``"5"`` could still parse as 5 (``" 5"``, ``"05"``,
  ``"+5"``, ``"5x"``, ...);
- kept word has a numeric cell outside ``-?[0-9]{1,15}`` or a text cell with
  edge whitespace, or whose confidences sum past exact double range;
- ``conv_id`` or ``turn_idx`` is null.

The generated synth mix never falls back; of its edge turns only the
whitespace-only word and the missing page line do.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import kernel

# Code points whose ``str.lower()`` contains a ``kernel.DESCENDER_CHARS``
# member, as inclusive ranges: a regex over the original text then answers
# ``kernel.has_descenders`` without lowercasing.  Stored, not derived at
# import (a scan of all code points costs each Python worker over a second);
# tests/test_columnar.py recomputes it for the running interpreter.
DESCENDER_RANGES = (
    (0x28, 0x29), (0x2C, 0x2C), (0x3B, 0x3B), (0x47, 0x47), (0x4A, 0x4A),
    (0x50, 0x51), (0x59, 0x59), (0x5B, 0x5B), (0x5D, 0x5D), (0x67, 0x67),
    (0x6A, 0x6A), (0x70, 0x71), (0x79, 0x79), (0x7B, 0x7B), (0x7D, 0x7D),
    (0xBF, 0xBF), (0xC7, 0xC7), (0xE7, 0xE7), (0x104, 0x105), (0x118, 0x119),
    (0x122, 0x123), (0x12E, 0x12F), (0x136, 0x137), (0x13B, 0x13C),
    (0x14A, 0x14B), (0x172, 0x173), (0x191, 0x192), (0x194, 0x194),
    (0x218, 0x21B), (0x237, 0x237), (0x25F, 0x25F), (0x261, 0x261),
    (0x263, 0x263), (0x284, 0x284), (0x29D, 0x29D), (0x201A, 0x201A),
    (0x201E, 0x201E), (0x208D, 0x208E), (0x20A4, 0x20A5), (0x20B0, 0x20B0),
    (0x20BA, 0x20BA), (0x2202, 0x2202), (0x222B, 0x222B), (0x222E, 0x222E),
    (0xA7AC, 0xA7AC), (0xA7B2, 0xA7B2),
)

# Code points for which ``str.isspace()`` holds, i.e. what ``str.strip()``
# removes; RE2's ``\s`` is ASCII-only.
SPACE_RANGES = (
    (0x9, 0xD), (0x1C, 0x20), (0x85, 0x85), (0xA0, 0xA0), (0x1680, 0x1680),
    (0x2000, 0x200A), (0x2028, 0x2029), (0x202F, 0x202F), (0x205F, 0x205F),
    (0x3000, 0x3000),
)


def _char_class(ranges) -> str:
    """RE2 character class matching the given inclusive code-point ranges."""
    return "[" + "".join(
        f"\\x{{{lo:x}}}" if lo == hi else f"\\x{{{lo:x}}}-\\x{{{hi:x}}}" for lo, hi in ranges
    ) + "]"


_DESCENDER_RE = _char_class(DESCENDER_RANGES)
_EDGE_SPACE_RE = "^{0}|{0}$".format(_char_class(SPACE_RANGES))
# what js_parse_int reads exactly like int64 (15 digits stay exact as doubles)
_INT = "-?[0-9]{1,15}"
_INT_RE = f"^{_INT}$"
# a level-5 row whose cells 2-10 (block, par, line, word, left, top, width,
# height, conf) are all such integers, followed by a text cell
_WORD_ROW_RE = rf"^5\t[^\t]*\t(?:{_INT}\t){{9}}"
# a level cell other than "5" that js_parse_int could still read as 5: a
# leading whitespace it skips (a leading tab is an empty cell), a sign or a
# zero, or "5" followed by more
_MAYBE_LEVEL5_RE = r"^(?:[\x0b-\x0d +0]|5[^\t])"
_NUM_CELLS = np.arange(2, 11)
_BASELINE_FACTOR = 1 - kernel.DESCENDER_FACTOR
# quantized confidence sums stay exact in a double below 2**53; half of it
# leaves room for the float sum used as the check
_QSUM_LIMIT = float(2**52)


def _np_bool(arr) -> np.ndarray:
    """Boolean Arrow array → numpy, null as False."""
    return pc.fill_null(arr, False).to_numpy(zero_copy_only=False)


def _edge_space(strings) -> np.ndarray:
    """True where the string starts or ends with a ``str.isspace`` character."""
    return _np_bool(pc.match_substring_regex(strings, _EDGE_SPACE_RE))


def _cells(lines):
    """Split lines on tabs: (cell values, start offset per line, count per line)."""
    split = pc.split_pattern(lines, "\t")
    off = split.offsets.to_numpy()
    return split.values, off[:-1], np.diff(off)


def _parse_ints(cells) -> np.ndarray:
    """String cells as float64; a cell outside ``_INT_RE`` reads as 0."""
    ok = pc.match_substring_regex(cells, _INT_RE)
    safe = pc.if_else(pc.fill_null(ok, False), cells, "0")
    return pc.cast(safe, pa.int64()).to_numpy().astype(np.float64)


def _segment_ids(counts: np.ndarray) -> np.ndarray:
    return np.repeat(np.arange(len(counts)), counts)


def _resolve_langs(batch: pa.RecordBatch) -> tuple[pa.Array, np.ndarray]:
    """(resolved language per row, installed-language mask): a null or empty
    ``lang`` means ``kernel.DEFAULT_LANGUAGE``; each distinct value is
    validated once."""
    n = batch.num_rows
    if "lang" in batch.schema.names:
        lang = pc.cast(batch.column("lang"), pa.string())
        given = _np_bool(pc.not_equal(lang, ""))
        lang = pc.if_else(pa.array(given), lang, kernel.DEFAULT_LANGUAGE)
    else:
        lang = pc.fill_null(pa.nulls(n, pa.string()), kernel.DEFAULT_LANGUAGE)
    enc = pc.dictionary_encode(lang)
    valid = np.array([kernel.validate_language(v) for v in enc.dictionary.to_pylist()],
                     dtype=bool)
    return lang, valid[enc.indices.to_numpy()]


def _parse_words(text, parse: np.ndarray):
    """The TSV words of the rows in ``parse`` (their texts hold a newline and
    no edge whitespace, so ``strip`` is the identity).

    Returns ``(slow, words)``: ``slow`` marks rows the per-turn kernel must
    handle; ``words`` holds the level-5 non-blank words of the other parsed
    rows, in emission order, as numpy columns plus the ``text`` cells."""
    n = len(text)
    slow = np.zeros(n, dtype=bool)
    rows = np.flatnonzero(parse)
    split = pc.split_pattern(text.take(pa.array(rows)), "\n")
    loff = split.offsets.to_numpy()
    lines = split.values
    line_row = rows[_segment_ids(np.diff(loff))]
    data = np.ones(len(lines), dtype=bool)
    data[loff[:-1]] = False  # the header line of each turn

    # page dims: the first data line starting with '1', exactly 12 cells,
    # dims that are canonical integers (anything else reads as 0) and not 0
    page_idx = np.flatnonzero(data & _np_bool(pc.starts_with(lines, "1")))
    page_rows, first = np.unique(line_row[page_idx], return_index=True)
    has_page = np.zeros(n, dtype=bool)
    has_page[page_rows] = True
    slow[rows[~has_page[rows]]] = True  # no page line -> ocr_failed
    pvals, poff, pcount = _cells(lines.take(pa.array(page_idx[first])))
    twelve = pcount == 12
    dims = _parse_ints(pvals.take(pa.array((poff[:, None] + [8, 9])[twelve].ravel())))
    dims = dims.reshape(-1, 2)
    page_ok = np.zeros(len(page_rows), dtype=bool)
    page_ok[twelve] = (dims != 0).all(axis=1)
    slow[page_rows[~page_ok]] = True
    page_w = np.zeros(n)
    page_h = np.zeros(n)
    page_w[page_rows[twelve]], page_h[page_rows[twelve]] = dims[:, 0], dims[:, 1]

    # level-5 rows: the level cell is exactly "5"; any other cell that could
    # read as 5 sends its turn to the per-turn kernel
    level5 = data & _np_bool(pc.starts_with(lines, "5\t"))
    maybe5 = data & ~level5 & _np_bool(pc.match_substring_regex(lines, _MAYBE_LEVEL5_RE))
    slow[line_row[maybe5]] = True
    w_lines = lines.filter(pa.array(level5))
    nums_ok = _np_bool(pc.match_substring_regex(w_lines, _WORD_ROW_RE))
    cvals, coff, ccount = _cells(w_lines)
    wide = ccount >= 12
    w_row, coff, nums_ok = line_row[level5][wide], coff[wide], nums_ok[wide]
    wtext = cvals.take(pa.array(coff + 11))
    # a blank text cell is no word (the reference's level-5 + non-blank
    # filter), and its other cells are never read
    nonblank = _np_bool(pc.not_equal(wtext, ""))
    slow[w_row[_edge_space(wtext) | (nonblank & ~nums_ok)]] = True
    good = nonblank & nums_ok
    w_row, coff, wtext = w_row[good], coff[good], wtext.filter(pa.array(good))
    cells = cvals.take(pa.array((coff[:, None] + _NUM_CELLS).ravel()))
    nums = pc.cast(cells, pa.int64()).to_numpy().astype(np.float64).reshape(-1, len(_NUM_CELLS))
    # the quantized confidence mean must stay exact (see mean_confidence)
    q = np.rint(nums[:, 8] / 100.0 * kernel.CONF_QUANT)
    slow[np.bincount(w_row, weights=np.abs(q), minlength=n) >= _QSUM_LIMIT] = True

    keep = ~slow[w_row]
    w_row, nums, wtext = w_row[keep], nums[keep], wtext.filter(pa.array(keep))
    pw, ph = page_w[w_row], page_h[w_row]
    top, height = nums[:, 5] / ph, nums[:, 7] / ph
    desc = _np_bool(pc.match_substring_regex(wtext, _DESCENDER_RE))
    words = {
        "row": w_row,
        "ids": nums[:, :4].astype(np.int64),
        "left": nums[:, 4] / pw,
        "top": top,
        "width": nums[:, 6] / pw,
        "height": height,
        "conf": nums[:, 8] / 100.0,
        "baseline": np.where(desc, top + height * _BASELINE_FACTOR, top + height),
        "text": wtext,
    }
    return slow, words


def _group_sums(values: np.ndarray, first: np.ndarray, size: np.ndarray) -> np.ndarray:
    """Sum of each group ``values[first[g] : first[g] + size[g]]``, added left
    to right one member at a time, as ``kernel._baseline_sum`` does."""
    sums = values[first].copy()
    for r in range(1, int(size.max(initial=1))):
        act = size > r
        sums[act] += values[first[act] + r]
    return sums


def _reading_order(row: np.ndarray, baseline: np.ndarray, left: np.ndarray) -> np.ndarray:
    """Permutation of ``kernel.reading_order`` for all turns at once.

    ``row`` is sorted (words grouped by turn, in emission order).  Step k
    places the k-th word of every turn that has one: it joins the first
    group whose anchor (first member's baseline) lies within
    ``BASELINE_TOLERANCE``, else opens a group.  Words then sort by (turn,
    group mean, group index, left, arrival), the kernel's two stable sorts."""
    nw = len(row)
    if nw == 0:
        return np.empty(0, dtype=np.int64)
    _, start, count = np.unique(row, return_index=True, return_counts=True)
    by_len = np.argsort(-count, kind="stable")  # active turns form a prefix
    start_l, neg_count = start[by_len], -count[by_len]
    anchors = np.full((len(count), 16), np.nan)
    n_groups = np.zeros(len(count), dtype=np.int64)
    group = np.empty(nw, dtype=np.int64)
    for k in range(int(count.max())):
        m = int(np.searchsorted(neg_count, -k))  # turns with more than k words
        sel = start_l[:m] + k
        b = baseline[sel]
        ng = n_groups[:m]
        g = int(ng.max())
        if g:
            hit = np.abs(b[:, None] - anchors[:m, :g]) <= kernel.BASELINE_TOLERANCE
            joined, first_hit = hit.any(axis=1), hit.argmax(axis=1)
        else:
            joined, first_hit = np.zeros(m, dtype=bool), ng
        new = np.flatnonzero(~joined)
        if g == anchors.shape[1] and len(new):
            anchors = np.hstack([anchors, np.full_like(anchors, np.nan)])
        anchors[new, ng[new]] = b[new]
        group[sel] = np.where(joined, first_hit, ng)
        ng[new] += 1

    turn = _segment_ids(count)
    n_groups_t = np.empty_like(n_groups)
    n_groups_t[by_len] = n_groups
    gkey = (np.cumsum(n_groups_t) - n_groups_t)[turn] + group
    by_group = np.argsort(gkey, kind="stable")
    _, gfirst, gsize = np.unique(gkey[by_group], return_index=True, return_counts=True)
    means = _group_sums(baseline[by_group], gfirst, gsize) / gsize
    return np.lexsort((np.arange(nw), left, group, means[gkey], turn))


def _parse_codes(conv, turn, tool, rows: np.ndarray):
    """``kernel.parse_codes`` over the rows with a ``tool`` payload.

    Returns ``(codes, errors)``: per-code columns (``row`` first, in row and
    code order) and ``{row: "codes_failed: ..."}``."""
    tools = tool.to_pylist()
    cols = {k: [] for k in ("row", "code_id", "content", "code_type",
                            "left", "top", "width", "height")}
    errors = {}
    for i in rows.tolist():
        if not tools[i]:
            continue
        try:
            codes = kernel.parse_codes(tools[i])
        except Exception as e:  # branch isolation, as in extract_turn
            errors[i] = f"codes_failed: {e}"
            continue
        c, t = conv[i].as_py(), turn[i].as_py()
        for j, cd in enumerate(codes):
            cols["row"].append(i)
            cols["code_id"].append(kernel.det_id(c, t, "code", j))
            for k in ("content", "code_type", "left", "top", "width", "height"):
                cols[k].append(cd[k])
    return cols, errors


def _overlapping(words: dict, order: np.ndarray, codes: dict, n: int) -> np.ndarray:
    """Mask over ``order``: the word overlaps a code of its turn
    (``kernel.rectangles_overlap``; touching edges do not overlap)."""
    c_row = np.asarray(codes["row"], dtype=np.int64)
    n_codes = np.bincount(c_row, minlength=n)
    w_codes = n_codes[words["row"][order]]
    pair_w = _segment_ids(w_codes)
    first_code = (np.cumsum(n_codes) - n_codes)[words["row"][order]]
    pair_c = first_code[pair_w] + np.arange(len(pair_w)) - (np.cumsum(w_codes) - w_codes)[pair_w]
    wl, wt, ww, wh = (words[k][order][pair_w] for k in ("left", "top", "width", "height"))
    cl, ct, cw, ch = (np.asarray(codes[k], dtype=np.float64)[pair_c]
                      for k in ("left", "top", "width", "height"))
    with np.errstate(invalid="ignore"):  # inf - inf from zero-size images, as in Python
        apart = (wl + ww <= cl) | (cl + cw <= wl) | (wt + wh <= ct) | (ct + ch <= wt)
    return np.bincount(pair_w[~apart], minlength=len(order)) > 0


def _word_ids(conv, turn, row: np.ndarray, ids: np.ndarray) -> pa.Array:
    """``kernel.det_id(conv, turn, block, par, line, word)`` per word: the
    first 16 hex digits of ``sha256("conv|turn|block|par|line|word")``."""
    take = pa.array(row)
    parts = [pc.cast(conv.take(take), pa.string()), pc.cast(turn.take(take), pa.string())]
    parts += [pc.cast(pa.array(ids[:, k]), pa.string()) for k in range(4)]
    keys = pc.binary_join_element_wise(*parts, "|")
    _, offsets, data = keys.buffers()
    bounds = np.frombuffer(offsets, np.int32)[keys.offset:keys.offset + len(keys) + 1].tolist()
    data, sha = data.to_pybytes(), hashlib.sha256
    digests = b"".join([sha(data[a:b]).digest()[:8] for a, b in zip(bounds, bounds[1:])])
    return pa.Array.from_buffers(pa.string(), len(keys), [
        None, pa.py_buffer(np.arange(0, 16 * len(keys) + 1, 16, dtype=np.int32)),
        pa.py_buffer(digests.hex().encode())])


def _list(offsets: np.ndarray, values: pa.Array, typ: pa.DataType) -> pa.Array:
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values, type=typ)


def _offsets(row: np.ndarray, rows: np.ndarray, n: int) -> np.ndarray:
    """List offsets over ``rows`` for items tagged with their row."""
    return np.concatenate([[0], np.cumsum(np.bincount(row, minlength=n)[rows])])


def _typed(values, typ: pa.DataType) -> pa.Array:
    arr = values if isinstance(values, pa.Array) else pa.array(values)
    return arr if arr.type == typ else pc.cast(arr, typ)


def _struct(typ: pa.DataType, cols: dict) -> pa.StructArray:
    fields = list(typ.value_type)
    return pa.StructArray.from_arrays([_typed(cols[f.name], f.type) for f in fields],
                                      fields=fields)


def extract_batch(batch: pa.RecordBatch, schema: pa.Schema) -> pa.RecordBatch:
    """``kernel.extract_turn`` over every row of ``batch`` (columns
    ``conv_id, turn_idx, text, tool`` and optionally ``lang``), as one
    RecordBatch of ``schema`` with the rows in input order."""
    n = batch.num_rows
    conv, turn = batch.column("conv_id"), batch.column("turn_idx")
    text, tool = batch.column("text"), batch.column("tool")
    lang, lang_ok = _resolve_langs(batch)

    # The OCR branch needs at least two lines after strip(); a text with
    # edge whitespace (strip would change it) goes to the per-turn kernel.
    # Null keys would print as "None" in its ids; leave that to it as well.
    has_nl = _np_bool(pc.match_substring(text, "\n")) & lang_ok
    edge = has_nl & _edge_space(text)
    slow = edge | ~_np_bool(pc.is_valid(conv)) | ~_np_bool(pc.is_valid(turn))
    parse_slow, words = _parse_words(text, has_nl & ~slow)
    slow |= parse_slow
    fast = np.flatnonzero(~slow)

    codes, code_errors = _parse_codes(conv, turn, tool, fast)
    order = _reading_order(words["row"], words["baseline"], words["left"])
    if codes["row"]:
        order = order[~_overlapping(words, order, codes, n)]
    kept = {k: (v.take(pa.array(order)) if k == "text" else v[order]) for k, v in words.items()}
    w_off = _offsets(kept["row"], fast, n)
    n_kept = np.diff(w_off)
    n_raw = np.bincount(words["row"], minlength=n)[fast]

    # extracted_text and spans: words joined by single spaces, offsets in
    # code points, end-exclusive
    word_text = _list(w_off, kept["text"], pa.list_(pa.string()))
    step = pc.utf8_length(kept["text"]).to_numpy().astype(np.int64) + 1
    pos = np.cumsum(step) - step
    span_start = pos - np.repeat(pos[w_off[:-1][n_kept > 0]], n_kept[n_kept > 0])
    span_type = schema.field("spans").type
    spans = _list(w_off, _struct(span_type, {"start": span_start, "end": span_start + step - 1}),
                  span_type)

    q = np.rint(kept["conf"] * kernel.CONF_QUANT)
    qsum = np.bincount(kept["row"], weights=q, minlength=n)[fast]
    confidence = pa.array(np.where(n_kept > 0, qsum / np.maximum(n_kept, 1), 0.0)
                          / float(kernel.CONF_QUANT), mask=n_kept == 0)

    word_type = schema.field("words").type
    words_col = _list(w_off, _struct(word_type, {
        "word_id": _word_ids(conv, turn, kept["row"], kept["ids"]),
        "text": kept["text"], "confidence": kept["conf"], "left": kept["left"],
        "top": kept["top"], "width": kept["width"], "height": kept["height"],
        "baseline": kept["baseline"]}), word_type)
    code_type = schema.field("codes").type
    codes_col = _list(_offsets(np.asarray(codes["row"], dtype=np.int64), fast, n),
                      _struct(code_type, codes), code_type)

    errors = [None] * n
    unsupported = np.flatnonzero(~lang_ok)
    for i, lg in zip(unsupported.tolist(), lang.take(pa.array(unsupported)).to_pylist()):
        errors[i] = f"ocr_failed: unsupported language: {lg}"
    for i, e in code_errors.items():
        errors[i] = e if errors[i] is None else f"{errors[i]}; {e}"

    def rows(arr):
        return arr if len(fast) == n else arr.take(pa.array(fast))

    cols = {
        "conv_id": rows(conv), "turn_idx": rows(turn),
        "extracted_text": pc.binary_join(word_text, " "), "confidence": confidence,
        "spans": spans, "words": words_col, "codes": codes_col,
        "n_blocks_kept": n_kept, "n_blocks_dropped": n_raw - n_kept,
        "lang": rows(lang), "error": rows(pa.array(errors, pa.string())),
    }
    out = [_typed(cols[f.name], f.type) for f in schema]
    slow_rows = np.flatnonzero(slow)
    if len(slow_rows):
        out = _with_fallback(batch, schema, out, fast, slow_rows)
    return pa.RecordBatch.from_arrays(out, schema=schema)


def _with_fallback(batch, schema, out, fast, slow_rows) -> list:
    """Run ``kernel.extract_turn`` on ``slow_rows`` and interleave its rows
    with the columnar ones (``out``, rows ``fast``) in input order."""
    cols = {k: batch.column(k).take(pa.array(slow_rows)).to_pylist()
            for k in ("conv_id", "turn_idx", "text", "tool")}
    langs = (batch.column("lang").take(pa.array(slow_rows)).to_pylist()
             if "lang" in batch.schema.names else [None] * len(slow_rows))
    rows = [kernel.extract_turn(c, t, x, tl, lg) for c, t, x, tl, lg in zip(
        cols["conv_id"], cols["turn_idx"], cols["text"], cols["tool"], langs)]
    where = np.empty(len(fast) + len(slow_rows), dtype=np.int64)
    where[np.concatenate([fast, slow_rows])] = np.arange(len(where))
    return [pa.concat_arrays([col, pa.array([r[f.name] for r in rows], f.type)]).take(
        pa.array(where)) for col, f in zip(out, schema)]
