"""Pure-Python per-turn semantics kernel: the serial oracle.

``extract_turn`` is what ``oracle.py`` runs and what every Spark path is
checked against.  The production path (``columnar.extract_batch``) computes
the same output a whole Arrow batch at a time and calls ``extract_turn`` only
as its fallback, for turns whose shape it does not model; it also reuses
``parse_codes``, ``det_id`` and ``validate_language``.  The hierarchy rollup
(``hierarchy.py``) parses each turn with ``parse_tsv_blocks`` and uses
``det_id`` and ``js_div``.

Every function re-derives (NOT copies) the behavior of the reference
service at ``/root/reference``:

- TSV parse / normalize / level-5 filter / baseline:
  ``src/types/parse-tsv-output.function.ts:134-201``
- descender set + baseline factor: ``parse-tsv-output.function.ts:5-90``
- greedy reading-order clustering: ``parse-tsv-output.function.ts:208-250``
- code bbox min/max normalization: ``src/ocr/code-reader.service.ts:51-105``
- rectangle-overlap anti-join: ``src/ocr/image-recognition.service.ts:252-302``
- per-branch error isolation (failed branch -> empty list, turn still
  completes): ``src/ocr/image-recognition.service.ts:164-173``
- empty / <2-line TSV guard: ``src/ocr/ocr.service.ts:263-293``

No Spark imports here: the module must be importable by the oracle and by
Python workers alike.
"""

from __future__ import annotations

import hashlib
import json
import math
from typing import Any

# Characters whose glyphs extend below the baseline
# (re-derivation of /root/reference/src/types/parse-tsv-output.function.ts:5-64;
# the two uppercase entries there are unreachable post-lowercase but kept for parity).
DESCENDER_CHARS = frozenset(
    "gjpqy"
    "çģķļąęįųșțȘȚ"
    "ŋɟʝɡɣʄȷ"
    ",;‚„¿"
    "()[]{}"
    "∫∮∂ƒ₍₎"
    "₤₺₥₰"
)

# Descender space ~= 23% of text height (parse-tsv-output.function.ts:67)
DESCENDER_FACTOR = 0.23

# Baseline grouping tolerance (parse-tsv-output.function.ts:209)
BASELINE_TOLERANCE = 0.0025

# Regex char-class equivalent of DESCENDER_CHARS, usable in Spark F.rlike /
# pandas str.contains.  ']' '[' '(' ')' '{' '}' escaped for regex safety.
DESCENDER_REGEX = "[gjpqyçģķļąęįųșț" "ŋɟʝɡɣʄȷ" ",;‚„¿" r"\(\)\[\]\{\}" "∫∮∂ƒ₍₎₤₺₥₰]"

# Per-turn language option (ocr.service.ts:149-153: `language: string = 'deu'`,
# passed to the engine as `-l <lang>`, '+'-combinable e.g. 'deu+eng';
# ocr.service.ts:354-374 lists the installed set at runtime).  This is our
# engine's installed-language analog: the traineddata set of the reference's
# Docker image (docker/Dockerfile installs tesseract-ocr-data-deu/-eng plus
# the osd default).  An unknown code makes tesseract exit non-zero
# (ocr.service.ts:240-246) -> the OCR branch fails, the turn still completes
# with empty words + error (image-recognition.service.ts:164-173, 205-224).
SUPPORTED_LANGUAGES = frozenset({"deu", "eng", "osd"})
DEFAULT_LANGUAGE = "deu"

# Doc-level confidence (golden: example-ocr-response.json:4 carries a
# document "confidence" = mean of the word confidences): mean over kept
# words, computed as an exact integer sum of round(conf*1e5) then two fixed
# divisions — order-independent, so the serial kernel, distributed Spark
# aggregation, and SQL oracles agree bit-for-bit.
CONF_QUANT = 100_000


def validate_language(lang: str) -> bool:
    """True iff every '+'-joined component is an installed language code
    (tesseract accepts combos like 'deu+eng', ocr.service.ts:149)."""
    parts = lang.split("+")
    return all(p in SUPPORTED_LANGUAGES for p in parts) and bool(parts)


def mean_confidence(confs: list[float]) -> float | None:
    """Quantized-integer mean (see CONF_QUANT note): NaN confidences are
    excluded; None when nothing remains."""
    qs = [round(c * CONF_QUANT) for c in confs if not math.isnan(c)]
    if not qs:
        return None
    return (sum(qs) / len(qs)) / float(CONF_QUANT)


def js_parse_int(s: str) -> float:
    """Semantics of JS ``parseInt(s)`` (radix 10): skip leading whitespace,
    optional sign, consume decimal digits; NaN if none.

    Fast path: CPython's int() accepts exactly the sign+digits(+surrounding
    whitespace) inputs on which it agrees with parseInt — except numeric
    underscores ("1_0" → 10 vs parseInt 1) and non-ASCII digits
    (int("١٢") == 12 where parseInt gives NaN), so those take the slow
    path."""
    try:
        if "_" not in s and s.isascii():
            return float(int(s))
    except ValueError:
        pass
    return _js_parse_int_slow(s)


def _js_parse_int_slow(s: str) -> float:
    i, n = 0, len(s)
    while i < n and s[i] in " \t\n\r\v\f":
        i += 1
    sign = 1
    if i < n and s[i] in "+-":
        sign = -1 if s[i] == "-" else 1
        i += 1
    j = i
    while j < n and s[j].isdigit() and s[j].isascii():
        j += 1
    if j == i:
        return math.nan
    return float(sign * int(s[i:j]))


def js_div(a: float, b: float) -> float:
    """IEEE-754 division with JS zero semantics: x/0 -> ±inf, 0/0 -> nan."""
    if b == 0:
        if math.isnan(a) or a == 0:
            return math.nan
        return math.inf if (a > 0) == (b >= 0) else -math.inf
    return a / b


def has_descenders(text: str) -> bool:
    """parse-tsv-output.function.ts:78-81 — membership over lowercased chars
    (C-level set disjointness, not a Python-loop any())."""
    return not DESCENDER_CHARS.isdisjoint(text.lower())


def calculate_baseline(text: str, top: float, height: float) -> float:
    """parse-tsv-output.function.ts:76-90."""
    if has_descenders(text):
        return top + height * (1 - DESCENDER_FACTOR)
    return top + height


def det_id(*parts: Any) -> str:
    """Deterministic surrogate for the reference's random nanoid
    (nanoid.function.ts:7-10): sha256 of '|'-joined parts, first 16 hex chars.
    Reproducible across engine / oracle / SQL (sha2(concat_ws('|', ...), 256))."""
    return hashlib.sha256("|".join(map(str, parts)).encode("utf-8")).hexdigest()[:16]


def parse_tsv_blocks(tsv_content: str) -> tuple[float, float, list[dict]]:
    """Raw-block parse: every >=12-column TSV row, levels 1-5.  It serves the
    hierarchy rollup (``hierarchy.py``) and the hierarchy test oracle.

    Mirror of ocr.service.ts:263-293 guards + parse-tsv-output.function.ts
    :134-170 minus normalization/word-filter.  Returns
    ``(page_w, page_h, rows)`` where rows keep raw pixel ints / raw conf and an
    emission ordinal ``line_no`` (reading-order clustering is order-dependent,
    so emission order is part of the contract).  Raises ValueError where the
    reference throws (no page line -> caught by the error-isolation wrapper).
    """
    if tsv_content is None or len(tsv_content) == 0:
        return 0.0, 0.0, []  # ocr.service.ts:271-274 empty file
    lines = tsv_content.strip().split("\n")
    if len(lines) < 2:
        return 0.0, 0.0, []  # ocr.service.ts:281-283
    data_lines = lines[1:]  # skip header (parse-tsv-output.function.ts:139)

    # Page-dims lookup: FIRST line whose first character is '1'
    # (parse-tsv-output.function.ts:144-148; a first-char test, not level==1).
    page_line = next((x for x in data_lines if x[:1] == "1"), None)
    if page_line is None:
        # JS: undefined.split throws TypeError -> wrapped error upward
        raise ValueError("Failed to parse OCR results: no page line")
    cols = page_line.split("\t")
    if len(cols) == 12:  # exactly 12 (parse-tsv-output.function.ts:146-148)
        page_w, page_h = js_parse_int(cols[8]), js_parse_int(cols[9])
    else:
        page_w, page_h = 0.0, 0.0

    rows: list[dict] = []
    for line_no, line in enumerate(data_lines):
        columns = line.split("\t")
        if len(columns) < 12:  # parse-tsv-output.function.ts:151-154
            continue
        rows.append(
            {
                "line_no": line_no,
                "level": js_parse_int(columns[0]),
                "page_num": js_parse_int(columns[1]),
                "block_num": js_parse_int(columns[2]),
                "par_num": js_parse_int(columns[3]),
                "line_num": js_parse_int(columns[4]),
                "word_num": js_parse_int(columns[5]),
                "left_px": js_parse_int(columns[6]),
                "top_px": js_parse_int(columns[7]),
                "width_px": js_parse_int(columns[8]),
                "height_px": js_parse_int(columns[9]),
                "conf_raw": js_parse_int(columns[10]),
                "text": columns[11],
            }
        )
    return page_w, page_h, rows


def parse_tsv_words(tsv_content: str) -> list[dict]:
    """Word-level parse — parse-tsv-output.function.ts:134-196 minus the
    reading-order sort (``reading_order``, applied by ``extract_turn``):
    normalize coords by page dims, conf/100, keep level-5 non-blank rows,
    compute baseline.

    Hot-path variant of ``parse_tsv_blocks`` + filter: numeric fields of
    non-word rows are never observable in the output (the reference parses
    then discards them), so only the level column is parsed before the
    level-5/non-blank filter."""
    if tsv_content is None or len(tsv_content) == 0:
        return []  # ocr.service.ts:271-274 empty file
    lines = tsv_content.strip().split("\n")
    if len(lines) < 2:
        return []  # ocr.service.ts:281-283
    data_lines = lines[1:]

    page_line = next((x for x in data_lines if x[:1] == "1"), None)
    if page_line is None:
        raise ValueError("Failed to parse OCR results: no page line")
    cols = page_line.split("\t")
    if len(cols) == 12:
        page_w, page_h = js_parse_int(cols[8]), js_parse_int(cols[9])
    else:
        page_w, page_h = 0.0, 0.0

    words: list[dict] = []
    jpi, jdiv = js_parse_int, js_div  # local binds — hot loop
    for line in data_lines:
        columns = line.split("\t")
        if len(columns) < 12:  # parse-tsv-output.function.ts:151-154
            continue
        # canonical "5" short-circuit (jpi("5") == 5.0 exactly)
        if columns[0] != "5" and jpi(columns[0]) != 5:
            continue
        text = columns[11]
        t = text.strip()
        if not t:  # level-5 + non-blank filter (:173)
            continue
        top = jdiv(jpi(columns[7]), page_h)
        height = jdiv(jpi(columns[9]), page_h)
        words.append(
            {
                "block_num": int(jpi(columns[2])),
                "par_num": int(jpi(columns[3])),
                "line_num": int(jpi(columns[4])),
                "word_num": int(jpi(columns[5])),
                "left": jdiv(jpi(columns[6]), page_w),
                "top": top,
                "width": jdiv(jpi(columns[8]), page_w),
                "height": height,
                "conf": jpi(columns[10]) / 100.0,
                "text": t,
                "baseline": calculate_baseline(t, top, height),
            }
        )
    return words


def _baseline_sum(group: list[dict]) -> float:
    """The group's baselines added left to right from 0, as the reference's
    ``reduce`` does (parse-tsv-output.function.ts:237-241).  Not ``sum()``:
    Python 3.12 and later compensate float sums, which rounds differently."""
    total = 0.0
    for w in group:
        total += w["baseline"]
    return total


def reading_order(words: list[dict]) -> list[dict]:
    """Greedy order-dependent clustering — parse-tsv-output.function.ts:208-250.

    (a) each word joins the FIRST existing group whose FIRST member's baseline
        is within BASELINE_TOLERANCE (inclusive), else opens a new group;
    (b) groups sorted by average baseline ascending (stable);
    (c) words within a group sorted by ``left`` ascending (stable);
    flatten.  NOT expressible as a window function (anchor = first member).
    """
    if not words:
        return words
    # groups as (anchor_baseline, members) — anchor = FIRST member's baseline
    groups: list[tuple[float, list[dict]]] = []
    tol = BASELINE_TOLERANCE
    for w in words:
        wb = w["baseline"]
        for anchor, members in groups:
            if abs(wb - anchor) <= tol:
                members.append(w)
                break
        else:
            groups.append((wb, [w]))
    glist = [members for _, members in groups]
    glist.sort(key=lambda g: _baseline_sum(g) / len(g))
    for g in glist:
        g.sort(key=lambda x: x["left"])
    return [w for g in glist for w in g]


def parse_codes(tool_json: str) -> list[dict]:
    """Mirror of code-reader.service.ts:51-105 over the transcripts ``tool``
    payload: ``{"width": W, "height": H, "codes": [{"points": [{"x","y"},...],
    "data": str, "typeName": str}, ...]}``.

    bbox = min/max over polygon points normalized by image dims; content is the
    payload string; type upper-cased (code-reader.service.ts:64-90).  Symbols
    with an empty ``points`` array are skipped (guard for the reference's
    ``Math.min(...[]) == Infinity`` edge, code-reader.service.ts:68; see
    FIXTURES.md edge 11).  Raises on malformed JSON (error-isolation wrapper
    turns that into an empty code list, image-recognition.service.ts:169-172).
    """
    if tool_json is None or tool_json == "":
        return []
    payload = json.loads(tool_json)  # malformed -> raises, isolated by caller
    width = float(payload["width"])
    height = float(payload["height"])
    codes: list[dict] = []
    for sym in payload.get("codes", []):
        points = sym.get("points") or []
        if not points:
            continue  # guarded Infinity edge
        xs = [float(p["x"]) for p in points]
        ys = [float(p["y"]) for p in points]
        codes.append(
            {
                "left": js_div(min(xs), width),
                "top": js_div(min(ys), height),
                "width": js_div(max(xs) - min(xs), width),
                "height": js_div(max(ys) - min(ys), height),
                "content": str(sym.get("data", "")),
                "code_type": str(sym.get("typeName", "")).upper(),
            }
        )
    return codes


def rectangles_overlap(r1: dict, r2: dict) -> bool:
    """image-recognition.service.ts:285-302 — boundary touch (<=) is NOT
    overlap."""
    no_overlap = (
        r1["left"] + r1["width"] <= r2["left"]
        or r2["left"] + r2["width"] <= r1["left"]
        or r1["top"] + r1["height"] <= r2["top"]
        or r2["top"] + r2["height"] <= r1["top"]
    )
    return not no_overlap


def filter_overlapping(words: list[dict], codes: list[dict]) -> list[dict]:
    """Existential overlap anti-join — image-recognition.service.ts:252-276.
    Empty build side returns the identity (:256-258)."""
    if not codes:
        return words
    return [w for w in words if not any(rectangles_overlap(w, c) for c in codes)]


def extract_turn(
    conv_id: str, turn_idx: int, text: str, tool: str, lang: str | None = None
) -> dict:
    """Full per-turn extraction ≅ one `_processImageAsync` unit
    (image-recognition.service.ts:148-243): two isolated branches, overlap
    anti-join, assembly into extracted text + character spans + metrics.

    ``spans[i] = (start, end)`` — end-exclusive character offsets of kept word
    i within ``extracted_text`` (words are space-joined in reading order, so
    start(i+1) = end(i) + 1).

    ``lang`` is the per-turn engine-options seam (the reference threads a
    ``language`` option from the request body into the engine,
    image-recognition.controller.ts:101-128 -> ocr.service.ts:153,214; default
    'deu').  An unsupported code fails the OCR branch exactly like a non-zero
    tesseract exit (empty words + error, turn completes); the codes branch
    is language-independent (zbar takes no language).
    """
    errors: list[str] = []
    resolved_lang = lang if lang else DEFAULT_LANGUAGE

    if not validate_language(resolved_lang):
        # tesseract: "Error opening data file .../<lang>.traineddata" + exit 1
        ordered = []
        raw_words = []
        errors.append(f"ocr_failed: unsupported language: {resolved_lang}")
    else:
        try:
            raw_words = parse_tsv_words(text)
            ordered = reading_order(raw_words)
        except Exception as e:  # branch isolation -> [] words, turn completes
            ordered = []
            raw_words = []
            errors.append(f"ocr_failed: {e}")

    try:
        codes = parse_codes(tool)
    except Exception as e:
        codes = []
        errors.append(f"codes_failed: {e}")

    kept = filter_overlapping(ordered, codes)

    parts: list[str] = []
    spans: list[dict] = []
    pos = 0
    for w in kept:
        t = w["text"]
        if parts:
            pos += 1  # the joining space
        parts.append(t)
        spans.append({"start": pos, "end": pos + len(t)})
        pos += len(t)
    extracted_text = " ".join(parts)

    # det_id fast path: sha256 of the shared "conv|turn|" prefix is hashed
    # once and copy()d per word — identical digests to det_id(conv_id,
    # turn_idx, block, par, line, word), one hash-update over the same bytes
    base_h = hashlib.sha256(f"{conv_id}|{turn_idx}|".encode("utf-8"))
    out_words = []
    for w in kept:
        h = base_h.copy()
        h.update(
            f"{w['block_num']}|{w['par_num']}|{w['line_num']}|{w['word_num']}".encode("utf-8")
        )
        out_words.append(
            {
                "word_id": h.hexdigest()[:16],
                "text": w["text"],
                "confidence": w["conf"],
                "left": w["left"],
                "top": w["top"],
                "width": w["width"],
                "height": w["height"],
                "baseline": w["baseline"],
            }
        )
    out_codes = [
        {
            "code_id": det_id(conv_id, turn_idx, "code", i),
            "content": c["content"],
            "code_type": c["code_type"],
            "left": c["left"],
            "top": c["top"],
            "width": c["width"],
            "height": c["height"],
        }
        for i, c in enumerate(codes)
    ]

    return {
        "conv_id": conv_id,
        "turn_idx": turn_idx,
        "extracted_text": extracted_text,
        "confidence": mean_confidence([w["conf"] for w in kept]),
        "spans": spans,
        "words": out_words,
        "codes": out_codes,
        "n_blocks_kept": len(kept),
        "n_blocks_dropped": len(raw_words) - len(kept),
        "lang": resolved_lang,
        "error": "; ".join(errors) if errors else None,
    }
