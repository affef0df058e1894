"""Deterministic synthetic transcript generator (FIXTURES.md §1-§5).

Produces the exact ``input_hint`` shape:
``transcripts(conv_id:string, turn_idx:int32, role:string, text:string,
tool:string, ts:timestamp)``.

The ``text`` payload is a Tesseract-style TSV document (header + one row per
layout element, levels 1..5) so block emission is fully deterministic and
identical for the Spark kernels and the pure-Python oracle — emission order is
part of the fixture spec because greedy reading-order clustering is
order-dependent (/root/reference/src/types/parse-tsv-output.function.ts:216-234).

The ``tool`` payload mirrors the ZBar symbol shape consumed by
/root/reference/src/ocr/code-reader.service.ts:64-90:
``{"width": W, "height": H, "codes": [{"points": [{"x","y"},...],
"data": "...", "typeName": "qr_code"}]}``.

All generation is seeded (seed=42 default); no external data; no Spark
imports (plain pandas so the oracle can run without a JVM).
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

TSV_HEADER = "level\tpage_num\tblock_num\tpar_num\tline_num\tword_num\tleft\ttop\twidth\theight\tconf\ttext"

# Vocabulary: mixed descender / non-descender / German / punctuation tokens
# (descender set: parse-tsv-output.function.ts:5-64)
_WORDS_NO_DESC = ["Hessisches", "Amt", "online", "rbuilds", "lattice", "SALE", "100", "dxIII", "strasse", "über", "möchte", "weiß", "Straße"]
_WORDS_DESC = ["für", "Versorgung", "jump", "query;", "page", "(note)", "groß,", "ąęč", "çédille", "typing", "plaza[1]", "{x}", "gyp"]
_CODE_TYPES = ["qr_code", "bar_code", "other"]


def _tsv_row(level, block, par, line, word, left, top, width, height, conf, text):
    return f"{level}\t1\t{block}\t{par}\t{line}\t{word}\t{left}\t{top}\t{width}\t{height}\t{conf}\t{text}"


def _gen_turn_text(rng: random.Random) -> tuple[str, int, int]:
    """One synthetic page as Tesseract-emission-ordered TSV. Returns
    (tsv, page_w, page_h)."""
    page_w = rng.randrange(800, 3000)
    page_h = rng.randrange(800, 3000)
    rows = [TSV_HEADER, _tsv_row(1, 0, 0, 0, 0, 0, 0, page_w, page_h, -1, "")]
    y = rng.randrange(20, 80)
    n_blocks = rng.randint(1, 3)
    for b in range(n_blocks):
        bx, by = rng.randrange(10, 120), y
        rows.append(_tsv_row(2, b, 0, 0, 0, bx, by, page_w - 2 * bx, 10, -1, ""))
        for p in range(rng.randint(1, 2)):
            rows.append(_tsv_row(3, b, p, 0, 0, bx, y, page_w - 2 * bx, 10, -1, ""))
            for ln in range(rng.randint(1, 4)):
                line_h = rng.randrange(24, 60)
                rows.append(_tsv_row(4, b, p, ln, 0, bx, y, page_w - 2 * bx, line_h, -1, ""))
                x = bx
                for wn in range(rng.randint(1, 8)):
                    w_px = rng.randrange(40, 200)
                    jitter = rng.randrange(0, 4)  # keeps baseline grouping interesting
                    vocab = _WORDS_DESC if rng.random() < 0.4 else _WORDS_NO_DESC
                    text = rng.choice(vocab)
                    conf = rng.randrange(0, 101)
                    rows.append(
                        _tsv_row(5, b, p, ln, wn, x, y + jitter, w_px, line_h, conf, text)
                    )
                    x += w_px + rng.randrange(8, 30)
                y += line_h + rng.randrange(4, 20)
        y += rng.randrange(10, 40)
    return "\n".join(rows), page_w, page_h


def _gen_tool(rng: random.Random, page_w: int, page_h: int) -> str:
    codes = []
    for i in range(rng.randint(1, 3)):
        x0, y0 = rng.randrange(0, page_w - 100), rng.randrange(0, page_h - 100)
        w, h = rng.randrange(60, 400), rng.randrange(60, 400)
        pts = [
            {"x": x0, "y": y0},
            {"x": x0 + w, "y": y0},
            {"x": x0 + w, "y": y0 + h},
            {"x": x0, "y": y0 + h},
        ]
        codes.append(
            {"points": pts, "data": f"payload-{rng.randrange(10**6)}", "typeName": rng.choice(_CODE_TYPES)}
        )
    return json.dumps({"width": page_w, "height": page_h, "codes": codes})


def _edge_turns() -> list[tuple[str, str]]:
    """The 15 FIXTURES.md §5 edge cases as explicit (text, tool) turns."""
    W, H = 2000, 2000
    page = _tsv_row(1, 0, 0, 0, 0, 0, 0, W, H, -1, "")

    def doc(*rows):
        return "\n".join([TSV_HEADER, page, *rows])

    turns: list[tuple[str, str]] = []
    # 1 empty text
    turns.append(("", ""))
    # 2 header-only (<2 lines after trim)
    turns.append((TSV_HEADER, ""))
    # 3 whitespace-only words filtered
    turns.append((doc(_tsv_row(5, 0, 0, 0, 0, 10, 10, 50, 30, 90, "   "),
                      _tsv_row(5, 0, 0, 0, 1, 80, 10, 50, 30, 90, "kept")), ""))
    # 4 malformed <12-field rows skipped (plus a >12-field row: text = col 11)
    turns.append((doc("5\t1\t0\t0", _tsv_row(5, 0, 0, 0, 0, 10, 10, 50, 30, 90, "ok") + "\textra"), ""))
    # 5 zero codes → identity anti-join
    turns.append((doc(_tsv_row(5, 0, 0, 0, 0, 10, 10, 50, 30, 90, "alone")),
                  json.dumps({"width": W, "height": H, "codes": []})))
    # 6 every word overlaps a code → empty extracted_text
    turns.append((doc(_tsv_row(5, 0, 0, 0, 0, 100, 100, 50, 30, 90, "gone")),
                  json.dumps({"width": W, "height": H, "codes": [{
                      "points": [{"x": 0, "y": 0}, {"x": W, "y": 0}, {"x": W, "y": H}, {"x": 0, "y": H}],
                      "data": "full-page", "typeName": "qr_code"}]})))
    # 7 boundary-touching rectangles are NOT overlapping (<= semantics):
    #   word spans x [100,200); code starts exactly at 200
    turns.append((doc(_tsv_row(5, 0, 0, 0, 0, 100, 100, 100, 30, 90, "touch")),
                  json.dumps({"width": W, "height": H, "codes": [{
                      "points": [{"x": 200, "y": 100}, {"x": 300, "y": 100}, {"x": 300, "y": 130}, {"x": 200, "y": 130}],
                      "data": "adjacent", "typeName": "bar_code"}]})))
    # 8 baselines exactly 0.0025 apart (5px at H=2000) → same group (inclusive <=)
    turns.append((doc(_tsv_row(5, 0, 0, 0, 0, 10, 100, 50, 300, 90, "base"),
                      _tsv_row(5, 0, 0, 0, 1, 80, 105, 50, 300, 90, "edge")), ""))
    # 9 descender vs no-descender baselines (top+0.77h vs top+h)
    turns.append((doc(_tsv_row(5, 0, 0, 0, 0, 10, 100, 50, 100, 90, "jump"),
                      _tsv_row(5, 0, 0, 0, 1, 80, 100, 50, 100, 90, "hill")), ""))
    # 10 adversarial baseline chain b, b+4px, b+8px, ... pins greedy first-anchor
    chain = [_tsv_row(5, 0, 0, 0, i, 10 + 60 * i, 100 + 4 * i, 50, 300, 90, f"c{i}") for i in range(6)]
    turns.append((doc(*chain), ""))
    # 11 code symbol with empty points array → guarded, skipped
    turns.append((doc(_tsv_row(5, 0, 0, 0, 0, 10, 10, 50, 30, 90, "safe")),
                  json.dumps({"width": W, "height": H, "codes": [{"points": [], "data": "x", "typeName": "other"}]})))
    # 12 malformed tool JSON → codes_failed error, turn continues
    turns.append((doc(_tsv_row(5, 0, 0, 0, 0, 10, 10, 50, 30, 90, "resilient")), "{not json"))
    # 14 confidence edges 0 / 100 / (-1 on non-word levels is implicit)
    turns.append((doc(_tsv_row(5, 0, 0, 0, 0, 10, 10, 50, 30, 0, "zero"),
                      _tsv_row(5, 0, 0, 0, 1, 80, 10, 50, 30, 100, "hundred")), ""))
    # 15 umlauts/ß + descender-set members
    turns.append((doc(_tsv_row(5, 0, 0, 0, 0, 10, 10, 80, 30, 95, "Größe"),
                      _tsv_row(5, 0, 0, 0, 1, 120, 10, 80, 30, 95, "ąçę"),
                      _tsv_row(5, 0, 0, 0, 2, 230, 10, 80, 30, 95, "ÜBER")), ""))
    # extra: no line starting with '1' → page lookup throws → ocr_failed isolation
    turns.append(("\n".join([TSV_HEADER,
                             _tsv_row(5, 0, 0, 0, 0, 10, 10, 50, 30, 90, "orphan")]), ""))
    return turns


def gen_transcripts(n_turns: int, seed: int = 42, edge_cases: bool = True,
                    long_conv_turns: int | None = None,
                    conv_prefix: str = "conv") -> pd.DataFrame:
    """Deterministic transcripts table. Conversation lengths are
    Zipf-distributed (most 2-20 turns, a few huge — FIXTURES.md §1); one
    pathologically long conversation covers skew/salting (edge 13)."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)

    roles = ["user", "assistant", "tool"]
    conv_ids: list[str] = []
    turn_idxs: list[int] = []
    texts: list[str] = []
    tools: list[str] = []

    if long_conv_turns is None:
        long_conv_turns = min(10_000, max(0, n_turns // 5))

    # one pathologically long conversation (edge 13)
    produced = 0
    conv_no = 0
    sizes: list[int] = []
    if long_conv_turns >= 2:
        sizes.append(long_conv_turns)
        produced += long_conv_turns
    while produced < n_turns:
        s = int(np.clip(nrng.zipf(2.0), 2, 500))
        s = min(s, n_turns - produced) or 1
        sizes.append(s)
        produced += s

    for size in sizes:
        cid = f"{conv_prefix}_{conv_no:08d}"
        conv_no += 1
        for t in range(size):
            text, pw, ph = _gen_turn_text(rng)
            tool = _gen_tool(rng, pw, ph) if rng.random() < 0.2 else ""
            conv_ids.append(cid)
            turn_idxs.append(t)
            texts.append(text)
            tools.append(tool)

    if edge_cases:
        for t, (text, tool) in enumerate(_edge_turns()):
            conv_ids.append("conv_edge")
            turn_idxs.append(t)
            texts.append(text)
            tools.append(tool)

    n = len(conv_ids)
    base = datetime(2026, 1, 1)
    df = pd.DataFrame(
        {
            "conv_id": pd.Series(conv_ids, dtype="string"),
            "turn_idx": pd.Series(turn_idxs, dtype="int32"),
            "role": pd.Series([roles[i % 3] for i in turn_idxs], dtype="string"),
            "text": pd.Series(texts, dtype="string"),
            "tool": pd.Series(tools, dtype="string"),
            "ts": pd.Series([base + timedelta(minutes=int(t)) for t in turn_idxs],
                            dtype="datetime64[us]"),
        }
    )
    assert len(df) >= n_turns or not edge_cases or n >= n_turns
    return df


def write_transcripts_parquet(path: str, n_turns: int, seed: int = 42, **kw) -> str:
    """Generate + write (idempotent cache keyed by existence)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if not os.path.exists(path):
        df = gen_transcripts(n_turns, seed=seed, **kw)
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        # small row groups → splittable scan: Spark parallelizes a single
        # file across executors only at row-group granularity
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False), path, row_group_size=2048
        )
    return path


def _gen_chunk(args: tuple) -> str:
    dirpath, idx, chunk_turns, seed = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = gen_transcripts(
        chunk_turns,
        seed=seed + idx,
        edge_cases=(idx == 0),
        long_conv_turns=(None if idx == 0 else 0),
        conv_prefix=f"conv{idx:03d}",
    )
    out = f"{dirpath}/part-{idx:04d}.parquet"
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), out,
                   row_group_size=2048)
    return out


def write_transcripts_dataset(dirpath: str, n_turns: int, seed: int = 42,
                              n_chunks: int | None = None) -> str:
    """Parallel deterministic generation into a multi-file parquet dataset
    (bench-scale inputs).  Each chunk is seeded by (seed + chunk index) with a
    disjoint conv_id namespace, so the dataset is reproducible regardless of
    worker scheduling; chunk 0 carries the edge-case turns and the
    pathologically long skew conversation.

    The chunks are generated by a ``spawn`` multiprocessing pool, whose
    children re-import the calling script.  A script that calls this
    function needs an ``if __name__ == "__main__":`` guard around the call,
    or the call never returns."""
    import glob
    import multiprocessing as mp
    import os

    if n_chunks is None:
        n_chunks = max(1, min(16, (os.cpu_count() or 8) // 2))
    marker = f"{dirpath}/_SUCCESS_GEN"
    stamp = f"n_turns={n_turns} n_chunks={n_chunks} seed={seed}\n"
    if os.path.exists(marker):
        # the marker must describe THIS request, and the part files must be
        # exactly the recorded set — a crashed earlier attempt (or a different
        # n_turns/seed) would otherwise be silently reused / over-included
        with open(marker) as f:
            if f.read() == stamp and len(glob.glob(f"{dirpath}/part-*.parquet")) == n_chunks:
                return dirpath
        for p in glob.glob(f"{dirpath}/part-*.parquet"):
            os.unlink(p)
        os.unlink(marker)
    os.makedirs(dirpath, exist_ok=True)
    for p in glob.glob(f"{dirpath}/part-*.parquet"):  # orphans from a crash
        os.unlink(p)
    chunk_turns = -(-n_turns // n_chunks)
    with mp.get_context("spawn").Pool(n_chunks) as pool:
        pool.map(_gen_chunk, [(dirpath, i, chunk_turns, seed) for i in range(n_chunks)])
    with open(marker, "w") as f:
        f.write(stamp)
    return dirpath
