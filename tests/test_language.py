"""Per-turn language option (the reference's request-body ``language`` option,
/root/reference/src/ocr/image-recognition.controller.ts:101-128 ->
ocr.service.ts:149-153 `-l <lang>`, default 'deu', '+'-combinable): the seam
is an optional ``lang`` column on the transcripts input; an unsupported code
fails the OCR branch exactly like a non-zero tesseract exit (empty words +
error, turn completes, codes branch unaffected) — error isolation per
image-recognition.service.ts:164-173."""

import pandas as pd
import pytest

from ocr_mini_service_spark.kernel import (
    DEFAULT_LANGUAGE,
    extract_turn,
    validate_language,
)
from ocr_mini_service_spark.oracle import golden_extracted
from ocr_mini_service_spark.pipeline import extract_fused, finalize

from test_pipeline import assert_matches_golden

TSV = (
    "level\tpage_num\tblock_num\tpar_num\tline_num\tword_num\t"
    "left\ttop\twidth\theight\tconf\ttext\n"
    "1\t1\t0\t0\t0\t0\t0\t0\t1000\t1000\t-1\t\n"
    "5\t1\t0\t0\t0\t0\t100\t100\t90\t20\t80\thello\n"
    "5\t1\t0\t0\t0\t1\t200\t100\t90\t20\t90\tworld\n"
)
TOOL = (
    '{"width": 1000, "height": 1000, "codes": [{"points": '
    '[{"x": 0, "y": 700}, {"x": 100, "y": 700}, {"x": 100, "y": 800}, {"x": 0, "y": 800}], '
    '"data": "d", "typeName": "qr_code"}]}'
)


def _transcripts() -> pd.DataFrame:
    rows = [
        # (conv, turn, lang): valid single, valid combo, default (None/empty),
        # invalid, invalid-with-tool (codes branch must survive)
        ("c1", 0, "eng"),
        ("c1", 1, "deu+eng"),
        ("c2", 0, None),
        ("c2", 1, ""),
        ("c3", 0, "xx"),
        ("c3", 1, "deu+nope"),
    ]
    return pd.DataFrame(
        {
            "conv_id": [r[0] for r in rows],
            "turn_idx": [r[1] for r in rows],
            "role": "assistant",
            "text": TSV,
            "tool": [TOOL if r[0] == "c3" else "" for r in rows],
            "ts": pd.Timestamp("2026-01-01"),
            "lang": [r[2] for r in rows],
        }
    )


def test_validate_language():
    assert validate_language("deu") and validate_language("eng")
    assert validate_language("deu+eng")
    assert not validate_language("xx")
    assert not validate_language("deu+xx")
    assert not validate_language("")


def test_kernel_language_isolation():
    # invalid language: OCR branch fails, codes branch completes
    r = extract_turn("c", 0, TSV, TOOL, "klingon")
    assert r["words"] == [] and r["extracted_text"] == ""
    assert r["confidence"] is None
    assert "unsupported language: klingon" in r["error"]
    assert len(r["codes"]) == 1  # zbar is language-independent
    assert r["lang"] == "klingon"
    # default resolution
    r = extract_turn("c", 0, TSV, "")
    assert r["lang"] == DEFAULT_LANGUAGE
    assert r["extracted_text"] == "hello world"
    assert r["error"] is None


@pytest.mark.parametrize("path", [extract_fused])
def test_spark_paths_respect_lang(spark, path):
    pdf = _transcripts()
    golden = golden_extracted(pdf)
    # invalid-language turns are errors in the golden too
    bad = golden[(golden.conv_id == "c3")]
    assert all("unsupported language" in e for e in bad.error)
    assert all(len(w) == 0 for w in bad.words)
    assert all(len(c) == 1 for c in bad.codes)
    df = spark.createDataFrame(pdf)
    assert_matches_golden(finalize(path(df)), golden)


def test_fused_without_lang_column_defaults(spark):
    pdf = _transcripts().drop(columns=["lang"])
    golden = golden_extracted(pdf)
    assert set(golden.lang) == {DEFAULT_LANGUAGE}
    df = spark.createDataFrame(pdf)
    assert_matches_golden(finalize(extract_fused(df)), golden)
