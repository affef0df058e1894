"""Per-turn equality of the Spark path vs the serial oracle (the north
rule's correctness gate): the fused mapInArrow pipeline must reproduce the
golden rows bit-for-bit under stable (conv_id, turn_idx) ordering."""

import math

import pandas as pd
import pytest

from ocr_mini_service_spark.oracle import golden_extracted
from ocr_mini_service_spark.pipeline import extract_fused, finalize
from ocr_mini_service_spark.schema import TRANSCRIPTS
from ocr_mini_service_spark.synth import gen_transcripts

N_TURNS = 600


def _f(x):
    """Bit-faithful float canon (inf/nan-safe)."""
    if isinstance(x, float):
        return "nan" if math.isnan(x) else repr(x)
    return x


def canon(df: pd.DataFrame) -> list[tuple]:
    rows = []
    for r in df.sort_values(["conv_id", "turn_idx"], kind="mergesort").to_dict("records"):
        rows.append(
            (
                r["conv_id"],
                int(r["turn_idx"]),
                r["extracted_text"],
                # null confidence round-trips as NaN through pandas; the
                # kernel never emits a genuine NaN (NaN confs are excluded)
                None
                if r["confidence"] is None
                or (isinstance(r["confidence"], float) and math.isnan(r["confidence"]))
                else _f(float(r["confidence"])),
                r["lang"],
                tuple((int(s["start"]), int(s["end"])) for s in r["spans"]),
                tuple(
                    (w["word_id"], w["text"], _f(float(w["confidence"])),
                     _f(float(w["left"])), _f(float(w["top"])), _f(float(w["width"])),
                     _f(float(w["height"])), _f(float(w["baseline"])))
                    for w in r["words"]
                ),
                tuple(
                    (c["code_id"], c["content"], c["code_type"], _f(float(c["left"])),
                     _f(float(c["top"])), _f(float(c["width"])), _f(float(c["height"])))
                    for c in r["codes"]
                ),
                int(r["n_blocks_kept"]),
                int(r["n_blocks_dropped"]),
                r["error"] if isinstance(r["error"], str) else None,
            )
        )
    return rows


@pytest.fixture(scope="module")
def transcripts_pd():
    return gen_transcripts(N_TURNS, seed=42)


@pytest.fixture(scope="module")
def golden(transcripts_pd):
    return golden_extracted(transcripts_pd)


@pytest.fixture(scope="module")
def transcripts_df(spark, transcripts_pd):
    return spark.createDataFrame(transcripts_pd, schema=TRANSCRIPTS)


def assert_matches_golden(result_df, golden):
    got = canon(result_df.toPandas())
    want = canon(golden)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w, f"\nGOT:  {g}\nWANT: {w}"


def test_fused_matches_oracle(transcripts_df, golden):
    assert_matches_golden(finalize(extract_fused(transcripts_df)), golden)


def test_fused_schema(transcripts_df):
    from ocr_mini_service_spark.schema import EXTRACTED

    assert extract_fused(transcripts_df).schema == EXTRACTED
