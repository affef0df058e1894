"""Serial fixture oracle (SURVEY.md §5.2 item 1).

Runs the pure-Python semantics kernel row-by-row over a transcripts pandas
DataFrame — no Spark — producing the golden ``extracted`` rows that every
Spark path (the fused mapInArrow pass, the manifest job, streaming) must
match per-turn under stable (conv_id, turn_idx) ordering.
"""

from __future__ import annotations

import pandas as pd

from .kernel import extract_turn


def golden_extracted(transcripts: pd.DataFrame) -> pd.DataFrame:
    rows = [
        extract_turn(r.conv_id, int(r.turn_idx), r.text, r.tool, getattr(r, "lang", None))
        for r in transcripts.itertuples(index=False)
    ]
    out = pd.DataFrame(rows)
    return out.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
