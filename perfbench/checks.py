"""Output checks, run after every timed call and outside its timed region.

Each check returns a list of problems; an empty list is a pass.  Outputs are
read with pyarrow, a reader independent of the Spark job that wrote them.
"""

from __future__ import annotations

import math
from pathlib import Path

import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds

from ocr_mini_service_spark.oracle import golden_extracted

from inputs import read_table

KEY = ["conv_id", "turn_idx"]
SAMPLE_TURNS = 200  # seeded sample checked against the oracle, plus the edge turns
EDGE_CONV = "conv_edge"
N_EDGE_TURNS = 15


def keys_exactly_once(output: Path, want: pd.DataFrame) -> list[str]:
    """Every input (conv_id, turn_idx) appears exactly once in ``output``."""
    got = read_table(output, columns=KEY).to_pandas()
    problems = []
    dupes = int(got.duplicated().sum())
    if dupes:
        problems.append(f"{dupes} duplicated output keys")
    merged = want.merge(got.drop_duplicates(), on=KEY, how="outer", indicator=True)
    missing = int((merged["_merge"] == "left_only").sum())
    extra = int((merged["_merge"] == "right_only").sum())
    if missing:
        problems.append(f"{missing} input keys missing from the output")
    if extra:
        problems.append(f"{extra} output keys not in the input")
    return problems


def manifest_rows(output: Path, n_turns: int) -> list[str]:
    """Manifest rows cover every bucket once and sum to the input turns."""
    m = read_table(output / "_manifest").to_pandas()
    problems = []
    if (m["status"] != "completed").any():
        problems.append("manifest has rows not marked completed")
    moduli = set(m["n_buckets"])
    if len(moduli) != 1:
        return problems + [f"manifest mixes bucket moduli {sorted(moduli)}"]
    n_buckets = int(moduli.pop())
    if sorted(m["bucket"]) != list(range(n_buckets)):
        problems.append(f"manifest buckets are not each of 0..{n_buckets - 1} once")
    total = int(m["n_turns"].sum())
    if total != n_turns:
        problems.append(f"manifest n_turns sum {total} != input turns {n_turns}")
    return problems


def webhook_payloads(payloads: list[dict], n_turns: int) -> list[str]:
    """Callbacks sum to the input turns and no batch_id is posted twice."""
    problems = []
    ids = [p["batch_id"] for p in payloads]
    if len(ids) != len(set(ids)):
        problems.append("a batch_id was posted twice")
    if any(p["status"] != "completed" for p in payloads):
        problems.append("a batch was posted as failed")
    total = sum(p.get("n_turns", 0) for p in payloads)
    if total != n_turns:
        problems.append(f"callbacks sum to {total} turns, input has {n_turns}")
    return problems


def _sorted_rows(path: Path):
    t = read_table(path)
    return t.take(pc.sort_indices(t, sort_keys=[(k, "ascending") for k in KEY]))


def same_output(got: Path, want: Path) -> list[str]:
    """Row-for-row equality of two extraction outputs."""
    a, b = _sorted_rows(got), _sorted_rows(want)
    if a.num_rows != b.num_rows:
        return [f"{a.num_rows} rows, reference output has {b.num_rows}"]
    if not a.equals(b):
        return ["output differs from the reference output"]
    return []


def oracle_sample(transcripts: pd.DataFrame, seed: int) -> pd.DataFrame:
    """All edge turns plus a seeded sample of the other turns."""
    edge = transcripts[transcripts["conv_id"] == EDGE_CONV]
    rest = transcripts[transcripts["conv_id"] != EDGE_CONV]
    picked = rest.sample(n=min(SAMPLE_TURNS, len(rest)), random_state=seed)
    return pd.concat([edge, picked]).reset_index(drop=True)


def _canon(v):
    """Floats by representation (so -0.0, inf and nan are told apart);
    containers element-wise."""
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return v


def matches_oracle(output: Path, sample: pd.DataFrame) -> list[str]:
    """The sampled turns match ``oracle.golden_extracted`` field for field."""
    problems = []
    if (sample["conv_id"] == EDGE_CONV).sum() != N_EDGE_TURNS:
        problems.append(f"sample does not hold the {N_EDGE_TURNS} edge turns")
    golden = golden_extracted(sample)
    convs = sorted(set(sample["conv_id"]))
    table = ds.dataset(str(output), format="parquet", partitioning=None).to_table(
        filter=pc.field("conv_id").isin(convs)
    )
    keys = table.select(KEY).to_pandas()
    wanted = keys.reset_index().merge(sample[KEY], on=KEY)["index"]
    got = {(r["conv_id"], r["turn_idx"]): r for r in table.take(list(wanted)).to_pylist()}
    for want in golden.to_dict("records"):
        key = (want["conv_id"], int(want["turn_idx"]))
        row = got.get(key)
        if row is None:
            problems.append(f"{key} missing from the output")
            continue
        # a null confidence comes back from pandas as NaN; the kernel
        # never emits a genuine NaN confidence
        conf = want["confidence"]
        if isinstance(conf, float) and math.isnan(conf):
            want["confidence"] = None
        for field, value in want.items():
            if _canon(row.get(field)) != _canon(value):
                problems.append(f"{key} field {field} differs from the oracle")
    return problems
