"""Seeded benchmark inputs, cached under the work directory.

Every input comes from ``synth.write_transcripts_dataset`` with the chunk
count pinned (its default follows ``os.cpu_count()``, which would make the
input depend on the host).  A cached input is keyed on seed, turn count and
chunk count; the generator's own marker file re-validates the key.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from ocr_mini_service_spark import synth

N_CHUNKS = 4
# synth seeds chunk i with (seed + i); spacing benchmark seeds keeps the
# chunks of neighbouring benchmark seeds disjoint
SEED_STRIDE = 1000
TURNS_PER_FILE = 100  # webhook_drain: one arriving file = 100 turns
KEEP_CACHED = 4  # cached input keys kept; older ones are pruned


def synth_seed(seed: int) -> int:
    return seed * SEED_STRIDE


def dataset(work: Path, seed: int, n_turns: int) -> Path:
    """The default synth mix for ``seed``: ``n_turns`` turns plus the 15
    edge turns, in ``N_CHUNKS`` parquet files."""
    path = work / "inputs" / f"synth-seed{seed}-n{n_turns}-c{N_CHUNKS}"
    synth.write_transcripts_dataset(str(path), n_turns, seed=synth_seed(seed), n_chunks=N_CHUNKS)
    touch_and_prune(path)
    return path


def touch_and_prune(path: Path) -> None:
    os.utime(path)
    cached = sorted(path.parent.iterdir(), key=lambda p: p.stat().st_mtime, reverse=True)
    for old in cached[KEEP_CACHED:]:
        shutil.rmtree(old, ignore_errors=True)


def read_table(path: Path, columns: list[str] | None = None) -> pa.Table:
    """All rows of a parquet directory (hive partitions and ``_``/``.``
    prefixed entries such as ``_manifest`` are skipped)."""
    return ds.dataset(str(path), format="parquet", partitioning=None).to_table(columns=columns)


def write_slice(src: Path, dst: Path, n_turns: int) -> Path:
    """The first ``n_turns`` rows of ``src`` as one parquet file in ``dst``
    (the warm-up input); always rewritten."""
    shutil.rmtree(dst, ignore_errors=True)
    dst.mkdir(parents=True)
    table = read_table(src).slice(0, n_turns)
    pq.write_table(table, dst / "part-0000.parquet", row_group_size=2048)
    return dst


def stage_files(src: Path, dst: Path, n_files: int | None = None) -> Path:
    """Split ``src`` into files of ``TURNS_PER_FILE`` turns — the arrivals a
    drain picks up (at most ``n_files`` of them); always rewritten."""
    shutil.rmtree(dst, ignore_errors=True)
    dst.mkdir(parents=True)
    table = read_table(src)
    count = -(-table.num_rows // TURNS_PER_FILE)
    if n_files is not None:
        count = min(count, n_files)
    for i in range(count):
        pq.write_table(table.slice(i * TURNS_PER_FILE, TURNS_PER_FILE), dst / f"part-{i:05d}.parquet")
    return dst


def dir_size(path: Path, suffix: str = ".parquet") -> tuple[int, int]:
    """(bytes, files) of the ``suffix`` files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def describe(path: Path) -> dict:
    """Turns, bytes, words per turn and tool fraction of an input."""
    t = read_table(path, columns=["text", "tool"]).to_pandas()
    n_bytes, n_files = dir_size(path)
    words = t["text"].fillna("").str.count("\n5\t")
    return {
        "path": path.name,
        "turns": len(t),
        "files": n_files,
        "bytes": n_bytes,
        "words_per_turn": round(float(words.mean()), 3),
        "tool_fraction": round(float((t["tool"].fillna("") != "").mean()), 4),
    }
