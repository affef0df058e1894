"""Per-layer probes for the traced run.  Each probe calls one layer's public
functions and records a span around every call."""

from __future__ import annotations

import shutil
import statistics
import time
from pathlib import Path

import pandas as pd

from ocr_mini_service_spark import kernel, manifest, pipeline, streaming

from harness import Tracer, p90

KERNEL_PASSES = 15


def _per_call_us(fn, args: list[tuple]) -> float:
    """Microseconds per call of ``fn`` over ``args``; a call that raises
    counts too (the kernel isolates such turns the same way)."""
    t0 = time.perf_counter()
    for a in args:
        try:
            fn(*a)
        except ValueError:
            pass
    return (time.perf_counter() - t0) / len(args) * 1e6


def kernel_layer(tracer: Tracer, sample: pd.DataFrame) -> dict:
    """Each public kernel function, in-process, on a sample of turns.  The
    functions take turns within each pass, so a change in host speed during
    the probe reaches all of them alike; each reports its median pass."""
    rows = [(c, int(t), text, tool) for c, t, text, tool in
            sample[["conv_id", "turn_idx", "text", "tool"]].itertuples(index=False, name=None)]
    raw, ordered, codes, errors = [], [], [], 0
    for c, t, text, tool in rows:
        errors += kernel.extract_turn(c, t, text, tool)["error"] is not None
        try:
            words = kernel.parse_tsv_words(text)
        except ValueError:
            words = []
        try:
            cd = kernel.parse_codes(tool)
        except ValueError:
            cd = []
        raw.append(words)
        ordered.append(kernel.reading_order(words))
        codes.append(cd)
    calls = {
        "extract_turn": (kernel.extract_turn, rows),
        "parse_tsv_words": (kernel.parse_tsv_words, [(r[2],) for r in rows]),
        "reading_order": (kernel.reading_order, [(w,) for w in raw]),
        "parse_codes": (kernel.parse_codes, [(r[3],) for r in rows]),
        "filter_overlapping": (kernel.filter_overlapping, list(zip(ordered, codes))),
    }
    per_call: dict[str, list[float]] = {name: [] for name in calls}
    with tracer.span("kernel"):
        for _ in range(KERNEL_PASSES):
            for name, (fn, args) in calls.items():
                with tracer.span(f"kernel.{name}"):
                    per_call[name].append(_per_call_us(fn, args))
    m = {f"kernel.{name}_us": statistics.median(v) for name, v in per_call.items()}
    parts = sum(v for k, v in m.items() if k != "kernel.extract_turn_us")
    m["kernel.assembly_us"] = m["kernel.extract_turn_us"] - parts
    m["kernel.words_per_turn"] = sum(map(len, raw)) / len(rows)
    m["kernel.codes_per_turn"] = sum(map(len, codes)) / len(rows)
    m["kernel.error_turns"] = errors
    return m


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def scan_and_fused(spark, tracer: Tracer, path: Path) -> dict:
    """``load_transcripts`` and ``extract_fused`` into a ``noop`` sink."""
    with tracer.span("sources.scan_noop"):
        t0 = time.perf_counter()
        _noop(manifest.load_transcripts(spark, str(path)))
        scan = time.perf_counter() - t0
    with tracer.span("pipeline.fused_noop"):
        t0 = time.perf_counter()
        _noop(pipeline.extract_fused(manifest.load_transcripts(spark, str(path))))
        fused = time.perf_counter() - t0
    return {"sources.scan_s": scan, "pipeline.fused_noop_s": fused,
            "pipeline.self_s": fused - scan}


def manifest_read(spark, tracer: Tracer, output: Path) -> float:
    """The resume-state reads ``run_with_manifest`` starts with."""
    with tracer.span("manifest.read"):
        t0 = time.perf_counter()
        with tracer.span("manifest.persisted_n_buckets"):
            manifest.persisted_n_buckets(spark, str(output))
        with tracer.span("manifest.committed_buckets"):
            manifest.committed_buckets(spark, str(output))
        return time.perf_counter() - t0


def bucket_skew(spark, tracer: Tracer, output: Path) -> float:
    """max/mean ``n_turns`` over the manifest rows."""
    with tracer.span("manifest.read_manifest"):
        rows = manifest.read_manifest(spark, str(output)).select("n_turns").collect()
    n = [r["n_turns"] for r in rows]
    return max(n) / (sum(n) / len(n))


def trigger_seconds(query) -> list[float]:
    """Per-micro-batch trigger time from the query's progress reports."""
    return [p["durationMs"]["triggerExecution"] / 1000 for p in query.recentProgress
            if p["numInputRows"] > 0]


def drain(spark, tracer: Tracer, arrivals: Path, out: Path, with_callback: bool,
          run_id: str | None = None) -> dict:
    """One ``run_incremental`` drain of ``arrivals`` into a fresh output.
    With ``with_callback`` each ``on_batch`` interval (from drain start or
    the previous callback) is recorded as a child span of the drain."""
    shutil.rmtree(out, ignore_errors=True)
    payloads, stamps = [], []

    def on_batch(payload: dict) -> None:
        stamps.append(time.perf_counter())
        payloads.append(payload)

    name = "streaming.run_incremental" if with_callback else "streaming.run_incremental.file_sink"
    with tracer.span(name, run_id=run_id) as sid:
        t0 = time.perf_counter()
        query = streaming.run_incremental(
            spark, str(arrivals), str(out / "data"), str(out / "checkpoint"),
            on_batch=on_batch if with_callback else None,
        )
        wall = time.perf_counter() - t0
    intervals = [b - a for a, b in zip([t0] + stamps[:-1], stamps)]
    if sid is not None:
        prev = t0
        for s in stamps:
            tracer.add("streaming.on_batch_interval", prev, s, parent=sid, run_id=run_id)
            prev = s
    return {"wall": wall, "payloads": payloads, "intervals": intervals,
            "triggers": trigger_seconds(query)}


def streaming_layer(spark, tracer: Tracer, arrivals: Path, work: Path) -> dict:
    """A short drain through each sink path over the same arrivals."""
    cb = drain(spark, tracer, arrivals, work / "probe_drain_cb", with_callback=True)
    plain = drain(spark, tracer, arrivals, work / "probe_drain_plain", with_callback=False)
    return {
        "callback": cb,
        "streaming.sink_overhead_s": statistics.median(cb["triggers"])
        - statistics.median(plain["triggers"]),
    }


def streaming_counts(drains: list[dict]) -> dict:
    batches = [len(d["payloads"]) for d in drains]
    turns = sum(p["n_turns"] for d in drains for p in d["payloads"])
    return {
        "streaming.batches": statistics.median(batches),
        "streaming.turns_per_batch": turns / sum(batches),
        "streaming.first_batch_s": statistics.median(d["intervals"][0] for d in drains),
        "streaming.batch_p90_s": p90([x for d in drains for x in d["intervals"]]),
    }


def run_manifest(spark, tracer: Tracer, transcripts: Path, output: Path, **kw) -> dict:
    with tracer.span("manifest.run_with_manifest"):
        return manifest.run_with_manifest(
            spark, manifest.load_transcripts(spark, str(transcripts)), str(output), **kw
        )
