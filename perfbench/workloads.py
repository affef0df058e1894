"""The three workloads.  Each makes its inputs from the seed, runs a small
warm-up job during set-up, and makes one timed call into the engine per
``call``, checked afterwards outside the timed region.  README.md says why
each workload exists and what its sizes are."""

from __future__ import annotations

import contextlib
import shutil
import statistics
import time
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

from ocr_mini_service_spark import manifest

import checks
import inputs
import probes
from harness import RssSampler, Tracer

BULK_TURNS = 10_000
# synth rounds up to a multiple of its 4 chunks, then adds the 15 edge turns:
# 9,599 turns, 96 files, 6 micro-batches of 16 files each
DRAIN_TURNS = 9_584
WARMUP_TURNS = 1_600  # set-up's warm-up job (the first full-size call is still slow after it)
WARMUP_BUCKETS = 4  # the warm-up job is small; its per-bucket tasks would dominate it
PROBE_FILES = 32  # streaming probe: 2 micro-batches per sink path


def cut_half(full: Path, half: Path) -> None:
    """From a complete output, the state a crash leaves after the lower half
    of the buckets committed: their data directories and manifest rows,
    nothing of the upper half."""
    rows = pq.read_table(full / "_manifest")
    n_buckets = rows["n_buckets"][0].as_py()
    lower = rows.filter(pc.less(rows["bucket"], n_buckets // 2))
    for b in lower["bucket"].to_pylist():
        shutil.copytree(full / f"bucket={b}", half / f"bucket={b}")
    (half / "_manifest").mkdir()
    pq.write_table(lower, half / "_manifest" / "part-00000.parquet")


class Context:
    """What a workload needs from the run: seed, directories, tracer."""

    def __init__(self, seed: int, work: Path, rundir: Path, tracer: Tracer):
        self.seed = seed
        self.work = work
        self.rundir = rundir
        self.tracer = tracer


class Workload:
    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.out = ctx.rundir / "out"

    # -- inputs ------------------------------------------------------------
    def make_inputs(self) -> list[dict]:
        raise NotImplementedError

    def _load_truth(self, path: Path) -> None:
        table = inputs.read_table(path, columns=["conv_id", "turn_idx", "text", "tool"])
        self.n_turns = table.num_rows
        self.keys = table.select(checks.KEY).to_pandas()
        self.sample = checks.oracle_sample(table.to_pandas(), self.ctx.seed)

    # -- set-up ------------------------------------------------------------
    def warmup(self, spark) -> None:
        """The workload's own call on ``WARMUP_TURNS`` turns: starts the
        Python workers and loads the JVM code of the timed path."""
        raise NotImplementedError

    def build_state(self, spark) -> None:
        """Untimed state the timed calls start from (none by default)."""

    # -- one timed call ----------------------------------------------------
    def before_call(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def pre_call_probe(self, spark) -> dict:
        """Traced calls only: layer reads made just before the call."""
        return {}

    def timed(self, spark, run_id: str) -> dict:
        raise NotImplementedError

    def check(self, result: dict) -> list[str]:
        raise NotImplementedError

    def call(self, spark, run_id: str, traced: bool) -> dict:
        self.before_call()
        tracer = self.ctx.tracer
        tracer.enabled = traced
        before = inputs.dir_size(self.out)
        pre = self.pre_call_probe(spark) if traced else {}
        # the RSS sampler walks /proc four times a second: traced calls only
        with RssSampler() if traced else contextlib.nullcontext() as rss:
            t0 = time.perf_counter()
            with tracer.span(f"call.{self.name}", run_id=run_id):
                result = self.timed(spark, run_id)
            wall = time.perf_counter() - t0
        tracer.enabled = False
        after = inputs.dir_size(self.out)
        result.update(pre, wall=wall, rss=rss and rss.peak, traced=traced,
                      bytes_written=after[0] - before[0], files_written=after[1] - before[1])
        result.setdefault("intervals", [wall])
        result["problems"] = self.check(result)
        return result

    # -- traced-run layer numbers ------------------------------------------
    def layer_metrics(self, spark, traced: list[dict]) -> dict:
        raise NotImplementedError

    def _common_layers(self, spark, traced: list[dict]) -> dict:
        tracer = self.ctx.tracer
        tracer.enabled = True
        m = probes.kernel_layer(tracer, self.sample)
        m.update(probes.scan_and_fused(spark, tracer, self.input))
        m["sources.input_bytes"] = inputs.dir_size(self.input)[0]
        m["sources.bytes_written"] = statistics.median(r["bytes_written"] for r in traced)
        m["sources.files_written"] = statistics.median(r["files_written"] for r in traced)
        return m

    def _manifest_layers(self, spark, traced: list[dict], fused_noop_s: float,
                         output: Path) -> dict:
        stats = [r["stats"] for r in traced]
        write_s = statistics.median(s["t_write"] for s in stats)
        return {
            "manifest.write_s": write_s,
            # t_metrics and t_manifest are rounded to 10 ms by run_with_manifest
            # and read 0.00 at this scale; the call's time outside the data
            # write holds them, with the resume-state reads and planning
            "manifest.bookkeeping_s": statistics.median(r["wall"] - r["stats"]["t_write"]
                                                        for r in traced),
            "manifest.shuffle_write_s": write_s - fused_noop_s,
            "manifest.bucket_skew": probes.bucket_skew(spark, self.ctx.tracer, output),
            "manifest.read_s": statistics.median(r["read_s"] for r in traced),
            "manifest.buckets_skipped": statistics.median(s["buckets_skipped"] for s in stats),
            "manifest.useful_scan_ratio": statistics.median(s["n_turns"] for s in stats)
            / self.n_turns,
        }

    def _probe_arrivals(self) -> Path:
        return inputs.stage_files(self.input, self.ctx.rundir / "probe_arrivals", PROBE_FILES)


class BulkExtract(Workload):
    """A fresh ``run_with_manifest`` over the default synth mix."""

    name = "bulk_extract"
    call_kw: dict = {}

    def make_inputs(self) -> list[dict]:
        self.input = inputs.dataset(self.ctx.work, self.ctx.seed, BULK_TURNS)
        self.warm_input = inputs.write_slice(self.input, self.ctx.rundir / "warm_in", WARMUP_TURNS)
        self._load_truth(self.input)
        return [inputs.describe(self.input), inputs.describe(self.warm_input)]

    def warmup(self, spark) -> None:
        out = self.ctx.rundir / "warm_out"
        shutil.rmtree(out, ignore_errors=True)
        probes.run_manifest(spark, self.ctx.tracer, self.warm_input, out,
                            n_buckets=WARMUP_BUCKETS)

    def pre_call_probe(self, spark) -> dict:
        return {"read_s": probes.manifest_read(spark, self.ctx.tracer, self.out)}

    def timed(self, spark, run_id: str) -> dict:
        stats = probes.run_manifest(spark, self.ctx.tracer, self.input, self.out, **self.call_kw)
        return {"stats": stats, "turns": stats["n_turns"]}

    def check(self, result: dict) -> list[str]:
        return (
            checks.keys_exactly_once(self.out, self.keys)
            + checks.manifest_rows(self.out, self.n_turns)
            + checks.matches_oracle(self.out, self.sample)
        )

    def _resume_probe(self, spark) -> dict:
        """The crash_resume call once, on the last output cut to half: the
        resume-only manifest numbers, measured on this workload's input."""
        resumed = self.ctx.rundir / "probe_resume"
        shutil.rmtree(resumed, ignore_errors=True)
        cut_half(self.out, resumed)
        read_s = probes.manifest_read(spark, self.ctx.tracer, resumed)
        stats = probes.run_manifest(spark, self.ctx.tracer, self.input, resumed, resume=True)
        return {
            "manifest.read_s": read_s,
            "manifest.buckets_skipped": stats["buckets_skipped"],
            "manifest.useful_scan_ratio": stats["n_turns"] / self.n_turns,
        }

    def layer_metrics(self, spark, traced: list[dict]) -> dict:
        m = self._common_layers(spark, traced)
        m.update(self._manifest_layers(spark, traced, m["pipeline.fused_noop_s"], self.out))
        if not self.call_kw.get("resume"):
            m.update(self._resume_probe(spark))
        # no streaming on this workload's path: short probe drains over its turns
        probe = probes.streaming_layer(spark, self.ctx.tracer, self._probe_arrivals(),
                                       self.ctx.rundir)
        m.update(probes.streaming_counts([probe["callback"]]))
        m["streaming.sink_overhead_s"] = probe["streaming.sink_overhead_s"]
        return m


class CrashResume(BulkExtract):
    """``run_with_manifest(resume=True)`` into an output where half the
    buckets are already committed."""

    name = "crash_resume"
    call_kw = {"resume": True}

    def build_state(self, spark) -> None:
        """Once per seed: the complete bulk output (the reference the resumed
        output must equal) and the half-committed state cut from it."""
        state = self.ctx.work / "state" / self.input.name
        self.full, self.half = state / "full", state / "half"
        done = state / "_DONE"
        if not done.exists():
            shutil.rmtree(state, ignore_errors=True)
            manifest.run_with_manifest(
                spark, manifest.load_transcripts(spark, str(self.input)), str(self.full)
            )
            cut_half(self.full, self.half)
            done.touch()
        inputs.touch_and_prune(state)

    def warmup(self, spark) -> None:
        """Commit the lower half of the warm-up turns' buckets, then resume."""
        out = self.ctx.rundir / "warm_out"
        shutil.rmtree(out, ignore_errors=True)
        load = manifest.load_transcripts(spark, str(self.warm_input))
        lower = load.filter(manifest.bucket_expr(WARMUP_BUCKETS) < WARMUP_BUCKETS // 2)
        with self.ctx.tracer.span("manifest.run_with_manifest"):
            manifest.run_with_manifest(spark, lower, str(out), n_buckets=WARMUP_BUCKETS)
        probes.run_manifest(spark, self.ctx.tracer, self.warm_input, out, resume=True)

    def before_call(self) -> None:
        super().before_call()
        shutil.copytree(self.half, self.out)

    def check(self, result: dict) -> list[str]:
        return super().check(result) + checks.same_output(self.out, self.full)


class WebhookDrain(Workload):
    """An ``AvailableNow`` drain by ``run_incremental`` with an ``on_batch``
    callback over small files staged before the drain starts."""

    name = "webhook_drain"

    def make_inputs(self) -> list[dict]:
        source = inputs.dataset(self.ctx.work, self.ctx.seed, DRAIN_TURNS)
        self.input = inputs.stage_files(source, self.ctx.rundir / "arrivals")
        self.warm_input = inputs.stage_files(source, self.ctx.rundir / "warm_arrivals",
                                             WARMUP_TURNS // inputs.TURNS_PER_FILE)
        self._load_truth(self.input)
        return [inputs.describe(self.input), inputs.describe(self.warm_input)]

    def warmup(self, spark) -> None:
        probes.drain(spark, self.ctx.tracer, self.warm_input, self.ctx.rundir / "warm_drain",
                     with_callback=True)

    def timed(self, spark, run_id: str) -> dict:
        d = probes.drain(spark, self.ctx.tracer, self.input, self.out, with_callback=True,
                         run_id=run_id)
        d["turns"] = sum(p.get("n_turns", 0) for p in d["payloads"])
        return d

    def check(self, result: dict) -> list[str]:
        data = self.out / "data"
        return (
            checks.webhook_payloads(result["payloads"], self.n_turns)
            + checks.keys_exactly_once(data, self.keys)
            + checks.matches_oracle(data, self.sample)
        )

    def layer_metrics(self, spark, traced: list[dict]) -> dict:
        m = self._common_layers(spark, traced)
        # no manifest on this workload's path: one probe job over its input
        probe_out = self.ctx.rundir / "probe_manifest"
        read_s = probes.manifest_read(spark, self.ctx.tracer, probe_out)
        t0 = time.perf_counter()
        stats = probes.run_manifest(spark, self.ctx.tracer, self.input, probe_out)
        probe_call = {"stats": stats, "read_s": read_s, "wall": time.perf_counter() - t0}
        m.update(self._manifest_layers(spark, [probe_call], m["pipeline.fused_noop_s"],
                                       probe_out))
        m.update(probes.streaming_counts(traced))
        probe = probes.streaming_layer(spark, self.ctx.tracer, self._probe_arrivals(),
                                       self.ctx.rundir)
        m["streaming.sink_overhead_s"] = probe["streaming.sink_overhead_s"]
        return m


WORKLOADS = {w.name: w for w in (BulkExtract, WebhookDrain, CrashResume)}
