"""Extraction benchmark: bulk job, webhook drain and crash-resume.

    python3 perfbench/run.py --workload bulk_extract --seed 1 --seconds 15 --trace 0

Runs from any working directory.  Drives the engine on ``local[<cores>]``
through its public functions, from this one process.  Prints each input's
description, every metric by name with its unit, and, as the last line of
standard output, one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
alternates untraced and traced calls and reports the per-layer metrics (see
README.md).  Inputs, results and spans go to ``.perfbench_work/`` at the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_REPEATS = 3
_T0 = time.monotonic()


def _prepare_environment() -> None:
    """Make the engine importable here and in Spark's Python workers, and
    keep every temporary file inside the work directory."""
    if not (ROOT / "ocr_mini_service_spark" / "__init__.py").is_file():
        sys.exit(f"engine package ocr_mini_service_spark not found under {ROOT}")
    sys.path.insert(0, str(ROOT))
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
        os.environ[var] = str(WORK / sub)
    # every JVM the launcher starts: temp files here, no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"


def _units() -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    units.update({m["name"]: m["unit"] for m in spec["end_to_end"]})
    return units


def _end_to_end(setups: list, records: list[dict]) -> dict:
    intervals = [x for r in records for x in r["intervals"]]
    return {
        "setup_s": statistics.median([a + b for a, b in setups]),
        "turns_per_s": statistics.median([r["turns"] / r["wall"] for r in records]),
        "batch_p50_s": statistics.median(intervals),
    }


def _per_layer(workload, spark, tracer, setups: list, records: list[dict]) -> dict:
    traced = [r for r in records if r["traced"]]
    plain = [r for r in records if not r["traced"]]
    m = workload.layer_metrics(spark, traced)
    m["session.start_s"] = statistics.median([a for a, _ in setups])
    m["session.warmup_s"] = statistics.median([b for _, b in setups])
    m["process.peak_rss_mb"] = statistics.median([r["rss"] / 2**20 for r in traced])
    tps = lambda rs: statistics.median([r["turns"] / r["wall"] for r in rs])  # noqa: E731
    m["trace.overhead_pct"] = (tps(plain) / tps(traced) - 1) * 100
    drains = tracer.self_times()["streaming.run_incremental"]
    m["streaming.drain_self_s"] = drains["self_s"] / drains["count"]
    return m


def _steal_s() -> float:
    """CPU time the hypervisor has taken from this machine since boot (all
    CPUs): a run that lost much of it measured a slower machine."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _log(msg: str) -> None:
    print(f"[{time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _prepare_environment()

    import harness
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    units = _units()
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    rundir = WORK / "run" / f"{run_id}-{os.getpid()}"
    tracer = harness.Tracer(enabled=False, run_id=run_id)
    workload = WORKLOADS[args.workload](Context(args.seed, WORK, rundir, tracer))

    _log("making inputs")
    described = workload.make_inputs()
    _log("setting up")
    for d in described:
        print("input " + json.dumps(d))
    spark = None
    warm_in = None
    records: list[dict] = []
    attempted = failed = 0

    def attempt(label: str, traced: bool) -> dict | None:
        """One checked call; None if it raised or failed a check."""
        nonlocal attempted, failed
        attempted += 1
        try:
            rec = workload.call(spark, f"{run_id}:{label}", traced)
        except Exception:
            traceback.print_exc()
            failed += 1
            return None
        _log(f"{label}: {rec['wall']:.2f}s, {rec['turns']} turns")
        for p in rec["problems"]:
            print(f"check failed: {p}", file=sys.stderr)
        if rec["problems"]:
            failed += 1
            return None
        return rec

    try:
        tracer.enabled = bool(args.trace)
        spark, setups = harness.set_up(
            f"local[{len(os.sched_getaffinity(0))}]", workload.warmup, SETUP_REPEATS, tracer
        )
        tracer.enabled = False
        _log(f"set-up times {[round(a + b, 2) for a, b in setups]}; building state")
        workload.build_state(spark)
        # the first full-size call runs 20-30% slower than the ones after it,
        # even after the set-up's warm-up jobs; it is checked, not timed
        warm_in = attempt("warm-in", traced=False)
        measured, steal0 = 0.0, _steal_s()
        # call until --seconds are measured; the traced run alternates
        # untraced and traced calls
        while warm_in and (len(records) < 2 + args.trace or measured < args.seconds):
            rec = attempt(f"call{len(records)}", bool(args.trace) and len(records) % 2 == 1)
            if rec is None:
                break
            records.append(rec)
            measured += rec["wall"]
        steal = _steal_s() - steal0
        _log(f"{measured:.1f} s measured; hypervisor steal meanwhile {steal:.1f} s")
        if failed:
            metrics = {}
        elif args.trace:
            metrics = _per_layer(workload, spark, tracer, setups, records)
        else:
            metrics = _end_to_end(setups, records)
    finally:
        _log("shutting down")
        harness.shut_down(spark)
        shutil.rmtree(rundir, ignore_errors=True)
        _log("done")

    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    if args.trace:
        tracer.write(results / f"{run_id}.spans.jsonl")
    fields = ("wall", "turns", "rss", "traced", "intervals")
    summary = lambda r: {k: r[k] for k in fields}  # noqa: E731
    with open(results / f"{run_id}.json", "w") as f:
        json.dump({"inputs": described, "metrics": metrics, "steal_s": steal,
                   "warm_in": warm_in and summary(warm_in),
                   "calls": [summary(r) for r in records]}, f, indent=1)
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units.get(name, '')}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
