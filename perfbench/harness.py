"""Measurement plumbing: spans, process-tree RSS, percentiles, and the
Spark session lifecycle (set-up, warm-up, shutdown)."""

from __future__ import annotations

import contextlib
import json
import os
import signal
import statistics
import subprocess
import threading
import time
from collections.abc import Callable
from multiprocessing import resource_tracker
from pathlib import Path


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between the observed values around it
    (with few samples, a nearest-rank p90 would be the maximum)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end of the run.  Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, run_id: str | None = None):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.perf_counter(), None, run_id=run_id)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float | None, parent: int | None = None,
            run_id: str | None = None) -> int:
        """Record a span; the parent defaults to the innermost open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end,
                           "parent": parent, "run_id": run_id or self.run_id})
        return len(self.spans) - 1

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds, where a span's self
        time is its duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += s["end"] - s["start"] - covered
        return out

    def write(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    kids = _children_map()
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(kids.get(pid, []))
    return seen


def tree_rss_bytes() -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak RSS of the process tree (Spark JVM + Python workers + this
    process) while the ``with`` block runs, sampled every ``interval`` s."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())


def start_session(master: str):
    from ocr_mini_service_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=master,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(master: str, warmup: Callable, repeats: int, tracer: Tracer):
    """Start the session and run the untimed warm-up job ``repeats`` times
    (stopping the session in between); the last session stays up.  Returns
    (spark, [(start_s, warmup_s), ...])."""
    spark, times = None, []
    for _ in range(repeats):
        if spark is not None:
            spark.stop()
        with tracer.span("setup"):
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = start_session(master)
            t1 = time.perf_counter()
            with tracer.span("session.warmup"):
                warmup(spark)
            t2 = time.perf_counter()
        times.append((t1 - t0, t2 - t1))
    return spark, times


def shut_down(spark) -> None:
    """Stop Spark, end the gateway JVM and wait until every process this
    run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    started = [p for p in process_tree() if p != os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    # the input generator's spawn pool leaves multiprocessing's resource
    # tracker running until this process exits; end it now
    tracker = resource_tracker._resource_tracker
    if tracker._pid is not None:
        tracker._stop()
    deadline = time.monotonic() + 20
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        for p in alive:
            if sig is not None:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, sig)
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        deadline = time.monotonic() + 5
