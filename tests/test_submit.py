"""spark-submit --py-files launch path (north rule: the job is launched via
spark-submit with the engine shipped as a zip to separate executor JVMs).

Runs tools/submit.sh against local-cluster[1,2,1536] — one real executor
JVM, package resolved from --py-files only (cwd is moved so the workers
cannot fall back to the repo checkout) — and checks the job JSON plus the
committed output with an independent reader.
"""

import json
import os
import subprocess
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_py_files_local_cluster(tmp_path):
    out = tmp_path / "run"
    proc = subprocess.run(
        [os.path.join(REPO, "tools", "submit.sh"),
         "local-cluster[1,2,1536]", str(out), "800"],
        capture_output=True, text=True, timeout=600,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith('{"job"')]
    assert line, proc.stdout[-2000:]
    stats = json.loads(line[-1])
    assert stats["n_turns"] > 0 and stats["buckets_done"] > 0
    n = duckdb.sql(
        f"SELECT COUNT(*) FROM '{out}/extracted/bucket=*/*.parquet'"
    ).fetchone()[0]
    assert n == stats["n_turns"]


def test_sigkill_mid_write_then_resume_no_dupes_no_gaps(tmp_path):
    """SURVEY §5.2 item 4 / VERDICT r4 item 5: a literal SIGKILL while the
    write action is in flight, then a ``--resume`` re-run, must converge to
    the same committed state as a clean run — every input turn exactly once
    (no duplicates, no gaps) and a manifest that accounts for every bucket
    exactly once.  This closes the crash-atomicity claim end to end: the
    parquet job-level commit means a killed write exposes no partial
    buckets, the manifest append is temp+rename atomic, and dynamic
    partition overwrite makes the re-run idempotent from any crash point
    (mid-write, between data commit and manifest append, or mid-append)."""
    from ocr_mini_service_spark.synth import write_transcripts_parquet

    inp = str(tmp_path / "transcripts.parquet")
    out = str(tmp_path / "extracted")
    # sized so the write phase lasts many seconds on any plausible host:
    # 60k turns through the Python Arrow kernel at local[4] is >= several
    # seconds of task time after the staging dir appears
    write_transcripts_parquet(inp, 60_000)
    n_in, n_in_keys = duckdb.sql(
        f"SELECT (SELECT COUNT(*) FROM '{inp}'), "
        f"(SELECT COUNT(*) FROM (SELECT DISTINCT conv_id, turn_idx FROM '{inp}'))"
    ).fetchone()
    assert n_in == n_in_keys  # synthetic input has unique turn keys

    args = ["python", os.path.join(REPO, "run_extract.py"),
            "--input", inp, "--output", out,
            "--master", "local[4]", "--buckets", "32"]
    proc = subprocess.Popen(
        args, cwd=REPO,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    # wait for the write action to begin — gate on the writer's staging
    # dir appearing inside the output (dynamic partition overwrite stages
    # under .spark-staging-<jobid>), then SIGKILL the whole JVM
    # mid-flight — no shutdown hooks, no committer cleanup.  Gating on
    # the staging dir rather than a fixed post-launch sleep keeps the
    # kill point deterministic as hardware speeds up.  Any other entry
    # (``_manifest/`` holds the progress log from before the write, and
    # before the range-partition sampling job) does not count.
    def _write_started() -> bool:
        return os.path.isdir(out) and any(
            n.startswith(".spark-staging-") for n in os.listdir(out)
        )

    deadline = time.time() + 180
    while time.time() < deadline and not _write_started():
        if proc.poll() is not None:
            break
        time.sleep(0.02)
    time.sleep(0.3)  # land inside the task waves of the write
    assert proc.poll() is None, (
        "job finished before the kill could land — the scenario under test "
        "(crash mid-write) was not exercised; returncode=%s" % proc.returncode
    )
    proc.kill()
    proc.wait(60)
    assert proc.returncode != 0  # SIGKILL, not a clean exit

    r = subprocess.run(
        args + ["--resume"], capture_output=True, text=True,
        timeout=600, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    stats = json.loads(
        [l for l in r.stdout.splitlines() if l.startswith('{"job"')][-1]
    )
    assert stats["buckets_done"] + stats["buckets_skipped"] == 32, stats

    rows, keys = duckdb.sql(
        f"SELECT COUNT(*), (SELECT COUNT(*) FROM (SELECT DISTINCT conv_id, "
        f"turn_idx FROM '{out}/bucket=*/*.parquet')) "
        f"FROM '{out}/bucket=*/*.parquet'"
    ).fetchone()
    assert rows == n_in, (rows, n_in)  # no gaps
    assert keys == rows, (keys, rows)  # no duplicates
    n_buckets, man_turns = duckdb.sql(
        f"SELECT COUNT(DISTINCT bucket), SUM(n_turns) "
        f"FROM '{out}/_manifest/*.parquet' WHERE status = 'completed'"
    ).fetchone()
    assert n_buckets == 32  # every bucket accounted for, exactly once
    assert man_turns == n_in  # manifest tallies close over the input


def test_run_dedup_cli_materializes_labels(tmp_path):
    """The production dedup CLI: labels written once, survivors derived from
    the READ-BACK labels table; audit accounting closes (kept + removed =
    corpus) and the two tables agree with an independent reader."""
    out = tmp_path / "dedup"
    proc = subprocess.run(
        ["python", os.path.join(REPO, "run_dedup.py"),
         "--sf-dir", "/root/testdata/sf0.001", "--output", str(out),
         "--algo", "star", "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith('{"job"')]
    stats = json.loads(line[-1])
    assert stats["n_docs"] == stats["n_survivors"] + stats["n_removed"]
    labels = duckdb.sql(
        f"SELECT COUNT(*), COUNT(DISTINCT doc_id) FROM '{out}/cluster_labels/*.parquet'"
    ).fetchone()
    assert labels[0] == labels[1] == stats["n_docs"]
    surv = duckdb.sql(
        f"SELECT COUNT(*), SUM(n_dupes_removed) FROM '{out}/survivors/*.parquet'"
    ).fetchone()
    assert surv[0] == stats["n_survivors"]
    assert (surv[1] or 0) == stats["n_removed"]
