"""Reproduce the kill-mid-job resume evidence (BENCH/BASELINE.md) on demand.

    PYTHONPATH=. python tools/kill_resume_evidence.py [--docs 300000]

The --py-files package is rebuilt automatically at startup: a stale
dist/ zip (missing a module added since the last tools/package.py run)
makes the job die at IMPORT time, which used to masquerade as the
misleading "job finished before the write began?".

Runs the packaged encode job via spark-submit, kills it at two points —
(a) DURING the sink write (output still under _temporary: no torn chunk is
ever reader-visible), (b) AFTER a completed run (restart must skip every
chunk) — resumes each, and verifies the final sinks decode bit-identical
and duplicate-free. Prints one JSON line per scenario plus a verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHM = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"


def _repackage() -> None:
    """Rebuild dist/hadoop_etl_udfs_spark.zip from the CURRENT tree."""
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "package.py")],
        check=True, cwd=REPO,
    )


def _job(out: str, docs: int) -> list[str]:
    return [
        "spark-submit", "--master", "local[8]",
        "--py-files", os.path.join(REPO, "dist", "hadoop_etl_udfs_spark.zip"),
        os.path.join(REPO, "jobs", "encode_job.py"),
        "--synthesize", str(docs), "--output", out,
    ]


def _run_to_completion(out: str, docs: int) -> dict:
    r = subprocess.run(
        _job(out, docs), capture_output=True, text=True, timeout=600
    )
    line = r.stdout.strip().splitlines()[-1]
    return json.loads(line)


def _visible_complete_chunks(out: str) -> int:
    """Chunk ids the resume run WILL skip: complete (all-columns-present)
    chunks reader-visible in the sink right now, counted with the SAME
    lineage function the engine's skip-set uses. Taken between kill and
    resume, this pins the mid-commit postcondition to an exact equality
    (ADVICE r5: '0 <= skipped <= chunks' was tautological)."""
    sys.path.insert(0, REPO)
    from hadoop_etl_udfs_spark.plans import lineage
    from hadoop_etl_udfs_spark.session import get_spark
    from hadoop_etl_udfs_spark.sources.pages import PAGES_SCHEMA

    n_columns = len(PAGES_SCHEMA.split(","))
    spark = get_spark(app_name="kill_precount", cores=8)
    try:
        return len(lineage.completed_chunk_ids(spark, out, n_columns))
    finally:
        spark.stop()


def _verify(out: str, docs: int) -> dict:
    sys.path.insert(0, REPO)
    from hadoop_etl_udfs_spark.operators.encode import verify_roundtrip
    from hadoop_etl_udfs_spark.plans import lineage
    from hadoop_etl_udfs_spark.session import get_spark
    from hadoop_etl_udfs_spark.sources.pages import synthesize_pages
    from pyspark.sql import functions as F

    spark = get_spark(app_name="kill_verify", cores=8)
    try:
        enc = lineage.read_encoded(spark, out)
        dupes = (
            enc.groupBy("chunk_id", "column").count()
            .filter(F.col("count") > 1).count()
        )
        rt = verify_roundtrip(synthesize_pages(spark, docs, seed=42), enc)
        return {"duplicate_chunk_rows": dupes, **rt}
    finally:
        spark.stop()


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--docs", type=int, default=300_000)
    args = p.parse_args()
    _repackage()
    report: dict = {}

    # (a) kill DURING the write: wait for the sink's _temporary dir
    out_a = os.path.join(SHM, "kill_evidence_a")
    shutil.rmtree(out_a, ignore_errors=True)
    # start_new_session + killpg: spark-submit fans out JVM + python
    # children — killing only the launcher leaves an orphan that can finish
    # its own job commit CONCURRENTLY with the resume run (observed: the
    # grouped reader then drops the duplicate chunks by content-addressed
    # id, rows stay bit-identical — but that's the concurrent-writer story,
    # not the crash story this script exists to evidence)
    err_path = os.path.join(SHM, "kill_evidence_job.stderr")
    with open(err_path, "w") as ef:
        proc = subprocess.Popen(
            _job(out_a, args.docs),
            stdout=subprocess.DEVNULL, stderr=ef,
            start_new_session=True,
        )
    tmp_dir = os.path.join(out_a, "chunks", "_temporary")
    deadline = time.time() + 300
    while time.time() < deadline and not os.path.isdir(tmp_dir):
        if proc.poll() is not None:
            with open(err_path) as ef:
                tail = ef.read()[-2000:]
            raise RuntimeError(
                f"job exited (rc={proc.returncode}) before the write began "
                f"— stderr tail:\n{tail}"
            )
        time.sleep(0.25)
    time.sleep(0.5)  # let some task output accumulate under _temporary
    import signal

    os.killpg(os.getpgid(proc.pid), signal.SIGKILL)
    proc.wait()
    time.sleep(2)
    committed = [
        f for f in os.listdir(os.path.join(out_a, "chunks"))
        if f.endswith(".parquet")
    ]
    # the kill lands BEFORE the job commit (no committed files, only
    # _temporary — nothing reader-visible, resume skips 0), AFTER it (all
    # files committed, resume skips all), or MID-commit (SIGKILL during the
    # file-promotion loop: some chunks committed, resume legitimately skips
    # those and re-encodes the rest). All three are legitimate crash points
    # and which occurs is a race by construction — the always-true
    # postcondition is 0 <= skipped <= total, verified bit-identical, zero
    # duplicate chunk rows (ADVICE r4: the two-extremes check misclassified
    # a partially promoted sink as FAIL even though the final sink was
    # perfect)
    pre_commit = len(committed) == 0
    # a COMPLETED commit is distinguishable from a mid-commit kill by the
    # _SUCCESS marker: completed -> the identical restart must skip ALL
    # chunks (the resume contract); mid-commit (files promoted but no
    # marker) -> any 0..total skip count is legitimate, the bit-identical
    # verify + zero duplicates below is the invariant that must hold
    commit_complete = os.path.exists(
        os.path.join(out_a, "chunks", "_SUCCESS")
    )
    # exact skip prediction, measured BEFORE the resume run: the complete
    # chunk ids already reader-visible in the sink are precisely what the
    # resume's skip-set will contain — an equality in every branch
    # (pre_commit: 0 visible; post_commit: all; mid_commit: however many
    # files the promotion loop got through). Replaces the tautological
    # mid-commit range check (ADVICE r5).
    visible_chunks = _visible_complete_chunks(out_a)
    report["kill_during_write"] = {
        "kill_landed": (
            "pre_commit" if pre_commit
            else "post_commit" if commit_complete else "mid_commit"
        ),
        "committed_files_at_kill": len(committed),
        "complete_chunks_visible_at_kill": visible_chunks,
        "temporary_dir_present": os.path.isdir(tmp_dir),
    }
    resume = _run_to_completion(out_a, args.docs)
    report["kill_during_write"]["resume"] = resume
    report["kill_during_write"]["verify"] = _verify(out_a, args.docs)
    report["kill_during_write"]["postcondition_ok"] = (
        resume["chunks_skipped"] == visible_chunks
        and (not pre_commit or visible_chunks == 0)
        and (not commit_complete or visible_chunks == resume["chunks"])
    )

    # (b) clean completion, then restart: every chunk must skip
    out_b = os.path.join(SHM, "kill_evidence_b")
    shutil.rmtree(out_b, ignore_errors=True)
    first = _run_to_completion(out_b, args.docs)
    second = _run_to_completion(out_b, args.docs)
    report["restart_after_commit"] = {
        "first": first,
        "restart": second,
        "exact_skip": second["chunks_skipped"] == second["chunks"],
        "verify": _verify(out_b, args.docs),
    }

    ok = (
        report["kill_during_write"]["postcondition_ok"]
        and report["kill_during_write"]["verify"]["ok"]
        and report["kill_during_write"]["verify"]["duplicate_chunk_rows"] == 0
        and report["restart_after_commit"]["exact_skip"]
        and report["restart_after_commit"]["verify"]["ok"]
        and report["restart_after_commit"]["verify"]["duplicate_chunk_rows"] == 0
    )
    report["verdict"] = "PASS" if ok else "FAIL"
    print(json.dumps(report))
    shutil.rmtree(out_a, ignore_errors=True)
    shutil.rmtree(out_b, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
