"""P8 manifest pipeline: the reference's own identity-transform
smoke test (user-data.sh:4), made exact with md5 — plus transform
plug-in and failure-gate semantics."""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

import pytest
from pyspark.sql import functions as F

from samplebatchprocessing_spark.pipeline.manifest import (
    build_manifest, run_pipeline)

@pytest.fixture()
def bucket(sf_smoke, tmp_path):
    root = str(tmp_path / "bucket")
    in_dir = os.path.join(root, "input")
    os.makedirs(in_dir)
    for src in sorted(glob.glob(f"{sf_smoke}/*.parquet"))[:4]:
        shutil.copy(src, in_dir)
    return root


def test_identity_pipeline_byte_exact(spark, bucket):
    manifest = build_manifest(spark, bucket)
    assert manifest.count() == 4
    log = run_pipeline(spark, manifest)
    rows = log.collect()
    assert len(rows) == 4 and all(r["ok"] for r in rows)
    for src in glob.glob(os.path.join(bucket, "input", "*")):
        out = os.path.join(bucket, "output",
                           os.path.basename(src) + ".out")
        a = hashlib.md5(open(src, "rb").read()).hexdigest()
        b = hashlib.md5(open(out, "rb").read()).hexdigest()
        assert a == b, f"{src} not byte-identical"


def test_pipeline_custom_transform(spark, bucket):
    log = run_pipeline(spark, build_manifest(spark, bucket),
                       transform=lambda b: b[:100], ext=".head")
    assert all(r["out_bytes"] == min(100, r["in_bytes"])
               for r in log.collect())


def test_pipeline_failure_gate(spark, bucket):
    """Failing transform -> ok=False, no output written
    (GetJobs.py:54-56: returncode gate skips upload)."""
    def boom(b: bytes) -> bytes:
        raise RuntimeError("transform failed")
    log = run_pipeline(spark, build_manifest(spark, bucket),
                       transform=boom, ext=".x")
    assert all(not r["ok"] for r in log.collect())
    assert not glob.glob(os.path.join(bucket, "output", "*.x"))


def test_failed_file_logs_its_error(spark, bucket, capsys):
    """A failed file's commit-log row says why: ``error`` holds the
    exception class and the first line of its message (null on ok
    rows) — from ``run_pipeline``, from ``watch_prefix``'s returned
    log, and on the CLI ``get`` command's ERR lines."""
    from samplebatchprocessing_spark.__main__ import main
    from samplebatchprocessing_spark.pipeline.manifest import watch_prefix

    def bad_header(b: bytes) -> bytes:
        raise ValueError("bad header\nmore")

    manifest = build_manifest(spark, bucket)
    for kwargs, reason in [
            ({"transform": bad_header}, "ValueError: bad header"),
            ({"command": "false"}, "RuntimeError: 'false' returned 1")]:
        rows = run_pipeline(spark, manifest, **kwargs).collect()
        assert len(rows) == 4
        assert all(not r["ok"] and r["error"] == reason for r in rows)
    assert all(r["ok"] and r["error"] is None
               for r in run_pipeline(spark, manifest).collect())

    rows = watch_prefix(spark, bucket, transform=bad_header).collect()
    assert len(rows) == 4
    assert all(r["error"] == "ValueError: bad header" for r in rows)

    manifest.write.parquet(os.path.join(bucket, "manifest.parquet"))
    assert main(["get", bucket, "--command", "false"]) == 1
    err_lines = [ln for ln in capsys.readouterr().out.splitlines()
                 if ln.startswith("ERR")]
    assert len(err_lines) == 4
    assert all(ln.endswith(" RuntimeError: 'false' returned 1")
               for ln in err_lines)


def test_commit_log_reads_pre_error_parts_as_null(spark, tmp_path):
    """A commit log whose part files predate the ``error`` column
    reads it as null there and as written in newer parts, whichever
    part file sorts first; a row older than the ``run_seq``/``batch_id``
    tags loses to a tagged row of its file in either part order."""
    from samplebatchprocessing_spark.pipeline.manifest import (
        LOG_SCHEMA, commit_log)

    bucket = str(tmp_path / "b")
    log_dir = os.path.join(bucket, "_commit_log")
    tags = ", run_seq double, batch_id long"
    spark.createDataFrame(
        [("old.bin", 1, 0, "", False, 1.0, 0)],
        LOG_SCHEMA.replace(", error string", "") + tags,
    ).write.parquet(log_dir)
    assert commit_log(spark, bucket).collect()[0]["error"] is None

    spark.createDataFrame(
        [("new.bin", 1, 0, "", False, "ValueError: bad", 2.0, 0)],
        LOG_SCHEMA + tags).write.mode("append").parquet(log_dir)
    assert {r["file_name"]: r["error"]
            for r in commit_log(spark, bucket).collect()} == {
        "old.bin": None, "new.bin": "ValueError: bad"}

    # a part written before the run_seq/batch_id tags and a tagged part
    # of one file: the tagged row is the newest, whichever part's name
    # sorts first
    parts = {"untagged": spark.createDataFrame(
                 [("same.bin", 1, 1, "out", True, None)], LOG_SCHEMA),
             "tagged": spark.createDataFrame(
                 [("same.bin", 1, 0, "", False, "ValueError: new", 1.0, 0)],
                 LOG_SCHEMA + tags)}
    for order in (("untagged", "tagged"), ("tagged", "untagged")):
        b = str(tmp_path / "_".join(order))
        for i, kind in enumerate(order):
            staged = os.path.join(b, kind)
            parts[kind].coalesce(1).write.parquet(staged)
            os.renames(glob.glob(os.path.join(staged, "part-*"))[0],
                       os.path.join(b, "_commit_log",
                                    f"part-{i:05d}-{kind}.parquet"))
        assert [(r["file_name"], r["error"])
                for r in commit_log(spark, b).collect()] == [
            ("same.bin", "ValueError: new")], order


def test_pipeline_idempotent_rerun(spark, bucket):
    """Rerunning overwrites the same deterministic keys — the
    reference's at-least-once + idempotent-output contract (R8/R9)."""
    m = build_manifest(spark, bucket)
    run_pipeline(spark, m).collect()
    first = sorted(glob.glob(os.path.join(bucket, "output", "*")))
    run_pipeline(spark, m).collect()
    second = sorted(glob.glob(os.path.join(bucket, "output", "*")))
    assert first == second


def test_pipeline_missing_input_is_a_failed_row(spark, bucket):
    """A job whose input file is gone by the time the worker runs
    (SQS delivered the message, the object was deleted) is a failed
    job, not a vanished one: one ok=false row with in_bytes=0 and no
    output.  The manifest is materialized first, as the CLI's `send`
    does; a manifest with no 'process' job yields an empty log."""
    m_path = os.path.join(bucket, "manifest.parquet")
    build_manifest(spark, bucket).write.parquet(m_path)
    manifest = spark.read.parquet(m_path)
    victim = sorted(os.listdir(os.path.join(bucket, "input")))[0]
    os.remove(os.path.join(bucket, "input", victim))
    rows = {r["file_name"]: r for r in run_pipeline(spark, manifest)
            .collect()}
    assert len(rows) == 4
    assert not rows[victim]["ok"] and rows[victim]["in_bytes"] == 0
    assert all(r["ok"] for n, r in rows.items() if n != victim)
    assert sorted(os.listdir(os.path.join(bucket, "output"))) == sorted(
        n + ".out" for n in rows if n != victim)

    idle = manifest.withColumn("action", F.lit("shutdown"))
    assert run_pipeline(spark, idle).collect() == []


def test_pipeline_plan_is_one_listing_without_join(spark, bucket):
    """The worker reads its own input by the job row, so the whole
    batch is one path-only binaryFile scan feeding the per-file
    worker: no join, no second listing, no file content in the scan.
    The watch drains dispatch through this same plan."""
    log = run_pipeline(spark, build_manifest(spark, bucket))
    plan = log._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("FileScan binaryFile") == 1, plan
    assert "ReadSchema: struct<path:string>" in plan, plan
    assert len(log.collect()) == 4


def test_pipeline_subprocess_cp_byte_exact(spark, bucket):
    """The reference's true transform contract: an external command
    run as [command, in, out] (GetJobs.py:51-53), default `cp`
    (user-data.sh:4) — end-to-end byte-exact through the subprocess
    path."""
    log = run_pipeline(spark, build_manifest(spark, bucket),
                       command="cp", ext=".out")
    rows = log.collect()
    assert len(rows) == 4 and all(r["ok"] for r in rows)
    for src in glob.glob(os.path.join(bucket, "input", "*")):
        out = os.path.join(bucket, "output",
                           os.path.basename(src) + ".out")
        assert (hashlib.md5(open(src, "rb").read()).hexdigest()
                == hashlib.md5(open(out, "rb").read()).hexdigest())


def test_pipeline_subprocess_returncode_gate(spark, bucket):
    """Nonzero returncode -> no commit (GetJobs.py:54-56): `false`
    ignores its args and exits 1."""
    log = run_pipeline(spark, build_manifest(spark, bucket),
                       command="false", ext=".f")
    assert all(not r["ok"] for r in log.collect())
    assert not glob.glob(os.path.join(bucket, "output", "*.f"))


def test_pipeline_transform_and_command_exclusive(spark, bucket):
    with pytest.raises(ValueError, match="not both"):
        run_pipeline(spark, build_manifest(spark, bucket),
                     transform=lambda b: b, command="cp")


def test_cli_send_get_end_to_end(spark, bucket, sf_smoke, capsys):
    """`python -m samplebatchprocessing_spark send|get` reproduces the
    reference's CLI flow (SendJobs.py:38-48, GetJobs.py:67-76) with
    the default cp command, byte-exactly."""
    from samplebatchprocessing_spark.__main__ import main
    local = os.path.join(bucket, "local_src")
    os.makedirs(local)
    for src in sorted(glob.glob(f"{sf_smoke}/*.parquet"))[:2]:
        shutil.copy(src, local)
    cli_bucket = os.path.join(bucket, "cli_bucket")
    assert main(["send", local, cli_bucket]) == 0
    assert main(["get", cli_bucket]) == 0
    for name in os.listdir(local):
        src = os.path.join(local, name)
        out = os.path.join(cli_bucket, "output", name + ".out")
        assert (hashlib.md5(open(src, "rb").read()).hexdigest()
                == hashlib.md5(open(out, "rb").read()).hexdigest())


def test_watch_prefix_streaming_pipeline(spark, bucket, sf_smoke):
    """Streaming GetJobs (R4): a drain run processes the backlog
    byte-exactly; a second drain with the same checkpoint redelivers
    NOTHING (the reference's delete-on-success); newly arriving files
    are picked up by the next drain."""
    from samplebatchprocessing_spark.pipeline.manifest import watch_prefix
    log1 = watch_prefix(spark, bucket)
    rows1 = log1.collect()
    assert len(rows1) == 4 and all(r["ok"] for r in rows1)
    for src in glob.glob(os.path.join(bucket, "input", "*")):
        out = os.path.join(bucket, "output",
                           os.path.basename(src) + ".out")
        assert (hashlib.md5(open(src, "rb").read()).hexdigest()
                == hashlib.md5(open(out, "rb").read()).hexdigest())

    # drain again: checkpoint == delete-on-success -> no reprocessing
    log2 = watch_prefix(spark, bucket)
    assert log2.count() == 4

    # a new file arrives -> exactly one more job on the next drain
    extra = sorted(glob.glob(f"{sf_smoke}/*.parquet"))[5]
    shutil.copy(extra, os.path.join(bucket, "input", "late_arrival.bin"))
    log3 = watch_prefix(spark, bucket)
    assert log3.count() == 5
    assert log3.filter("file_name = 'late_arrival.bin'").first()["ok"]


def test_watch_prefix_retry_dedupes_log(spark, bucket):
    """ADVICE r2: a file that FAILED under one checkpoint and
    SUCCEEDED after a fresh one must surface only its newest (ok)
    row — the cumulative _commit_log keeps both, the returned
    DataFrame dedupes to latest-per-file."""
    import os

    from samplebatchprocessing_spark.pipeline.manifest import watch_prefix

    def boom(b: bytes) -> bytes:
        raise RuntimeError("transform failed")

    bad = watch_prefix(spark, bucket, transform=boom, ext=".out",
                       checkpoint=os.path.join(bucket, "_ckpt_bad"))
    assert bad.count() == 4 and not any(r["ok"] for r in bad.collect())

    # fresh checkpoint redelivers every file; identity transform wins
    good = watch_prefix(spark, bucket,
                        checkpoint=os.path.join(bucket, "_ckpt_good"))
    rows = good.collect()
    assert len(rows) == 4, "ok=false + ok=true rows must collapse"
    assert all(r["ok"] for r in rows)



def test_watch_prefix_rejects_transform_and_command(spark, bucket):
    """The watch path validates its arguments exactly like
    run_pipeline: ``transform=`` with ``command=`` raises before any
    work — the drain and the daemon alike — so nothing is written."""
    from samplebatchprocessing_spark.pipeline.manifest import (
        watch_daemon, watch_prefix)
    for watch in (watch_prefix, watch_daemon):
        with pytest.raises(ValueError, match="not both"):
            watch(spark, bucket, transform=lambda b: b, command="cp")
    for d in ("_checkpoint", "_commit_log", "output"):
        assert not os.path.exists(os.path.join(bucket, d))


def test_failed_file_is_not_redelivered_under_its_checkpoint(spark,
                                                            bucket):
    """Under one checkpoint a logged file is delivered once, failed
    ones included (a deleted SQS message is gone whatever happened to
    it); a new checkpoint redelivers it.  The idle drain in between
    appends no log part file (the daemon drains every poll)."""
    from samplebatchprocessing_spark.pipeline.manifest import watch_prefix

    def boom(raw: bytes) -> bytes:
        raise ValueError("transform failed")

    def log_parts() -> list[str]:
        return sorted(glob.glob(os.path.join(bucket, "_commit_log",
                                             "part-*")))

    ckpt_a = os.path.join(bucket, "_ckpt_a")
    assert not any(r["ok"] for r in
                   watch_prefix(spark, bucket, transform=boom,
                                checkpoint=ckpt_a).collect())
    parts = log_parts()
    # identity would succeed now: no output proves no retry
    rows = watch_prefix(spark, bucket, checkpoint=ckpt_a).collect()
    assert len(rows) == 4 and not any(r["ok"] for r in rows)
    assert parts and log_parts() == parts
    assert not glob.glob(os.path.join(bucket, "output", "*"))

    rows = watch_prefix(spark, bucket,
                        checkpoint=os.path.join(bucket, "_ckpt_b")).collect()
    assert len(rows) == 4 and all(r["ok"] for r in rows)
    assert len(glob.glob(os.path.join(bucket, "output", "*.out"))) == 4


def test_watch_checkpoint_survives_bucket_spelling(spark, bucket):
    """The default checkpoint, and a given one inside the bucket, name
    the same delivery state under every spelling of the bucket:
    ``file://`` URI, bare path, ``bucket/.`` and a relative path.  A
    re-drain under any of them runs nothing (no output, no new log
    part file); the ``file://`` log is listed like the bare one."""
    from samplebatchprocessing_spark.pipeline.manifest import watch_prefix

    def boom(raw: bytes) -> bytes:
        raise ValueError("transform failed")

    def log_parts() -> list[str]:
        return sorted(glob.glob(os.path.join(bucket, "_commit_log",
                                             "part-*")))

    uri = f"file://{bucket}"
    spellings = [uri, bucket, bucket + "/.", os.path.relpath(bucket)]
    rows = watch_prefix(spark, uri, transform=boom).collect()
    assert len(rows) == 4 and not any(r["ok"] for r in rows)
    watch_prefix(spark, uri, transform=boom,
                 checkpoint=os.path.join(uri, "_ck"))
    parts = log_parts()
    for b in spellings:
        rows = watch_prefix(spark, b).collect()
        assert len(rows) == 4 and not any(r["ok"] for r in rows), b
        watch_prefix(spark, b, checkpoint=os.path.join(b, ".", "_ck"))
        assert log_parts() == parts, b
    assert not glob.glob(os.path.join(bucket, "output", "*"))


def test_log_read_past_the_serial_listing_threshold(spark, bucket):
    """Past Spark's serial-listing threshold the log is read through
    its directory (one listing) instead of its part files: the same
    rows and the same delivery state."""
    from samplebatchprocessing_spark.pipeline.manifest import watch_prefix

    def boom(raw: bytes) -> bytes:
        raise ValueError("transform failed")

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    serial = spark.conf.get(key)
    spark.conf.set(key, "0")
    try:
        assert not any(r["ok"] for r in
                       watch_prefix(spark, bucket, transform=boom).collect())
        parts = glob.glob(os.path.join(bucket, "_commit_log", "part-*"))
        rows = watch_prefix(spark, bucket).collect()
        assert len(rows) == 4 and not any(r["ok"] for r in rows)
        assert glob.glob(os.path.join(bucket, "_commit_log",
                                      "part-*")) == parts
        rows = watch_prefix(spark, bucket,
                            checkpoint=os.path.join(bucket, "_b")).collect()
        assert len(rows) == 4 and all(r["ok"] for r in rows)
    finally:
        spark.conf.set(key, serial)


def test_watch_drain_scans_only_new_files(spark, bucket, monkeypatch):
    """A drain scans only the files it runs: a logged input deleted
    after the drain's listing (here: just before its dispatch, as a
    quarantine move or an operator's clean-up may) does not fail it,
    and a new file whose name holds glob characters runs exactly
    once."""
    from samplebatchprocessing_spark.pipeline import manifest
    assert len(manifest.watch_prefix(spark, bucket).collect()) == 4
    in_dir = os.path.join(bucket, "input")
    logged = sorted(os.listdir(in_dir))[0]
    odd = "new {a,b} [x]*?.bin"
    with open(os.path.join(in_dir, odd), "wb") as f:
        f.write(b"fresh bytes")
    run_pipeline = manifest.run_pipeline

    def delete_then_run(*args, **kwargs):
        os.remove(os.path.join(in_dir, logged))
        return run_pipeline(*args, **kwargs)
    monkeypatch.setattr(manifest, "run_pipeline", delete_then_run)
    rows = manifest.watch_prefix(spark, bucket).collect()
    assert len(rows) == 5 and all(r["ok"] for r in rows)
    assert not os.path.exists(os.path.join(in_dir, logged))
    with open(os.path.join(bucket, "output", odd + ".out"), "rb") as f:
        assert f.read() == b"fresh bytes"
    assert spark.read.parquet(
        *glob.glob(os.path.join(bucket, "_commit_log", "part-*"))
    ).filter(F.col("file_name") == odd).count() == 1


def test_watch_daemon_drain_error_ends_the_loop(spark, tmp_path):
    """A drain that raises (here: the watched prefix does not exist)
    ends the daemon: ``isActive`` turns false and
    ``awaitTermination()`` re-raises the error, so the CLI's loop
    exits with it instead of reporting a clean stop."""
    from samplebatchprocessing_spark.pipeline.manifest import watch_daemon
    q = watch_daemon(spark, str(tmp_path / "no_bucket"), poll_seconds=0.2)
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        q.awaitTermination(120)
    assert not q.isActive
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        q.stop()


def test_pipeline_job_budgets(spark, bucket, spark_jobs):
    """Spark jobs per call on the 4-file bucket, pinned as upper
    bounds (measured the same in 5 fresh sessions): a batch run, a
    backlog drain, an idle re-drain, a ``commit_log`` read and a
    quarantine sweep over a log and a ledger that both exist, each
    with its ``collect``.  Building ``commit_log`` runs no job: every
    log and ledger read passes a declared schema.  An added action on
    any of these paths fails here.  A change that cuts jobs lowers its
    bound."""
    from samplebatchprocessing_spark.pipeline.manifest import (
        LEDGER_SCHEMA, commit_log, quarantine_sweep, watch_prefix)
    rows, n = spark_jobs(
        lambda: run_pipeline(spark, build_manifest(spark, bucket)).collect())
    assert len(rows) == 4 and n <= 1, n
    shutil.rmtree(os.path.join(bucket, "output"))

    rows, n = spark_jobs(lambda: watch_prefix(spark, bucket).collect())
    assert len(rows) == 4 and n <= 3, n
    rows, n = spark_jobs(lambda: watch_prefix(spark, bucket).collect())
    assert len(rows) == 4 and n <= 3, n
    _, n = spark_jobs(lambda: commit_log(spark, bucket))
    assert n == 0, n
    rows, n = spark_jobs(lambda: commit_log(spark, bucket).collect())
    assert len(rows) == 4 and n <= 2, n

    with open(os.path.join(bucket, "input", "poison.bin"), "wb") as f:
        f.write(b"POISON")

    def guard(raw: bytes) -> bytes:
        if raw[:6] == b"POISON":
            raise ValueError("poison input")
        return raw
    for ckpt in ("_c1", "_c2"):
        watch_prefix(spark, bucket, transform=guard,
                     checkpoint=os.path.join(bucket, ckpt))
    spark.createDataFrame([("gone.bin", 2, "quarantine/gone.bin")],
                          LEDGER_SCHEMA).write.parquet(
        os.path.join(bucket, "_quarantine_ledger"))
    rows, n = spark_jobs(lambda: quarantine_sweep(
        spark, bucket, max_attempts=2).collect())
    assert sorted(r["file_name"] for r in rows) == [
        "gone.bin", "poison.bin"] and n <= 5, n


def test_watch_daemon_two_drops_and_stop(spark, bucket, sf_smoke):
    """The daemon form of watch (GetJobs.py:21-23's infinite loop):
    drains the startup backlog, picks up a file dropped WHILE RUNNING
    on a later poll, and stops cleanly via query.stop() — the same
    call the CLI's SIGINT handler makes (GetJobs.py:63-65,80)."""
    import time

    from samplebatchprocessing_spark.pipeline.manifest import (
        commit_log, watch_daemon)

    def n_out() -> int:
        return len(glob.glob(os.path.join(bucket, "output", "*.out")))

    q = watch_daemon(spark, bucket, poll_seconds=0.5)
    try:
        # generous: under full-suite load with concurrent Spark apps
        # the 0.5 s poll loop's micro-batches can each take seconds
        # (a 90 s deadline expired once under a 4-session box, and
        # 240 s expired once in r14 under a hypervisor burst that
        # starved single queries 5x for minutes); polling means a
        # healthy run never waits this long
        deadline = time.time() + 600
        while n_out() < 4 and time.time() < deadline:
            time.sleep(0.2)
        assert n_out() == 4, "startup backlog not drained"

        # second drop while the daemon is live — ATOMIC (tmp dotfile
        # + rename): a plain copy races the 0.5 s poll, which can
        # read the file mid-write and crash the micro-batch (observed
        # under full-suite load; dotfiles are invisible to Spark's
        # file listing, and S3-style drops — the reference semantics
        # — are atomic too)
        extra = sorted(glob.glob(f"{sf_smoke}/*.parquet"))[5]
        tmp = os.path.join(bucket, "input", ".late_arrival.bin.tmp")
        shutil.copy(extra, tmp)
        os.rename(tmp,
                  os.path.join(bucket, "input", "late_arrival.bin"))
        deadline = time.time() + 600   # fresh budget for the live drop
        while n_out() < 5 and time.time() < deadline:
            time.sleep(0.2)
        assert n_out() == 5, "live drop not picked up by the poll loop"
    finally:
        q.stop()
    q.awaitTermination()
    assert not q.isActive

    rows = commit_log(spark, bucket).collect()
    assert len(rows) == 5 and all(r["ok"] for r in rows)
    src = sorted(glob.glob(f"{sf_smoke}/*.parquet"))[5]
    out = os.path.join(bucket, "output", "late_arrival.bin.out")
    assert (hashlib.md5(open(src, "rb").read()).hexdigest()
            == hashlib.md5(open(out, "rb").read()).hexdigest())


def test_watch_daemon_stop_finishes_inflight_batch(spark, bucket):
    """stop() while a micro-batch is in flight lets that batch commit:
    every file whose output exists has its commit-log row (GetJobs.py:
    63-65 finishes the current message before exiting).  A slow
    transform holds the backlog batch open past the first output."""
    import time

    from samplebatchprocessing_spark.pipeline.manifest import (
        commit_log, watch_daemon)

    def slow(raw: bytes) -> bytes:
        time.sleep(1.0)
        return raw

    def outs() -> list[str]:
        return glob.glob(os.path.join(bucket, "output", "*.out"))

    q = watch_daemon(spark, bucket, transform=slow, poll_seconds=0.5)
    try:
        deadline = time.time() + 600
        while not outs() and time.time() < deadline:
            time.sleep(0.05)
        assert outs(), "backlog batch never wrote an output"
    finally:
        q.stop()
    q.awaitTermination()
    rows = commit_log(spark, bucket).collect()
    assert len(rows) == len(outs()) == 4 and all(r["ok"] for r in rows)


def test_cli_watch_sigint_graceful(bucket):
    """End-to-end CLI daemon: ``python -m samplebatchprocessing_spark
    watch`` processes the backlog, then a SIGINT produces a graceful
    exit 0 with the commit-log summary (GetJobs.py:63-65,80)."""
    import signal as sig
    import subprocess
    import sys as _sys
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.Popen(
        [_sys.executable, "-m", "samplebatchprocessing_spark", "watch",
         bucket, "--poll", "0.5"],
        cwd=repo, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, env=env)
    try:
        deadline = time.time() + 150
        def n_out() -> int:
            return len(glob.glob(os.path.join(bucket, "output", "*.out")))
        while n_out() < 4 and time.time() < deadline:
            time.sleep(0.5)
        assert n_out() == 4, "daemon did not drain the backlog"
        proc.send_signal(sig.SIGINT)
        out, _ = proc.communicate(timeout=90)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
    assert proc.returncode == 0, f"non-graceful exit: {proc.returncode}"
    assert "4/4 files ok" in out


def test_pipeline_file_scheme_uri_end_to_end(spark, bucket):
    """SCALE.md 'Object-store commit' as executable fact: the whole
    pipeline runs against a scheme-prefixed (file://) bucket URI —
    Spark's binaryFile source resolves the URI through the Hadoop
    filesystem layer while the worker-side per-file commit maps it
    through the scheme shim, and its one-PUT commit leaves no temp
    object behind."""
    uri = f"file://{bucket}"
    manifest = build_manifest(spark, uri)
    assert manifest.count() == 4
    log = run_pipeline(spark, manifest).collect()
    assert len(log) == 4 and all(r["ok"] for r in log)
    for r in log:
        src = os.path.join(bucket, "input", r["file_name"])
        out = r["out_path"]
        assert not out.startswith("file:")   # shim resolved to POSIX
        with open(src, "rb") as f_in, open(out, "rb") as f_out:
            assert (hashlib.md5(f_in.read()).hexdigest()
                    == hashlib.md5(f_out.read()).hexdigest())
    assert not glob.glob(os.path.join(bucket, "output", "*.inprogress"))


def test_posix_commit_never_rewrites_live_output(spark, bucket):
    """The commit swaps the final key to a new file; it never rewrites
    the live output in place.  A reader holding the old output (here a
    hard link, as an open handle would) keeps reading the old bytes,
    and the final key holds the new ones (SCALE.md 'Object-store
    commit': a reader never sees a partial object)."""
    name = sorted(os.listdir(os.path.join(bucket, "input")))[0]
    live = os.path.join(bucket, "output", name + ".out")
    os.makedirs(os.path.dirname(live))
    with open(live, "wb") as f:
        f.write(b"old bytes")
    reader = os.path.join(bucket, "reader_handle")
    os.link(live, reader)
    log = run_pipeline(spark, build_manifest(spark, bucket)).collect()
    assert len(log) == 4 and all(r["ok"] for r in log)
    with open(os.path.join(bucket, "input", name), "rb") as src, \
            open(live, "rb") as out:
        assert out.read() == src.read()
    with open(reader, "rb") as f:
        assert f.read() == b"old bytes"


def test_pipeline_object_store_scheme_raises_not_silent():
    """An s3a:// bucket with NO client must fail loudly in the worker
    commit, never write a local dir named 's3a:'."""
    from samplebatchprocessing_spark.pipeline.manifest import (
        _fs_local_path)
    assert _fs_local_path("/tmp/x") == "/tmp/x"
    assert _fs_local_path("file:///tmp/x") == "/tmp/x"
    with pytest.raises(NotImplementedError, match="s3a"):
        _fs_local_path("s3a://bucket/prefix")


def _recording_store(root: str):
    """File-backed ObjectStoreClient double (VERDICT r7 #4): objects
    live under <root>/objects/<key>; every get/put/delete appends
    a time-ordered journal entry, so the test can assert the exact
    call sequence the reference's S3 flow would receive
    (GetJobs.py:48-53 download, :57-60 upload, :37-40
    delete-on-success).  Defined
    inside a factory so cloudpickle serializes the CLASS BY VALUE —
    the commit runs in the executor's Python worker, which cannot
    import the test module."""

    class RecordingStore:
        def __init__(self, root: str):
            self.root = root

        def _obj(self, key: str) -> str:
            return os.path.join(self.root, "objects", key)

        def _journal(self, line: str) -> None:
            import time
            import uuid
            d = os.path.join(self.root, "journal")
            os.makedirs(d, exist_ok=True)
            name = f"{time.time_ns():020d}_{uuid.uuid4().hex[:8]}"
            with open(os.path.join(d, name), "w") as f:
                f.write(line)

        def get(self, key: str) -> bytes:
            with open(self._obj(key), "rb") as f:
                data = f.read()
            self._journal(f"GET {key}")
            return data

        def put(self, key: str, data: bytes) -> None:
            p = self._obj(key)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "wb") as f:   # one call = one atomic object
                f.write(data)
            self._journal(f"PUT {key}")

        def delete(self, key: str) -> None:
            os.remove(self._obj(key))
            self._journal(f"DELETE {key}")

    return RecordingStore(root)


def _store_ops(root: str) -> list[str]:
    d = os.path.join(root, "journal")
    return [open(p).read()
            for p in sorted(glob.glob(os.path.join(d, "*")))]


def _object_store_log(spark, store, transform=None):
    """Stage three input objects with ``put``, clear the journal, then
    send their job rows for an object-store bucket URI through
    :func:`run_pipeline` — the same dispatch the streaming watcher
    uses per micro-batch."""
    from samplebatchprocessing_spark.exprs import local_df
    from samplebatchprocessing_spark.pipeline.manifest import (
        MANIFEST_SCHEMA)
    for i in range(3):
        store.put(f"contract-bucket/data/input/f{i}.bin",
                  bytes([i]) * (i + 1))
    shutil.rmtree(os.path.join(store.root, "journal"))
    manifest = local_df(
        spark, [("process", "s3a://contract-bucket/data", "input/",
                 "output/", f"f{i}.bin") for i in range(3)],
        MANIFEST_SCHEMA)
    return run_pipeline(spark, manifest, transform or (lambda b: b),
                        store=store).collect()


def _file_ops(root: str, i: int) -> list[str]:
    return [o for o in _store_ops(root) if f"/f{i}.bin" in o]


def test_object_store_tempkey_commit_contract(spark, tmp_path):
    """The commit against an object-store scheme writes the
    transformed bytes to the final key and to no temp key: the row
    names ``s3a://<key>``, counts the input's bytes, no
    ``<key>.inprogress`` object exists afterwards, and no POSIX path
    is ever touched for the s3a bucket."""
    store = _recording_store(str(tmp_path))
    log = _object_store_log(spark, store, transform=lambda b: b + b"!")
    assert len(log) == 3 and all(r["ok"] for r in log)
    for i, r in enumerate(sorted(log, key=lambda r: r["file_name"])):
        key = f"contract-bucket/data/output/f{i}.bin.out"
        assert r["out_path"] == f"s3a://{key}"
        with open(os.path.join(str(tmp_path), "objects", key),
                  "rb") as f:
            assert f.read() == bytes([i]) * (i + 1) + b"!"
        tmp_key = key + ".inprogress"
        assert not os.path.exists(
            os.path.join(str(tmp_path), "objects", tmp_key))
        assert r["in_bytes"] == i + 1
    # the fake bucket never materialized as a local directory
    assert not os.path.exists("s3a:")


def test_object_store_replace_commit_is_single_put(spark, tmp_path):
    """On an object store the PUT itself is the atomic visibility
    switch, so the commit is the input's GET plus ONE direct put of
    the final key — no temp object, no copy, no delete."""
    store = _recording_store(str(tmp_path))
    log = _object_store_log(spark, store)
    assert len(log) == 3 and all(r["ok"] for r in log)
    assert len(_store_ops(str(tmp_path))) == 6
    for i in range(3):
        assert _file_ops(str(tmp_path), i) == [
            f"GET contract-bucket/data/input/f{i}.bin",
            f"PUT contract-bucket/data/output/f{i}.bin.out"]


def test_object_store_failed_transform_commits_nothing(spark, tmp_path):
    """The returncode gate over an object store: a failing transform
    must emit ok=False and touch the store with no write call for
    that file — its only call is the input's GET; no partial upload,
    no delete — so redelivery/task retry re-runs it cleanly (the
    reference's skip-upload-and-redeliver, GetJobs.py:54-56)."""
    def _boom(b: bytes) -> bytes:
        if b[:1] == bytes([1]):
            raise RuntimeError("bad file")
        return b

    store = _recording_store(str(tmp_path))
    log = _object_store_log(spark, store, transform=_boom)
    by_name = {r["file_name"]: r for r in log}
    assert not by_name["f1.bin"]["ok"]
    assert by_name["f0.bin"]["ok"] and by_name["f2.bin"]["ok"]
    assert _file_ops(str(tmp_path), 1) == [
        "GET contract-bucket/data/input/f1.bin"]


def test_pipeline_concurrent_runs_stay_byte_exact(spark, bucket):
    """The reference's at-least-once contract under actual
    concurrency: two pipeline runs over the SAME prefix racing on
    the same deterministic output keys (SQS redelivery's worst case)
    must both succeed and leave byte-identical outputs — the
    write-temp + atomic-replace commit makes the race harmless."""
    import threading
    manifest = build_manifest(spark, bucket)
    results: dict[int, list] = {}
    errors: list = []

    def run(i: int) -> None:
        try:
            results[i] = run_pipeline(spark, manifest).collect()
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert all(len(r) == 4 and all(x["ok"] for x in r)
               for r in results.values())
    for fn in os.listdir(os.path.join(bucket, "input")):
        src = os.path.join(bucket, "input", fn)
        out = os.path.join(bucket, "output", fn + ".out")
        with open(src, "rb") as a, open(out, "rb") as b:
            assert (hashlib.md5(a.read()).hexdigest()
                    == hashlib.md5(b.read()).hexdigest())
    assert not glob.glob(os.path.join(bucket, "output", "*.inprogress"))


def test_quarantine_sweep_drains_poison_file(spark, bucket):
    """VERDICT r8 #5: a permanently-failing input loops forever in
    the reference (GetJobs.py:54-56, no DLQ); quarantine_sweep breaks
    the loop after max_attempts — the poison file moves out of the
    watched prefix, lands in the ledger, and the post-sweep drain
    adds zero new failure rows.  A second sweep appends nothing."""
    import os

    from samplebatchprocessing_spark.pipeline.manifest import (
        quarantine_sweep, watch_prefix)

    with open(os.path.join(bucket, "input", "poison.bin"), "wb") as f:
        f.write(b"POISON")

    def guard(raw: bytes) -> bytes:
        if raw[:6] == b"POISON":
            raise ValueError("poison input")
        return raw

    for i in (1, 2, 3):
        watch_prefix(spark, bucket, transform=guard,
                     checkpoint=os.path.join(bucket, f"_ckpt{i}"))

    ledger = quarantine_sweep(spark, bucket, max_attempts=3)
    rows = ledger.collect()
    assert [(r["file_name"], r["n_failures"]) for r in rows] \
        == [("poison.bin", 3)]
    assert not os.path.exists(
        os.path.join(bucket, "input", "poison.bin"))
    assert os.path.exists(
        os.path.join(bucket, "quarantine", "poison.bin"))

    log_dir = os.path.join(bucket, "_commit_log")
    fails_before = spark.read.parquet(log_dir).filter(~F.col("ok")).count()
    watch_prefix(spark, bucket, transform=guard,
                 checkpoint=os.path.join(bucket, "_ckpt4"))
    fails_after = spark.read.parquet(log_dir).filter(~F.col("ok")).count()
    assert fails_after == fails_before, "post-sweep drain must not re-fail"
    assert quarantine_sweep(spark, bucket, max_attempts=3).count() == 1


def test_quarantine_never_touches_recovered_files(spark, bucket):
    """A file that failed repeatedly but SUCCEEDED on its newest
    delivery (the input was fixed in place) must never be swept,
    however many failures its history holds."""
    import os

    from samplebatchprocessing_spark.pipeline.manifest import (
        quarantine_sweep, watch_prefix)

    flaky = os.path.join(bucket, "input", "flaky.bin")
    with open(flaky, "wb") as f:
        f.write(b"POISON")

    def guard(raw: bytes) -> bytes:
        if raw[:6] == b"POISON":
            raise ValueError("poison input")
        return raw

    for i in (1, 2):
        watch_prefix(spark, bucket, transform=guard,
                     checkpoint=os.path.join(bucket, f"_ckpt{i}"))
    with open(flaky, "wb") as f:                 # operator fixed it
        f.write(b"now fine")
    watch_prefix(spark, bucket, transform=guard,
                 checkpoint=os.path.join(bucket, "_ckpt3"))

    assert quarantine_sweep(spark, bucket, max_attempts=2).count() == 0
    assert os.path.exists(flaky), "recovered file must stay in input"


def test_quarantine_sweep_over_object_store(spark, tmp_path):
    """VERDICT r9 #3: the sweep's escape hatch must work on the
    reference's real deployment surface (S3, GetJobs.py:48-60), not
    just local buckets.  With the new ``list`` verb the sweep runs
    against a ``mock://`` bucket through the 4-verb client: the
    poison object moves via copy+delete, the good object stays, the
    ledger records the object-store URI, and a second sweep is a
    no-op.  Control tables (commit log, ledger) stay on a
    Spark-readable filesystem via the log_dir/ledger_dir seam."""
    import os

    from samplebatchprocessing_spark.pipeline.manifest import (
        LocalObjectStoreClient, quarantine_sweep)

    store = LocalObjectStoreClient(str(tmp_path / "objects"))
    store.put("qbucket/input/poison.bin", b"POISON")
    store.put("qbucket/input/good.bin", b"fine")
    log_dir = str(tmp_path / "log")
    ledger_dir = str(tmp_path / "ledger")
    rows = ([("poison.bin", 6, 0, "", False, float(i), 0)
             for i in (1, 2, 3)]
            + [("good.bin", 4, 4, "mock://qbucket/output/good.bin.out",
                True, 1.0, 0)])
    spark.createDataFrame(
        rows, "file_name string, in_bytes long, out_bytes long, "
              "out_path string, ok boolean, run_seq double, "
              "batch_id long").write.parquet(log_dir)

    with pytest.raises(ValueError, match="ObjectStoreClient"):
        quarantine_sweep(spark, "mock://qbucket", log_dir=log_dir,
                         ledger_dir=ledger_dir)

    ledger = quarantine_sweep(spark, "mock://qbucket", store=store,
                              log_dir=log_dir, ledger_dir=ledger_dir,
                              max_attempts=3)
    assert [tuple(r) for r in ledger.collect()] == [
        ("poison.bin", 3, "mock://qbucket/quarantine/poison.bin")]
    assert store.list("qbucket/input/") == ["qbucket/input/good.bin"]
    assert store.list("qbucket/quarantine/") == [
        "qbucket/quarantine/poison.bin"]
    # idempotent: second sweep moves nothing, appends nothing
    again = quarantine_sweep(spark, "mock://qbucket", store=store,
                             log_dir=log_dir, ledger_dir=ledger_dir,
                             max_attempts=3)
    assert again.count() == 1
    assert not os.path.exists("mock:")   # no path mangling


def test_quarantine_sweep_handles_legacy_untagged_log(spark, tmp_path):
    """ADVICE r9: a pre-tagging commit log (no run_seq/batch_id —
    the same on-disk shape commit_log() guards for) must not crash
    the sweep.  With no ordering columns the fallback is strictly
    conservative: only a file with ZERO ok rows qualifies, so
    poison.bin (all failures) is swept and flaky.bin (failures + one
    success, newest unknowable) is kept."""
    import os

    from samplebatchprocessing_spark.pipeline.manifest import (
        quarantine_sweep)

    bucket = str(tmp_path / "legacy_bucket")
    in_dir = os.path.join(bucket, "input")
    os.makedirs(in_dir)
    for name in ("poison.bin", "flaky.bin"):
        with open(os.path.join(in_dir, name), "wb") as f:
            f.write(b"x")
    rows = ([("poison.bin", 1, 0, "", False)] * 3
            + [("flaky.bin", 1, 0, "", False)] * 2
            + [("flaky.bin", 1, 1, "out", True)])
    spark.createDataFrame(
        rows, "file_name string, in_bytes long, out_bytes long, "
              "out_path string, ok boolean") \
        .write.parquet(os.path.join(bucket, "_commit_log"))

    ledger = quarantine_sweep(spark, bucket, max_attempts=2)
    assert [r["file_name"] for r in ledger.collect()] == ["poison.bin"]
    assert not os.path.exists(os.path.join(in_dir, "poison.bin"))
    assert os.path.exists(os.path.join(in_dir, "flaky.bin"))


def test_quarantine_sweep_backfills_orphaned_move(spark, bucket):
    """ADVICE r9 crash-safety: a sweep that dies between the
    os.replace move and the ledger append leaves the file
    quarantined but unledgered; the next sweep must RECONCILE —
    backfill the ledger row from the commit-log stats instead of
    skipping the gone-from-input candidate forever."""
    import os

    from samplebatchprocessing_spark.pipeline.manifest import (
        quarantine_sweep, watch_prefix)

    with open(os.path.join(bucket, "input", "poison.bin"), "wb") as f:
        f.write(b"POISON")

    def guard(raw: bytes) -> bytes:
        if raw[:6] == b"POISON":
            raise ValueError("poison input")
        return raw

    for i in (1, 2, 3):
        watch_prefix(spark, bucket, transform=guard,
                     checkpoint=os.path.join(bucket, f"_ckpt{i}"))
    # simulate the half-finished sweep: move done, ledger append lost
    q_dir = os.path.join(bucket, "quarantine")
    os.makedirs(q_dir, exist_ok=True)
    os.replace(os.path.join(bucket, "input", "poison.bin"),
               os.path.join(q_dir, "poison.bin"))

    ledger = quarantine_sweep(spark, bucket, max_attempts=3)
    assert [(r["file_name"], r["n_failures"]) for r in ledger.collect()] \
        == [("poison.bin", 3)]
    # and the backfill is itself idempotent
    assert quarantine_sweep(spark, bucket, max_attempts=3).count() == 1


def test_quarantine_sweep_rejects_bad_max_attempts(spark, bucket):
    from samplebatchprocessing_spark.pipeline.manifest import (
        quarantine_sweep)
    with pytest.raises(ValueError, match="max_attempts"):
        quarantine_sweep(spark, bucket, max_attempts=0)


def test_commit_log_without_part_file_is_empty(spark, tmp_path):
    """A log append killed before its commit leaves ``_commit_log/``
    holding only ``_temporary/``: the log reads as empty (not
    UNABLE_TO_INFER_SCHEMA) and the quarantine sweep moves nothing."""
    from samplebatchprocessing_spark.pipeline.manifest import (
        LOG_SCHEMA, commit_log, quarantine_sweep)

    bucket = str(tmp_path / "b")
    os.makedirs(os.path.join(bucket, "input"))
    with open(os.path.join(bucket, "input", "a.bin"), "wb") as f:
        f.write(b"x")
    attempt = os.path.join(bucket, "_commit_log", "_temporary", "0",
                           "_temporary", "attempt_0")
    os.makedirs(attempt)
    with open(os.path.join(attempt, "part-00000.snappy.parquet"),
              "wb") as f:
        f.write(b"PAR1")                 # the killed task's torn file

    log = commit_log(spark, bucket)
    assert log.schema == spark.createDataFrame([], LOG_SCHEMA).schema
    assert log.count() == 0
    assert quarantine_sweep(spark, bucket, max_attempts=1).count() == 0
    assert os.listdir(os.path.join(bucket, "input")) == ["a.bin"]
    assert not os.path.exists(os.path.join(bucket, "quarantine"))


def test_watch_daemon_with_quarantine_sweep(spark, bucket):
    """Operational composition: the CONTINUOUS daemon form + the
    quarantine sweep — poison arrives mid-stream, fails its delivery,
    and after the daemon stops the sweep drains it so the NEXT daemon
    session's discovery has nothing poisonous to pick up."""
    import os
    import time

    from samplebatchprocessing_spark.pipeline.manifest import (
        commit_log, quarantine_sweep, watch_daemon)

    def guard(raw: bytes) -> bytes:
        if raw[:6] == b"POISON":
            raise ValueError("poison input")
        return raw

    def n_out() -> int:
        import glob as _g
        return len(_g.glob(os.path.join(bucket, "output", "*.out")))

    def n_log_files() -> int:
        import glob as _g
        return len(_g.glob(os.path.join(bucket, "_commit_log",
                                        "*.parquet")))

    q = watch_daemon(spark, bucket, transform=guard, poll_seconds=0.5,
                     checkpoint=os.path.join(bucket, "_ckpt_d1"))
    try:
        deadline = time.time() + 240
        while n_out() < 4 and time.time() < deadline:
            time.sleep(0.2)
        assert n_out() == 4, "startup backlog not drained"

        logs_before = n_log_files()
        # atomic drop (tmp dotfile + rename): a plain write races the
        # 0.5 s poll — the two_drops test's measured discipline
        tmp = os.path.join(bucket, "input", ".poison.bin.tmp")
        with open(tmp, "wb") as f:
            f.write(b"POISON")
        os.rename(tmp, os.path.join(bucket, "input", "poison.bin"))
        # poison produces NO output file; its delivery is visible as
        # new commit-log parquet files (fs-level poll only — a Spark
        # read of _commit_log would race the daemon's own appends)
        deadline = time.time() + 240
        while n_log_files() <= logs_before and time.time() < deadline:
            time.sleep(0.2)
        assert n_log_files() > logs_before, "poison drop never delivered"
        time.sleep(2)       # let the in-flight trigger commit fully
    finally:
        q.stop()
    try:
        q.awaitTermination()
    except Exception:
        # stop() may cancel an idle trigger mid-write; the poison
        # batch's log row was durable before the sleep above, and the
        # assertions below are the ground truth
        pass

    rows = {r["file_name"]: r["ok"]
            for r in commit_log(spark, bucket).collect()}
    assert rows.get("poison.bin") is False and len(rows) == 5

    ledger = quarantine_sweep(spark, bucket, max_attempts=1)
    assert [r["file_name"] for r in ledger.collect()] == ["poison.bin"]
    assert not os.path.exists(os.path.join(bucket, "input", "poison.bin"))
    # next session's drain sees a clean prefix: no new failure rows
    from samplebatchprocessing_spark.pipeline.manifest import watch_prefix
    log_dir = os.path.join(bucket, "_commit_log")
    before = spark.read.parquet(log_dir).filter(~F.col("ok")).count()
    watch_prefix(spark, bucket, transform=guard,
                 checkpoint=os.path.join(bucket, "_ckpt_d2"))
    after = spark.read.parquet(log_dir).filter(~F.col("ok")).count()
    assert after == before


def test_object_store_list_is_string_prefix_semantics(tmp_path):
    """ADVICE r10: ``list`` models ListObjectsV2 — a STRING prefix
    over the flat key namespace, not a directory walk.  A partial
    key prefix ('b/inp') must match 'b/input/*', a key that
    legitimately ends in '.tmp' must be visible (only this client's
    own '<key>.<8hex>.inprogress' in-flight objects are hidden), and
    a point lookup (full key as prefix) is an existence check."""
    from samplebatchprocessing_spark.pipeline.manifest import (
        LocalObjectStoreClient)

    store = LocalObjectStoreClient(str(tmp_path))
    store.put("b/input/a.bin", b"1")
    store.put("b/input/b.bin", b"2")
    store.put("b/inputs_old/c.bin", b"3")
    store.put("b/input/scratch.tmp", b"user key, not our temp")

    assert store.list("b/inp") == [
        "b/input/a.bin", "b/input/b.bin", "b/input/scratch.tmp",
        "b/inputs_old/c.bin"]
    assert store.list("b/input/") == [
        "b/input/a.bin", "b/input/b.bin", "b/input/scratch.tmp"]
    # point lookup: full key as prefix -> membership
    assert "b/input/a.bin" in store.list("b/input/a.bin")
    assert store.list("b/input/a.bin.nope") == []
    # a crashed put's temp object ('<key>.<8hex>.inprogress') stays
    # hidden
    with open(tmp_path / "b" / "input" / "a.bin.deadbeef.inprogress",
              "wb") as f:
        f.write(b"partial")
    assert store.list("b/input/a.bin") == ["b/input/a.bin"]


def test_object_store_list_walks_only_the_prefix_directory(
        tmp_path, monkeypatch):
    """A point lookup walks the directory holding the key, not the
    whole root: on a POSIX bucket the quarantine sweep's existence
    checks must not walk outputs, ``_commit_log`` or ``_checkpoint``."""
    from samplebatchprocessing_spark.pipeline.manifest import (
        LocalObjectStoreClient)

    store = LocalObjectStoreClient(str(tmp_path))
    store.put("b/input/a.bin", b"1")
    store.put("b/output/a.bin.out", b"1")
    tops = []
    walk = os.walk

    def recording_walk(top, *args, **kwargs):
        tops.append(top)
        return walk(top, *args, **kwargs)

    monkeypatch.setattr(os, "walk", recording_walk)
    assert store.list("b/input/a.bin") == ["b/input/a.bin"]
    assert tops == [os.path.join(str(tmp_path), "b/input")]


def test_object_store_delete_is_idempotent(tmp_path):
    """ADVICE r10: S3 DELETE of a missing key succeeds — a
    re-entrant sweep racing the copy-then-delete window converges
    instead of crashing."""
    from samplebatchprocessing_spark.pipeline.manifest import (
        LocalObjectStoreClient)

    store = LocalObjectStoreClient(str(tmp_path))
    store.put("b/x.bin", b"1")
    store.delete("b/x.bin")
    store.delete("b/x.bin")          # no raise
    store.delete("b/never-existed")  # no raise
    assert store.list("b/") == []


def test_object_store_list_pages(tmp_path):
    """VERDICT r10 #7: the paged listing form — real ListObjectsV2
    caps at 1000 keys per response, so consumers get an iterator of
    bounded pages whose concatenation equals ``list``."""
    from samplebatchprocessing_spark.pipeline.manifest import (
        LocalObjectStoreClient)

    store = LocalObjectStoreClient(str(tmp_path))
    for i in range(7):
        store.put(f"b/k{i:02d}", bytes([i]))
    pages = list(store.list_pages("b/", page_size=3))
    assert [len(p) for p in pages] == [3, 3, 1]
    assert [k for p in pages for k in p] == store.list("b/")


def test_object_store_first_page_opens_o1_directories(tmp_path,
                                                       monkeypatch):
    """A membership lookup — the first ``page_size=1`` page, as
    ``StorePublisher`` checks that a layout holds a file — opens only
    the directories on the way to its first key, not every bucket of
    the layout: the walk is lazy and a page is yielded as it fills."""
    from samplebatchprocessing_spark.pipeline.manifest import (
        LocalObjectStoreClient)

    store = LocalObjectStoreClient(str(tmp_path))
    for b in range(64):
        for f in range(3):
            store.put(f"idx/v1/bucket={b}/part-{f}.parquet", b"x")
    opened = []
    scandir = os.scandir

    def recording_scandir(*args):
        opened.append(args)
        return scandir(*args)

    monkeypatch.setattr(os, "scandir", recording_scandir)
    pages = store.list_pages("idx/v1/", page_size=1)
    assert next(pages) == ["idx/v1/bucket=0/part-0.parquet"]
    pages.close()
    assert len(opened) <= 2, f"{len(opened)} directories opened"
