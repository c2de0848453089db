"""S8: checkpoint recovery — the reference's at-least-once retry
(visibility timeout, README.md:44-47) made exactly-once via
checkpoint + idempotent per-epoch sink."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from samplebatchprocessing_spark.catalog import normalize_events_ts
from samplebatchprocessing_spark.streaming.jobs import events_stream

def _run_to_sink(spark, src_dir, sink, ckpt):
    raw_schema = spark.read.parquet(
        os.path.join(src_dir, os.listdir(src_dir)[0])).schema
    sdf = (spark.readStream.schema(raw_schema)
           .option("pathGlobFilter", "*.parquet").parquet(src_dir))
    sdf = normalize_events_ts(sdf)

    def write_batch(df, batch_id):
        df.write.mode("overwrite").parquet(
            os.path.join(sink, f"batch={batch_id}"))

    q = (sdf.writeStream.foreachBatch(write_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def test_checkpoint_restart_no_dupes_no_loss(spark, sf_smoke, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    fixture = f"{sf_smoke}/events.parquet"
    shutil.copy(fixture, os.path.join(src, "a.parquet"))

    # run 1: drain file A, then "crash" (query stopped)
    _run_to_sink(spark, src, sink, ckpt)
    n1 = spark.read.parquet(f"{sink}/batch=*").count()
    assert n1 == 1000

    # new file arrives; restart from the SAME checkpoint
    shutil.copy(fixture, os.path.join(src, "b.parquet"))
    _run_to_sink(spark, src, sink, ckpt)
    total = spark.read.parquet(f"{sink}/batch=*")
    assert total.count() == 2000          # no loss
    # no duplicate processing of file A: each event id appears exactly twice
    # (once per file), not 3x/4x as reprocessing would produce
    per_id = total.groupBy("event_id").count()
    assert per_id.filter(F.col("count") != 2).count() == 0

    # re-running with nothing new is a no-op (idempotent commit log)
    _run_to_sink(spark, src, sink, ckpt)
    assert spark.read.parquet(f"{sink}/batch=*").count() == 2000


def test_stateful_sessions_carry_state_across_batches(spark, sf_smoke,
                                                      tmp_path):
    """S9: applyInPandasWithState must produce the same FINAL state
    whether events arrive in one micro-batch or split across two
    (state carried between invocations)."""
    from samplebatchprocessing_spark.streaming.jobs import (
        run_available_now, stateful_user_sessions)

    base = str(tmp_path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    ev = normalize_events_ts(spark.read.parquet(f"{sf_smoke}/events.parquet"))
    # time-split: first half of events in file A, rest in file B, so
    # most users span both micro-batches
    ev = ev.withColumn("ts_us", F.unix_micros("ts"))
    cut = ev.approxQuantile("ts_us", [0.5], 0.0)[0]
    os.makedirs(f"{base}/src")
    for name, part in (("a", ev.filter(F.col("ts_us") <= cut).drop("ts_us")),
                       ("b", ev.filter(F.col("ts_us") > cut).drop("ts_us"))):
        tmp = f"{base}/tmp_{name}"
        part.coalesce(1).write.parquet(tmp)
        pf = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.rename(os.path.join(tmp, pf), f"{base}/src/{name}.parquet")

    raw_schema = ev.schema
    sdf = (spark.readStream.schema(raw_schema)
           .option("pathGlobFilter", "*.parquet")
           .option("maxFilesPerTrigger", 1)
           .parquet(f"{base}/src"))
    sdf = normalize_events_ts(sdf)
    out = run_available_now(stateful_user_sessions(sdf)).collect()

    # final state per user = the row with the largest n_events
    # (monotone across batches)
    final = {}
    for r in out:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["user_id"]] = r

    # single-batch reference over the unsplit input
    sdf1 = events_stream(spark, sf_smoke, tag="s9ref")
    ref = {r["user_id"]: r for r in
           run_available_now(stateful_user_sessions(sdf1)).collect()}

    assert set(final) == set(ref)
    for uid, r in ref.items():
        f = final[uid]
        assert (f["n_events"], f["n_sessions"], f["max_gap_us"]) == \
            (r["n_events"], r["n_sessions"], r["max_gap_us"]), uid


def test_stage_table_dir_gc_stale_generations(spark, sf_smoke, tmp_path):
    """ADVICE r4: a fixture regen must not leave the previous
    generation's staged parquet behind, while concurrently live
    VARIANTS (different copies/tag) of the same table survive."""
    import os
    import shutil as sh

    from samplebatchprocessing_spark.streaming import jobs

    src_dir = tmp_path / "sf"
    src_dir.mkdir()
    sh.copy(os.path.join(sf_smoke, "events.parquet"),
            src_dir / "events.parquet")

    d1 = jobs.stage_table_dir(spark, str(src_dir), "events", copies=1)
    d2 = jobs.stage_table_dir(spark, str(src_dir), "events", copies=2)
    assert d1 != d2 and os.path.isdir(d1) and os.path.isdir(d2)

    # simulate a regen: touch the source -> new generation hash
    os.utime(src_dir / "events.parquet")
    d1b = jobs.stage_table_dir(spark, str(src_dir), "events", copies=1)
    assert d1b != d1
    assert not os.path.isdir(d1), "stale generation not GC'd"
    assert os.path.isdir(d2), "concurrent variant wrongly GC'd"


def test_transform_with_state_totals(spark, sf_smoke):
    """tws_user_totals (the Spark 4 transformWithStateInPandas
    surface): per-user exact totals must equal the plain batch
    aggregate.  SKIPS when google.protobuf is absent — the
    transformWithState Python state server requires it, and this
    container does not ship it (documented gate in
    streaming/jobs.py)."""
    import pytest
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf not available: "
                    "transformWithState state server cannot start")
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.streaming.jobs import (
        events_stream, run_available_now, tws_user_totals)
    sdf = events_stream(spark, sf_smoke, tag="tws_test")
    got = run_available_now(tws_user_totals(sdf),
                            output_mode="update")
    exp = (load_table(spark, sf_smoke, "events")
           .groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 100).cast("long"))
                .alias("value_sum_x100")))
    g = {(r["user_id"], r["n_events"], r["value_sum_x100"])
         for r in got.collect()}
    e = {(r["user_id"], r["n_events"], r["value_sum_x100"])
         for r in exp.collect()}
    assert g == e


def test_s24_epoch_replay_is_idempotent(spark, tmp_path):
    """S24's commit discipline: a restart REPLAYS a micro-batch into
    the same epoch directory as an overwrite — replaying must not
    duplicate postings (the COUNT(*)==n_terms AND probe depends on
    per-(tok, doc) distinctness), and the layered probe answers
    identically before and after the replay."""
    import os

    from samplebatchprocessing_spark.operators import text as T
    delta = spark.createDataFrame(
        [(3, "big cat"), (4, "cat dog big")], "doc_id long, text string")
    epoch_dir = str(tmp_path / "delta")

    def append_batch(df, batch_id):
        (T._postings(df, "text", "doc_id", 4)
         .write.mode("overwrite")
         .parquet(os.path.join(epoch_dir, f"epoch={batch_id}")))

    append_batch(delta, 0)
    once = sorted(tuple(r) for r in spark.read.parquet(
        f"{epoch_dir}/epoch=*").collect())
    append_batch(delta, 0)          # the restart replay
    twice = sorted(tuple(r) for r in spark.read.parquet(
        f"{epoch_dir}/epoch=*").collect())
    assert once == twice
    got = {(r["doc_id"], r["total_tf"])
           for r in T.postings_probe_and_df(
               spark.read.parquet(f"{epoch_dir}/epoch=*")
               .select("tok", "doc_id", "tf", "bucket"),
               ["big", "cat"], n_buckets=4).collect()}
    assert got == {(3, 2), (4, 2)}


def test_s25_batch_replay_rewrites_byte_identical(spark, tmp_path):
    """S25's restart contract end-to-end on the extracted per-batch
    step: epochs 0 and 1 run, then epoch 1 REPLAYS (a restart after
    its state write) and epoch 0 replays too (a restart after a
    checkpoint rollback) — every replay must rewrite its manifest
    slice byte-identically from the prior epoch's state, and the
    union manifest must equal the one-shot pack of all docs."""
    from samplebatchprocessing_spark.operators.curation import (
        pack_offsets)
    from samplebatchprocessing_spark.streaming.jobs import (
        pack_manifest_batch)
    out, state = str(tmp_path / "m"), str(tmp_path / "st")
    b0 = spark.createDataFrame(
        [(1, "a b c"), (2, "d e")], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(3, "f g h i j"), (4, "k")], "doc_id long, text string")

    def manifest():
        return sorted(tuple(r) for r in
                      spark.read.parquet(f"{out}/epoch=*").collect())

    pack_manifest_batch(b0, 0, out, state, start_total=100, seq_len=4)
    pack_manifest_batch(b1, 1, out, state, start_total=100, seq_len=4)
    first = manifest()
    pack_manifest_batch(b1, 1, out, state, start_total=100, seq_len=4)
    assert manifest() == first
    pack_manifest_batch(b0, 0, out, state, start_total=100, seq_len=4)
    assert manifest() == first
    both = b0.unionByName(b1).selectExpr(
        "doc_id",
        "cast(size(split(text, ' ')) as bigint) as n_tok")
    oneshot = sorted(
        tuple(r) for r in
        pack_offsets(both, seq_len=4, base_off=100)
        .select("doc_id", "n_tok", "start_off", "first_seq",
                "last_seq", "n_seqs").collect())
    assert first == oneshot


def test_p17_leaves_the_callers_conf_alone(spark, sf_smoke):
    """P17 pins its stream's shuffle width on a child session: a
    thread polling the caller's ``spark.sql.shuffle.partitions``
    while the stream runs never reads a changed value."""
    import threading

    from samplebatchprocessing_spark.queries.sources import (
        p17_python_stream_source)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")            # not the pin, so a change shows
    seen, done = set(), threading.Event()

    def poll():
        while not done.is_set():
            seen.add(spark.conf.get(key))
            done.wait(0.01)

    t = threading.Thread(target=poll)
    t.start()
    try:
        rows = p17_python_stream_source(spark, sf_smoke).collect()
    finally:
        done.set()
        t.join(timeout=10)
        spark.conf.set(key, old)
    assert not t.is_alive()
    assert seen == {"7"}
    assert sum(r["n"] for r in rows) == 10000
