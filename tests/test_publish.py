"""Atomic versioned-pointer publish (r11, VERDICT r10 #2) and the
maintenance sweeps that drive it (VERDICT r10 #3).

The three layout-rewriting maintenance passes (l17 LSH compaction,
x123 postings compaction, x133 IVF re-centroiding) each promised
"probes keep serving the old layout until the atomic directory
swap"; these tests pin the executable form of that claim — pointer
round-trip, crash-leaves-old-version-live, probe-through-pointer
consistency for all three index families, prune horizon, and the
census -> due? -> rewrite -> publish sweep end-to-end on the
drifted/decayed fixtures."""

from __future__ import annotations

import json
import os

import pytest

from samplebatchprocessing_spark.catalog import load_table
from samplebatchprocessing_spark.operators import (dedup, maintenance,
                                                   publish)
from samplebatchprocessing_spark.operators import similarity as S
from samplebatchprocessing_spark.operators import text as T


def _write_layout(path: str) -> None:
    """A hand-made layout holding one file, as a real Spark writer
    leaves it: a layout exists iff it holds at least one file."""
    os.makedirs(path)
    with open(os.path.join(path, "part-0.parquet"), "wb") as f:
        f.write(b"data")


def test_pointer_roundtrip_and_guards(tmp_path):
    root = str(tmp_path / "idx")
    v1 = os.path.join(root, "layout-v00001")
    _write_layout(v1)

    # unversioned root resolves to itself (pre-r11 back-compat)
    assert publish.resolve(root) == root
    assert publish.current_version(root) is None

    assert publish.publish(root, v1) == 1
    assert publish.resolve(root) == v1
    assert publish.current_version(root) == 1

    # fresh dir allocation: monotone, skips whatever exists on disk
    v2 = publish.new_layout_dir(root)
    assert os.path.basename(v2) == "layout-v00002"
    _write_layout(v2)
    assert publish.publish(root, v2) == 2
    assert publish.resolve(root) == v2

    # guards: outside root / nonexistent / the live layout / pointer
    with pytest.raises(ValueError, match="subdirectory"):
        publish.publish(root, str(tmp_path / "elsewhere"))
    with pytest.raises(ValueError, match="does not exist"):
        publish.publish(root, os.path.join(root, "layout-v00009"))
    with pytest.raises(ValueError, match="already the live"):
        publish.publish(root, v2)
    # nested-too-deep is "not a direct subdirectory"
    deep = os.path.join(v2, "inner")
    os.makedirs(deep)
    with pytest.raises(ValueError, match="subdirectory"):
        publish.publish(root, deep)


def test_crash_before_publish_leaves_old_version_live(tmp_path):
    """The crash contract: a maintenance pass that dies after
    writing the fresh layout but before the pointer swap leaves
    every reader on the old version; the orphan is never resolved
    and never reused for a version name."""
    root = str(tmp_path / "idx")
    v1 = os.path.join(root, "layout-v00001")
    _write_layout(v1)
    publish.publish(root, v1)

    orphan = publish.new_layout_dir(root)
    _write_layout(orphan)        # "crashed" writer: wrote, no publish
    assert publish.resolve(root) == v1
    assert publish.current_version(root) == 1
    # the NEXT writer gets a fresh name past the orphan
    nxt = publish.new_layout_dir(root)
    assert nxt != orphan and not os.path.exists(nxt)
    assert os.path.basename(nxt) == "layout-v00003"
    # a torn pointer write can never be observed: the temp file is
    # invisible to readers even if the replace never happened
    tmp = os.path.join(root, publish.POINTER + ".inprogress")
    with open(tmp, "w") as f:
        f.write("{\"version\": 99")     # torn JSON
    assert publish.resolve(root) == v1


def test_prune_keeps_horizon_and_skips_orphans(tmp_path):
    root = str(tmp_path / "idx")
    dirs = []
    for i in range(1, 5):
        d = os.path.join(root, f"layout-v{i:05d}")
        _write_layout(d)
        dirs.append(d)
        publish.publish(root, d)
    orphan = os.path.join(root, "layout-v00099")
    _write_layout(orphan)

    with pytest.raises(ValueError, match="keep"):
        publish.prune(root, keep=0)
    deleted = publish.prune(root, keep=2)
    assert sorted(deleted) == sorted(dirs[:2])
    assert not os.path.exists(dirs[0]) and not os.path.exists(dirs[1])
    assert os.path.exists(dirs[2]) and os.path.exists(dirs[3])
    assert os.path.exists(orphan), "never-published dirs are not GC'd"
    assert publish.resolve(root) == dirs[3]
    # idempotent at the horizon; history shrank with the prune
    assert publish.prune(root, keep=2) == []
    with open(os.path.join(root, publish.POINTER)) as f:
        assert [h["version"] for h in json.load(f)["history"]] == [3, 4]


def test_lsh_probe_through_pointer(spark, sf_smoke, tmp_path):
    """Probe/append take a versioned root interchangeably with a
    plain layout dir, and a publish mid-lifecycle atomically moves
    probes from the layered to the compacted layout with identical
    results (the l17 probe_parity claim, now through the pointer)."""
    doc = load_table(spark, sf_smoke, "documents").limit(40)
    base, batch = doc.limit(30), doc.limit(40).exceptAll(doc.limit(30))
    root = str(tmp_path / "lsh_root")
    v1 = os.path.join(root, "layout-v00001")
    os.makedirs(root)
    dedup.lsh_index_write(base, v1)
    publish.publish(root, v1)

    direct = dedup.lsh_index_probe(spark, v1, batch)
    routed = dedup.lsh_index_probe(spark, root, batch)
    assert sorted(map(tuple, direct.collect())) \
        == sorted(map(tuple, routed.collect()))

    # append through the root lands in the live layout
    dedup.lsh_index_append(batch, root)
    n_rows = spark.read.parquet(v1).count()
    assert n_rows == (base.count() + batch.count()) * dedup.N_BANDS

    # compact into v2, publish: the routed probe follows the pointer
    v2 = publish.new_layout_dir(root)
    dedup.lsh_index_compact(spark, [publish.resolve(root)], v2)
    before = sorted(map(tuple,
                        dedup.lsh_index_probe(spark, root,
                                              batch).collect()))
    publish.publish(root, v2)
    after = sorted(map(tuple,
                       dedup.lsh_index_probe(spark, root,
                                             batch).collect()))
    assert before == after
    assert publish.resolve(root) == v2


def test_postings_probe_through_pointer(spark, tmp_path):
    rows = [(1, "big cat big"), (2, "big cat"), (3, "big dog"),
            (4, "cat big")]
    doc = spark.createDataFrame(rows, "doc_id long, text string")
    root = str(tmp_path / "post_root")
    v1 = os.path.join(root, "layout-v00001")
    os.makedirs(root)
    T.postings_index_write(doc, v1, n_buckets=8)
    publish.publish(root, v1)
    got = {(r["doc_id"], r["total_tf"])
           for r in T.postings_probe_and(spark, root, ["big", "cat"],
                                         n_buckets=8).collect()}
    assert got == {(1, 3), (2, 2), (4, 2)}


def test_ivf_centroid_sidecar_roundtrip_and_probe(spark, tmp_path):
    """Centroids persisted INTO the layout are bit-exact on re-read
    (JSON float repr is roundtrip-exact) and the probe through the
    versioned root with the sidecar centroids equals the probe with
    the in-memory matrix on the plain dir."""
    import numpy as np
    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)])
         for i in range(80)], "vec_id long, embedding array<float>")
    root = str(tmp_path / "ivf_root")
    v1 = os.path.join(root, "layout-v00001")
    os.makedirs(root)
    cmat = S.ivf_index_write(emb, v1, n_cells=8)
    S.ivf_centroids_write(v1, cmat)
    publish.publish(root, v1)

    assert (S.ivf_centroids_read(root) == cmat).all()
    assert S.ivf_centroids_read(root).dtype == np.float64

    pred = "vec_id < 3"
    direct = S.ivf_index_probe(spark, v1, cmat, emb, pred, k=4)
    routed = S.ivf_index_probe(spark, root, S.ivf_centroids_read(root),
                               emb, pred, k=4)
    assert sorted(map(tuple, direct.collect())) \
        == sorted(map(tuple, routed.collect()))
    assert S.ivf_cell_census(spark, root) \
        == S.ivf_cell_census(spark, v1)


def test_maintenance_sweep_requires_versioned_root(spark, tmp_path):
    bare = str(tmp_path / "bare")
    os.makedirs(bare)
    for fn in (maintenance.lsh_maintenance_sweep,
               maintenance.postings_maintenance_sweep,
               maintenance.ivf_maintenance_sweep):
        with pytest.raises(ValueError, match="VERSIONED"):
            fn(spark, bare)


def test_compact_is_due_predicate():
    assert not maintenance.compact_is_due(1)
    assert not maintenance.compact_is_due(3)
    assert maintenance.compact_is_due(4)
    assert maintenance.compact_is_due(2, threshold=2)
    with pytest.raises(ValueError, match="threshold"):
        maintenance.compact_is_due(5, threshold=1)


def test_lsh_maintenance_sweep_end_to_end(spark, sf_smoke, tmp_path):
    """The l17 small-file decay story, driven through the daemon
    loop's one-shot form instead of by hand: appends decay the
    layout; the sweep measures it, compacts into a fresh layout,
    publishes, and restores one-file-per-bucket — while a not-due
    sweep is a no-op and probe results are identical across the
    swap."""
    doc = load_table(spark, sf_smoke, "documents").limit(40)
    base, batch = doc.limit(30), doc.limit(40).exceptAll(doc.limit(30))
    root = str(tmp_path / "root")
    v1 = os.path.join(root, "layout-v00001")
    os.makedirs(root)
    dedup.lsh_index_write(base, v1)
    publish.publish(root, v1)

    r0 = maintenance.lsh_maintenance_sweep(spark, root,
                                           max_files_per_bucket=3)
    assert r0["due"] is False and r0["acted"] is False
    assert r0["version_before"] == r0["version_after"] == 1

    for _ in range(3):                      # decay the layout
        dedup.lsh_index_append(batch, root)
    probe_before = sorted(map(tuple,
                              dedup.lsh_index_probe(spark, root,
                                                    batch).collect()))
    r1 = maintenance.lsh_maintenance_sweep(spark, root,
                                           max_files_per_bucket=3)
    assert r1["due"] and r1["acted"]
    assert r1["version_after"] == 2
    assert r1["files_before"] > r1["files_after"]
    mx, n, total = maintenance.bucket_file_census(
        publish.resolve(root))
    assert mx == 1 and total == n       # canonical layout restored
    probe_after = sorted(map(tuple,
                             dedup.lsh_index_probe(spark, root,
                                                   batch).collect()))
    assert probe_before == probe_after
    # prune horizon: keep=2 leaves v1 alive for in-flight readers
    assert os.path.exists(v1)
    # next sweep: freshly compacted, not due
    r2 = maintenance.lsh_maintenance_sweep(spark, root,
                                           max_files_per_bucket=3)
    assert not r2["due"] and r2["version_after"] == 2


def test_ivf_maintenance_sweep_on_planted_drift(spark, tmp_path):
    """The x133 cadence trigger wired end-to-end (VERDICT r10 #3):
    the drifted-appends fixture of test_ivf_recluster_trigger,
    driven through the sweep — balanced build not due; appending a
    shifted tight mode makes it due; the sweep re-centroids into a
    fresh layout, stamps the centroid sidecar, publishes, and the
    routed probe serves the new quantizer."""
    import numpy as np
    rng = np.random.default_rng(11)
    base = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)])
         for i in range(64)], "vec_id long, embedding array<float>")
    root = str(tmp_path / "root")
    v1 = os.path.join(root, "layout-v00001")
    os.makedirs(root)
    cmat = S.ivf_index_write(base, v1, n_cells=8)
    S.ivf_centroids_write(v1, cmat)
    publish.publish(root, v1)

    r0 = maintenance.ivf_maintenance_sweep(spark, root, n_cells=8)
    assert not r0["due"] and r0["version_after"] == 1

    center = np.array([8.0, 0.0, 0.0, 0.0])
    drift = spark.createDataFrame(
        [(1000 + i,
          [float(x) for x in center + 0.3 * rng.normal(size=4)])
         for i in range(200)], "vec_id long, embedding array<float>")
    (S.ivf_assign(drift, cmat).write.mode("append")
     .partitionBy("cell").parquet(publish.resolve(root)))

    r1 = maintenance.ivf_maintenance_sweep(spark, root, n_cells=8)
    assert r1["due"] and r1["acted"] and r1["version_after"] == 2
    live = publish.resolve(root)
    assert os.path.exists(os.path.join(live, "_ivf_centroids.json"))
    # recluster == rebuild (the x133 identity), through the pointer
    rebuild = str(tmp_path / "rebuild")
    S.ivf_index_write(base.unionByName(drift), rebuild, n_cells=8)
    assert S.ivf_cell_census(spark, root) \
        == S.ivf_cell_census(spark, rebuild)
    # the published sidecar equals a fresh retrain on the contents
    assert (S.ivf_centroids_read(root)
            == S.ivf_centroids(base.unionByName(drift), 8)).all()


def test_postings_maintenance_sweep(spark, tmp_path):
    doc = spark.createDataFrame(
        [(1, "big cat big"), (2, "big cat"), (3, "big dog"),
         (4, "cat big")], "doc_id long, text string")
    root = str(tmp_path / "root")
    v1 = os.path.join(root, "layout-v00001")
    os.makedirs(root)
    T.postings_index_write(doc.filter("doc_id <= 2"), v1, n_buckets=8)
    publish.publish(root, v1)
    for did in (3, 4):
        T.postings_index_append(doc.filter(f"doc_id = {did}"), root,
                                n_buckets=8)
    r = maintenance.postings_maintenance_sweep(
        spark, root, max_files_per_bucket=2)
    assert r["due"] and r["version_after"] == 2
    got = {(x["doc_id"], x["total_tf"])
           for x in T.postings_probe_and(spark, root, ["big", "cat"],
                                         n_buckets=8).collect()}
    assert got == {(1, 3), (2, 2), (4, 2)}
    mx, n, total = maintenance.bucket_file_census(
        publish.resolve(root))
    assert mx == 1 and total == n


def test_maintenance_daemon_loop_and_error_surfacing(spark, tmp_path):
    """The watch_daemon analog: the background loop runs every sweep
    per tick, accumulates reports, stops gracefully; a sweep raising
    stops the loop and re-raises on stop() instead of silently
    letting the index decay while looking healthy."""
    import time

    doc = spark.createDataFrame(
        [(1, "big cat"), (2, "cat dog")], "doc_id long, text string")
    root = str(tmp_path / "root")
    v1 = os.path.join(root, "layout-v00001")
    os.makedirs(root)
    T.postings_index_write(doc, v1, n_buckets=4)
    publish.publish(root, v1)

    d = maintenance.maintenance_daemon(
        [lambda: maintenance.postings_maintenance_sweep(spark, root)],
        poll_seconds=0.2)
    deadline = time.time() + 60
    while not d.reports and time.time() < deadline:
        time.sleep(0.05)
    d.stop()
    assert d.reports and all(r["kind"] == "postings"
                             for r in d.reports)
    assert all(not r["acted"] for r in d.reports)  # healthy: no-op

    def boom():
        raise RuntimeError("sweep exploded")

    d2 = maintenance.maintenance_daemon([boom], poll_seconds=0.2)
    deadline = time.time() + 60
    while d2._error is None and time.time() < deadline:
        time.sleep(0.05)
    with pytest.raises(RuntimeError, match="sweep exploded"):
        d2.stop()


def test_cli_maintain_once_and_daemon(spark, tmp_path, capsys):
    """r11: `python -m samplebatchprocessing_spark maintain` drives
    the sweep from the shell — the reference's CLI discipline
    (GetJobs is shell-driven) applied to index upkeep.  --once runs
    one decision (cron mode); daemon mode streams report lines and
    stops gracefully."""
    from samplebatchprocessing_spark.__main__ import main

    doc = spark.createDataFrame(
        [(1, "big cat"), (2, "cat dog"), (3, "dog bird")],
        "doc_id long, text string")
    root = str(tmp_path / "root")
    v1 = os.path.join(root, "layout-v00001")
    os.makedirs(root)
    T.postings_index_write(doc.filter("doc_id = 1"), v1, n_buckets=4)
    publish.publish(root, v1)
    for did in (2, 3):
        T.postings_index_append(doc.filter(f"doc_id = {did}"), root,
                                n_buckets=4)

    assert main(["maintain", "postings", root, "--once",
                 "--threshold", "2"]) == 0
    out = capsys.readouterr().out
    assert "due=True" in out and "v1 -> v2" in out
    assert publish.current_version(root) == 2
    mx, n, total = maintenance.bucket_file_census(publish.resolve(root))
    assert mx == 1 and total == n

    # healthy index: a second --once sweep reports not-due
    assert main(["maintain", "postings", root, "--once",
                 "--threshold", "2"]) == 0
    assert "due=False" in capsys.readouterr().out
    assert publish.current_version(root) == 2


def test_cli_maintain_daemon_exits_on_failed_sweep(tmp_path):
    """A daemon-mode ``maintain`` whose sweep raises (here: an
    unversioned root) exits non-zero with the error on stderr instead
    of idling until SIGINT with a dead sweep thread."""
    import subprocess
    import sys

    bare = str(tmp_path / "bare")
    os.makedirs(bare)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.Popen(
        [sys.executable, "-m", "samplebatchprocessing_spark", "maintain",
         "lsh", bare, "--poll", "0.2"],
        cwd=repo, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        text=True, env=env)
    try:
        _, err = proc.communicate(timeout=120)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
    assert proc.returncode != 0
    assert "VERSIONED" in err


def test_stream_probe_across_midstream_publish(spark, sf_smoke,
                                               tmp_path):
    """r11: serving continuity under maintenance for the STREAMING
    read path — s26's foreachBatch probe runs against a versioned
    root while a compaction publishes BETWEEN micro-batches.  Each
    epoch resolves the pointer once (epochs before the swap serve
    v1, epochs after serve v2), and because compaction is a pure
    layout change the union of streamed epochs still equals the
    one-shot batch probe exactly."""
    from samplebatchprocessing_spark.operators import dedup as D

    doc = load_table(spark, sf_smoke, "documents").limit(40)
    base = doc.limit(30)
    shard = doc.limit(40).exceptAll(doc.limit(30))

    root = str(tmp_path / "root")
    v1 = os.path.join(root, "layout-v00001")
    os.makedirs(root)
    D.lsh_index_write(base, v1)
    publish.publish(root, v1)
    D.lsh_index_append(shard.limit(3), root)   # decayed layout

    stream_dir = str(tmp_path / "shards")
    shard.repartition(3).write.parquet(stream_dir)
    out_dir = str(tmp_path / "cand")
    ckpt = str(tmp_path / "ckpt")
    state = {"published": False, "epoch_versions": []}

    def probe_batch(df, batch_id):
        state["epoch_versions"].append(
            publish.current_version(root))
        (D.lsh_index_probe(spark, root, df)
         .write.mode("overwrite")
         .parquet(os.path.join(out_dir, f"epoch={batch_id}")))
        if not state["published"]:     # maintenance lands mid-stream
            out = publish.new_layout_dir(root)
            D.lsh_index_compact(spark, [publish.resolve(root)], out)
            publish.publish(root, out)
            state["published"] = True

    schema = spark.read.parquet(stream_dir).schema
    sdf = (spark.readStream.schema(schema)
           .option("pathGlobFilter", "*.parquet")
           .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    q = (sdf.writeStream.foreachBatch(probe_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    assert publish.current_version(root) == 2
    assert len(state["epoch_versions"]) >= 2, "need multiple epochs"
    assert state["epoch_versions"][0] == 1       # pre-swap epoch
    assert state["epoch_versions"][-1] == 2      # post-swap epoch
    streamed = (spark.read.parquet(f"{out_dir}/epoch=*")
                .select("batch_id", "corpus_id").distinct())
    oneshot = D.lsh_index_probe(spark, root, shard)
    assert (streamed.exceptAll(oneshot).count() == 0
            and oneshot.exceptAll(streamed).count() == 0
            and streamed.count() > 0)


def test_probes_stay_consistent_under_live_daemon(spark, sf_smoke,
                                                  tmp_path):
    """r11: the concurrency form of the composes-with-in-flight-
    probes claim — not interleaved steps but a REAL background
    maintenance daemon compacting and publishing while the
    foreground probes in a loop.  Every probe must return the same
    candidate set (compaction is a pure layout change and each probe
    resolves one consistent version); the daemon must have acted
    exactly once (hysteresis) by the time it is stopped."""
    import time

    doc = load_table(spark, sf_smoke, "documents").limit(40)
    base, batch = doc.limit(30), doc.limit(40).exceptAll(doc.limit(30))
    root = str(tmp_path / "root")
    v1 = os.path.join(root, "layout-v00001")
    os.makedirs(root)
    dedup.lsh_index_write(base, v1)
    publish.publish(root, v1)
    for _ in range(3):                        # decay the layout
        dedup.lsh_index_append(batch.limit(3), root)

    expected = sorted(map(tuple,
                          dedup.lsh_index_probe(spark, root,
                                                batch).collect()))
    d = maintenance.maintenance_daemon(
        [lambda: maintenance.lsh_maintenance_sweep(
            spark, root, max_files_per_bucket=3)],
        poll_seconds=0.1)
    try:
        deadline = time.time() + 120
        probes = 0
        while time.time() < deadline:
            got = sorted(map(tuple,
                             dedup.lsh_index_probe(spark, root,
                                                   batch).collect()))
            assert got == expected, f"probe #{probes} diverged"
            probes += 1
            if any(r["acted"] for r in d.reports) and probes >= 3:
                break
    finally:
        d.stop()
    assert probes >= 3
    assert sum(1 for r in d.reports if r["acted"]) == 1
    assert publish.current_version(root) == 2
    # and the world after the daemon: canonical layout, same answers
    mx, n, total = maintenance.bucket_file_census(publish.resolve(root))
    assert mx == 1 and total == n
    final = sorted(map(tuple,
                       dedup.lsh_index_probe(spark, root,
                                             batch).collect()))
    assert final == expected


# ---------------------------------------------------------------------------
# r11: trained-artifact layouts (operators/artifacts.py — x135/x136)
# ---------------------------------------------------------------------------

def test_bpe_vocab_publish_lifecycle(tmp_path):
    from samplebatchprocessing_spark.operators import artifacts as A
    root = str(tmp_path / "vocab")
    os.makedirs(root)
    m1 = [(1, "t", "h", "th", 9), (2, "th", "e", "the", 7)]
    v1 = publish.new_layout_dir(root)
    A.bpe_vocab_write(m1, v1)
    assert publish.publish(root, v1) == 1
    assert A.bpe_vocab_read(root) == (("t", "h", "th"),
                                      ("th", "e", "the"))
    # retrain: a FRESH layout; until publish, readers stay on v1
    m2 = m1 + [(3, "a", "n", "an", 5)]
    v2 = publish.new_layout_dir(root)
    A.bpe_vocab_write(m2, v2)
    assert len(A.bpe_vocab_read(root)) == 2     # crash window: v1 live
    assert publish.publish(root, v2) == 2
    assert len(A.bpe_vocab_read(root)) == 3     # order preserved
    assert A.bpe_vocab_read(root)[2] == ("a", "n", "an")
    assert os.path.isdir(v1)                    # read horizon intact


def test_bpe_vocab_read_guards(tmp_path):
    from samplebatchprocessing_spark.operators import artifacts as A
    root = str(tmp_path / "not_a_vocab")
    os.makedirs(root)
    with pytest.raises(FileNotFoundError, match="vocab.json"):
        A.bpe_vocab_read(root)
    with open(os.path.join(root, "vocab.json"), "w") as f:
        json.dump({"format": "nb_model"}, f)
    with pytest.raises(ValueError, match="not a bpe_vocab"):
        A.bpe_vocab_read(root)


def test_nb_model_publish_roundtrip(spark, tmp_path):
    from samplebatchprocessing_spark.operators import artifacts as A
    root = str(tmp_path / "nb")
    os.makedirs(root)
    cnt = spark.createDataFrame(
        [("aa", 3, 1), ("bb", 0, 7)], "tok string, pc long, nc long")
    v1 = publish.new_layout_dir(root)
    A.nb_model_write(cnt, 11, 22, v1)
    publish.publish(root, v1)
    got, np_, nn = A.nb_model_read(spark, root)
    assert (np_, nn) == (11, 22)
    assert sorted(got.collect()) == sorted(cnt.collect())
    # model read through the pointer is the LIVE version only
    v2 = publish.new_layout_dir(root)
    A.nb_model_write(cnt.withColumn("pc", cnt.pc + 1), 12, 22, v2)
    publish.publish(root, v2)
    got2, np2, _ = A.nb_model_read(spark, root)
    assert np2 == 12
    assert {r["pc"] for r in got2.collect()} == {4, 1}


def test_nb_model_read_guards(spark, tmp_path):
    from samplebatchprocessing_spark.operators import artifacts as A
    root = str(tmp_path / "empty")
    os.makedirs(root)
    with pytest.raises(FileNotFoundError, match="_nb_meta"):
        A.nb_model_read(spark, root)


# ---------------------------------------------------------------------------
# r12: StorePublisher — the same lifecycle over an ObjectStoreClient
# bucket (VERDICT r11 #3)
# ---------------------------------------------------------------------------

def _bucket(tmp_path):
    from samplebatchprocessing_spark.pipeline.manifest import (
        LocalObjectStoreClient)
    root = tmp_path / "bucket"
    root.mkdir()
    return LocalObjectStoreClient(str(root))


def test_store_pointer_roundtrip_and_guards(tmp_path):
    """The POSIX round-trip test, re-run verb-for-verb on a bucket:
    unversioned resolve, monotone versions, fresh-prefix allocation,
    and every publish guard — with 'exists' now meaning 'has at
    least one object' (a flat key namespace has no empty dirs)."""
    store = _bucket(tmp_path)
    pub = publish.StorePublisher(store, "indexes/lsh/")

    assert pub.root == "indexes/lsh"       # trailing slash normalized
    assert pub.resolve() == "indexes/lsh"  # unversioned: root itself
    assert pub.current_version() is None

    v1 = pub.new_layout_dir()
    assert v1 == "indexes/lsh/layout-v00001"
    with pytest.raises(ValueError, match="no objects"):
        pub.publish(v1)                    # nothing written yet
    store.put(f"{v1}/part-0.parquet", b"data")
    assert pub.publish(v1) == 1
    assert pub.resolve() == v1
    assert pub.current_version() == 1

    v2 = pub.new_layout_dir()
    assert v2 == "indexes/lsh/layout-v00002"
    store.put(f"{v2}/part-0.parquet", b"data2")
    assert pub.publish(v2) == 2
    assert pub.resolve() == v2

    with pytest.raises(ValueError, match="direct child"):
        pub.publish("elsewhere/layout-v00003")
    with pytest.raises(ValueError, match="direct child"):
        pub.publish(f"{v2}/inner")         # nested too deep
    with pytest.raises(ValueError, match="already the live"):
        pub.publish(v2)
    with pytest.raises(ValueError, match="pointer, not a layout"):
        pub.publish(f"indexes/lsh/{publish.POINTER}")


def test_store_crash_before_publish_leaves_old_version_live(tmp_path):
    """Crash contract on the bucket: a writer that PUT layout objects
    but died before the pointer PUT leaves readers on the old
    version; the partial prefix is never resolved and never reused
    for a version name."""
    store = _bucket(tmp_path)
    pub = publish.StorePublisher(store, "idx")
    v1 = pub.new_layout_dir()
    store.put(f"{v1}/part-0.parquet", b"v1")
    pub.publish(v1)

    orphan = pub.new_layout_dir()
    store.put(f"{orphan}/part-0.parquet", b"partial")  # crashed here
    assert pub.resolve() == v1
    assert pub.current_version() == 1
    nxt = pub.new_layout_dir()
    assert nxt != orphan
    assert nxt == "idx/layout-v00003"


def test_store_prune_pages_and_keeps_horizon(tmp_path):
    """Prune = paged list + idempotent deletes over retired layout
    prefixes, keep>=2 horizon, orphans untouched — and a re-run after
    a simulated mid-prune crash converges (DELETE idempotence)."""
    store = _bucket(tmp_path)
    pub = publish.StorePublisher(store, "idx")
    layouts = []
    for i in range(1, 5):
        d = pub.new_layout_dir()
        # several objects per layout so prune really pages/deletes >1
        for j in range(3):
            store.put(f"{d}/part-{j}.parquet", b"x")
        layouts.append(d)
        pub.publish(d)
    orphan_key = "idx/layout-v00099/part-0.parquet"
    store.put(orphan_key, b"inflight")

    with pytest.raises(ValueError, match="keep"):
        pub.prune(keep=0)
    retired = pub.prune(keep=2)
    assert sorted(retired) == sorted(layouts[:2])
    for d in layouts[:2]:
        assert store.list(f"{d}/") == []
    for d in layouts[2:]:
        assert len(store.list(f"{d}/")) == 3
    assert store.list(orphan_key) == [orphan_key], \
        "never-published prefixes are not GC'd"
    assert pub.resolve() == layouts[3]
    assert pub.prune(keep=2) == []         # idempotent at the horizon
    meta = json.loads(store.get(f"idx/{publish.POINTER}"))
    assert [h["version"] for h in meta["history"]] == [3, 4]


def test_store_lsh_lifecycle_end_to_end(spark, sf_smoke, tmp_path):
    """build -> publish -> probe -> append -> compact -> crash-window
    probe -> publish -> probe over a mock:// bucket: the control
    plane (pointer, naming, prune) runs the store verbs; the data
    plane (Spark parquet) runs against the double's backing files
    exactly where a real deployment would hand Spark s3a:// URIs."""
    doc = load_table(spark, sf_smoke, "documents").limit(40)
    base, batch = doc.limit(30), doc.limit(40).exceptAll(doc.limit(30))
    store = _bucket(tmp_path)
    pub = publish.StorePublisher(store, "indexes/lsh")

    v1 = pub.new_layout_dir()
    dedup.lsh_index_write(base, store.fs_path(v1))
    pub.publish(v1)

    def probe():
        return sorted(map(tuple, dedup.lsh_index_probe(
            spark, store.fs_path(pub.resolve()), batch).collect()))

    routed = probe()
    direct = sorted(map(tuple, dedup.lsh_index_probe(
        spark, store.fs_path(v1), batch).collect()))
    assert routed == direct and routed

    dedup.lsh_index_append(batch, store.fs_path(pub.resolve()))
    v2 = pub.new_layout_dir()
    dedup.lsh_index_compact(spark, [store.fs_path(pub.resolve())],
                            store.fs_path(v2))
    before = probe()                       # v2 written, NOT published
    assert pub.resolve() == v1             # crash window: v1 live
    pub.publish(v2)
    after = probe()
    assert before == after and before
    assert pub.resolve() == v2
    pub.prune(keep=2)
    assert store.list(f"{v1}/"), "keep=2 horizon holds v1 alive"


# ---------------------------------------------------------------------------
# r12: artifact retrain due-predicates + sweeps (VERDICT r11 #4)
# ---------------------------------------------------------------------------

def test_vocab_retrain_predicate_pure():
    """Upward fertility drift >= bound triggers; downward drift never
    does (a vocabulary is not wrong for over-covering); bound >= 1."""
    due = maintenance.vocab_retrain_is_due
    assert due(4200, 4000, max_drift_x1000=150) is True
    assert due(4149, 4000, max_drift_x1000=150) is False
    assert due(4150, 4000, max_drift_x1000=150) is True
    assert due(3000, 4000, max_drift_x1000=150) is False  # downward
    with pytest.raises(ValueError, match=">= 1"):
        due(4200, 4000, max_drift_x1000=0)


def test_nb_retrain_predicate_pure():
    """Either signal triggers: OOV token mass >= bound, or class-prior
    shift >= bound (absolute, either direction); bounds >= 1."""
    due = maintenance.nb_retrain_is_due
    assert due(0, 500, 500) is False
    assert due(100, 500, 500) is True            # OOV at the bound
    assert due(99, 500, 500) is False
    assert due(0, 760, 500) is True              # prior up-shift
    assert due(0, 240, 500) is True              # prior down-shift
    assert due(0, 740, 500) is False             # inside the band
    with pytest.raises(ValueError, match=">= 1"):
        due(0, 500, 500, max_oov_x1000=0)
    with pytest.raises(ValueError, match=">= 1"):
        due(0, 500, 500, max_prior_drift_x1000=0)


def test_vocab_sweep_requires_fertility_stamp(spark, tmp_path):
    """A pre-r12 vocab layout (no at-training fertility stamp) has no
    drift baseline — the sweep must refuse loudly, not guess."""
    from samplebatchprocessing_spark.operators import artifacts
    root = str(tmp_path / "vocab_root")
    os.makedirs(root)
    df = spark.createDataFrame([(1, "aa bb aa bb")],
                               "doc_id long, text string")
    merges = T.bpe_train_merges(df, n_merges=1)
    v1 = publish.new_layout_dir(root)
    artifacts.bpe_vocab_write(merges, v1)        # no stamp
    publish.publish(root, v1)
    with pytest.raises(ValueError, match="fertility_x1000"):
        maintenance.vocab_maintenance_sweep(spark, root, df)


def test_vocab_sweep_planted_drift_retrains_once(spark, tmp_path):
    """The x134 hysteresis on the tokenizer artifact: healthy slice
    not due -> reversed-word slice triggers exactly one
    retrain-and-publish -> same slice settled under the new vocab."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.operators import artifacts
    root = str(tmp_path / "vocab_root")
    os.makedirs(root)
    rows = [(i, "the cat and the hat and the bat") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m1 = T.bpe_train_merges(df, n_merges=3)
    rules = tuple((l, r, m) for _, l, r, m, _ in m1)
    f1 = T.encode_fertility_x1000(df, rules)
    v1 = publish.new_layout_dir(root)
    artifacts.bpe_vocab_write(m1, v1, fertility_x1000=f1)
    publish.publish(root, v1)

    r0 = maintenance.vocab_maintenance_sweep(spark, root, df,
                                             n_merges=3)
    assert not r0["due"] and r0["version_after"] == 1
    assert r0["fertility_fresh_x1000"] == f1

    drifted = df.withColumn("text", F.reverse(F.col("text")))
    r1 = maintenance.vocab_maintenance_sweep(spark, root, drifted,
                                             n_merges=3)
    assert r1["due"] and r1["acted"] and r1["version_after"] == 2
    assert (r1["fertility_fresh_x1000"]
            - r1["fertility_trained_x1000"]) >= 150

    r2 = maintenance.vocab_maintenance_sweep(spark, root, drifted,
                                             n_merges=3)
    assert not r2["due"] and r2["version_after"] == 2
    # the retrained vocab serves through the pointer
    served = artifacts.bpe_vocab_read(root)
    assert len(served) == 3
    # prune horizon: v1 still on disk after the v2 publish
    assert os.path.isdir(v1)


def test_nb_sweep_planted_novelty_folds_once(spark, tmp_path):
    """OOV-mass drift triggers exactly one fold-and-publish; the
    folded model contains every fresh token so the re-sweep is
    settled (OOV exactly 0); empty fresh slice refused."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.operators import artifacts
    root = str(tmp_path / "nb_root")
    os.makedirs(root)
    rows = [(i, "good clean text here", i % 2 == 0) for i in range(8)]
    lab = spark.createDataFrame(
        rows, "doc_id long, text string, is_pos boolean")
    toks = lab.select("is_pos",
                      F.explode(T.tokenize(F.col("text"))).alias("tok"))
    cnt = (toks.groupBy("tok")
           .agg(F.sum(F.col("is_pos").cast("long")).alias("pc"),
                F.sum((~F.col("is_pos")).cast("long")).alias("nc")))
    v1 = publish.new_layout_dir(root)
    artifacts.nb_model_write(cnt, 4, 4, v1)
    publish.publish(root, v1)

    s0 = maintenance.nb_maintenance_sweep(spark, root, lab)
    assert not s0["due"] and s0["oov_x1000"] == 0
    assert s0["fresh_prior_x1000"] == s0["model_prior_x1000"] == 500

    fresh = lab.withColumn("text", F.reverse(F.col("text")))
    s1 = maintenance.nb_maintenance_sweep(spark, root, fresh)
    assert s1["due"] and s1["acted"] and s1["version_after"] == 2
    assert s1["oov_x1000"] >= 100

    s2 = maintenance.nb_maintenance_sweep(spark, root, fresh)
    assert not s2["due"] and s2["oov_x1000"] == 0
    assert s2["version_after"] == 2
    # the folded model's priors carry both slices
    _cnt, np_, nn = artifacts.nb_model_read(spark, root)
    assert (np_, nn) == (8, 8)

    with pytest.raises(ValueError, match="non-empty"):
        maintenance.nb_maintenance_sweep(
            spark, root, lab.filter("doc_id < 0"))


def test_cli_maintain_artifact_roots(spark, tmp_path, capsys):
    """r12 stretch (VERDICT r11 #7): one `maintain` CLI covers
    indexes AND trained artifacts — the vocab kind runs the retrain
    sweep against a --fresh-parquet slice, refuses without one, and
    reports the fertility drift it measured."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.__main__ import main
    from samplebatchprocessing_spark.operators import artifacts

    rows = [(i, "the cat and the hat and the bat") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    root = str(tmp_path / "vocab_root")
    os.makedirs(root)
    m1 = T.bpe_train_merges(df, n_merges=3)
    rules = tuple((l, r, m) for _, l, r, m, _ in m1)
    v1 = publish.new_layout_dir(root)
    artifacts.bpe_vocab_write(
        m1, v1, fertility_x1000=T.encode_fertility_x1000(df, rules))
    publish.publish(root, v1)

    # no fresh slice -> loud refusal, exit 2
    assert main(["maintain", "vocab", root, "--once"]) == 2
    assert "--fresh-parquet" in capsys.readouterr().err

    fresh_dir = str(tmp_path / "fresh")
    (df.withColumn("text", F.reverse(F.col("text")))
       .write.parquet(fresh_dir))
    assert main(["maintain", "vocab", root, "--once",
                 "--fresh-parquet", fresh_dir,
                 "--n-merges", "3"]) == 0
    out = capsys.readouterr().out
    assert "due=True" in out and "v1 -> v2" in out
    assert "fertility" in out
    assert publish.current_version(root) == 2

    # settled: the retrained vocab covers the drifted slice
    assert main(["maintain", "vocab", root, "--once",
                 "--fresh-parquet", fresh_dir,
                 "--n-merges", "3"]) == 0
    assert "due=False" in capsys.readouterr().out
    assert publish.current_version(root) == 2


def test_store_lsh_maintenance_sweep(spark, sf_smoke, tmp_path):
    """r12: the census -> due? -> compact -> publish loop over a
    bucket — store-native census (paged listing, bucket=N key
    segments), StorePublisher control plane, x134 hysteresis: fresh
    not due -> decayed acts once -> compacted settles; probes are
    invariant across the swap."""
    doc = load_table(spark, sf_smoke, "documents").limit(40)
    base, batch = doc.limit(30), doc.limit(40).exceptAll(doc.limit(30))
    store = _bucket(tmp_path)
    pub = publish.StorePublisher(store, "idx/lsh")
    v1 = pub.new_layout_dir()
    dedup.lsh_index_write(base, store.fs_path(v1))
    pub.publish(v1)

    with pytest.raises(ValueError, match="VERSIONED"):
        maintenance.lsh_maintenance_sweep(
            spark, store.fs_path("idx/other"))

    r0 = maintenance.lsh_maintenance_sweep(
        spark, store.fs_path("idx/lsh"), max_files_per_bucket=3)
    assert not r0["due"] and r0["version_after"] == 1

    for _ in range(3):                   # decay: 3 delta layers
        dedup.lsh_index_append(batch, store.fs_path(pub.resolve()))
    mx, _n, _t = maintenance.bucket_file_census(
        store.fs_path(pub.resolve()))
    assert mx >= 3

    probe = lambda: sorted(map(tuple, dedup.lsh_index_probe(
        spark, store.fs_path(pub.resolve()), batch).collect()))
    before = probe()
    r1 = maintenance.lsh_maintenance_sweep(
        spark, store.fs_path("idx/lsh"), max_files_per_bucket=3)
    assert r1["due"] and r1["acted"] and r1["version_after"] == 2
    assert probe() == before and before

    r2 = maintenance.lsh_maintenance_sweep(
        spark, store.fs_path("idx/lsh"), max_files_per_bucket=3)
    assert not r2["due"] and r2["version_after"] == 2
    mx2, n2, t2 = maintenance.bucket_file_census(
        store.fs_path(pub.resolve()))
    assert mx2 == 1 and t2 == n2         # canonical one-file layout


def test_store_postings_maintenance_sweep(spark, tmp_path):
    """r12: the postings sweep over a bucket — shared bucket=N key
    census, x123 compaction on the data plane, StorePublisher swap;
    probe correct through the routed live layout after the compact."""
    doc = spark.createDataFrame(
        [(1, "big cat big"), (2, "big cat"), (3, "big dog"),
         (4, "cat big")], "doc_id long, text string")
    store = _bucket(tmp_path)
    pub = publish.StorePublisher(store, "idx/post")
    v1 = pub.new_layout_dir()
    T.postings_index_write(doc.filter("doc_id <= 2"),
                           store.fs_path(v1), n_buckets=8)
    pub.publish(v1)
    for did in (3, 4):
        T.postings_index_append(doc.filter(f"doc_id = {did}"),
                                store.fs_path(pub.resolve()),
                                n_buckets=8)
    r = maintenance.postings_maintenance_sweep(
        spark, store.fs_path("idx/post"), max_files_per_bucket=2)
    assert r["due"] and r["version_after"] == 2
    got = {(x["doc_id"], x["total_tf"])
           for x in T.postings_probe_and(
               spark, store.fs_path(pub.resolve()), ["big", "cat"],
               n_buckets=8).collect()}
    assert got == {(1, 3), (2, 2), (4, 2)}
    mx, n, total = maintenance.bucket_file_census(
        store.fs_path(pub.resolve()))
    assert mx == 1 and total == n
    r2 = maintenance.postings_maintenance_sweep(
        spark, store.fs_path("idx/post"), max_files_per_bucket=2)
    assert not r2["due"] and r2["version_after"] == 2


def test_store_ivf_maintenance_sweep_on_planted_drift(spark,
                                                      tmp_path):
    """r12: the IVF recluster sweep over a bucket — Spark census via
    the data plane, StorePublisher control plane; the planted-drift
    fixture of the POSIX test drives the same one-act hysteresis and
    the centroid sidecar lands inside the published layout."""
    import numpy as np
    rng = np.random.default_rng(11)
    base = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)])
         for i in range(64)], "vec_id long, embedding array<float>")
    store = _bucket(tmp_path)
    pub = publish.StorePublisher(store, "idx/ivf")
    v1 = pub.new_layout_dir()
    from samplebatchprocessing_spark.operators import similarity as S
    cmat = S.ivf_index_write(base, store.fs_path(v1), n_cells=8)
    S.ivf_centroids_write(store.fs_path(v1), cmat)
    pub.publish(v1)

    r0 = maintenance.ivf_maintenance_sweep(
        spark, store.fs_path("idx/ivf"), n_cells=8)
    assert not r0["due"] and r0["version_after"] == 1

    center = np.array([8.0, 0.0, 0.0, 0.0])
    drift = spark.createDataFrame(
        [(1000 + i,
          [float(x) for x in center + 0.3 * rng.normal(size=4)])
         for i in range(200)], "vec_id long, embedding array<float>")
    (S.ivf_assign(drift, cmat).write.mode("append")
     .partitionBy("cell").parquet(store.fs_path(pub.resolve())))

    r1 = maintenance.ivf_maintenance_sweep(
        spark, store.fs_path("idx/ivf"), n_cells=8)
    assert r1["due"] and r1["acted"] and r1["version_after"] == 2
    live = store.fs_path(pub.resolve())
    assert os.path.exists(os.path.join(live, "_ivf_centroids.json"))
    # recluster == rebuild, through the bucket pointer
    rebuild = str(tmp_path / "rebuild")
    S.ivf_index_write(base.unionByName(drift), rebuild, n_cells=8)
    assert S.ivf_cell_census(spark, live) \
        == S.ivf_cell_census(spark, rebuild)
    # no settled assertion: this fixture's true distribution is
    # bimodal, so the reclustered layout may legitimately remain
    # skew-flagged (the POSIX twin omits it for the same reason)


def test_concurrent_publishers_never_tear_the_pointer(tmp_path):
    """Concurrent-publisher race fuzz (VERDICT r12 #6): two
    interleaved publish sequences against ONE bucket root, every
    writer-order-preserving interleaving drawn from 40 seeds.  The
    invariant under test is the per-PUT atomicity claim: after EVERY
    step, the pointer is either absent or a COMPLETE published
    version — valid JSON, all fields, and the named layout has at
    least one object — and the observed version number never moves
    backwards.  Racing publishers may LOSE an update (last writer
    wins; single-maintainer design, see StorePublisher docstring) or
    collide on a layout name and take the already-live ValueError,
    but no interleaving may ever expose a torn or dangling pointer
    to a reader."""
    import random

    for seed in range(40):
        rng = random.Random(seed)
        d = tmp_path / f"race{seed}"
        d.mkdir()
        store = _bucket(d)
        root = "indexes/race"

        def observe(last_seen: int | None) -> int | None:
            try:
                raw = store.get(f"{root}/{publish.POINTER}")
            except FileNotFoundError:
                return last_seen
            meta = json.loads(raw)       # torn write would die here
            assert {"version", "dir", "history"} <= set(meta)
            assert store.list(f"{root}/{meta['dir']}/"), (
                f"seed {seed}: pointer names layout {meta['dir']} "
                "with no objects")
            v = int(meta["version"])
            if last_seen is not None:
                assert v >= last_seen, (
                    f"seed {seed}: version moved backwards "
                    f"{last_seen} -> {v}")
            return v

        def writer_steps(tag: str):
            pub = publish.StorePublisher(store, root)
            state: dict = {}

            def alloc():
                state["dir"] = pub.new_layout_dir()

            def write():
                store.put(f"{state['dir']}/part-0.parquet",
                          tag.encode())

            def pub_step():
                try:
                    state["v"] = pub.publish(state["dir"])
                except ValueError as e:
                    # the one legal collision: both writers allocated
                    # the same fresh name and the other published it
                    assert "already the live" in str(e)
                    state["v"] = None

            return [alloc, write, pub_step], state

        a_steps, a_state = writer_steps("A")
        b_steps, b_state = writer_steps("B")
        queues = [list(a_steps), list(b_steps)]
        seen: int | None = None
        while queues[0] or queues[1]:
            which = rng.choice([i for i in (0, 1) if queues[i]])
            queues[which].pop(0)()
            seen = observe(seen)

        # end state: at least one writer published; the pointer is a
        # complete version resolving to objects one of them wrote
        final = publish.StorePublisher(store, root)
        assert final.current_version() is not None
        live = final.resolve()
        assert store.get(f"{live}/part-0.parquet") in (b"A", b"B")
        published = [s["v"] for s in (a_state, b_state)
                     if s["v"] is not None]
        assert published, "neither writer published"
        assert final.current_version() == max(published)


def test_threaded_posix_publishers_never_tear_the_pointer(tmp_path):
    """Two threads each publish 200 fresh layouts to ONE POSIX root
    while a third resolves it in a loop.  Each pointer write is one
    atomic PUT through its own temp file, so no thread may raise (a
    temp path shared by all writers let readers load half-written
    JSON and writers rename each other's temp away), and the final
    pointer is complete JSON whose history versions strictly
    increase.  The writers race last-writer-wins: a version may be
    lost, never torn.  Unlike the step fuzz above, the calls here
    really overlap."""
    import threading

    root = str(tmp_path / "idx")
    os.makedirs(root)
    errors: list[BaseException] = []
    writers_done = threading.Event()

    def writer(tag: str) -> None:
        try:
            for i in range(200):
                d = os.path.join(root, f"layout-{tag}{i:04d}")
                _write_layout(d)
                publish.publish(root, d)
        except BaseException as e:  # noqa: BLE001 — surface below
            errors.append(e)

    def reader() -> None:
        try:
            while not writers_done.is_set():
                publish.resolve(root)
        except BaseException as e:  # noqa: BLE001 — surface below
            errors.append(e)

    writers = [threading.Thread(target=writer, args=(t,))
               for t in ("a", "b")]
    probe = threading.Thread(target=reader)
    probe.start()
    for t in writers:
        t.start()
    for t in writers:
        t.join()
    writers_done.set()
    probe.join()

    assert not errors, errors[:3]
    with open(os.path.join(root, publish.POINTER)) as f:
        meta = json.load(f)
    versions = [h["version"] for h in meta["history"]]
    assert versions == sorted(set(versions)) and versions
    assert versions[-1] == meta["version"]
    assert os.listdir(publish.resolve(root))


def test_publish_inside_prune_window_is_lost_not_torn(tmp_path):
    """The documented lost-update (ADVICE r12, single-maintainer
    design): a publish landing between prune's pointer READ and its
    closing PUT is silently rolled back — last writer wins — but the
    rolled-back pointer is still a COMPLETE earlier version whose
    layout objects exist, and the lost layout's objects remain on
    the bucket (orphaned, re-publishable), so readers never dangle."""
    inner = _bucket(tmp_path)
    root = "idx"

    class InterceptStore:
        """Wraps the bucket; fires a hook once, immediately before
        prune's closing pointer PUT — the widest race window."""

        def __init__(self, store):
            self._store = store
            self.hook = None

        def __getattr__(self, name):
            return getattr(self._store, name)

        def put(self, key, data):
            if key.endswith(publish.POINTER) and self.hook:
                hook, self.hook = self.hook, None
                hook()
            self._store.put(key, data)

    wrapped = InterceptStore(inner)
    maintainer = publish.StorePublisher(wrapped, root)
    racer = publish.StorePublisher(inner, root)

    dirs = []
    for i, tag in enumerate((b"v1", b"v2", b"v3"), 1):
        d = maintainer.new_layout_dir()
        inner.put(f"{d}/part-0.parquet", tag)
        assert maintainer.publish(d) == i
        dirs.append(d)

    racer_state = {}

    def racing_publish():
        d = racer.new_layout_dir()
        inner.put(f"{d}/part-0.parquet", b"v4")
        racer_state["v"] = racer.publish(d)   # v4 goes live...
        racer_state["dir"] = d

    wrapped.hook = racing_publish
    retired = maintainer.prune(keep=2)        # ...and prune rolls it back

    assert racer_state["v"] == 4              # the racer saw success
    assert retired == [dirs[0]]
    final = publish.StorePublisher(inner, root)
    # LOST update: the pointer is back on v3 — complete, resolvable
    assert final.current_version() == 3
    assert inner.get(f"{final.resolve()}/part-0.parquet") == b"v3"
    # the lost layout is orphaned, not corrupted: objects intact,
    # name never reused, re-publishable by the next maintainer pass
    assert inner.get(f"{racer_state['dir']}/part-0.parquet") == b"v4"
    nxt = final.new_layout_dir()
    assert nxt != racer_state["dir"]


def test_nb_sweep_refuses_null_labels_loudly(spark, tmp_path):
    """ADVICE r12: an all-NULL pos_col used to crash with an opaque
    int(None) TypeError (F.sum over all-NULL booleans is NULL), and
    partially-NULL labels silently shrank the prior denominator
    relative to the OOV census.  Both now fail loudly, naming the
    defect, before any drift signal is computed."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.operators import artifacts
    root = str(tmp_path / "nb_root")
    os.makedirs(root)
    rows = [(i, "good clean text here", i % 2 == 0) for i in range(8)]
    lab = spark.createDataFrame(
        rows, "doc_id long, text string, is_pos boolean")
    toks = lab.select("is_pos",
                      F.explode(T.tokenize(F.col("text"))).alias("tok"))
    cnt = (toks.groupBy("tok")
           .agg(F.sum(F.col("is_pos").cast("long")).alias("pc"),
                F.sum((~F.col("is_pos")).cast("long")).alias("nc")))
    v1 = publish.new_layout_dir(root)
    artifacts.nb_model_write(cnt, 4, 4, v1)
    publish.publish(root, v1)

    all_null = lab.withColumn("is_pos",
                              F.lit(None).cast("boolean"))
    with pytest.raises(ValueError, match="TOTAL 'is_pos' label"):
        maintenance.nb_maintenance_sweep(spark, root, all_null)

    partial = lab.withColumn(
        "is_pos", F.when(F.col("doc_id") < 6, F.col("is_pos")))
    with pytest.raises(ValueError, match="2 of 8 fresh rows"):
        maintenance.nb_maintenance_sweep(spark, root, partial)

    # total labels still sweep exactly as before
    s0 = maintenance.nb_maintenance_sweep(spark, root, lab)
    assert not s0["due"] and s0["oov_x1000"] == 0


def test_cas_publishers_lose_no_updates_under_threads(tmp_path):
    """The multi-maintainer upgrade (r13, ADVICE r12): with
    cas=True, N concurrent publishers each land EVERY one of their
    publishes — losers of a pointer race re-read and retry instead
    of silently overwriting.  Real thread contention over the
    flock-serialized file-backed double."""
    import threading

    store = _bucket(tmp_path)
    root = "idx"
    n_threads, n_each = 4, 5
    results: dict[str, list[int]] = {}
    errors: list[Exception] = []
    barrier = threading.Barrier(n_threads)

    def maintainer(tag: str):
        pub = publish.StorePublisher(store, root, cas=True,
                                     cas_retries=200)
        got = results.setdefault(tag, [])
        try:
            barrier.wait()
            for i in range(n_each):
                # each writer writes its OWN uniquely named layout:
                # new_layout_dir races on names, so allocate
                # explicitly (a real maintainer derives the name
                # from its job id for the same reason)
                d = f"{root}/layout-{tag}-{i:03d}"
                store.put(f"{d}/part-0.parquet", tag.encode())
                got.append(pub.publish(d))
        except Exception as e:  # noqa: BLE001 — surface in main thread
            errors.append(e)

    threads = [threading.Thread(target=maintainer, args=(f"w{t}",))
               for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    all_versions = sorted(v for got in results.values() for v in got)
    total = n_threads * n_each
    # NO lost update: every publish got a distinct monotone version
    assert all_versions == list(range(1, total + 1))
    final = publish.StorePublisher(store, root)
    assert final.current_version() == total
    meta = json.loads(store.get(f"{root}/{publish.POINTER}"))
    assert [h["version"] for h in meta["history"]] \
        == list(range(1, total + 1))
    # each writer's own versions are strictly increasing
    for got in results.values():
        assert got == sorted(got)


def test_cas_prune_window_race_keeps_the_racing_publish(tmp_path):
    """The CAS counterpart of the lost-update demonstration: with
    cas=True a publish landing between prune's pointer read and its
    closing PUT SURVIVES — prune's stale conditional PUT fails, the
    retry recomputes against the fresh pointer, and v4 stays live."""
    inner = _bucket(tmp_path)
    root = "idx"

    class InterceptStore:
        def __init__(self, store):
            self._store = store
            self.hook = None

        def __getattr__(self, name):
            return getattr(self._store, name)

        def put_if(self, key, data, etag):
            if key.endswith(publish.POINTER) and self.hook:
                hook, self.hook = self.hook, None
                hook()
            return self._store.put_if(key, data, etag)

    wrapped = InterceptStore(inner)
    maintainer = publish.StorePublisher(wrapped, root, cas=True)
    racer = publish.StorePublisher(inner, root, cas=True)

    dirs = []
    for i in range(1, 4):
        d = maintainer.new_layout_dir()
        inner.put(f"{d}/part-0.parquet", f"v{i}".encode())
        assert maintainer.publish(d) == i
        dirs.append(d)

    def racing_publish():
        d = racer.new_layout_dir()
        inner.put(f"{d}/part-0.parquet", b"v4")
        assert racer.publish(d) == 4

    wrapped.hook = racing_publish
    retired = maintainer.prune(keep=2)

    final = publish.StorePublisher(inner, root)
    # v4 SURVIVES (contrast: the plain-mode twin above loses it)
    assert final.current_version() == 4
    assert inner.get(f"{final.resolve()}/part-0.parquet") == b"v4"
    # prune's retry recomputed the horizon against the fresh pointer:
    # with keep=2 both v1 and v2 objects are gone, v3/v4 intact.
    # (The RETURNED list reflects the final attempt only — v1's
    # objects fell in the pre-race attempt, so the retry reports just
    # v2; deletes are idempotent, the report is best-effort under
    # contention.)
    assert retired == [dirs[1]]
    assert inner.list(f"{dirs[0]}/") == []
    assert inner.list(f"{dirs[1]}/") == []
    assert inner.list(f"{dirs[2]}/")
    remaining = {h["version"] for h in json.loads(
        inner.get(f"{root}/{publish.POINTER}"))["history"]}
    assert remaining == {3, 4}


def test_cli_maintain_store_uri_with_cas(spark, tmp_path, capsys):
    """r13: `maintain` accepts a URI index root —
    file:///bucket-dir/prefix sweeps through the file-backed client
    (s3://bucket/prefix is the s3a path of the boto3 client,
    env-gated), and --cas elects the conditional-write pointer mode.
    Same hysteresis as the POSIX CLI test: decayed acts once,
    settled reports not-due."""
    from samplebatchprocessing_spark.__main__ import _root_path, main

    store = _bucket(tmp_path)
    bucket_dir = store.root
    pub = publish.StorePublisher(store, "idx/post")
    doc = spark.createDataFrame(
        [(1, "big cat big"), (2, "big cat"), (3, "big dog"),
         (4, "cat big")], "doc_id long, text string")
    v1 = pub.new_layout_dir()
    T.postings_index_write(doc.filter("doc_id <= 2"),
                           store.fs_path(v1), n_buckets=4)
    pub.publish(v1)
    for did in (3, 4):
        T.postings_index_append(
            doc.filter(f"doc_id = {did}"),
            store.fs_path(pub.resolve()), n_buckets=4)

    uri = f"file://{bucket_dir}/idx/post"
    assert main(["maintain", "postings", uri, "--once",
                 "--threshold", "2", "--cas"]) == 0
    out = capsys.readouterr().out
    assert "due=True" in out and "v1 -> v2" in out
    assert pub.current_version() == 2

    assert main(["maintain", "postings", uri, "--once",
                 "--threshold", "2", "--cas"]) == 0
    assert "due=False" in capsys.readouterr().out
    assert pub.current_version() == 2

    # the root rewrite: s3:// is the s3a data plane's path, any other
    # scheme the publishers do not map raises, naming it
    assert _root_path("s3://some-bucket/indexes/lsh") \
        == "s3a://some-bucket/indexes/lsh"
    assert _root_path(uri) == uri
    with pytest.raises(ValueError, match="'ftp'"):
        _root_path("ftp://nope/x")


# ---------------------------------------------------------------------------
# One client for every layout sidecar: a bare, file:// or s3a:// layout
# path maps to one ObjectStoreClient, which moves the pointer and the
# JSON sidecars; Spark moves the parquet
# ---------------------------------------------------------------------------

def test_layout_path_maps_to_one_client():
    """The path-to-client mapping, with no network: a bare and a
    file:// spelling map to the same file-backed client and key; an
    s3a path maps to the S3 client of its bucket, and its keys map
    back to s3a paths; any other scheme raises, naming it."""
    from samplebatchprocessing_spark.pipeline.manifest import (
        LocalObjectStoreClient, S3ObjectStoreClient)
    s3 = publish._publisher("s3a://b/idx/layout-v00002")
    assert isinstance(s3.store, S3ObjectStoreClient)
    assert (s3.store.bucket, s3.root) == ("b", "idx/layout-v00002")
    assert publish._path_of(s3.store)("idx/layout-v00002/x.parquet") \
        == "s3a://b/idx/layout-v00002/x.parquet"
    for path in ("/a/b/idx", "file:///a/b/idx", "file:///a/b/idx/"):
        pub = publish._publisher(path)
        assert isinstance(pub.store, LocalObjectStoreClient)
        assert (pub.store.root, pub.root) == ("/a/b", "idx")
    for bad in ("gs://b/idx", "hdfs://nn/idx", "s3a://b"):
        with pytest.raises(ValueError, match=bad.split(":")[0]):
            publish._publisher(bad)


def test_unsupported_scheme_raises_before_any_write(spark, tmp_path,
                                                    spark_jobs):
    """A layout path with no client raises ValueError naming its
    scheme before Spark runs a job, so no parquet is left without
    its sidecar."""
    import numpy as np

    from samplebatchprocessing_spark.operators import artifacts as A
    doc = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    layer = str(tmp_path / "layer")
    cnt = spark.createDataFrame([("aa", 3, 1)],
                                "tok string, pc long, nc long")
    for call in (lambda: dedup.lsh_index_write(doc, "gs://b/idx"),
                 lambda: dedup.lsh_index_compact(spark, [layer],
                                                 "gs://b/idx"),
                 lambda: T.postings_index_compact(spark, [layer],
                                                  "gs://b/idx"),
                 lambda: A.nb_model_write(cnt, 1, 1, "gs://b/nb"),
                 lambda: S.ivf_centroids_write("gs://b/ivf",
                                               np.eye(2))):
        def attempt():
            with pytest.raises(ValueError, match="'gs'"):
                call()
        assert spark_jobs(attempt)[1] == 0


def test_file_uri_lsh_layout_carries_its_sidecar(spark, sf_smoke,
                                                 tmp_path):
    """A file:// LSH layout is the bare one: its write stamps the
    sidecar, a mismatched append raises FROZEN through either
    spelling, compaction carries the sidecar, and the file:// root
    resolves to its live layout, so a probe with two layouts
    retained reads one version."""
    doc = load_table(spark, sf_smoke, "documents").limit(30)
    batch = doc.limit(30).exceptAll(doc.limit(25))
    root = str(tmp_path / "root")
    v1, v2 = (os.path.join(root, f"layout-v0000{i}") for i in (1, 2))
    os.makedirs(root)
    dedup.lsh_index_write(doc.limit(25), "file://" + v1)
    with open(os.path.join(v1, "_lsh_meta.json")) as f:
        meta = json.load(f)
    assert meta["n_buckets"] == 32
    publish.publish(root, v1)
    assert publish.resolve("file://" + root) == v1

    for spelling in (root, "file://" + root):
        with pytest.raises(ValueError, match="FROZEN"):
            dedup.lsh_index_append(batch, spelling, n_buckets=7)
    dedup.lsh_index_append(batch, "file://" + root)

    dedup.lsh_index_compact(spark, ["file://" + v1], "file://" + v2)
    with open(os.path.join(v2, "_lsh_meta.json")) as f:
        assert json.load(f) == meta
    publish.publish(root, v2)
    probe = [sorted(map(tuple, dedup.lsh_index_probe(
        spark, r, batch).collect())) for r in (root, "file://" + root)]
    assert probe[0] == probe[1] and probe[0]


def test_file_uri_ivf_centroid_sidecar_roundtrip(spark, tmp_path):
    """IVF centroids written through a file:// layout read back
    bit-exact through either spelling of the layout and of its
    versioned root."""
    import numpy as np
    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)])
         for i in range(40)], "vec_id long, embedding array<float>")
    root = str(tmp_path / "ivf_root")
    v1 = os.path.join(root, "layout-v00001")
    os.makedirs(root)
    cmat = S.ivf_index_write(emb, "file://" + v1, n_cells=4)
    S.ivf_centroids_write("file://" + v1, cmat)
    publish.publish(root, v1)
    for path in (v1, "file://" + v1, root, "file://" + root):
        got = S.ivf_centroids_read(path)
        assert got.dtype == np.float64 and (got == cmat).all()


def test_sidecar_io_runs_no_spark_job(spark, tmp_path, spark_jobs):
    """Sidecar reads and writes go through the layout's client, never
    through a Spark read: zero jobs for a centroid and a vocab
    round trip."""
    import numpy as np

    from samplebatchprocessing_spark.operators import artifacts as A
    ivf = str(tmp_path / "ivf")
    os.makedirs(ivf)
    cmat = np.random.default_rng(3).normal(size=(4, 3))
    got, n = spark_jobs(lambda: (S.ivf_centroids_write(ivf, cmat),
                                 S.ivf_centroids_read(ivf))[1])
    assert (got == cmat).all() and n == 0
    vocab = str(tmp_path / "vocab")
    merges = [(1, "t", "h", "th", 9), (2, "th", "e", "the", 7)]
    got, n = spark_jobs(lambda: (A.bpe_vocab_write(merges, vocab),
                                 A.bpe_vocab_read(vocab))[1])
    assert got == (("t", "h", "th"), ("th", "e", "the")) and n == 0


def test_store_lsh_maintenance_sweep_over_file_uri(spark, sf_smoke,
                                                   tmp_path):
    """A store sweep whose data plane is a URI (as `maintain lsh
    s3://...` hands Spark s3a:// paths) carries the frozen-parameter
    sidecar onto the layout it publishes, so the guard still holds
    on the live version."""
    doc = load_table(spark, sf_smoke, "documents").limit(30)
    base, batch = doc.limit(25), doc.limit(30).exceptAll(doc.limit(25))
    store = _bucket(tmp_path)
    pub = publish.StorePublisher(store, "idx/lsh")
    v1 = pub.new_layout_dir()
    dedup.lsh_index_write(base, store.fs_path(v1))
    pub.publish(v1)
    for _ in range(2):
        dedup.lsh_index_append(batch, store.fs_path(v1))
    r = maintenance.lsh_maintenance_sweep(
        spark, "file://" + store.fs_path("idx/lsh"),
        max_files_per_bucket=3)
    assert r["acted"] and r["version_after"] == 2
    live = store.fs_path(pub.resolve())
    assert os.path.exists(os.path.join(live, "_lsh_meta.json"))
    with pytest.raises(ValueError, match="FROZEN"):
        dedup.lsh_index_append(batch, live, n_buckets=7)


def test_store_ivf_maintenance_sweep_over_file_uri(spark, tmp_path):
    """The IVF store sweep over a URI data plane stamps the new
    centroids into the layout it publishes: v2 goes live, and its
    sidecar equals the centroids the recluster returns."""
    import numpy as np
    rng = np.random.default_rng(11)
    base = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)])
         for i in range(64)], "vec_id long, embedding array<float>")
    store = _bucket(tmp_path)
    pub = publish.StorePublisher(store, "idx/ivf")
    v1 = pub.new_layout_dir()
    cmat = S.ivf_index_write(base, store.fs_path(v1), n_cells=8)
    S.ivf_centroids_write(store.fs_path(v1), cmat)
    pub.publish(v1)
    drift = spark.createDataFrame(
        [(1000 + i, [float(x) for x in
                     np.array([8.0, 0, 0, 0]) + 0.3 * rng.normal(size=4)])
         for i in range(200)], "vec_id long, embedding array<float>")
    (S.ivf_assign(drift, cmat).write.mode("append")
     .partitionBy("cell").parquet(store.fs_path(v1)))

    r = maintenance.ivf_maintenance_sweep(
        spark, "file://" + store.fs_path("idx/ivf"), n_cells=8)
    assert r["acted"] and r["version_after"] == 2
    recl = S.ivf_index_recluster(spark, store.fs_path(v1),
                                 str(tmp_path / "recl"), n_cells=8)
    assert (S.ivf_centroids_read(store.fs_path(pub.resolve()))
            == recl).all()


# ---------------------------------------------------------------------------
# One path names every maintained root: each sweep maps its path to one
# client and runs the one census -> due -> rewrite -> publish -> prune chain
# ---------------------------------------------------------------------------

def test_publish_matches_bare_and_file_uri_spellings(tmp_path):
    """A bare and a file:// spelling of one directory are one
    location: a file:// layout publishes under a bare root and a bare
    layout under a file:// root; a layout outside the root, in
    either spelling, is still refused."""
    root = str(tmp_path / "idx")
    v1 = os.path.join(root, "layout-v00001")
    _write_layout(v1)
    assert publish.publish(root, "file://" + v1) == 1
    v2 = publish.new_layout_dir(root)
    _write_layout(v2)
    assert publish.publish("file://" + root, v2) == 2
    assert publish.resolve(root) == v2
    elsewhere = str(tmp_path / "elsewhere" / "layout-v00003")
    _write_layout(elsewhere)
    for layout in (elsewhere, "file://" + elsewhere):
        with pytest.raises(ValueError, match="subdirectory"):
            publish.publish("file://" + root, layout)


def _vocab_root(spark, root: str):
    """A vocab root whose v1 is trained and stamped on a healthy
    slice; returns (healthy slice, drifted slice)."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.operators import artifacts
    df = spark.createDataFrame(
        [(i, "the cat and the hat and the bat") for i in range(8)],
        "doc_id long, text string")
    m1 = T.bpe_train_merges(df, n_merges=3)
    rules = tuple((l, r, m) for _, l, r, m, _ in m1)
    v1 = publish.new_layout_dir(root)
    artifacts.bpe_vocab_write(
        m1, v1, fertility_x1000=T.encode_fertility_x1000(df, rules))
    publish.publish(root, v1)
    return df, df.withColumn("text", F.reverse(F.col("text")))


def test_cli_maintain_file_uri_roots(spark, tmp_path, capsys):
    """`maintain` takes a file:// root for an index kind and for a
    trained-artifact kind alike: each decayed or drifted root acts
    once and publishes v2."""
    from samplebatchprocessing_spark.__main__ import main

    doc = spark.createDataFrame(
        [(1, "big cat"), (2, "cat dog"), (3, "dog bird")],
        "doc_id long, text string")
    post = str(tmp_path / "post")
    v1 = publish.new_layout_dir(post)
    T.postings_index_write(doc.filter("doc_id = 1"), v1, n_buckets=4)
    publish.publish(post, v1)
    for did in (2, 3):
        T.postings_index_append(doc.filter(f"doc_id = {did}"), post,
                                n_buckets=4)
    assert main(["maintain", "postings", "file://" + post, "--once",
                 "--threshold", "2"]) == 0
    assert "due=True" in capsys.readouterr().out
    assert publish.current_version(post) == 2

    vocab = str(tmp_path / "vocab")
    _df, drifted = _vocab_root(spark, vocab)
    fresh = str(tmp_path / "fresh")
    drifted.write.parquet(fresh)
    assert main(["maintain", "vocab", "file://" + vocab, "--once",
                 "--fresh-parquet", fresh, "--n-merges", "3"]) == 0
    assert "due=True" in capsys.readouterr().out
    assert publish.current_version(vocab) == 2


def test_cli_maintain_vocab_cas_publishes_through_put_if(
        spark, tmp_path, monkeypatch, capsys):
    """`maintain vocab --cas` publishes and prunes its pointer with
    conditional writes, as the index kinds do."""
    from samplebatchprocessing_spark.__main__ import main
    from samplebatchprocessing_spark.pipeline.manifest import (
        LocalObjectStoreClient)

    vocab = str(tmp_path / "vocab")
    _df, drifted = _vocab_root(spark, vocab)
    fresh = str(tmp_path / "fresh")
    drifted.write.parquet(fresh)
    calls = []
    put_if = LocalObjectStoreClient.put_if

    def spy(self, key, data, etag):
        calls.append(key)
        return put_if(self, key, data, etag)

    monkeypatch.setattr(LocalObjectStoreClient, "put_if", spy)
    assert main(["maintain", "vocab", vocab, "--once", "--cas",
                 "--fresh-parquet", fresh, "--n-merges", "3"]) == 0
    assert "v1 -> v2" in capsys.readouterr().out
    assert calls and all(k.endswith(publish.POINTER) for k in calls)


def test_sweep_job_budgets(spark, sf_smoke, tmp_path, spark_jobs):
    """Spark jobs per sweep, pinned at the most seen in 5 fresh
    sessions: a not-due LSH sweep lists files and runs no job; a
    vocab sweep measures drift once (6 jobs) and an acted one adds
    the retrain and the new vocab's fertility stamp (23 in all)."""
    doc = load_table(spark, sf_smoke, "documents").limit(30)
    lsh = str(tmp_path / "lsh")
    v1 = publish.new_layout_dir(lsh)
    dedup.lsh_index_write(doc, v1)
    publish.publish(lsh, v1)
    r, n = spark_jobs(lambda: maintenance.lsh_maintenance_sweep(
        spark, lsh, max_files_per_bucket=3))
    assert not r["acted"] and n == 0

    vocab = str(tmp_path / "vocab")
    df, drifted = _vocab_root(spark, vocab)
    r, n = spark_jobs(lambda: maintenance.vocab_maintenance_sweep(
        spark, vocab, df, n_merges=3))
    assert not r["acted"] and n <= 6
    r, n = spark_jobs(lambda: maintenance.vocab_maintenance_sweep(
        spark, vocab, drifted, n_merges=3))
    assert r["acted"] and n <= 23
