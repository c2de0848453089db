"""Index MAINTENANCE sweeps — the cadence loop that actually RUNS
the measured due-predicates (r11, VERDICT r10 #3).

Round 10 left the lifecycle matrix complete but inert: the
maintenance passes (``dedup.lsh_index_compact``, ``text.
postings_index_compact``, ``similarity.ivf_index_recluster``) and
their decision predicates (``similarity.recluster_is_due``, the l17
small-file decay story) existed, but nothing executed the loop
census -> due? -> rewrite -> publish.  This module is that loop:
one-shot ``*_sweep`` entry points (run the decision once, act if
due, return a report row) plus :func:`maintenance_daemon` (a
caller-owned background loop over zero-arg thunks with graceful
stop).  The loop is shared: ``pipeline.manifest.watch_daemon`` runs
its file drain (the one-shot ``watch_prefix``) on it, and the CLI
wires SIGINT to ``stop()`` the same way in ``cmd_maintain`` and
``cmd_watch``.

Every index sweep (LSH, postings, IVF) runs one chain,
:func:`_sweep`; the kind supplies only its census, due-predicate
and rewrite.  Every root publishes through one
:class:`publish.StorePublisher`: a key prefix in ``store``, or with
``store=None`` the client its path maps to (``publish._publisher``);
Spark reads the layout parquet at ``spark_uri(key)``, and the
rewrites carry each layout's sidecars through that path.  The chain:
1. CENSUS the live layout (``resolve`` — one consistent version)
   with an o(index-metadata) probe;
2. apply the PURE integer due-predicate (unit-testable apart from
   the operator it steers — the ``orientation_is_skewed``
   discipline);
3. if due, rewrite into a FRESH layout directory
   (``new_layout_dir`` — never in place, ADVICE r10) while
   probes keep serving the old version;
4. PUBLISH the pointer atomically and prune retired layouts beyond
   the read horizon (keep >= 2, the m10 vacuum-horizon rule).

Scale (100 TB): the census is bounded driver metadata (file counts /
one cell-keyed aggregate); the rewrite is the already-priced
maintenance pass, amortized over the cadence; the swap is O(bytes of
one JSON pointer).  A sweep that crashes mid-rewrite leaves the
pointer untouched — readers never see the partial layout and the
next sweep retries into a fresh directory.
"""

from __future__ import annotations

from . import publish
from .dedup import lsh_index_compact
from .similarity import (ivf_cell_census, ivf_centroids_write,
                         ivf_index_recluster, recluster_is_due)
from .text import postings_index_compact

REPORT_SCHEMA = ("index_root string, kind string, due boolean, "
                 "acted boolean, version_before int, "
                 "version_after int, files_before int, "
                 "files_after int")


def bucket_file_census(layout_dir: str) -> tuple[int, int, int]:
    """:func:`store_bucket_census` of a layout path."""
    pub = publish._publisher(layout_dir)
    return store_bucket_census(pub.store, pub.root)


def store_bucket_census(store, layout_key: str) -> tuple[int, int, int]:
    """(max_files_in_one_bucket, n_nonempty_buckets, total_files)
    over a bucket-partitioned layout (LSH band index / postings
    index) — the small-file decay measurement: page the layout's
    keys (memory bounded by the page size, never the key count) and
    count ``*.parquet`` objects per ``bucket=N`` key segment.
    o(file count) metadata, never data."""
    counts: dict[str, int] = {}
    prefix = layout_key.rstrip("/") + "/"
    for page in store.list_pages(prefix):
        for key in page:
            if not key.endswith(".parquet"):
                continue
            rest = key[len(prefix):]
            seg = rest.split("/", 1)[0]
            if seg.startswith("bucket="):
                counts[seg] = counts.get(seg, 0) + 1
    if not counts:
        return 0, 0, 0
    return max(counts.values()), len(counts), sum(counts.values())


def compact_is_due(max_files: int, threshold: int = 4) -> bool:
    """The compaction-cadence decision predicate (pure, integer): a
    freshly-compacted bucket holds ONE file; every delta append adds
    one file per touched bucket, and each extra file costs a task +
    an open + a lost chance at cross-file row-group skipping on the
    sort key.  Compaction is due when the hottest bucket has
    accumulated >= ``threshold`` files — by then a probe of that
    bucket pays ``threshold`` opens for one bucket's worth of rows.
    ``threshold`` >= 2 (at 1 the sweep would rewrite a
    just-compacted index forever)."""
    if threshold < 2:
        raise ValueError(f"threshold must be >= 2, got {threshold}")
    return max_files >= threshold


def _require_versioned(pub, kind: str, index_root: str) -> int:
    """The live version of ``pub``'s root; raises for an unversioned
    root, which has no pointer to swap."""
    version = pub.current_version()
    if version is None:
        raise ValueError(
            f"{kind} sweep needs a VERSIONED index root (no "
            f"{publish.POINTER} under {index_root!r}): build into a "
            f"fresh new_layout_dir, then publish it — an unversioned "
            f"root has nowhere to swap to")
    return version


def _plane(index_root: str, store, cas: bool, spark_uri):
    """(publisher, layout key -> Spark path, layout key -> ``bucket=N``
    file census) for ``index_root``: a key prefix in ``store`` whose
    parquet Spark reads at ``spark_uri(key)`` — the file-backed
    client's ``fs_path`` by default, a ``lambda k:
    f"s3a://{bucket}/{k}"`` on a real deployment.  ``store=None``
    is the path's own client (:func:`publish._publisher`)."""
    if store is None:
        pub = publish._publisher(index_root)
        store, index_root = pub.store, pub.root
    return (publish.StorePublisher(store, index_root, cas=cas),
            spark_uri or publish._path_of(store),
            lambda key: store_bucket_census(store, key))


def _sweep(kind: str, index_root: str, pub, census, due, rewrite,
           keep_versions: int) -> dict:
    """The one maintenance chain: census the live layout, decide with
    the pure ``due`` predicate, rewrite into a fresh layout, publish,
    prune, census again.  ``census`` maps a layout to ``(max, n,
    total)``; ``rewrite(live, out)`` writes layout ``out``.  The
    report's ``files_*`` are total files for the bucket kinds and the
    max-cell row count for IVF (the skew its predicate acts on)."""
    before = _require_versioned(pub, kind, index_root)
    live = pub.resolve()
    stats = census(live)
    acted = due(*stats)
    if acted:
        out = pub.new_layout_dir()
        rewrite(live, out)
        pub.publish(out)
        pub.prune(keep=keep_versions)
    after = census(pub.resolve())
    i = 0 if kind == "ivf" else 2
    return {"index_root": index_root, "kind": kind, "due": acted,
            "acted": acted, "version_before": before,
            "version_after": pub.current_version(),
            "files_before": stats[i], "files_after": after[i]}


def lsh_maintenance_sweep(spark, index_root: str,
                          max_files_per_bucket: int = 4,
                          keep_versions: int = 2, *, store=None,
                          cas: bool = False, spark_uri=None) -> dict:
    """One maintenance decision for a versioned LSH band index:
    census the live layout's bucket files, compact into a fresh
    layout iff :func:`compact_is_due`, publish, prune.  Returns the
    report row (REPORT_SCHEMA keys); ``acted=False`` sweeps cost one
    listing and nothing else.  With ``store`` the root is a key
    prefix in that bucket; ``cas`` elects the multi-maintainer
    pointer mode of :class:`publish.StorePublisher` on either
    plane."""
    pub, uri, census = _plane(index_root, store, cas, spark_uri)
    return _sweep(
        "lsh", index_root, pub, census,
        lambda mx, _n, _t: compact_is_due(mx, max_files_per_bucket),
        lambda live, out: lsh_index_compact(spark, [uri(live)],
                                            uri(out)),
        keep_versions)


def postings_maintenance_sweep(spark, index_root: str,
                               max_files_per_bucket: int = 4,
                               keep_versions: int = 2, *, store=None,
                               cas: bool = False,
                               spark_uri=None) -> dict:
    """:func:`lsh_maintenance_sweep` for the x117/x121/x123 postings
    index — same ``bucket=N`` census, same due-predicate, x123's
    compaction as the rewrite."""
    pub, uri, census = _plane(index_root, store, cas, spark_uri)
    return _sweep(
        "postings", index_root, pub, census,
        lambda mx, _n, _t: compact_is_due(mx, max_files_per_bucket),
        lambda live, out: postings_index_compact(spark, [uri(live)],
                                                 uri(out)),
        keep_versions)


def ivf_maintenance_sweep(spark, index_root: str, n_cells: int = 16,
                          skew_threshold: int = 4,
                          sample_cap: int = 4096,
                          keep_versions: int = 2, *, store=None,
                          cas: bool = False, spark_uri=None) -> dict:
    """One maintenance decision for a versioned IVF ANN index:
    ``ivf_cell_census`` the live layout (one cell-keyed aggregate),
    re-centroid into a fresh layout iff ``recluster_is_due``
    (drifted appends crowding stale cells — the x133 trigger), stamp
    the new centroids INTO the layout (``ivf_centroids_write``, so
    the pointer swap versions quantizer and cells together),
    publish, prune.  ``files_*`` report the max-cell row count here
    (the skew measure the predicate acts on)."""
    pub, uri, _ = _plane(index_root, store, cas, spark_uri)

    def rewrite(live: str, out: str) -> None:
        cmat = ivf_index_recluster(spark, uri(live), uri(out), n_cells,
                                   sample_cap)
        ivf_centroids_write(uri(out), cmat)

    return _sweep(
        "ivf", index_root, pub,
        lambda layout: ivf_cell_census(spark, uri(layout)),
        lambda mx, _n, total: recluster_is_due(mx, n_cells, total,
                                               skew_threshold),
        rewrite, keep_versions)


def vocab_retrain_is_due(fresh_x1000: int, trained_x1000: int,
                         max_drift_x1000: int = 150) -> bool:
    """The tokenizer retrain decision predicate (pure, integer, r12
    — VERDICT r11 #4): a published BPE vocabulary carries its
    AT-TRAINING corpus fertility (``artifacts.bpe_vocab_write``
    stamp); a fresh slice whose fertility under the live merges
    exceeds that baseline by >= ``max_drift_x1000`` (x1000 fixed
    point, i.e. 150 = +0.15 pieces per word) is drifted vocabulary —
    the merges no longer cover what the corpus now says, and every
    encoded sequence pays the shred.  Downward drift (fresh text
    EASIER than training text) never triggers: a vocabulary is not
    wrong for over-covering.  ``max_drift_x1000 >= 1`` — at 0 the
    sweep would retrain on every measurement tick."""
    if max_drift_x1000 < 1:
        raise ValueError(
            f"max_drift_x1000 must be >= 1, got {max_drift_x1000}")
    return fresh_x1000 - trained_x1000 >= max_drift_x1000


def nb_retrain_is_due(oov_x1000: int, fresh_prior_x1000: int,
                      model_prior_x1000: int,
                      max_oov_x1000: int = 100,
                      max_prior_drift_x1000: int = 250) -> bool:
    """The NB-classifier retrain decision predicate (pure, integer):
    due when fresh labeled data shows either
    - TOKEN NOVELTY: >= ``max_oov_x1000`` per mille of fresh token
      occurrences are absent from the model's count table (the model
      has no evidence for what it is now asked to score — every OOV
      token scores 0 LLR, pulling toward the prior), or
    - CLASS-PRIOR DRIFT: the fresh positive-class rate differs from
      the model's trained prior by >= ``max_prior_drift_x1000`` per
      mille (the prior term in x115's score is stale).
    Both thresholds >= 1 for the same no-retrain-forever hysteresis
    as :func:`compact_is_due`."""
    if max_oov_x1000 < 1 or max_prior_drift_x1000 < 1:
        raise ValueError(
            f"thresholds must be >= 1, got max_oov_x1000="
            f"{max_oov_x1000} max_prior_drift_x1000="
            f"{max_prior_drift_x1000}")
    return (oov_x1000 >= max_oov_x1000
            or abs(fresh_prior_x1000 - model_prior_x1000)
            >= max_prior_drift_x1000)


def vocab_maintenance_sweep(spark, root: str, fresh_df,
                            n_merges: int = 4,
                            max_drift_x1000: int = 150,
                            text_col: str = "text",
                            keep_versions: int = 2) -> dict:
    """One retrain decision for a published BPE vocabulary — the
    x134 sweep shape applied to a TRAINED ARTIFACT (r12, VERDICT r11
    #4): measure fresh-slice fertility under the LIVE merges (one
    bounded aggregate — the x89 measurement collapsed to an
    integer), compare against the stamped at-training baseline,
    retrain-and-publish iff :func:`vocab_retrain_is_due`.

    The retrain trains on ``fresh_df`` and stamps the NEW vocab with
    its own fresh-corpus fertility, so an immediately-following
    sweep over the same slice measures zero drift — the
    just-compacted hysteresis of :func:`compact_is_due`, for models.

    Scale (100 TB): a not-due sweep costs one delta-sized encode
    aggregate (the corpus collapses to its distinct words first);
    an acted sweep is x44's already-priced training pass amortized
    over the drift cadence; the swap is O(JSON)."""
    from . import artifacts
    from .text import bpe_train_merges, encode_fertility_x1000

    pub = publish._publisher(root)
    before = _require_versioned(pub, "vocab", root)
    meta = artifacts.bpe_vocab_meta(root)
    if "fertility_x1000" not in meta:
        raise ValueError(
            f"the live vocab under {root!r} carries no "
            f"fertility_x1000 stamp — retrain drift has no baseline. "
            f"Republish it via bpe_vocab_write(..., fertility_x1000="
            f"encode_fertility_x1000(training_df, merges))")
    trained = int(meta["fertility_x1000"])
    merges = tuple((l, r, m) for l, r, m in meta["merges"])
    fresh = encode_fertility_x1000(fresh_df, merges,
                                   text_col=text_col)
    due = vocab_retrain_is_due(fresh, trained, max_drift_x1000)
    if due:
        m2 = bpe_train_merges(fresh_df, n_merges, text_col=text_col)
        rules = tuple((l, r, m) for _, l, r, m, _ in m2)
        new_fert = encode_fertility_x1000(fresh_df, rules,
                                          text_col=text_col)
        out = pub.new_layout_dir()
        artifacts.bpe_vocab_write(m2, pub.store.fs_path(out),
                                  fertility_x1000=new_fert)
        pub.publish(out)
        pub.prune(keep=keep_versions)
    return {"index_root": root, "kind": "vocab", "due": due,
            "acted": due, "version_before": before,
            "version_after": pub.current_version(),
            "fertility_trained_x1000": trained,
            "fertility_fresh_x1000": fresh}


def nb_maintenance_sweep(spark, root: str, fresh_doc,
                         pos_col: str = "is_pos",
                         text_col: str = "text",
                         max_oov_x1000: int = 100,
                         max_prior_drift_x1000: int = 250,
                         keep_versions: int = 2) -> dict:
    """One retrain decision for a published NB quality model (r12,
    VERDICT r11 #4): census the fresh labeled slice's OOV token mass
    and class prior against the LIVE model (two bounded aggregates),
    and iff :func:`nb_retrain_is_due`, fold the fresh counts into
    the published counts (x128's exact integer merge — reads ONLY
    the fresh slice plus the published relation, never the training
    corpus), sum the priors, publish, prune.

    Hysteresis: after an acted sweep every fresh token is in the
    count table (OOV mass 0) and the fresh slice's counts are part
    of the model, so re-sweeping the same slice is not due unless
    its prior is drifted beyond the folded model's — the control
    loop keeps folding until converged, which is the correct
    steady-state for a persistently skewed feed.

    ``fresh_doc``: (doc_id, ``text_col``, boolean ``pos_col``).

    Scale (100 TB): the census and the fold are delta-sized; the
    count-table join is vocabulary-keyed (broadcast at scoring, hash
    at fold); the swap is O(JSON)."""
    from pyspark.sql import functions as F

    from . import artifacts
    from .text import tokenize

    pub = publish._publisher(root)
    before = _require_versioned(pub, "nb", root)
    cnt, np_, nn = artifacts.nb_model_read(spark, root)

    toks = fresh_doc.select(
        F.col(pos_col).alias("is_pos"),
        F.explode(tokenize(F.col(text_col))).alias("tok"))
    row = (toks.join(cnt.select("tok").distinct()
                     .withColumn("known", F.lit(True)),
                     "tok", "left")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("known").isNull().cast("long"))
                .alias("oov")).first())
    if not row["n"]:
        raise ValueError("NB drift census needs a non-empty fresh "
                         "slice — an empty delta has no drift signal")
    oov_x1000 = int(1000 * row["oov"] // row["n"])
    pr = (fresh_doc.agg(
        F.sum(F.col(pos_col).cast("long")).alias("np"),
        F.sum((~F.col(pos_col)).cast("long")).alias("nn"),
        F.sum(F.col(pos_col).isNull().cast("long")).alias("nx"),
        F.count(F.lit(1)).alias("nt")).first())
    # Labels are REQUIRED to be total (ADVICE r12): F.sum over an
    # all-NULL boolean census returns NULL — the old code crashed
    # with an opaque int(None) TypeError before computing any drift
    # signal — and partially-NULL labels silently shrink the prior
    # denominator relative to the OOV census's row count, biasing
    # the drift comparison.  Fail loudly with the defect named.
    if int(pr["nx"] or 0):
        raise ValueError(
            f"NB drift census needs a TOTAL {pos_col!r} label: "
            f"{int(pr['nx'])} of {int(pr['nt'])} fresh rows are "
            f"NULL — label the slice (or filter it) before the "
            f"sweep; a partial label biases the prior drift signal")
    np_f, nn_f = int(pr["np"]), int(pr["nn"])
    fresh_prior_x1000 = 1000 * np_f // (np_f + nn_f)
    model_prior_x1000 = 1000 * np_ // (np_ + nn)

    due = nb_retrain_is_due(oov_x1000, fresh_prior_x1000,
                            model_prior_x1000, max_oov_x1000,
                            max_prior_drift_x1000)
    if due:
        cnt_d = (toks.groupBy("tok")
                 .agg(F.sum(F.col("is_pos").cast("long")).alias("pc"),
                      F.sum((~F.col("is_pos")).cast("long"))
                      .alias("nc")))
        merged = (cnt.withColumnRenamed("pc", "pc_b")
                  .withColumnRenamed("nc", "nc_b")
                  .join(cnt_d.withColumnRenamed("pc", "pc_d")
                        .withColumnRenamed("nc", "nc_d"),
                        "tok", "full_outer")
                  .select("tok",
                          (F.coalesce("pc_b", F.lit(0))
                           + F.coalesce("pc_d", F.lit(0))).alias("pc"),
                          (F.coalesce("nc_b", F.lit(0))
                           + F.coalesce("nc_d", F.lit(0)))
                          .alias("nc")))
        out = pub.new_layout_dir()
        artifacts.nb_model_write(merged, np_ + np_f, nn + nn_f,
                                 pub.store.fs_path(out))
        pub.publish(out)
        pub.prune(keep=keep_versions)
    return {"index_root": root, "kind": "nb", "due": due,
            "acted": due, "version_before": before,
            "version_after": pub.current_version(),
            "oov_x1000": oov_x1000,
            "fresh_prior_x1000": fresh_prior_x1000,
            "model_prior_x1000": model_prior_x1000}


def maintenance_daemon(sweeps, poll_seconds: float = 5.0):
    """The continuously-running form: run every thunk in ``sweeps``
    (zero-arg callables, e.g. ``lambda: ivf_maintenance_sweep(spark,
    root)``; ``pipeline.manifest.watch_daemon`` passes its file drain)
    once per ``poll_seconds`` tick on a background thread.  Returns a
    handle whose ``stop()`` finishes the in-flight tick and joins
    (graceful SIGINT wiring is the caller's, as in ``__main__``);
    ``reports`` accumulates every thunk's return value;
    ``awaitTermination(timeout=None)`` is True once the loop ended.
    A thunk's exception ends the loop (``isActive`` turns false) and
    re-raises on ``stop()`` and ``awaitTermination`` — a maintenance
    loop that silently skipped failed sweeps would let an index decay
    unboundedly while looking healthy."""
    import threading

    class _Daemon:
        def __init__(self):
            self.reports: list = []
            self._stop = threading.Event()
            self._error: BaseException | None = None
            self._thread = threading.Thread(target=self._run,
                                            daemon=True)
            self._thread.start()

        def _run(self):
            while not self._stop.is_set():
                for sweep in sweeps:
                    try:
                        self.reports.append(sweep())
                    except BaseException as exc:  # surface on stop()
                        self._error = exc
                        return
                self._stop.wait(poll_seconds)

        @property
        def isActive(self) -> bool:
            return self._thread.is_alive()

        def awaitTermination(self, timeout: float | None = None) -> bool:
            self._thread.join(timeout)        # as StreamingQuery's
            if self._error is not None:
                raise self._error
            return not self._thread.is_alive()

        def stop(self):
            self._stop.set()
            self.awaitTermination()

    return _Daemon()
