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

Every sweep (LSH, postings, IVF, vocab, NB) takes its root as a
path — bare, ``file://`` or ``s3a://`` — and runs one chain,
:func:`_sweep`: ``publish._publisher`` maps the path to its client,
and the kind supplies only its census, due-predicate, rewrite and
report fields.  Spark reads and writes each layout at the path
``publish._path_of`` maps its key to, and the rewrites carry each
layout's sidecars through that path.  The chain:
1. CENSUS the live layout (``resolve`` — one consistent version)
   with an o(index-metadata) probe, or for a trained artifact a
   drift measurement of a fresh slice against it;
2. apply the PURE integer due-predicate (unit-testable apart from
   the operator it steers — the ``orientation_is_skewed``
   discipline);
3. if due, rewrite into a FRESH layout directory
   (``new_layout_dir`` — never in place, ADVICE r10) while
   probes keep serving the old version;
4. PUBLISH the pointer atomically and prune retired layouts beyond
   the read horizon (keep >= 2, the m10 vacuum-horizon rule).
``cas`` elects the multi-maintainer pointer mode of
:class:`publish.StorePublisher` on every kind.

Scale (100 TB): the census is bounded driver metadata (file counts /
one cell-keyed aggregate); the rewrite is the already-priced
maintenance pass, amortized over the cadence; the swap is O(bytes of
one JSON pointer).  A sweep that crashes mid-rewrite leaves the
pointer untouched — readers never see the partial layout and the
next sweep retries into a fresh directory.
"""

from __future__ import annotations

from functools import partial

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
    """(max_files_in_one_bucket, n_nonempty_buckets, total_files)
    over a bucket-partitioned layout (LSH band index / postings
    index) — the small-file decay measurement: page the layout's keys
    through its path's client (memory bounded by the page size, never
    the key count) and count ``*.parquet`` objects per ``bucket=N``
    key segment.  o(file count) metadata, never data."""
    pub = publish._publisher(layout_dir)
    counts: dict[str, int] = {}
    prefix = pub.root + "/"
    for page in pub.store.list_pages(prefix):
        for key in page:
            if not key.endswith(".parquet"):
                continue
            seg = key[len(prefix):].split("/", 1)[0]
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


def _sweep(kind: str, root: str, cas: bool, census, due, rewrite,
           report, keep_versions: int) -> dict:
    """The one maintenance chain: map ``root`` to its publisher,
    census the live layout, decide with the pure ``due`` predicate,
    rewrite into a fresh layout, publish, prune.  The kind's callables
    see paths, never keys: ``census(live)`` returns the measurement
    ``due(*stats)`` decides on, ``rewrite(live, out, stats)`` writes
    layout ``out``, and ``report(stats, live)`` gives the kind's
    report fields, ``live`` being the layout live after the sweep.
    Raises for an unversioned root, which has no pointer to swap."""
    pub = publish._publisher(root)
    pub.cas = cas
    path = publish._path_of(pub.store)
    before = pub.current_version()
    if before is None:
        raise ValueError(
            f"{kind} sweep needs a VERSIONED index root (no "
            f"{publish.POINTER} under {root!r}): build into a "
            f"fresh new_layout_dir, then publish it — an unversioned "
            f"root has nowhere to swap to")
    live = path(pub.resolve())
    stats = census(live)
    acted = due(*stats)
    if acted:
        out = pub.new_layout_dir()
        rewrite(live, path(out), stats)
        pub.publish(out)
        pub.prune(keep=keep_versions)
    return {"index_root": root, "kind": kind, "due": acted,
            "acted": acted, "version_before": before,
            "version_after": pub.current_version(),
            **report(stats, path(pub.resolve()))}


def _files(census, i: int):
    """The report of an index kind: field ``i`` of ``census`` before
    the sweep and on the layout live after it — total files for the
    bucket kinds, the max-cell row count for IVF (the skew its
    predicate acts on)."""
    return lambda stats, live: {"files_before": stats[i],
                                "files_after": census(live)[i]}


def lsh_maintenance_sweep(spark, index_root: str,
                          max_files_per_bucket: int = 4,
                          keep_versions: int = 2, *,
                          cas: bool = False) -> dict:
    """One maintenance decision for a versioned LSH band index at
    path ``index_root``: census the live layout's bucket files,
    compact into a fresh layout iff :func:`compact_is_due`, publish,
    prune.  Returns the report row (REPORT_SCHEMA keys); an
    ``acted=False`` sweep costs two listings (the census before and
    after) and no Spark job.  ``cas`` elects the multi-maintainer
    pointer mode of :class:`publish.StorePublisher`."""
    return _sweep(
        "lsh", index_root, cas, bucket_file_census,
        lambda mx, _n, _t: compact_is_due(mx, max_files_per_bucket),
        lambda live, out, _s: lsh_index_compact(spark, [live], out),
        _files(bucket_file_census, 2), keep_versions)


def postings_maintenance_sweep(spark, index_root: str,
                               max_files_per_bucket: int = 4,
                               keep_versions: int = 2, *,
                               cas: bool = False) -> dict:
    """:func:`lsh_maintenance_sweep` for the x117/x121/x123 postings
    index — same ``bucket=N`` census, same due-predicate, x123's
    compaction as the rewrite."""
    return _sweep(
        "postings", index_root, cas, bucket_file_census,
        lambda mx, _n, _t: compact_is_due(mx, max_files_per_bucket),
        lambda live, out, _s: postings_index_compact(spark, [live],
                                                     out),
        _files(bucket_file_census, 2), keep_versions)


def ivf_maintenance_sweep(spark, index_root: str, n_cells: int = 16,
                          skew_threshold: int = 4,
                          sample_cap: int = 4096,
                          keep_versions: int = 2, *,
                          cas: bool = False) -> dict:
    """One maintenance decision for a versioned IVF ANN index at path
    ``index_root``: ``ivf_cell_census`` the live layout (one
    cell-keyed aggregate), re-centroid into a fresh layout iff
    ``recluster_is_due`` (drifted appends crowding stale cells — the
    x133 trigger), stamp the new centroids INTO the layout
    (``ivf_centroids_write``, so the pointer swap versions quantizer
    and cells together), publish, prune.  ``files_*`` report the
    max-cell row count here (the skew measure the predicate acts
    on)."""
    census = partial(ivf_cell_census, spark)

    def rewrite(live: str, out: str, _stats) -> None:
        ivf_centroids_write(out, ivf_index_recluster(
            spark, live, out, n_cells, sample_cap))

    return _sweep(
        "ivf", index_root, cas, census,
        lambda mx, _n, total: recluster_is_due(mx, n_cells, total,
                                               skew_threshold),
        rewrite, _files(census, 0), keep_versions)


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
                            keep_versions: int = 2, *,
                            cas: bool = False) -> dict:
    """One retrain decision for a BPE vocabulary published at path
    ``root`` — the x134 sweep chain applied to a TRAINED ARTIFACT
    (r12, VERDICT r11 #4): the census measures fresh-slice fertility
    under the LIVE merges (one bounded aggregate — the x89
    measurement collapsed to an integer) beside the stamped
    at-training baseline, and the sweep retrains and publishes iff
    :func:`vocab_retrain_is_due`.  ``cas`` as for
    :func:`lsh_maintenance_sweep`.

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

    def census(live: str) -> tuple[int, int]:
        meta = artifacts.bpe_vocab_meta(live)
        if "fertility_x1000" not in meta:
            raise ValueError(
                f"the live vocab under {root!r} carries no "
                f"fertility_x1000 stamp — retrain drift has no "
                f"baseline. Republish it via bpe_vocab_write(..., "
                f"fertility_x1000=encode_fertility_x1000(training_df, "
                f"merges))")
        merges = tuple((l, r, m) for l, r, m in meta["merges"])
        return (int(meta["fertility_x1000"]),
                encode_fertility_x1000(fresh_df, merges,
                                       text_col=text_col))

    def rewrite(_live: str, out: str, _stats) -> None:
        m2 = bpe_train_merges(fresh_df, n_merges, text_col=text_col)
        rules = tuple((l, r, m) for _, l, r, m, _ in m2)
        artifacts.bpe_vocab_write(
            m2, out, fertility_x1000=encode_fertility_x1000(
                fresh_df, rules, text_col=text_col))

    return _sweep(
        "vocab", root, cas, census,
        lambda trained, fresh: vocab_retrain_is_due(fresh, trained,
                                                    max_drift_x1000),
        rewrite,
        lambda s, _live: {"fertility_trained_x1000": s[0],
                          "fertility_fresh_x1000": s[1]},
        keep_versions)


def nb_maintenance_sweep(spark, root: str, fresh_doc,
                         pos_col: str = "is_pos",
                         text_col: str = "text",
                         max_oov_x1000: int = 100,
                         max_prior_drift_x1000: int = 250,
                         keep_versions: int = 2, *,
                         cas: bool = False) -> dict:
    """One retrain decision for an NB quality model published at path
    ``root`` (r12, VERDICT r11 #4): the census measures the fresh
    labeled slice's OOV token mass and class prior against the LIVE
    model (two bounded aggregates), and iff :func:`nb_retrain_is_due`
    the rewrite folds the fresh counts into the published counts
    (x128's exact integer merge — reads ONLY the fresh slice plus the
    published relation, never the training corpus) and sums the
    priors; then publish, prune.  ``cas`` as for
    :func:`lsh_maintenance_sweep`.

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

    toks = fresh_doc.select(
        F.col(pos_col).alias("is_pos"),
        F.explode(tokenize(F.col(text_col))).alias("tok"))

    def census(live: str):
        cnt, np_, nn = artifacts.nb_model_read(spark, live)
        row = (toks.join(cnt.select("tok").distinct()
                         .withColumn("known", F.lit(True)),
                         "tok", "left")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("known").isNull().cast("long"))
                    .alias("oov")).first())
        if not row["n"]:
            raise ValueError("NB drift census needs a non-empty fresh "
                             "slice — an empty delta has no drift "
                             "signal")
        pr = (fresh_doc.agg(
            F.sum(F.col(pos_col).cast("long")).alias("np"),
            F.sum((~F.col(pos_col)).cast("long")).alias("nn"),
            F.sum(F.col(pos_col).isNull().cast("long")).alias("nx"),
            F.count(F.lit(1)).alias("nt")).first())
        # Labels are REQUIRED to be total (ADVICE r12): F.sum over an
        # all-NULL boolean census returns NULL — the old code crashed
        # with an opaque int(None) TypeError before computing any
        # drift signal — and partially-NULL labels silently shrink
        # the prior denominator relative to the OOV census's row
        # count, biasing the drift comparison.  Fail loudly with the
        # defect named.
        if int(pr["nx"] or 0):
            raise ValueError(
                f"NB drift census needs a TOTAL {pos_col!r} label: "
                f"{int(pr['nx'])} of {int(pr['nt'])} fresh rows are "
                f"NULL — label the slice (or filter it) before the "
                f"sweep; a partial label biases the prior drift "
                f"signal")
        np_f, nn_f = int(pr["np"]), int(pr["nn"])
        return (int(1000 * row["oov"] // row["n"]),
                1000 * np_f // (np_f + nn_f), 1000 * np_ // (np_ + nn),
                (cnt, np_ + np_f, nn + nn_f))

    def rewrite(_live: str, out: str, stats) -> None:
        cnt, n_pos, n_neg = stats[3]
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
        artifacts.nb_model_write(merged, n_pos, n_neg, out)

    return _sweep(
        "nb", root, cas, census,
        lambda oov, fresh, model, _fold: nb_retrain_is_due(
            oov, fresh, model, max_oov_x1000, max_prior_drift_x1000),
        rewrite,
        lambda s, _live: {"oov_x1000": s[0], "fresh_prior_x1000": s[1],
                          "model_prior_x1000": s[2]},
        keep_versions)


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
