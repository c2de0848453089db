"""TRAINED-ARTIFACT layouts under the m13 versioned-pointer publish.

r11's publish primitive (``operators.publish``) versions the three
INDEX families (LSH bands, postings, IVF cells).  The other thing a
training-data pipeline retrains on a cadence is MODELS — the BPE
merge table the encoders apply (x44/x46) and the NB quality
classifier's count tables (x115/x128) — and they need exactly the
same discipline: a serving encoder must never see a half-written
vocabulary, a retrain must not disturb in-flight scoring, and a
crash between write and publish must leave the old model live.

This module gives each artifact a LAYOUT format inside a published
root; ``publish.publish`` / ``publish.resolve`` do the swapping, so
models and indexes share one lifecycle (and one maintenance-daemon
shape).

Artifact sizing drives the storage choice:

- A BPE vocabulary is O(n_merges) — thousands of rows at most, a
  deployment constant that gets FOLDED INTO THE PLAN by the encoder
  (``text.bpe_encode_stats``), never joined.  One JSON file.
- NB count tables are VOCABULARY-sized — millions of rows at corpus
  scale — so they are written as parquet BY SPARK (distributed
  write, partition-parallel read) with the two prior counts in a
  JSON sidecar.  Scoring broadcast-joins the table (the x115 plan
  gate), so reading it back distributed keeps the 100 TB path.

As for the indexes, Spark moves the parquet, and the layout path's
client (``publish._publisher``) moves the pointer and each JSON
sidecar as one atomic ``put`` — a crash leaves no torn sidecar.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import publish

_VOCAB_FILE = "vocab.json"
_NB_META = "_nb_meta.json"
_NB_COUNTS = "counts"

Merge = tuple[str, str, str]


def bpe_vocab_write(merges, layout_dir: str,
                    fertility_x1000: int | None = None) -> None:
    """Write a trained BPE merge table as a vocab layout.

    ``merges``: the ``text.bpe_train_merges`` output — (round, left,
    right, merged, pair_count) tuples in training order.  The order
    IS the model (rules apply sequentially), so it is preserved
    verbatim.  The layout is a plain directory so ``publish.publish``
    can version it like any index layout.

    ``fertility_x1000`` (r12, VERDICT r11 #4): the AT-TRAINING encode
    fertility — ``1000 * pieces DIV words`` measured on the training
    corpus (``text.encode_fertility_x1000``).  Stamping it into the
    layout gives the retrain due-predicate its baseline: drift is
    fresh-data fertility minus THIS number, with no re-encode of the
    training corpus at sweep time."""
    doc = {"format": "bpe_vocab", "n_merges": len(merges),
           "merges": [[l, r, m] for _, l, r, m, _ in merges],
           "rounds": [[int(k), l, r, m, int(c)]
                      for k, l, r, m, c in merges]}
    if fertility_x1000 is not None:
        doc["fertility_x1000"] = int(fertility_x1000)
    publish._put_json(layout_dir, _VOCAB_FILE, doc)


def _live_doc(root: str, name: str, fmt: str) -> tuple[str, dict]:
    """(live layout, sidecar ``name`` of format ``fmt``) under
    ``root`` — resolves the m13 pointer (or the bare dir of an
    unversioned layout).  A missing sidecar is a wrong-root bug, not
    a race: crashed writers' layouts are never published."""
    layout = publish.resolve(root)
    doc = publish._get_json(layout, name)
    if doc is None:
        raise FileNotFoundError(
            f"{layout!r} holds no {name} — not a published {fmt} "
            f"layout (crashed writer layouts are never published, so "
            f"this is a wrong-root bug, not a race)")
    if doc.get("format") != fmt:
        raise ValueError(f"{name} under {layout!r} is not a {fmt} "
                         f"artifact: format={doc.get('format')!r}")
    return layout, doc


def bpe_vocab_read(root: str) -> tuple[Merge, ...]:
    """The LIVE merge table under ``root`` (:func:`bpe_vocab_meta`'s
    merges), so a reader always gets one consistent trained
    vocabulary, in training order, ready for
    ``text.bpe_encode_stats``.  O(n_merges) driver-side bytes — the
    vocab is a plan constant, not a relation."""
    return tuple((l, r, m) for l, r, m in bpe_vocab_meta(root)["merges"])


def bpe_vocab_meta(root: str) -> dict:
    """The LIVE vocab layout's full metadata document (format,
    n_merges, merges, and — when the writer stamped one — the
    at-training ``fertility_x1000`` baseline the retrain
    due-predicate compares against)."""
    return _live_doc(root, _VOCAB_FILE, "bpe_vocab")[1]


def nb_model_write(cnt: DataFrame, np_: int, nn: int,
                   layout_dir: str) -> None:
    """Write an NB quality-classifier model layout: the (tok, pc, nc)
    count relation as parquet (distributed write — the table is
    vocabulary-sized) plus the class-prior counts in a sidecar.  The
    priors are part of the model: x115's score is LLR + prior, and a
    published model must carry everything scoring needs."""
    publish._publisher(layout_dir)  # a bad scheme raises before the write
    (cnt.select("tok", "pc", "nc")
        .write.mode("overwrite")
        .parquet(os.path.join(layout_dir, _NB_COUNTS)))
    publish._put_json(layout_dir, _NB_META,
                      {"format": "nb_model", "np": int(np_),
                       "nn": int(nn)})


def nb_model_read(spark: SparkSession,
                  root: str) -> tuple[DataFrame, int, int]:
    """The LIVE NB model under ``root`` via the m13 pointer:
    (count DataFrame, positive prior count, negative prior count).
    The counts come back as a lazy parquet relation — scoring
    broadcast-joins it, so nothing here collects."""
    layout, meta = _live_doc(root, _NB_META, "nb_model")
    cnt = spark.read.parquet(os.path.join(layout, _NB_COUNTS))
    return cnt, int(meta["np"]), int(meta["nn"])
