"""Atomic versioned-pointer PUBLISH for persisted index layouts
(r11): LSH and postings compaction (:func:`_compact_layers`) and IVF
re-centroiding (``similarity.ivf_index_recluster``) each write a
fresh layout, and this module's pointer swap makes it live.

- An index ROOT is a directory holding one or more LAYOUT
  subdirectories plus a pointer file ``_current.json`` naming the
  live one.  The pointer is the ONLY mutable object; layouts are
  immutable once published.
- ``publish(root, layout)`` atomically repoints the pointer with
  ONE object PUT (temp + ``os.replace`` on a POSIX root, as
  ``LocalObjectStoreClient.put`` does it; one PUT on S3, atomic by
  contract).  Versions are monotone.
- ``resolve(root)`` returns the live layout directory.  A root with
  NO pointer resolves to itself, so every pre-r11 unversioned index
  keeps working and probes can take either form.

Crash contract: a maintenance pass that dies AFTER writing the new
layout but BEFORE ``publish`` leaves the pointer — and therefore
every reader — on the old version; the orphaned layout directory is
invisible (never resolved, never reused for a new version name) and
a re-run simply writes a fresh one.  A reader that resolved the
pointer immediately before a publish keeps reading the OLD layout
directory, which the publish never touches — readers always see one
consistent version end-to-end (fuzzed in tests/test_differential.py).

Scale (100 TB): the pointer is O(history) bytes of metadata; the
swap cost is independent of index size.  Old layouts are retired
explicitly via :func:`prune` (keep >= 2 so probes that resolved just
before a publish finish their scan before their layout is deleted —
the vacuum-horizon discipline of m10).

One lifecycle on every storage plane: :class:`StorePublisher` runs
it over an ``ObjectStoreClient``, and the module-level functions run
the client that :func:`_publisher` maps a root path to.  Spark moves
a layout's parquet; that one client moves its pointer and its JSON
sidecars (:func:`_put_json`, :func:`_get_json`).
"""

from __future__ import annotations

import json
import os
from functools import reduce

from ..pipeline.manifest import (LocalObjectStoreClient,
                                 ObjectStoreClient, PreconditionFailed,
                                 S3ObjectStoreClient, _fs_local_path,
                                 _split_scheme)

POINTER = "_current.json"


def _publisher(path: str) -> "StorePublisher":
    """The publisher of a layout or root path — the one path-to-client
    mapping of the index and artifact code:

    - a bare or ``file://`` path: a :class:`LocalObjectStoreClient` at
      its parent directory, the last path component as the key;
    - ``s3a://bucket/key``: an :class:`S3ObjectStoreClient` for
      ``bucket``, ``key`` as the key;
    - any other scheme raises ``ValueError``, before the caller's
      Spark write."""
    scheme, rest = _split_scheme(path)
    if scheme == "s3a":
        bucket, _, key = rest.partition("/")
        if not bucket or not key.strip("/"):
            raise ValueError(f"{path!r}: expected s3a://bucket/key")
        return StorePublisher(S3ObjectStoreClient(bucket), key)
    if scheme not in ("", "file"):
        raise ValueError(
            f"{path!r}: unsupported scheme {scheme!r} for an index or "
            f"artifact path (supported: plain path, file://, s3a://)")
    parent, key = os.path.split(_fs_local_path(path).rstrip("/"))
    return StorePublisher(LocalObjectStoreClient(parent), key)


def _path_of(store: ObjectStoreClient):
    """The key -> path rule of ``store``'s data plane, as
    ``manifest._bucket_plane`` reports pipeline keys: ``fs_path`` on
    the file-backed client, ``s3a://bucket/key`` on S3 (the inverse of
    :func:`_publisher`)."""
    if isinstance(store, S3ObjectStoreClient):
        return lambda key: f"s3a://{store.bucket}/{key}"
    return store.fs_path


def _put_json(layout: str, name: str, doc) -> None:
    """Write sidecar ``name`` of ``layout`` as ONE atomic ``put`` of
    its JSON bytes — a crash never leaves a torn sidecar."""
    pub = _publisher(layout)
    pub.store.put(f"{pub.root}/{name}", json.dumps(doc).encode())


def _get_json(layout: str, name: str):
    """Sidecar ``name`` of ``layout``, parsed; None when it has none."""
    pub = _publisher(layout)
    try:
        return json.loads(pub.store.get(f"{pub.root}/{name}"))
    except FileNotFoundError:
        return None


def _location(path: str) -> str:
    """One spelling per layout location: a local layout's real path
    (bare, ``file://``, symlinked or dotted alike), else its URI."""
    pub = _publisher(path)
    loc = _path_of(pub.store)(pub.root)
    return loc if "://" in loc else os.path.realpath(loc)


def _compact_layers(spark, layers: list[str], out_dir: str,
                    cols: list[str], sort_cols: list[str]) -> None:
    """The one compaction body of the bucket-partitioned indexes (LSH
    bands, postings): union ``cols`` of every layer, repartition on
    the EXISTING ``bucket`` column (no re-hash: bucket assignment is
    frozen at build time, so no row moves across buckets and
    in-flight probes of the old layout stay correct), sort within
    each bucket by ``sort_cols`` and overwrite ``out_dir``
    partitioned by bucket.  Scale (100 TB): one bucket-keyed shuffle
    of the index RELATION, never document text."""
    if not layers:
        raise ValueError("layers must be non-empty")
    # read-then-overwrite of a path being read corrupts or fails
    # mid-job — out_dir must be a FRESH layout, published to readers
    # via the pointer swap (ADVICE r10)
    out = _location(out_dir)
    if any(_location(layer) == out for layer in layers):
        raise ValueError(
            f"out_dir {out_dir!r} is one of the input layers — "
            f"compaction writes a fresh layout and publishes it "
            f"atomically; it never rewrites a layer in place")
    rel = reduce(lambda a, b: a.unionByName(b),
                 (spark.read.parquet(layer).select(cols)
                  for layer in layers))
    (rel.repartition("bucket")
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(out_dir))


def current_version(index_root: str) -> int | None:
    """Version number the pointer currently names, or None for an
    unversioned root (no pointer file)."""
    return _publisher(index_root).current_version()


def resolve(index_root: str) -> str:
    """The live layout directory for ``index_root``.

    With a pointer: ``index_root/<dir>`` for the published version.
    Without one: ``index_root`` itself — an unversioned index IS its
    own layout, so every reader can resolve unconditionally and
    pre-pointer indexes keep serving unchanged."""
    pub = _publisher(index_root)
    key = pub.resolve()
    return index_root if key == pub.root else _path_of(pub.store)(key)


def new_layout_dir(index_root: str, prefix: str = "layout-v") -> str:
    """A FRESH layout directory path for a writer (not created, not
    published): ``<root>/<prefix><n>`` for the smallest n greater
    than both the published version and every layout holding a file
    — a crashed writer's orphan is never reused, so a half-written
    layout can never be mistaken for a complete one."""
    pub = _publisher(index_root)
    return _path_of(pub.store)(pub.new_layout_dir(prefix))


def publish(index_root: str, layout_dir: str) -> int:
    """Atomically repoint ``index_root`` at ``layout_dir``; returns
    the new version number.

    ``layout_dir`` must be a DIRECT subdirectory of ``index_root``
    (compared as mapped locations, :func:`_location`, so a bare and a
    ``file://`` spelling of one directory match; the pointer stores
    the relative name, so the root relocates as one unit) holding at
    least one file, and must not be the currently-live layout
    (republishing the live dir is a no-op bug upstream, and pruning
    history could then delete the live layout)."""
    layout = _location(layout_dir)
    if os.path.dirname(layout) != _location(index_root):
        raise ValueError(
            f"layout {layout_dir!r} is not a direct subdirectory of "
            f"index root {index_root!r} — layouts live inside their "
            f"root so the pointer's relative name stays valid")
    pub = _publisher(index_root)
    return pub.publish(f"{pub.root}/{os.path.basename(layout)}")


def prune(index_root: str, keep: int = 2) -> list[str]:
    """Delete layout directories of versions older than the newest
    ``keep`` published ones; returns the deleted directory paths
    (:meth:`StorePublisher.prune`)."""
    pub = _publisher(index_root)
    return [_path_of(pub.store)(k) for k in pub.prune(keep)]


class StorePublisher:
    """The versioned-pointer lifecycle over an object-store bucket —
    the one implementation: a POSIX root runs through it too, over a
    :class:`LocalObjectStoreClient` at the root's parent directory
    (the module-level functions).  In the ``ObjectStoreClient``
    vocabulary (the p20/p21 quarantine discipline,
    ``pipeline/manifest.py``):

    - ``root`` is a KEY PREFIX (e.g. ``indexes/lsh``); a layout is
      the prefix ``<root>/<name>`` and "exists" iff at least one
      object lives under ``<name>/`` — a flat key namespace has no
      empty directories, so a writer that crashed before its first
      object left nothing to confuse.  On a POSIX root the same rule
      holds: an empty layout directory does not exist.
    - the pointer ``<root>/_current.json`` is ONE object; publish is
      ONE ``put`` — atomic by the S3 PUT contract, and by a
      per-writer temp + ``os.replace`` on the file-backed client, so
      concurrent writers and readers never see a torn pointer.
    - ``prune`` retires each layout with ``delete_prefix`` (paged —
      driver memory bounded by page size, never by layout key
      count); DELETE is idempotent, so a crashed prune re-run
      converges.

    Physical layout DATA still moves through Spark (parquet over the
    scheme's Hadoop connector in a real deployment; the file-backed
    client's ``fs_path`` on a POSIX root) — this class owns only the
    control plane: naming, pointing, retiring.  Its ``store`` also
    moves each layout's JSON sidecars (:func:`_put_json`), so one
    pointer swap versions a layout's data and sidecars together.

    CONCURRENCY, two modes (ADVICE r12):

    - ``cas=False`` (default) — SINGLE-MAINTAINER: ``publish`` and
      ``prune`` are GET-modify-PUT sequences over the pointer
      object.  S3's plain PUT is atomic PER OBJECT — a reader always
      sees one complete pointer, never a torn one (fuzzed in
      tests/test_publish.py) — but it is not compare-and-swap, so
      two concurrent maintainers race: the second PUT silently wins
      and the first maintainer's version (or a publish landing
      inside prune's read-modify window) is rolled back — a LOST
      UPDATE, not corruption.  Readers are never endangered: every
      pointer state is a complete published version whose layout
      objects exist.  This mirrors the deployment assumption the
      maintenance daemon already enforces (one sweep loop per index
      root).
    - ``cas=True`` (r13) — MULTI-MAINTAINER: every pointer write
      goes through the store's conditional-PUT verb
      (``put_if``: S3 If-Match on the pointer's ETag / If-None-Match
      for the first version — public S3 API since 2024; the
      file-backed double serializes writers on an flock and ETags by
      content md5).  A maintainer that loses the race gets
      :class:`~...pipeline.manifest.PreconditionFailed`, RE-READS,
      and retries the whole read-validate-modify cycle (bounded by
      ``cas_retries``), so concurrent publishes all land — versions
      stay monotone and none is lost — and a publish inside prune's
      window survives (prune's stale PUT fails its precondition and
      the re-run recomputes against the new pointer).  Retry
      side-effects are safe: deletes are idempotent and validation
      reruns from the fresh pointer."""

    def __init__(self, store: ObjectStoreClient, root: str,
                 cas: bool = False, cas_retries: int = 16) -> None:
        self.store = store
        self.root = root.rstrip("/")
        self.cas = cas
        self.cas_retries = cas_retries

    def _pointer_key(self) -> str:
        return f"{self.root}/{POINTER}"

    def _read_pointer(self) -> dict | None:
        try:
            return json.loads(self.store.get(self._pointer_key()))
        except FileNotFoundError:
            return None

    def _read_pointer_v(self) -> tuple[dict | None, str | None]:
        """(meta, etag) — the etag is the CAS token for the closing
        conditional PUT; (None, None) when unversioned."""
        if not self.cas:
            return self._read_pointer(), None
        try:
            raw, etag = self.store.get_with_etag(self._pointer_key())
        except FileNotFoundError:
            return None, None
        return json.loads(raw), etag

    def _put_pointer(self, new_meta: dict, etag: str | None) -> None:
        data = json.dumps(new_meta).encode()
        if self.cas:
            # etag None = first version: create-if-absent, so two
            # maintainers racing to publish v1 can't both win
            self.store.put_if(self._pointer_key(), data, etag)
        else:
            self.store.put(self._pointer_key(), data)

    def _cas_loop(self, attempt):
        """Run ``attempt`` once (plain mode) or until its conditional
        pointer PUT wins (cas mode, bounded)."""
        tries = self.cas_retries if self.cas else 1
        last: Exception | None = None
        for _ in range(tries):
            try:
                return attempt()
            except PreconditionFailed as e:
                last = e       # lost the race: re-read and retry
        raise PreconditionFailed(
            f"lost {tries} consecutive CAS races on "
            f"{self._pointer_key()} — raise cas_retries or reduce "
            f"maintainer concurrency") from last

    def _layout_objects(self, name: str) -> bool:
        # point-prefix lookup: first page only — membership needs one
        # object, never the full listing
        for page in self.store.list_pages(f"{self.root}/{name}/",
                                          page_size=1):
            return bool(page)
        return False

    def current_version(self) -> int | None:
        meta = self._read_pointer()
        return None if meta is None else int(meta["version"])

    def resolve(self) -> str:
        """Live layout prefix; the root itself when unversioned —
        the same reader-unconditional contract as :func:`resolve`."""
        meta = self._read_pointer()
        if meta is None:
            return self.root
        return f"{self.root}/{meta['dir']}"

    def new_layout_dir(self, prefix: str = "layout-v") -> str:
        """A fresh layout prefix for a writer: smallest n above both
        the published version and every name with objects on the
        bucket — a crashed writer's partial layout is never reused."""
        meta = self._read_pointer()
        n = 0 if meta is None else int(meta["version"])
        while True:
            n += 1
            name = f"{prefix}{n:05d}"
            if not self._layout_objects(name):
                return f"{self.root}/{name}"

    def publish(self, layout_key: str) -> int:
        """Atomically repoint the root at ``layout_key`` (one PUT —
        conditional in cas mode, retried until it wins); returns the
        new version.  Preconditions: a direct child of the root,
        fully written (>= 1 object), and not the currently-live
        layout."""
        key = layout_key.rstrip("/")
        head, _, rel = key.rpartition("/")
        if head != self.root or not rel:
            raise ValueError(
                f"layout {layout_key!r} is not a direct child of "
                f"index root {self.root!r} — layouts live inside "
                f"their root so the pointer's relative name stays "
                f"valid")
        if rel == POINTER:
            raise ValueError(f"{POINTER} is the pointer, not a layout")
        if not self._layout_objects(rel):
            raise ValueError(
                f"layout {layout_key!r} has no objects, so it does "
                f"not exist — write the layout fully, then publish")

        def attempt() -> int:
            meta, etag = self._read_pointer_v()
            if meta is not None and meta["dir"] == rel:
                raise ValueError(
                    f"layout {rel!r} is already the live version "
                    f"{meta['version']} — a maintenance pass "
                    f"publishes a FRESH prefix, never re-publishes "
                    f"the live one")
            version = 1 if meta is None else int(meta["version"]) + 1
            history = ([] if meta is None
                       else meta.get("history", [])) + [
                {"version": version, "dir": rel}]
            self._put_pointer({"version": version, "dir": rel,
                               "history": history}, etag)
            return version

        return self._cas_loop(attempt)

    def prune(self, keep: int = 2) -> list[str]:
        """Delete every object under layouts older than the newest
        ``keep`` published versions; returns the retired layout
        prefixes.  ``keep >= 2`` is the concurrent-reader floor
        (module docstring).  Never-published orphan prefixes are not
        touched — they may be a maintenance pass mid-write.

        In cas mode the returned list is best-effort under
        contention: a layout whose objects fell in an attempt that
        then lost its pointer race is not re-reported by the winning
        retry (its prefix lists empty, so ``delete_prefix`` finds
        none) — the deletions themselves are idempotent and complete.  On a
        POSIX root the retired directories go too
        (``LocalObjectStoreClient.delete_prefix``)."""
        if keep < 1:
            raise ValueError(f"keep must be >= 1, got {keep}")

        def attempt() -> list[str]:
            meta, etag = self._read_pointer_v()
            if meta is None:
                return []
            history = meta.get("history", [])
            retire, remain = history[:-keep], history[-keep:]
            live = meta["dir"]
            keep_names = {r["dir"] for r in remain}
            retired = []
            for h in retire:
                if h["dir"] == live or h["dir"] in keep_names:
                    continue
                if self.store.delete_prefix(f"{self.root}/{h['dir']}/"):
                    retired.append(f"{self.root}/{h['dir']}")
            # cas retry is safe here: deletes are idempotent, the
            # horizon recomputes from the FRESH pointer (so a version
            # published inside this window is never rolled back), and
            # layout names below the live version are never reused
            self._put_pointer(dict(meta, history=remain), etag)
            return retired

        return self._cas_loop(attempt)
