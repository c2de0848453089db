"""The reference's actual surface, Spark-native (SURVEY §2A R1-R9).

Reference pipeline (danilop/SampleBatchProcessing):
- SendJobs.py:16      `os.listdir(localDir)`            -> file listing
- SendJobs.py:26-28   S3 put per file                   -> input prefix
- SendJobs.py:31-34   job message ['process', bucket,
                      inPrefix, outPrefix, fileName]    -> work queue
- GetJobs.py:27-34    parse + dispatch on 'process'
- GetJobs.py:48-53    download + `subprocess.call(
                      [command, in, out])` (default cp)  -> transform
- GetJobs.py:54-60    returncode gate -> upload to
                      outPrefix + fileName + ext        -> commit
- GetJobs.py:37-40    SQS delete-on-success             -> at-least-once

Spark mapping:
- file listing             -> path-only `binaryFile` scan (one task per
  size-balanced split; `spark.sql.files.maxPartitionBytes` bounds it)
- job message              -> manifest DataFrame (same 5 columns)
- dispatch                 -> `filter(action = 'process')` + one
  `mapInPandas` over the manifest's own partitions; no join
- download + transform     -> the per-file worker GETs its input by the
  job row and runs a plugin `bytes -> bytes` callable (the
  generalization of the reference's arbitrary `command`, D4)
- upload + delete-on-success -> idempotent per-file PUT of the
  deterministic output key `out_prefix + file_name + ext`
  (user-data.sh:6); Spark task retry (`spark.task.maxFailures`)
  re-runs failed files and the overwrite makes redelivery harmless —
  the same at-least-once/effectively-once contract as the reference's
  visibility timeout + delete (README.md:44-47).
- storage client            -> one `ObjectStoreClient` per bucket for
  every scheme: bare and `file://` buckets through
  `LocalObjectStoreClient` at the bucket root, object-store schemes
  through the caller's `store` (the reference's one boto S3
  connection, GetJobs.py:48-60)
- long-poll consumer        -> one batch drain (`watch_prefix`): list,
  drop the files already logged under the checkpoint, run the rest
  through `run_pipeline`, append their commit-log rows; the daemon
  (`watch_daemon`) runs that drain every poll on the
  `maintenance_daemon` loop (GetJobs.py:21-40)
- queue state               -> the commit log, one declared on-disk
  schema (`_LOG_TABLE_SCHEMA`): every read of it and of the quarantine
  ledger passes its schema, so no read infers one, and a part written
  before a column reads that column as null
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

MANIFEST_SCHEMA = ("action string, bucket string, in_prefix string, "
                   "out_prefix string, file_name string")


def build_manifest(spark: SparkSession, bucket_dir: str,
                   in_prefix: str = "input/",
                   out_prefix: str = "output/") -> DataFrame:
    """SendJobs equivalent: list `bucket_dir/in_prefix`, emit one
    'process' job row per file (SendJobs.py:16-34).  Only ``path`` is
    read: the worker fetches each file's bytes itself."""
    return _manifest(spark, bucket_dir, in_prefix, out_prefix)


def _manifest(spark: SparkSession, bucket_dir: str, in_prefix: str,
              out_prefix: str, names: set[str] | None = None) -> DataFrame:
    """:func:`build_manifest` over the files in ``names`` only, when
    given: binaryFile's ``pathGlobFilter`` ``{name,...}`` drops the
    rest from the listing, so they are never stat'ed or scanned (a
    pattern match per listed file and name)."""
    from ..session import ship_package
    ship_package(spark)
    reader = spark.read.format("binaryFile")
    if names is not None:
        reader = reader.option("pathGlobFilter", "{%s}" % ",".join(
            re.sub(r"([\\*?\[\]{},])", r"\\\1", n)
            for n in sorted(names)))
    # load(dir), not load(dir/*): a literal glob makes Spark's
    # streaming-sink metadata probe log a WARN+stack per query —
    # stderr noise a real failure could hide in.
    listing = reader.load(os.path.join(bucket_dir, in_prefix))
    return listing.select(
        F.lit("process").alias("action"),
        F.lit(bucket_dir).alias("bucket"),
        F.lit(in_prefix).alias("in_prefix"),
        F.lit(out_prefix).alias("out_prefix"),
        F.regexp_extract("path", r"([^/]+)$", 1).alias("file_name"),
    )


def _command_transform(command: str) -> Callable[[bytes], bytes]:
    """Wrap the reference's external-command contract as a
    ``bytes -> bytes`` transform: stage the input to a task-local
    temp file, run ``[command, in_path, out_path]``
    (GetJobs.py:51-53), gate on returncode == 0 (GetJobs.py:54-56),
    read back the output bytes.  Raising on failure feeds the
    caller's no-commit path — exactly the reference's
    skip-upload-and-redeliver behavior."""
    def _run(raw: bytes) -> bytes:
        import subprocess
        import tempfile
        with tempfile.TemporaryDirectory(prefix="sbp_cmd_") as d:
            in_path = os.path.join(d, "in")
            out_path = os.path.join(d, "out")
            with open(in_path, "wb") as f:
                f.write(raw)
            rc = subprocess.call([command, in_path, out_path])
            if rc != 0:
                raise RuntimeError(f"{command!r} returned {rc}")
            with open(out_path, "rb") as f:
                return f.read()
    return _run


def _resolve_transform(transform: Callable[[bytes], bytes] | None,
                       command: str | None) -> Callable[[bytes], bytes]:
    """Argument set-up shared by run_pipeline and the watch drain: check
    that ``transform`` and ``command`` are not both given, then return
    the per-file ``bytes -> bytes`` transform (identity when neither is
    given)."""
    if transform is not None and command is not None:
        raise ValueError("pass either transform= or command=, not both")
    if command is not None:
        return _command_transform(command)
    return transform or (lambda b: b)   # user-data.sh:4: cp = identity


def run_pipeline(spark: SparkSession, manifest: DataFrame,
                 transform: Callable[[bytes], bytes] | None = None,
                 command: str | None = None,
                 ext: str = ".out",
                 store: ObjectStoreClient | None = None) -> DataFrame:
    """GetJobs equivalent: dispatch manifest rows, transform each
    file's bytes, write results under the deterministic output key.

    The transform is either a Python ``bytes -> bytes`` callable or —
    the reference's actual contract — an arbitrary external
    ``command``, executed per file as ``[command, in_path, out_path]``
    with the same returncode gate (GetJobs.py:51-56; the default
    deployment uses ``cp``, user-data.sh:4).  The command runs inside
    the executor's Python worker against task-local temp files, so a
    migrating user brings their shell tool unchanged.  ``transform``
    and ``command`` are mutually exclusive; neither means identity.

    Each file commits as ONE ``put`` of its final key on the bucket's
    storage plane (GetJobs.py:57-60's single key PUT), the same on
    every scheme: the PUT is atomic (S3 PutObject; for bare and
    ``file://`` buckets :class:`LocalObjectStoreClient`'s per-writer
    temp + ``os.replace``), so a reader sees the old object or the new
    one, never a partial, and no temp key is ever listable.  See
    SCALE.md "Object-store commit".

    The worker reads each job's input itself, so the work split is
    the manifest's partitioning (for :func:`build_manifest`,
    binaryFile's size-balanced file splits).  Returns the commit log
    (file_name, in_bytes, out_bytes, out_path, ok, error), one row per
    'process' job: a failed job is ``ok=false`` with ``error`` =
    ``"<ExceptionClass>: <first message line>"`` (null on ok rows) and
    nothing written; an unreadable input also has ``in_bytes=0``; no
    'process' job, an empty log.
    (An unmaterialized :func:`build_manifest` re-stats its listing
    when run, so a file deleted since then fails that scan task.)
    Executors write the outputs directly (GetJobs.py:57-60);
    rerunning overwrites the same keys.
    """
    proc = _file_processor(_resolve_transform(transform, command), ext,
                           store=store)
    return (manifest.filter(F.col("action") == "process")  # GetJobs.py:30
            .select("bucket", "in_prefix", "out_prefix", "file_name")
            .mapInPandas(proc, LOG_SCHEMA))


LOG_SCHEMA = ("file_name string, in_bytes long, out_bytes long, "
              "out_path string, ok boolean, error string")
# the commit log on disk: LOG_SCHEMA plus the drain's tags
_LOG_TABLE_SCHEMA = (LOG_SCHEMA
                     + ", run_seq double, batch_id long, checkpoint string")


def _split_scheme(uri: str) -> tuple[str, str]:
    """('', path) for bare paths, (scheme, rest) for URIs."""
    if "://" not in uri:
        return "", uri
    scheme, rest = uri.split("://", 1)
    return scheme, rest


class PreconditionFailed(Exception):
    """A conditional PUT lost its race: the object changed (If-Match
    mismatch) or appeared (If-None-Match) between the caller's read
    and its write.  The caller re-reads and retries — this is the
    optimistic-concurrency signal, not an error state."""


class ObjectStoreClient:
    """Worker-side commit contract for object-store schemes — the
    three verbs the reference's S3 flow actually uses (public boto2
    semantics: GetJobs.py:57-60 uploads the result via a single key
    put; delete-on-success GetJobs.py:37-40), plus the one listing
    verb the QUARANTINE maintenance sweep needs (r10, VERDICT r9 #3;
    public S3 ListObjectsV2 semantics — the reference never lists
    because SQS delivers keys, but an operational sweep over the
    bucket has no queue to ask):

    - ``put(key, data)``: store ``data`` under ``key`` as ONE atomic
      object — a reader sees the old object or the new one, never a
      partial (S3 PUT semantics).  The pipeline's per-file commit is
      this one verb on the final key: no temp key, copy or delete.
    - ``get(key)``: the object's bytes, ``FileNotFoundError`` if the
      key does not exist (S3 GET / NoSuchKey; the reference's
      download verb, ``GetJobs.py:31``
      ``get_contents_to_filename``).  Added r12 for the versioned-
      pointer publish (``operators.publish.StorePublisher`` reads
      ``_current.json`` through this).
    - ``copy(src, dst)``: server-side copy — itself a single PUT of
      the destination object (``quarantine_sweep`` moves a poison
      file with copy + delete).
    - ``delete(key)``: remove the object.
    - ``delete_prefix(prefix)``: remove every object under a prefix
      (paged deletes; the versioned-pointer prune retires a layout
      with it).
    - ``list_pages(prefix, page_size)``: the keys under ``prefix``
      (flat key namespace — no directory notion, exactly S3's
      ListObjectsV2), page by page; the one listing verb each
      implementation writes; ``list(prefix)`` is every key it
      yields, sorted.

    Implementations must be PICKLABLE: the commit runs inside the
    executor's Python worker, so the client ships through the task
    closure (module state set on the driver does NOT reach workers).
    Three implementations: :class:`LocalObjectStoreClient`
    (file-backed: the plane of bare and ``file://`` buckets, and the
    sandbox double), :class:`S3ObjectStoreClient` (the
    real bucket over boto3, import-guarded — r13, VERDICT r12 #4),
    and the recording double in tests/test_pipeline.py that asserts
    the exact commit call sequence.
    """

    def put(self, key: str, data: bytes) -> None:
        raise NotImplementedError

    def get(self, key: str) -> bytes:
        raise NotImplementedError

    # -- conditional-write extension (r13, ADVICE r12) --------------
    # S3 shipped conditional writes on the public API (If-None-Match
    # on PutObject 2024-08, If-Match 2024-11), which upgrades the
    # pointer's GET-modify-PUT from last-writer-wins to
    # compare-and-swap.  Two verbs, ETag-based:

    def get_with_etag(self, key: str) -> tuple[bytes, str]:
        """The object's bytes plus its ETag (the version token a
        conditional put compares against); FileNotFoundError if the
        key does not exist."""
        raise NotImplementedError

    def put_if(self, key: str, data: bytes,
               etag: str | None) -> str:
        """Conditional atomic PUT; returns the new object's ETag.

        - ``etag=None``: create-if-absent (If-None-Match: *) — fails
          with :class:`PreconditionFailed` if the key exists.
        - ``etag='...'``: replace-if-match (If-Match) — fails with
          :class:`PreconditionFailed` unless the LIVE object's ETag
          equals ``etag``.

        The success path keeps plain-PUT atomicity: readers see the
        old object or the new one, never a partial."""
        raise NotImplementedError

    def copy(self, src: str, dst: str) -> None:
        raise NotImplementedError

    def delete(self, key: str) -> None:
        raise NotImplementedError

    def list_pages(self, prefix: str,
                   page_size: int = 1000) -> Iterator[list[str]]:
        """The one listing primitive every client implements: the keys
        under ``prefix`` (flat STRING prefix, ListObjectsV2 semantics)
        in pages of at most ``page_size``, each yielded as soon as it
        fills.  Real ListObjectsV2 returns at most 1000 keys per call
        with a continuation token, so a consumer that pages prices
        driver memory by the page size, never by the bucket size, and
        one that needs membership stops after the first page."""
        raise NotImplementedError

    def list(self, prefix: str) -> list[str]:
        """Every key under ``prefix``, sorted."""
        return sorted(k for page in self.list_pages(prefix) for k in page)

    def delete_prefix(self, prefix: str) -> bool:
        """Delete every object under ``prefix``, page by page (driver
        memory bounded by the page size); True iff any object was
        there.  Idempotent like ``delete``, so a crashed caller's
        re-run converges."""
        found = False
        for page in self.list_pages(prefix):
            for key in page:
                self.delete(key)
                found = True
        return found


class LocalObjectStoreClient(ObjectStoreClient):
    """File-backed implementation of the contract: one file per key
    under ``root``, PUT visibility made atomic with the POSIX temp
    (``<key>.<8hex>.inprogress``, one per writer) + ``os.replace``
    dance (modeling S3's all-or-nothing PUT).  Picklable by
    construction (state = the root string), so it ships through task
    closures like any real client.  It is the storage plane of every
    bare and ``file://`` bucket in the pipeline (``run_pipeline``,
    the watch paths and ``quarantine_sweep`` root one at the bucket),
    and the sandbox stand-in for the ``mock://`` scheme in tests and
    the p21 registry row."""

    def __init__(self, root: str) -> None:
        self.root = root

    def _p(self, key: str) -> str:
        return os.path.join(self.root, key)

    def put(self, key: str, data: bytes) -> None:
        import uuid
        p = self._p(key)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        # unique temp per writer: concurrent puts of the SAME key
        # must each stay atomic (S3 = last-writer-wins, never an
        # interleaved object), so they may not share a temp path
        tmp = f"{p}.{uuid.uuid4().hex[:8]}.inprogress"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, p)

    def get(self, key: str) -> bytes:
        # FileNotFoundError falls out naturally — the contract's
        # missing-key signal (S3 NoSuchKey)
        with open(self._p(key), "rb") as f:
            return f.read()

    def fs_path(self, key: str) -> str:
        """The POSIX path backing ``key`` — the DOUBLE's data plane.
        Spark cannot read a ``mock://`` URI, so layout parquet I/O in
        tests/registry rows goes straight at the backing file while
        the control plane (pointer, listing, prune) exercises the
        store verbs.  A real deployment has no analog: Spark reads
        ``s3a://bucket/key`` and the client wraps the same bucket."""
        return self._p(key)

    def copy(self, src: str, dst: str) -> None:
        with open(self._p(src), "rb") as f:
            self.put(dst, f.read())

    def delete(self, key: str) -> None:
        # S3 DELETE is idempotent (deleting a missing key succeeds);
        # a re-entrant sweep racing the copy-then-delete window must
        # converge, not crash (ADVICE r10)
        import contextlib
        with contextlib.suppress(FileNotFoundError):
            os.remove(self._p(key))

    def delete_prefix(self, prefix: str) -> bool:
        # a key prefix has no directories, a POSIX tree does: drop
        # the ones under the prefix left empty, deepest first.  A
        # directory still holding a file (a crashed put's temp) stays
        import contextlib
        found = super().delete_prefix(prefix)
        top = os.path.join(self.root, os.path.dirname(prefix))
        for dirpath, _dirs, _files in os.walk(top, topdown=False):
            key = os.path.relpath(dirpath, self.root) + "/"
            if key.startswith(prefix):
                with contextlib.suppress(OSError):
                    os.rmdir(dirpath)
        return found

    # only THIS client's own in-flight temp objects are invisible —
    # a legitimately-named key ending in ".inprogress" lists fine
    # (ADVICE r10; the pattern matches put()'s
    # "<key>.<8hex>.inprogress")
    _TMP_RE = re.compile(r"\.[0-9a-f]{8}\.inprogress$")

    def list_pages(self, prefix: str,
                   page_size: int = 1000) -> Iterator[list[str]]:
        # S3 ListObjectsV2 matches by STRING prefix over the flat key
        # namespace — 'b/inp' matches 'b/input/x' (ADVICE r10), so
        # never treat the prefix as a directory: walk the directory
        # holding the prefix's last component (every key with that
        # string prefix lives under it) and filter.  The walk is lazy
        # and prunes the top's entries to the last component, so the
        # first page opens only the directories on the way to its
        # keys.  Pages come in walk order (a directory's files sorted,
        # then its subdirectories sorted); ``list`` sorts
        top = os.path.join(self.root, os.path.dirname(prefix))
        head = os.path.basename(prefix)
        page: list[str] = []
        for dirpath, dirs, files in os.walk(top):
            if dirpath == top:
                dirs[:] = [d for d in dirs if d.startswith(head)]
            dirs.sort()
            for name in sorted(files):
                if self._TMP_RE.search(name):  # crashed put: invisible
                    continue
                key = os.path.relpath(os.path.join(dirpath, name),
                                      self.root)
                if key.startswith(prefix):
                    page.append(key)
                    if len(page) == page_size:
                        yield page
                        page = []
        if page:
            yield page

    # -- conditional writes (r13) ------------------------------------
    # ETag = md5 of the content, exactly S3's single-part-PUT ETag.
    # POSIX has no native compare-and-swap on file contents, so
    # writers of the SAME key serialize on an flock'd lock file under
    # the system tempdir (NEVER under any client root — lock files
    # must not appear in listings; r13 placed them in a "<root>.locks"
    # sibling, which a client rooted at the PARENT of a re-rooted
    # client's root could still see in bare string-prefix listings,
    # ADVICE r13 #2); readers never lock (they read the atomically-
    # replaced object as before).

    @staticmethod
    def _etag(data: bytes) -> str:
        import hashlib
        return hashlib.md5(data).hexdigest()

    def _lock_path(self, key: str) -> str:
        # keyed by the BACKING OBJECT's realpath, not (root, key):
        # two clients rooted differently over the same tree (the
        # ``publish._publisher`` re-rooting) — or through a symlink
        # alias of it (macOS /tmp -> /private/tmp) — serialize on the
        # same lock file when they target the same object.  The dir is
        # PER-UID (a fixed world-shared /tmp name would hand a second
        # user a PermissionError on every CAS write), and the
        # namespace is SHARDED to 4096 slots rather than one file per
        # object: flock is advisory, so hash collisions merely
        # over-serialize two unrelated writers for the lock's
        # microseconds — correctness is unaffected — while the dir
        # stays bounded at 4096 zero-byte files forever (per-object
        # names grew without bound, and lock files can never be
        # safely unlinked: a waiter blocked in flock on the old inode
        # plus a fresh creator on the new one would both hold "the"
        # lock).
        import hashlib

        from ..session import private_tmpdir
        obj = os.path.realpath(self._p(key))
        shard = int(hashlib.md5(obj.encode()).hexdigest(), 16) % 4096
        return os.path.join(private_tmpdir("sbp_object_locks"),
                            f"{shard:04x}")

    def get_with_etag(self, key: str) -> tuple[bytes, str]:
        data = self.get(key)
        return data, self._etag(data)

    def put_if(self, key: str, data: bytes,
               etag: str | None) -> str:
        import fcntl
        with open(self._lock_path(key), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            try:
                current: str | None = self._etag(self.get(key))
            except FileNotFoundError:
                current = None
            if etag is None:
                if current is not None:
                    raise PreconditionFailed(
                        f"{key}: exists (etag {current}), "
                        f"create-if-absent refused")
            elif current != etag:
                raise PreconditionFailed(
                    f"{key}: live etag {current} != expected {etag}")
            self.put(key, data)       # atomic replace, under the lock
            return self._etag(data)


def _boto3_client_factory() -> object:
    """Default client factory for :class:`S3ObjectStoreClient` — the
    ONLY place in the repo that imports boto3 (absent from this
    sandbox; VERDICT r12 #4 ships the client behind this guard so a
    real deployment gets it with zero code changes).  Region,
    credentials and endpoint resolve the standard public-SDK way
    (env / config / instance profile); callers needing a custom
    endpoint inject their own factory."""
    try:
        import boto3  # noqa: PLC0415 — the import IS the guard
    except ImportError as e:  # pragma: no cover — sandbox path
        raise ImportError(
            "S3ObjectStoreClient needs boto3 at call time (it is "
            "deliberately not a repo dependency — the sandbox has no "
            "network); pip install boto3 in the deployment image or "
            "inject a client_factory") from e
    return boto3.client("s3")


def _is_missing_key_error(exc: Exception) -> bool:
    """True for the SDK's NoSuchKey/404 shape (botocore ClientError
    carries the code under response['Error']['Code']) without
    importing botocore — the fake client in tests raises the same
    shape."""
    code = (getattr(exc, "response", None) or {}).get(
        "Error", {}).get("Code")
    return code in ("NoSuchKey", "NoSuchBucket", "404")


class S3ObjectStoreClient(ObjectStoreClient):
    """The real-bucket implementation of the 5-verb contract over the
    public boto3 S3 API (VERDICT r12 #4), verb-for-verb:

    - ``put``   = PutObject — S3's PUT is atomic per object, which is
      the exact property the pipeline's one-PUT commit and the
      versioned-pointer publish (``operators.publish.StorePublisher``)
      are built on.
    - ``get``   = GetObject; NoSuchKey maps to ``FileNotFoundError``,
      the contract's missing-key signal.
    - ``copy``  = CopyObject (server-side; no byte round-trip).
    - ``delete``= DeleteObject — idempotent by S3 semantics, as the
      re-entrant quarantine sweep requires.
    - ``list_pages`` = ListObjectsV2 via the SDK paginator, so pages
      stream at the wire's 1000-key granularity and driver memory is
      bounded by page size, not bucket size (``list`` sorts them).

    PICKLABLE BY CONSTRUCTION: state is (bucket, factory); the live
    SDK client is created lazily per process and dropped from
    ``__getstate__``, because the commit runs inside executor Python
    workers and boto3 clients do not pickle.  Swapping the sandbox
    double for the real bucket is one line at the call site::

        store = LocalObjectStoreClient(root)        # sandbox double
        store = S3ObjectStoreClient("my-bucket")    # real deployment

    and every consumer — ``run_pipeline(..., store=...)``,
    ``quarantine_sweep(..., store=...)``,
    ``publish.StorePublisher(store, root)`` — takes it unchanged.
    Contract-tested in tests/test_s3_client.py against an in-memory
    boto3-shaped fake (same assertions the file-backed double
    passes); the real-bucket run stays env-gated on boto3 +
    credentials being present."""

    def __init__(self, bucket: str,
                 client_factory: "Callable[[], object]" = None) -> None:
        self.bucket = bucket
        self.client_factory = client_factory or _boto3_client_factory
        self._client = None

    def __getstate__(self) -> dict:
        state = dict(self.__dict__)
        state["_client"] = None   # SDK clients don't pickle
        return state

    def _c(self) -> object:
        if self._client is None:
            self._client = self.client_factory()
        return self._client

    def put(self, key: str, data: bytes) -> None:
        self._c().put_object(Bucket=self.bucket, Key=key, Body=data)

    def get(self, key: str) -> bytes:
        try:
            resp = self._c().get_object(Bucket=self.bucket, Key=key)
        except Exception as e:
            if _is_missing_key_error(e):
                raise FileNotFoundError(key) from e
            raise
        return resp["Body"].read()

    def get_with_etag(self, key: str) -> tuple[bytes, str]:
        try:
            resp = self._c().get_object(Bucket=self.bucket, Key=key)
        except Exception as e:
            if _is_missing_key_error(e):
                raise FileNotFoundError(key) from e
            raise
        return resp["Body"].read(), resp["ETag"].strip('"')

    def put_if(self, key: str, data: bytes,
               etag: str | None) -> str:
        """S3 conditional writes (public API: If-None-Match on
        PutObject since 2024-08, If-Match since 2024-11).  412
        PreconditionFailed = the condition lost; 409
        ConditionalRequestConflict = a concurrent conditional write
        on the same key is in flight — both mean re-read and retry,
        so both map to :class:`PreconditionFailed`.

        Wire form (ADVICE r13 #3): S3's native ETag form is QUOTED
        (`"<md5>"`), and that is what goes on the wire — the
        contract-level token stays the bare hex (get_with_etag
        strips, both implementations agree bit-for-bit), so the
        quotes are re-added here whichever form the caller holds.
        The boto3-shaped fake compares If-Match VERBATIM against the
        quoted form, so a client regression to the bare wire form
        fails the contract tests instead of burning cas_retries
        against real S3."""
        kw = ({"IfNoneMatch": "*"} if etag is None
              else {"IfMatch": (etag if etag.startswith('"')
                                else f'"{etag}"')})
        try:
            resp = self._c().put_object(Bucket=self.bucket, Key=key,
                                        Body=data, **kw)
        except Exception as e:
            code = (getattr(e, "response", None) or {}).get(
                "Error", {}).get("Code")
            if code in ("PreconditionFailed",
                        "ConditionalRequestConflict", "412", "409"):
                raise PreconditionFailed(f"{key}: {code}") from e
            # If-Match on a key that no longer exists is 404 NoSuchKey
            # on real S3 — semantically the precondition LOST (someone
            # deleted the object between read and write), so the
            # caller must re-read, same as a mismatch; the file-backed
            # double already reports this case as PreconditionFailed
            if etag is not None and _is_missing_key_error(e):
                raise PreconditionFailed(
                    f"{key}: deleted since read (was {etag})") from e
            raise
        return resp["ETag"].strip('"')

    def copy(self, src: str, dst: str) -> None:
        self._c().copy_object(
            Bucket=self.bucket, Key=dst,
            CopySource={"Bucket": self.bucket, "Key": src})

    def delete(self, key: str) -> None:
        # DeleteObject succeeds on a missing key — already idempotent
        self._c().delete_object(Bucket=self.bucket, Key=key)

    def list_pages(self, prefix: str,
                   page_size: int = 1000) -> Iterator[list[str]]:
        paginator = self._c().get_paginator("list_objects_v2")
        for page in paginator.paginate(
                Bucket=self.bucket, Prefix=prefix,
                PaginationConfig={"PageSize": page_size}):
            keys = [o["Key"] for o in page.get("Contents", [])]
            if keys:
                yield keys


def _fs_local_path(uri: str) -> str:
    """The POSIX root of a bare or ``file://`` bucket.  Spark's
    binaryFile listing accepts any Hadoop filesystem URI (`file://`,
    `s3a://`, ...), but the worker-side read and commit need a client
    for the scheme: an object-store scheme raises here (rather than
    writing a local directory literally named ``s3a:``) unless the
    caller supplies an :class:`ObjectStoreClient` (see
    :func:`_bucket_plane`)."""
    scheme, rest = _split_scheme(uri)
    if scheme == "":
        return uri
    if scheme == "file":
        return "/" + rest.lstrip("/")
    raise NotImplementedError(
        f"scheme {scheme!r}: worker-side commit needs an "
        f"ObjectStoreClient (its atomic put is the commit; see "
        f"SCALE.md 'Object-store commit')")


def _bucket_plane(bucket: str, store: ObjectStoreClient | None
                  ) -> tuple[ObjectStoreClient, str, Callable[[str], str]]:
    """(store, base key, key -> reported path) for a bucket: one
    storage plane for every scheme.  A bare or ``file://`` bucket is a
    :class:`LocalObjectStoreClient` rooted at its POSIX path (base
    ``""``; paths reported as POSIX paths); any other scheme is the
    caller's ``store`` under the bucket's key prefix (paths reported
    as ``scheme://key``).  An object-store scheme with no ``store``
    raises."""
    scheme, rest = _split_scheme(bucket)
    if scheme not in ("", "file") and store is not None:
        return store, rest, lambda key: f"{scheme}://{key}"
    local = LocalObjectStoreClient(_fs_local_path(bucket))
    return local, "", local.fs_path


def _file_processor(transform: Callable[[bytes], bytes], ext: str,
                    store: ObjectStoreClient | None = None):
    """Arrow-batched per-file worker over job rows ``(bucket,
    in_prefix, out_prefix, file_name)`` (GetJobs.py:48-60): ``get`` the
    input from the bucket's one storage plane (:func:`_bucket_plane`;
    ``store`` ships via the task closure), transform it, commit it as
    one atomic ``put`` of the deterministic key, emit one log row per
    file.  A failed read fails the job like a failed transform; a
    failed job's row carries its ``error``.  An object-store scheme
    with no ``store`` raises (never a local directory named
    ``s3a:``)."""
    def _process(batches: Iterator) -> Iterator:
        import posixpath

        import pandas as pd
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                bucket, base, path_of = _bucket_plane(r.bucket, store)
                in_key = posixpath.join(base, r.in_prefix, r.file_name)
                key = posixpath.join(base, r.out_prefix,
                                     r.file_name + ext)
                raw, error = b"", None
                try:
                    raw = bucket.get(in_key)
                    result = transform(raw)
                    bucket.put(key, result)
                except Exception as e:
                    # returncode gate (GetJobs.py:54-56): no upload,
                    # no delete -> Spark task retry redelivers; the
                    # row says why: class + first message line
                    result = b""
                    error = (f"{type(e).__name__}: "
                             + str(e).partition("\n")[0])
                rows.append((r.file_name, len(raw), len(result),
                             path_of(key), error is None, error))
            yield pd.DataFrame(rows, columns=[
                "file_name", "in_bytes", "out_bytes", "out_path", "ok",
                "error"])
    return _process


def watch_prefix(spark: SparkSession, bucket_dir: str,
                 in_prefix: str = "input/",
                 out_prefix: str = "output/",
                 transform: Callable[[bytes], bytes] | None = None,
                 command: str | None = None,
                 ext: str = ".out",
                 checkpoint: str | None = None,
                 store: ObjectStoreClient | None = None) -> DataFrame:
    """The reference's LONG-POLL CONSUMER (GetJobs.py:21-40) as one
    batch drain: list ``bucket_dir/in_prefix``, drop every file that
    already has a commit-log row under ``checkpoint``, run the rest
    through :func:`run_pipeline` and append their rows to
    ``bucket_dir/_commit_log`` (executor-written parquet; a drain with
    no new file appends nothing).  Returns :func:`commit_log`, the
    cumulative log deduped to the NEWEST row per file.

    ``checkpoint`` names the delivery state (default
    ``bucket_dir/_checkpoint``; a tag on the log rows, nothing is
    written there).  A logged file is a deleted SQS message
    (GetJobs.py:37-40): under one name no file is redelivered, failed
    ones included; a new name redelivers every file (how quarantine
    attempts accumulate); every spelling of a path is one name.  Task
    retry + idempotent output keys == visibility-timeout redelivery
    (README.md:44-47).  Log rows written before the ``checkpoint``
    column read it as null and belong to no name, so the first drain
    after an upgrade redelivers their files once, harmlessly.
    """
    _drainer(spark, bucket_dir, in_prefix, out_prefix, transform,
             command, ext, checkpoint, store)()
    return commit_log(spark, bucket_dir)


def watch_daemon(spark: SparkSession, bucket_dir: str,
                 in_prefix: str = "input/",
                 out_prefix: str = "output/",
                 transform: Callable[[bytes], bytes] | None = None,
                 command: str | None = None,
                 ext: str = ".out",
                 checkpoint: str | None = None,
                 poll_seconds: float = 5.0,
                 store: ObjectStoreClient | None = None):
    """The reference's INFINITE long-poll loop (GetJobs.py:21-23): the
    :func:`watch_prefix` drain, under one ``checkpoint`` as there, run
    every ``poll_seconds`` (the long-poll wait) on the
    :func:`operators.maintenance.maintenance_daemon` loop.  Returns
    the loop's handle; the caller owns its lifetime.  ``stop()``
    finishes the in-flight drain (outputs AND log rows) and joins —
    the CLI's SIGINT graceful stop (GetJobs.py:63-65,80; see
    ``__main__.cmd_watch``).  ``isActive`` turns false when the loop
    ends; ``awaitTermination(timeout=None)`` re-raises a drain's
    error."""
    from ..operators.maintenance import maintenance_daemon
    return maintenance_daemon([_drainer(
        spark, bucket_dir, in_prefix, out_prefix, transform, command,
        ext, checkpoint, store)], poll_seconds)


def _drainer(spark: SparkSession, bucket_dir: str, in_prefix: str,
             out_prefix: str, transform: Callable[[bytes], bytes] | None,
             command: str | None, ext: str, checkpoint: str | None,
             store: ObjectStoreClient | None) -> Callable[[], int]:
    """The one drain of watch_prefix and watch_daemon, as a zero-arg
    callable that returns the count run.  Each call lists the prefix,
    drops the files logged under the checkpoint, runs the rest through
    :func:`run_pipeline` and appends their log rows tagged ``run_seq``,
    ``batch_id`` (the call count) and ``checkpoint``.  The logged
    names are read on the first call, then kept in memory (a file
    stream's seen-file map): a daemon's poll is one listing at any
    log length."""
    import itertools
    import posixpath
    import time
    from urllib.parse import unquote
    transform = _resolve_transform(transform, command)

    def norm(path: str) -> str:
        if _split_scheme(path)[0] in ("", "file"):
            return os.path.abspath(_fs_local_path(path))
        return posixpath.normpath(path)
    # the name is relative to the bucket when inside it, so every
    # spelling of the bucket (and a moved bucket) keeps its state
    bucket = norm(bucket_dir)
    checkpoint = norm(checkpoint or os.path.join(bucket_dir, "_checkpoint"))
    if checkpoint.startswith(bucket + "/"):
        checkpoint = checkpoint[len(bucket) + 1:]
    log_dir = os.path.join(bucket_dir, "_commit_log")
    run_seq, batch_ids = time.time(), itertools.count()
    done: set[str] | None = None

    def drain() -> int:
        nonlocal done
        if done is None:
            log = _read_log(spark, log_dir)
            done = set() if log is None else {r[0] for r in log.filter(
                F.col("checkpoint") == checkpoint)
                .select("file_name").collect()}
        manifest = build_manifest(spark, bucket_dir, in_prefix, out_prefix)
        # the file index's listing, no job; URI-encoded, unlike names
        listed = {unquote(p.rsplit("/", 1)[-1])
                  for p in manifest.inputFiles()}
        new = listed - done
        if not new:             # an idle poll appends no empty part file
            return 0
        if new != listed:       # scan the new files only; a backlog
            # reuses its listing (no second one, no backlog-wide glob)
            manifest = _manifest(spark, bucket_dir, in_prefix, out_prefix,
                                 new)
        (run_pipeline(spark, manifest, transform, ext=ext, store=store)
         .withColumn("run_seq", F.lit(run_seq))
         .withColumn("batch_id", F.lit(next(batch_ids)))
         .withColumn("checkpoint", F.lit(checkpoint))
         .write.mode("append").parquet(log_dir))
        done |= new
        return len(new)
    return drain


def _read_parts(spark: SparkSession, table_dir: str,
                schema: str) -> DataFrame | None:
    """A Spark-written table (commit log, quarantine ledger) read in
    its declared ``schema``, so no read infers one and a column a part
    lacks reads as null; None while it holds no committed part file.
    The read passes the part files, not the ``_``-prefixed directory
    that Spark's file index WARNs about as hidden, while Spark lists
    them on the driver
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``, 32
    by default); past that it would list them with a job of one task
    per file, so one listing of the directory (and the WARN) is the
    cheaper read."""
    glob = spark._jvm.org.apache.hadoop.fs.Path(table_dir + "/part-*")
    found = (glob.getFileSystem(spark._jsc.hadoopConfiguration())
             .globStatus(glob)) or []           # null: no directory
    if not len(found):
        return None
    reader = spark.read.schema(schema)
    if len(found) > int(spark.conf.get(
            "spark.sql.sources.parallelPartitionDiscovery.threshold")):
        return reader.parquet(table_dir)
    return reader.parquet(*sorted(s.getPath().toString() for s in found))


def _read_log(spark: SparkSession, log_dir: str) -> DataFrame | None:
    """The on-disk commit log, or None while it holds no part file:
    never written, or its first append was interrupted (kill, crash)
    before the commit and left only ``_temporary/``."""
    return _read_parts(spark, log_dir, _LOG_TABLE_SCHEMA)


def commit_log(spark: SparkSession, bucket_dir: str,
               log_dir: str | None = None) -> DataFrame:
    """Cumulative per-file commit log for a watched bucket, deduped to
    the NEWEST row per file (a file that failed under an old
    checkpoint and succeeded after a fresh one must not surface both
    its ok=false and ok=true rows).  The on-disk log keeps history.
    Rows older than the ``run_seq``/``batch_id`` tags read them as
    null and lose to any tagged row; among one file's untagged rows an
    ok row wins, so a log written wholly before the tags dedupes to
    one row per file too.  ``log_dir`` overrides the default location
    (same seam as :func:`quarantine_ledger`: an object-store bucket
    keeps its Spark-written control tables on a Spark-readable
    filesystem)."""
    full = _read_log(spark,
                     log_dir or os.path.join(bucket_dir, "_commit_log"))
    if full is None:                    # nothing ever committed
        return spark.createDataFrame([], LOG_SCHEMA)
    w = (W.partitionBy("file_name")
         .orderBy(F.col("run_seq").desc(), F.col("batch_id").desc(),
                  F.col("ok").desc()))
    return (full.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "run_seq", "batch_id", "checkpoint"))


LEDGER_SCHEMA = ("file_name string, n_failures long, "
                 "quarantined_path string")


def quarantine_ledger(spark: SparkSession, bucket_dir: str,
                      ledger_dir: str | None = None) -> DataFrame:
    """Cumulative poison-file ledger for a watched bucket (one row per
    quarantined input file; see :func:`quarantine_sweep`).
    ``ledger_dir`` overrides the default ``bucket_dir/
    _quarantine_ledger`` location — the seam an object-store bucket
    uses to keep its Spark-written control tables on a
    Spark-readable filesystem (in production s3a IS one; the sandbox
    has no Hadoop object-store connector, so tests pass a local
    path)."""
    ledger = _read_parts(spark, ledger_dir or os.path.join(
        bucket_dir, "_quarantine_ledger"), LEDGER_SCHEMA)
    if ledger is None:
        return spark.createDataFrame([], LEDGER_SCHEMA)
    return ledger


def quarantine_sweep(spark: SparkSession, bucket_dir: str,
                     in_prefix: str = "input/",
                     quarantine_prefix: str = "quarantine/",
                     max_attempts: int = 3,
                     store: ObjectStoreClient | None = None,
                     log_dir: str | None = None,
                     ledger_dir: str | None = None) -> DataFrame:
    """POISON-MESSAGE QUARANTINE (r9, VERDICT r8 #5) — the one
    delivery semantics the reference itself lacks: GetJobs.py:54-56
    skips the SQS delete on a nonzero returncode, so the visibility
    timeout redelivers a permanently-failing job FOREVER
    (README.md:44-47 documents the loop; there is no dead-letter
    queue).  The watch drain keeps retry-via-redelivery (a new
    checkpoint redelivers every file); this sweep is the operational
    escape hatch.

    Policy: a file whose NEWEST commit-log row is a failure and which
    has accumulated >= ``max_attempts`` failure rows (each redelivery
    appends one — the attempt counter IS the commit-log history) is
    moved out of ``in_prefix`` into ``quarantine_prefix``, so no
    future drain or fresh-checkpoint redelivery can pick it up, and
    recorded in the append-only ``_quarantine_ledger`` parquet next
    to the commit log.  A file that eventually SUCCEEDED is never
    touched (newest row ok=true), however many failures preceded it.

    The candidate set is computed as one Spark aggregation over the
    log; only the resulting POISON LIST (bounded by the number of
    forever-failing files — operational metadata, not data) is
    collected for the driver-side moves.  Moves run on the bucket's
    one storage plane (r10, VERDICT r9 #3): a
    :class:`LocalObjectStoreClient` at the root of a local or
    ``file://`` bucket, the caller-supplied :class:`ObjectStoreClient`
    for any other scheme — ``list`` for existence, ``copy`` +
    ``delete`` for the move on both planes (copy FIRST, so a crash
    between the two leaves the object visible in both places and the
    re-run's re-copy/delete converges).  An object-store bucket with
    no ``store`` raises.  ``log_dir``/``ledger_dir``
    override the Spark-written control-table locations — on a real
    deployment they stay in the bucket (s3a is a Hadoop filesystem);
    the sandbox's ``mock://`` tests keep them on local disk.

    Crash-safe (r10, ADVICE): the ledger append runs AFTER the
    moves, so every sweep first RECONCILES — a candidate whose input
    is gone but which sits under ``quarantine_prefix`` without a
    ledger row (a previous sweep died between move and append) gets
    its row backfilled from the commit-log stats.

    Rows older than the ``run_seq``/``batch_id`` tags order before
    every tagged row, so among them "newest" means EVER SUCCEEDED
    (strictly conservative).

    Returns the cumulative ledger (LEDGER_SCHEMA).  Idempotent: a
    swept-and-ledgered file's input object is gone and its ledger row
    exists, so a second sweep moves nothing and appends nothing."""
    if max_attempts < 1:
        raise ValueError(f"max_attempts must be >= 1, got {max_attempts}")
    scheme, _ = _split_scheme(bucket_dir)
    if scheme not in ("", "file") and store is None:
        raise ValueError(
            f"bucket scheme {scheme!r} needs an ObjectStoreClient "
            f"(put/copy/delete/list) to sweep — pass store=")
    log_dir = log_dir or os.path.join(bucket_dir, "_commit_log")
    ledger_dir = ledger_dir or os.path.join(bucket_dir,
                                            "_quarantine_ledger")
    full = _read_log(spark, log_dir)
    if full is None:
        return quarantine_ledger(spark, bucket_dir, ledger_dir)
    # null tags order first: an untagged row loses to a tagged one
    newest_ok = F.max(F.struct("run_seq", "batch_id", "ok"))["ok"]
    stats = (full.groupBy("file_name")
             .agg(F.sum(F.when(~F.col("ok"), 1).otherwise(0))
                  .alias("n_failures"), newest_ok.alias("_ok"))
             .filter((F.col("n_failures") >= max_attempts)
                     & ~F.col("_ok"))
             .select("file_name", "n_failures"))
    # poison list only — bounded by the forever-failing file count
    candidates = stats.collect()

    import posixpath
    bucket, base, path_of = _bucket_plane(bucket_dir, store)
    in_key = posixpath.join(base, in_prefix)
    q_key = posixpath.join(base, quarantine_prefix)

    # POINT lookups, one per poison candidate (list with the FULL key
    # as prefix — ListObjectsV2 semantics make that an existence
    # check), NOT two whole-prefix listings: driver memory is priced
    # by the poison count, never the bucket size (VERDICT r10 #7)
    def _exists(key):
        return key in bucket.list(key)

    # ledger names: bounded by the poison count (same order as the
    # candidate list — operational metadata)
    ledgered = {r["file_name"] for r in
                quarantine_ledger(spark, bucket_dir, ledger_dir)
                .select("file_name").collect()}
    new_rows = []
    for r in sorted(candidates, key=lambda r: r["file_name"]):
        name, n_fail = r["file_name"], r["n_failures"]
        src = posixpath.join(in_key, name)
        dst = posixpath.join(q_key, name)
        if _exists(src):                # not yet swept: move it
            bucket.copy(src, dst)       # copy-then-delete: re-runnable
            bucket.delete(src)
        elif name in ledgered or not _exists(dst):
            continue
        # else reconcile: moved by a sweep that died pre-append
        new_rows.append((name, n_fail, path_of(dst)))
    if new_rows:
        # local_df (r15, guide §4): the pickled-RDD scan of a
        # createDataFrame(list) re-enters through a Python worker in
        # every consuming stage; rows are (str, int, str) non-null by
        # construction, so the Arrow LocalTableScan path is
        # value-identical (the last pickled-RDD site on a pipeline
        # path — VERDICT r14 #4)
        from ..exprs import local_df
        (local_df(spark, new_rows, LEDGER_SCHEMA)
         .coalesce(1).write.mode("append").parquet(ledger_dir))
    return quarantine_ledger(spark, bucket_dir, ledger_dir)
