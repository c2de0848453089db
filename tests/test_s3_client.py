"""S3ObjectStoreClient contract tests (VERDICT r12 #4).

The sandbox has no boto3 and no network, so the client is exercised
against an in-memory boto3-SHAPED fake implementing the exact public
response/exception shapes the SDK produces (get_object Body stream,
ClientError.response['Error']['Code'], list_objects_v2 paginator
pages without a Contents key when empty).  The assertions are the
SAME ones the file-backed LocalObjectStoreClient passes
(tests/test_pipeline.py: string-prefix listing, idempotent delete,
missing-key FileNotFoundError, paged listing), so the two
implementations are interchangeable at every call site — plus the
one-line-swap demonstration: the full StorePublisher lifecycle run
against the S3 client unchanged.
"""

from __future__ import annotations

import io
import json
import pickle

import pytest

from samplebatchprocessing_spark.pipeline.manifest import (
    LocalObjectStoreClient, S3ObjectStoreClient, _is_missing_key_error)


class FakeClientError(Exception):
    """botocore.exceptions.ClientError's public shape: the error code
    lives at response['Error']['Code']."""

    def __init__(self, code: str, op: str):
        super().__init__(f"An error occurred ({code}) calling {op}")
        self.response = {"Error": {"Code": code}}


class _FakePaginator:
    def __init__(self, objects: dict[str, bytes]):
        self._objects = objects

    def paginate(self, Bucket: str, Prefix: str = "",
                 PaginationConfig: dict | None = None):
        size = (PaginationConfig or {}).get("PageSize") or 1000
        keys = sorted(k for k in self._objects if k.startswith(Prefix))
        if not keys:
            yield {"KeyCount": 0}      # real S3: no Contents key
            return
        for i in range(0, len(keys), size):
            page = keys[i:i + size]
            yield {"KeyCount": len(page),
                   "Contents": [{"Key": k} for k in page]}


class FakeS3Client:
    """In-memory stand-in for boto3.client('s3'): flat key namespace,
    last-writer-wins puts, NoSuchKey on get of a missing key,
    silent-success delete of a missing key (all public S3
    semantics)."""

    def __init__(self, store: dict[str, dict[str, bytes]]):
        self._store = store     # bucket -> {key: bytes}

    def _bucket(self, name: str) -> dict[str, bytes]:
        if name not in self._store:
            raise FakeClientError("NoSuchBucket", "any")
        return self._store[name]

    @staticmethod
    def _etag(data: bytes) -> str:
        import hashlib
        return f'"{hashlib.md5(data).hexdigest()}"'

    def put_object(self, Bucket: str, Key: str, Body: bytes,
                   IfMatch: str | None = None,
                   IfNoneMatch: str | None = None):
        objs = self._bucket(Bucket)
        # S3 conditional-write semantics (public API 2024): If-Match
        # compares the live ETag; If-None-Match:* requires absence
        if IfNoneMatch is not None:
            assert IfNoneMatch == "*"
            if Key in objs:
                raise FakeClientError("PreconditionFailed",
                                      "PutObject")
        if IfMatch is not None:
            if Key not in objs:
                raise FakeClientError("NoSuchKey", "PutObject")
            # VERBATIM compare against S3's native QUOTED ETag form
            # (ADVICE r13 #3): stripping quotes on both sides here
            # would make a client that sends the bare hex pass the
            # contract tests while burning all cas_retries against a
            # quote-strict real endpoint — the fake must be at least
            # as strict as the strictest documented server behavior
            if self._etag(objs[Key]) != IfMatch:
                raise FakeClientError("PreconditionFailed",
                                      "PutObject")
        objs[Key] = bytes(Body)
        return {"ETag": self._etag(objs[Key])}

    def get_object(self, Bucket: str, Key: str):
        objs = self._bucket(Bucket)
        if Key not in objs:
            raise FakeClientError("NoSuchKey", "GetObject")
        return {"Body": io.BytesIO(objs[Key]),
                "ETag": self._etag(objs[Key])}

    def copy_object(self, Bucket: str, Key: str, CopySource: dict):
        src = self._bucket(CopySource["Bucket"])
        if CopySource["Key"] not in src:
            raise FakeClientError("NoSuchKey", "CopyObject")
        self._bucket(Bucket)[Key] = src[CopySource["Key"]]
        return {}

    def delete_object(self, Bucket: str, Key: str):
        self._bucket(Bucket).pop(Key, None)   # idempotent, like S3
        return {}

    def get_paginator(self, op: str):
        assert op == "list_objects_v2"
        # flatten all buckets is wrong — paginate() gets Bucket, but
        # our paginator binds the store per call via closure instead
        store = self._store

        class _Bound:
            def paginate(self, Bucket, **kw):
                return _FakePaginator(store.get(Bucket, {})).paginate(
                    Bucket=Bucket, **kw)

        return _Bound()


@pytest.fixture()
def s3():
    buckets = {"test-bucket": {}}
    return S3ObjectStoreClient(
        "test-bucket", client_factory=lambda: FakeS3Client(buckets))


def test_put_get_roundtrip_and_overwrite(s3):
    s3.put("a/b/key.txt", b"v1")
    assert s3.get("a/b/key.txt") == b"v1"
    s3.put("a/b/key.txt", b"v2")          # last-writer-wins
    assert s3.get("a/b/key.txt") == b"v2"


def test_get_missing_key_is_file_not_found(s3):
    with pytest.raises(FileNotFoundError):
        s3.get("nope/missing")


def test_copy_is_server_side_and_faithful(s3):
    s3.put("src/x", b"payload")
    s3.copy("src/x", "dst/y")
    assert s3.get("dst/y") == b"payload"
    assert s3.get("src/x") == b"payload"  # copy, not move


def test_delete_is_idempotent(s3):
    """Same assertion LocalObjectStoreClient passes (ADVICE r10): a
    re-entrant sweep racing the copy-then-delete window must
    converge, not crash."""
    s3.put("k", b"x")
    s3.delete("k")
    s3.delete("k")                        # second delete: silent
    with pytest.raises(FileNotFoundError):
        s3.get("k")


def test_list_is_string_prefix_semantics(s3):
    """Same assertion the file-backed double passes: ListObjectsV2
    matches by STRING prefix over the flat namespace — 'b/inp'
    matches 'b/input/x'; there is no directory notion."""
    for k in ("b/input/x", "b/input/y", "b/inputs_other/z", "b/out/w"):
        s3.put(k, b".")
    assert s3.list("b/inp") == ["b/input/x", "b/input/y",
                                "b/inputs_other/z"]
    assert s3.list("b/input/") == ["b/input/x", "b/input/y"]
    assert s3.list("nothing/") == []


def test_list_pages_streams_at_page_size(s3):
    for i in range(7):
        s3.put(f"b/{i:03d}", b".")
    pages = list(s3.list_pages("b/", page_size=3))
    assert [len(p) for p in pages] == [3, 3, 1]
    assert [k for p in pages for k in p] == sorted(
        f"b/{i:03d}" for i in range(7))
    assert list(s3.list_pages("empty/")) == []


def test_client_pickles_and_drops_the_live_connection():
    """The commit runs inside executor Python workers, so the client
    ships through task closures; the live SDK client must drop from
    the pickled state (boto3 clients don't pickle).  The
    default-factory client goes through plain pickle (module-level
    factory); the injected-factory client goes through cloudpickle —
    exactly how Spark ships task closures."""
    c = S3ObjectStoreClient("some-bucket")
    c2 = pickle.loads(pickle.dumps(c))
    assert c2.bucket == "some-bucket"
    assert c2._client is None
    # a fake-backed client with a live connection also round-trips
    from pyspark import cloudpickle
    buckets = {"b": {}}
    live = S3ObjectStoreClient(
        "b", client_factory=lambda: FakeS3Client(buckets))
    live.put("k", b"x")                   # materializes _client
    assert live._client is not None
    live2 = cloudpickle.loads(cloudpickle.dumps(live))
    assert live2._client is None
    assert live2.get("k") == b"x"         # factory revives the fake


def test_default_factory_is_the_boto3_import_guard():
    """With boto3 absent the default factory raises an informative
    ImportError at CALL time (construction and pickling stay cheap);
    with boto3 present it returns a real client — either way the
    repo itself never hard-depends on the SDK."""
    c = S3ObjectStoreClient("some-bucket")
    try:
        import boto3  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="boto3"):
            c.put("k", b"x")
    else:
        client = c._c()                   # real SDK client object
        assert hasattr(client, "put_object")
        assert hasattr(client, "get_paginator")
        # no credentials/network assertions here: the real-bucket
        # run stays env-gated (FIXTURES.md driver ask #3)


def test_missing_key_error_shape_detection():
    assert _is_missing_key_error(FakeClientError("NoSuchKey", "Get"))
    assert _is_missing_key_error(FakeClientError("404", "Head"))
    assert not _is_missing_key_error(FakeClientError("AccessDenied",
                                                     "Get"))
    assert not _is_missing_key_error(ValueError("x"))


def test_store_publisher_lifecycle_on_s3_client(s3):
    """The one-line swap (VERDICT r12 #4): StorePublisher runs its
    full publish/resolve/prune lifecycle against S3ObjectStoreClient
    exactly as it does against the file-backed double — same control
    plane, zero call-site changes."""
    from samplebatchprocessing_spark.operators.publish import (
        StorePublisher)
    pub = StorePublisher(s3, "indexes/lsh")
    assert pub.current_version() is None
    assert pub.resolve() == "indexes/lsh"          # unversioned root

    d1 = pub.new_layout_dir()
    assert d1 == "indexes/lsh/layout-v00001"
    s3.put(f"{d1}/part-0.parquet", b"data1")
    assert pub.publish(d1) == 1
    assert pub.resolve() == d1

    d2 = pub.new_layout_dir()
    s3.put(f"{d2}/part-0.parquet", b"data2")
    assert pub.publish(d2) == 2
    d3 = pub.new_layout_dir()
    s3.put(f"{d3}/part-0.parquet", b"data3")
    assert pub.publish(d3) == 3

    # keep=2 retires v1's layout; the pointer and live layouts stay
    retired = pub.prune(keep=2)
    assert retired == ["indexes/lsh/layout-v00001"]
    assert s3.list(f"{d1}/") == []
    assert s3.get(f"{d3}/part-0.parquet") == b"data3"
    assert pub.resolve() == d3
    # pointer survives and reads back through the client
    meta = json.loads(s3.get("indexes/lsh/_current.json"))
    assert meta["version"] == 3


def test_local_and_s3_clients_agree_on_the_contract(tmp_path):
    """Differential check: drive both implementations through the
    same verb sequence and assert identical observable state."""
    local = LocalObjectStoreClient(str(tmp_path))
    buckets = {"b": {}}
    s3 = S3ObjectStoreClient("b",
                             client_factory=lambda: FakeS3Client(buckets))
    for c in (local, s3):
        c.put("p/a", b"1")
        c.put("p/b", b"2")
        c.copy("p/a", "q/a")
        c.delete("p/b")
        c.delete("p/b")
    assert local.list("") == s3.list("") == ["p/a", "q/a"]
    assert local.get("q/a") == s3.get("q/a") == b"1"
    for impl in (local, s3):
        with pytest.raises(FileNotFoundError):
            impl.get("p/b")


def test_put_if_conditional_semantics(s3):
    """The r13 conditional-write verbs over the SDK shapes:
    create-if-absent, replace-if-match, and PreconditionFailed on
    either condition losing."""
    from samplebatchprocessing_spark.pipeline.manifest import (
        PreconditionFailed)
    e1 = s3.put_if("k", b"v1", None)          # create-if-absent
    with pytest.raises(PreconditionFailed):
        s3.put_if("k", b"v1b", None)          # exists now
    data, etag = s3.get_with_etag("k")
    assert data == b"v1" and etag == e1
    e2 = s3.put_if("k", b"v2", e1)            # replace-if-match
    assert e2 != e1
    with pytest.raises(PreconditionFailed):
        s3.put_if("k", b"v3", e1)             # stale token
    assert s3.get("k") == b"v2"


def test_local_and_s3_agree_on_conditional_writes(tmp_path):
    from samplebatchprocessing_spark.pipeline.manifest import (
        LocalObjectStoreClient, PreconditionFailed)
    buckets = {"b": {}}
    s3 = S3ObjectStoreClient("b",
                             client_factory=lambda: FakeS3Client(buckets))
    local = LocalObjectStoreClient(str(tmp_path))
    for c in (local, s3):
        t1 = c.put_if("p", b"one", None)
        with pytest.raises(PreconditionFailed):
            c.put_if("p", b"x", None)
        with pytest.raises(PreconditionFailed):
            c.put_if("p", b"x", "bogus-etag")
        t2 = c.put_if("p", b"two", t1)
        assert c.get_with_etag("p") == (b"two", t2)
        # If-Match on a key deleted since the read: the precondition
        # LOST (real S3 answers 404 NoSuchKey here) — both
        # implementations report PreconditionFailed so the CAS loop
        # re-reads instead of crashing
        c.put_if("gone", b"x", None)
        tg = c.get_with_etag("gone")[1]
        c.delete("gone")
        with pytest.raises(PreconditionFailed):
            c.put_if("gone", b"y", tg)
    # md5-content ETags: the two implementations agree bit-for-bit
    assert local.get_with_etag("p")[1] == s3.get_with_etag("p")[1]


def test_put_if_wire_form_is_quoted(s3):
    """ADVICE r13 #3: the If-Match header carries S3's NATIVE quoted
    ETag whichever form the caller holds — the fake's verbatim
    compare (quoted vs quoted) is what makes this test able to fail.
    The contract-level token stays the bare hex."""
    e1 = s3.put_if("k", b"v1", None)
    assert not e1.startswith('"')         # contract token: bare hex
    e2 = s3.put_if("k", b"v2", e1)        # bare in -> quoted on wire
    assert s3.get("k") == b"v2"
    e3 = s3.put_if("k", b"v3", f'"{e2}"')  # quoted in: not re-quoted
    assert s3.get("k") == b"v3" and not e3.startswith('"')


def test_put_if_locks_never_appear_in_listings(tmp_path):
    """ADVICE r13 #2: r13 placed lock files in a "<root>.locks"
    SIBLING of the client root, so a client re-rooted at a subtree
    (the publish._publisher shape, e.g. root=/bucket/idx) left
    "idx.locks/<md5>" keys visible to a client rooted at the parent
    /bucket in bare string-prefix listings.  Locks now live under
    the system tempdir keyed by the backing object's absolute path:
    invisible to every listing, and differently-rooted clients
    targeting the SAME object serialize on the SAME lock file."""
    parent = LocalObjectStoreClient(str(tmp_path / "bucket"))
    child = LocalObjectStoreClient(str(tmp_path / "bucket" / "idx"))
    child.put_if("post", b"v1", None)
    parent.put_if("idx/other", b"o1", None)
    # the r13 regression: parent.list("idx") saw "idx.locks/<md5>"
    assert parent.list("idx") == ["idx/other", "idx/post"]
    assert parent.list("") == ["idx/other", "idx/post"]
    # parent's idx/other lives inside the child's subtree root too —
    # visible from both; the invariant is no LOCK keys anywhere
    assert child.list("") == ["other", "post"]
    # same object -> same lock file, regardless of client root
    assert parent._lock_path("idx/post") == child._lock_path("post")
    # and the CAS chain composes across the two roots
    t = child.get_with_etag("post")[1]
    parent.put_if("idx/post", b"v2", t)
    assert child.get("post") == b"v2"


def test_cas_publisher_lifecycle_on_s3_client(s3):
    """StorePublisher(cas=True) over the conditional-write verbs:
    the same lifecycle, now safe for multiple maintainers."""
    from samplebatchprocessing_spark.operators.publish import (
        StorePublisher)
    pub = StorePublisher(s3, "idx", cas=True)
    d1 = pub.new_layout_dir()
    s3.put(f"{d1}/part-0.parquet", b"d1")
    assert pub.publish(d1) == 1
    d2 = pub.new_layout_dir()
    s3.put(f"{d2}/part-0.parquet", b"d2")
    assert pub.publish(d2) == 2
    assert pub.resolve() == d2
    assert pub.prune(keep=2) == []


def test_vocab_sweep_over_s3a_root(spark, monkeypatch):
    """The vocab retrain sweep runs the one sweep chain on an s3a://
    root: a drifted slice retrains once, v2's vocab.json lands in the
    bucket through the S3 client, and the next sweep is not due."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.operators import (artifacts,
                                                       maintenance,
                                                       publish)
    from samplebatchprocessing_spark.operators import text as T
    from samplebatchprocessing_spark.pipeline import manifest

    buckets = {"b": {}}
    monkeypatch.setattr(manifest, "_boto3_client_factory",
                        lambda: FakeS3Client(buckets))
    df = spark.createDataFrame(
        [(i, "the cat and the hat and the bat") for i in range(8)],
        "doc_id long, text string")
    m1 = T.bpe_train_merges(df, n_merges=3)
    rules = tuple((l, r, m) for _, l, r, m, _ in m1)
    root = "s3a://b/vocab"
    v1 = publish.new_layout_dir(root)
    artifacts.bpe_vocab_write(
        m1, v1, fertility_x1000=T.encode_fertility_x1000(df, rules))
    publish.publish(root, v1)

    drifted = df.withColumn("text", F.reverse(F.col("text")))
    r1 = maintenance.vocab_maintenance_sweep(spark, root, drifted,
                                             n_merges=3)
    assert r1["acted"] and r1["version_after"] == 2
    assert "vocab/layout-v00002/vocab.json" in buckets["b"]
    r2 = maintenance.vocab_maintenance_sweep(spark, root, drifted,
                                             n_merges=3)
    assert not r2["due"] and r2["version_after"] == 2
    assert len(artifacts.bpe_vocab_read(root)) == 3
