"""Property tests for operators excluded from hash-matching
(SURVEY §2B `property` rows): sketches, ANN variants, as-of join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from samplebatchprocessing_spark.catalog import load_table
from samplebatchprocessing_spark.operators import dedup, similarity


def test_minhash_lsh_recall_vs_jaccard(spark, sf_smoke):
    """L6 contract: candidate set contains (almost) all pairs with
    jaccard >= 0.8 (within-band); 8x4 banding => miss prob per pair
    (1 - 0.8^4)^8 ~ 1.3% -> demand >= 95% recall on the fixture."""
    doc = load_table(spark, sf_smoke, "documents")
    truth = {(r["doc_a"], r["doc_b"])
             for r in dedup.jaccard_pairs(doc, threshold=0.8).collect()}
    cand = {(r["doc_a"], r["doc_b"])
            for r in dedup.minhash_lsh_pairs(doc).collect()}
    assert truth, "fixture should contain near-dup pairs"
    recall = len(truth & cand) / len(truth)
    assert recall >= 0.95, f"LSH recall {recall:.3f} < 0.95"


def test_lsh_band_count_guard(spark, sf_smoke):
    """r10 ADVICE: a band count that doesn't divide N_HASHES would
    SILENTLY truncate the signature (weakening the recall contract),
    and n_bands > N_HASHES would call F.hash() with zero columns.
    Both band-relation builders must fail loudly instead."""
    doc = load_table(spark, sf_smoke, "documents").limit(4)
    for bad in (0, 5, dedup.N_HASHES + 1, -4, 3):
        with pytest.raises(ValueError, match="divisor"):
            dedup.lsh_band_relation(doc, n_bands=bad)
        with pytest.raises(ValueError, match="divisor"):
            dedup._lsh_pairs_from_sets(
                doc.select("doc_id", F.array().alias("toks")),
                n_bands=bad)
    # every legal divisor still builds
    for ok in (1, 2, 4, 8, 16, 32):
        dedup.lsh_band_relation(doc, n_bands=ok)


def test_lsh_index_frozen_parameter_guard(spark, sf_smoke, tmp_path):
    """r10: a persisted LSH index carries its frozen parameters in a
    ``_lsh_meta.json`` sidecar (ignored by Spark's parquet reader,
    like _SUCCESS); an append or probe with different n_bands /
    n_buckets would silently scatter rows across an inconsistent
    bucket layout, so it must raise AT the call.  A legacy index
    with no sidecar still works (backward compatible), and
    compaction carries the parameters onto the new layout."""
    import os

    doc = load_table(spark, sf_smoke, "documents").limit(30)
    idx = str(tmp_path / "idx")
    dedup.lsh_index_write(doc, idx, n_bands=8, n_buckets=16)
    assert os.path.exists(os.path.join(idx, "_lsh_meta.json"))

    for bad in ({"n_bands": 8, "n_buckets": 8},
                {"n_bands": 4, "n_buckets": 16}):
        with pytest.raises(ValueError, match="FROZEN"):
            dedup.lsh_index_append(doc, idx, **bad)
        with pytest.raises(ValueError, match="FROZEN"):
            dedup.lsh_index_probe(spark, idx, doc, **bad)

    # matching parameters pass; compaction carries the sidecar
    dedup.lsh_index_append(doc.limit(5), idx, n_bands=8, n_buckets=16)
    out = str(tmp_path / "compacted")
    dedup.lsh_index_compact(spark, [idx], out)
    assert os.path.exists(os.path.join(out, "_lsh_meta.json"))
    with pytest.raises(ValueError, match="FROZEN"):
        dedup.lsh_index_probe(spark, out, doc, n_bands=8, n_buckets=32)
    n = dedup.lsh_index_probe(spark, out, doc,
                              n_bands=8, n_buckets=16).count()
    assert n >= 0

    # legacy index (no sidecar): unchecked, still serves
    os.remove(os.path.join(idx, "_lsh_meta.json"))
    dedup.lsh_index_probe(spark, idx, doc,
                          n_bands=8, n_buckets=16).count()


def test_lsh_index_compact_rejects_in_place_and_mixed_sidecars(
        spark, sf_smoke, tmp_path):
    """ADVICE r10: (a) compaction must refuse out_dir == any input
    layer (Spark read-then-overwrite of the same path fails or
    corrupts mid-job — the fresh-dir + pointer-publish discipline is
    the contract), including path-spelling variants; (b) a
    sidecar-less layer mixed with sidecar-bearing ones cannot be
    verified parameter-compatible and must be rejected, while an
    all-bare (pure legacy) layer set still compacts."""
    import os

    doc = load_table(spark, sf_smoke, "documents").limit(20)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    dedup.lsh_index_write(doc, a, n_bands=8, n_buckets=16)
    dedup.lsh_index_write(doc.limit(5), b, n_bands=8, n_buckets=16)

    with pytest.raises(ValueError, match="input layers"):
        dedup.lsh_index_compact(spark, [a, b], a)
    with pytest.raises(ValueError, match="input layers"):  # variant
        dedup.lsh_index_compact(spark, [a, b],
                                str(tmp_path / "." / "b"))
    with pytest.raises(ValueError, match="input layers"):  # file://
        dedup.lsh_index_compact(spark, [a, b], "file://" + b)
    with pytest.raises(ValueError, match="non-empty"):
        dedup.lsh_index_compact(spark, [], str(tmp_path / "out"))

    os.remove(os.path.join(b, "_lsh_meta.json"))
    with pytest.raises(ValueError, match="sidecar"):
        dedup.lsh_index_compact(spark, [a, b], str(tmp_path / "out"))

    # all-bare legacy layers: still compacts, output stays bare
    os.remove(os.path.join(a, "_lsh_meta.json"))
    out = str(tmp_path / "legacy_out")
    dedup.lsh_index_compact(spark, [a, b], out)
    assert not os.path.exists(os.path.join(out, "_lsh_meta.json"))
    assert spark.read.parquet(out).count() > 0


def test_simhash_near_dups_have_small_hamming(spark, sf_smoke):
    """Near-identical token sets must land within a small Hamming
    distance; random pairs should average much larger."""
    doc = load_table(spark, sf_smoke, "documents")
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(doc).collect()}
    pairs = dedup.jaccard_pairs(doc, threshold=0.9).collect()
    assert pairs

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    near = [ham(sh[p["doc_a"]], sh[p["doc_b"]]) for p in pairs]
    low = [r for r in dedup.jaccard_pairs(doc, threshold=0.0).collect()
           if r["jaccard"] < 0.4][:200]
    far = [ham(sh[p["doc_a"]], sh[p["doc_b"]]) for p in low]
    # measured on the fixture: ~14.7 vs ~22.0
    assert sum(near) / len(near) < sum(far) / len(far) - 3


def test_numpy_topk_matches_exact(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    pred = F.col("vec_id") % 50 == 0
    exact = {(r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
             for r in similarity.cosine_topk(emb, pred, k=5).collect()}
    fast = {(r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
            for r in similarity.brute_force_topk_numpy(emb, pred, k=5).collect()}
    assert set(exact) == set(fast)
    for key, (vid, cos) in exact.items():
        fvid, fcos = fast[key]
        assert fvid == vid
        assert abs(fcos - cos) < 1e-5


def test_ivf_batch_topk_identical_to_collect_path(spark, sf_smoke):
    """X114 (VERDICT r7 #3): the distributed-query IVF path — probe
    cells assigned per query partition, cell-wise equi-join, no
    driver collect of queries — must be ROW-IDENTICAL to the
    collect-probe ivf_topk: same quantizer, same probe relation, same
    single-cell membership, same order-fixed cosine."""
    emb = load_table(spark, sf_smoke, "embeddings")
    pred = F.col("vec_id") % 50 == 0
    a = {tuple(r) for r in similarity.ivf_topk(emb, pred, k=5).collect()}
    b = {tuple(r) for r in
         similarity.ivf_batch_topk(emb, pred, k=5).collect()}
    assert a == b and a


def test_ivf_index_probe_distributed_matches_collect(spark, sf_smoke, tmp_path):
    """The persisted-index form of the distributed query path: cell
    pruning still happens (via the bounded distinct-cell list, never
    the query vectors) and results equal the collect-probe form."""
    emb = load_table(spark, sf_smoke, "embeddings")
    pred = F.col("vec_id") % 50 == 0
    idx = str(tmp_path / "ivf_dist_idx")
    cmat = similarity.ivf_index_write(emb, idx, n_cells=16)
    a = {tuple(r) for r in similarity.ivf_index_probe(
        spark, idx, cmat, emb, pred, k=5, n_probe=4).collect()}
    b = {tuple(r) for r in similarity.ivf_index_probe_distributed(
        spark, idx, cmat, emb.filter(pred), k=5, n_probe=4).collect()}
    assert a == b and a


def test_lsh_topk_finds_planted_neighbors(spark, sf_smoke):
    """ANN contract: genuinely-near vectors collide.  The fixture
    vectors are uniform-random (near-orthogonal neighbors — no ANN
    scheme prunes those well), so we PLANT near-duplicates: a scaled
    clone has identical plane signs -> same bucket -> must be
    retrieved as its base's top-1."""
    emb = load_table(spark, sf_smoke, "embeddings").limit(100)
    clones = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.9)).alias("embedding"),
        "label")
    both = emb.select("vec_id", "embedding", "label").unionByName(clones)
    got = {r["query_id"]: r["vec_id"]
           for r in similarity.lsh_topk(
               both, F.col("vec_id") >= 100000, k=1).collect()}
    hits = sum(1 for q, v in got.items() if v == q - 100000)
    assert hits >= 95, f"only {hits}/100 planted neighbors found"


def test_ivf_topk_finds_planted_neighbors(spark, sf_smoke):
    """IVF contract: a scaled clone has the same nearest centroid as
    its base (cosine is scale-invariant), so with the base in the
    probed cell the clone's top-1 must be its base."""
    emb = load_table(spark, sf_smoke, "embeddings").limit(100)
    clones = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.9)).alias("embedding"),
        "label")
    both = emb.select("vec_id", "embedding", "label").unionByName(clones)
    got = {r["query_id"]: r["vec_id"]
           for r in similarity.ivf_topk(
               both, F.col("vec_id") >= 100000, k=1,
               n_cells=16, n_probe=1).collect()}
    hits = sum(1 for q, v in got.items() if v == q - 100000)
    assert hits == 100, f"only {hits}/100 planted neighbors found"


def test_ivf_topk_recall_floor(spark, sf_smoke):
    """Probing 4/16 cells must beat the random-pruning floor
    (~4/16 = 0.25) by a wide margin.  The fixture vectors are
    uniform-random — near-orthogonal 'neighbors' with no cluster
    structure, the worst case for ANY quantizer (measured: first-N
    0.58, kmeans 0.48) — so the floor here is deliberately loose;
    test_ivf_kmeans_centroids_beat_first_n covers clustered data
    where the quantizer quality actually shows."""
    emb = load_table(spark, sf_smoke, "embeddings")
    pred = F.col("vec_id") % 50 == 0
    exact = {(r["query_id"], r["vec_id"])
             for r in similarity.cosine_topk(emb, pred, k=5).collect()}
    ivf = {(r["query_id"], r["vec_id"])
           for r in similarity.ivf_topk(emb, pred, k=5,
                                        n_cells=16, n_probe=4).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.4, f"IVF recall@5 {recall:.3f} < 0.4"


def test_approx_count_distinct_bound(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey").alias("approx"),
        F.countDistinct("l_partkey").alias("exact")).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_asof_join_matches_naive(spark, sf_smoke):
    """Union+carry-forward as-of == naive max-prior-event rewrite."""
    from samplebatchprocessing_spark.queries.relational import j8_asof_join
    ev = load_table(spark, sf_smoke, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"),
        F.col("event_id").alias("click_id"))
    naive = (
        p.join(c, (p.user_id == F.col("cu")) & (F.col("cts") <= p.ts), "left")
        .groupBy("event_id")
        .agg(F.max_by("click_id", "cts").alias("prior_click_id")))
    got = {(r["event_id"], r["prior_click_id"])
           for r in j8_asof_join(spark, sf_smoke).collect()}
    want = {(r["event_id"], r["prior_click_id"]) for r in naive.collect()}
    assert got == want


def test_binary_ingest_md5_parity(spark, sf_smoke):
    """L9: Spark md5(content) of binaryFile == hashlib on raw bytes
    (DuckDB 1.0 can't hash blobs, so this parity lives here)."""
    import glob
    import hashlib
    import os
    got = {
        r["file_name"]: (r["size"], r["content_md5"])
        for r in (
            spark.read.format("binaryFile").load(f"{sf_smoke}/*.parquet")
            .select(
                F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("file_name"),
                F.col("length").alias("size"),
                F.md5(F.col("content")).alias("content_md5"))
            .collect())
    }
    for path in glob.glob(f"{sf_smoke}/*.parquet"):
        raw = open(path, "rb").read()
        name = os.path.basename(path)
        assert got[name] == (len(raw), hashlib.md5(raw).hexdigest())


def test_dedup_clusters_match_union_find(spark, sf_smoke):
    """dedup_clusters' connected components == driver-side
    union-find on the same edge list."""
    doc = load_table(spark, sf_smoke, "documents")
    pairs = dedup.jaccard_pairs(doc, threshold=0.9)
    edges = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    assert edges

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.dedup_clusters(pairs).collect()}
    assert got == want


def test_sessionize_matches_streaming_sessions(spark, sf_smoke):
    """Batch gap-sessionization == streaming session_window output."""
    from samplebatchprocessing_spark.queries.streaming import (
        s4_session_batch, s4_session_window)
    got = {tuple(r) for r in s4_session_batch(spark, sf_smoke).collect()}
    want = {tuple(r) for r in s4_session_window(spark, sf_smoke).collect()}
    assert got == want


def test_salted_join_equals_plain_join(spark, sf_smoke):
    from samplebatchprocessing_spark.operators.skew import salted_join
    ord_ = load_table(spark, sf_smoke, "orders")
    cust = load_table(spark, sf_smoke, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    salted = salted_join(ord_, cust, "o_custkey", salt_mod=8,
                         unique_col="o_orderkey")
    plain = ord_.join(cust, "o_custkey")
    assert sorted(map(tuple, salted.select(sorted(salted.columns)).collect())) == \
           sorted(map(tuple, plain.select(sorted(plain.columns)).collect()))


def test_simhash_vectorized_matches_reference(spark, sf_smoke):
    """The numpy-vectorized simhash must be bit-identical to the
    scalar spec implementation (same FNV-1a, same tokenization)."""
    doc = load_table(spark, sf_smoke, "documents").limit(200)
    fast = {r["doc_id"]: r["simhash"] for r in dedup.simhash(doc).collect()}
    ref = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash_reference(doc).collect()}
    assert fast == ref


def test_jaccard_64_token_vocab_no_overflow(spark, sf_smoke):
    """A corpus with exactly 64 distinct tokens is legal: bit index 63
    would overflow a JVM long, so it must take the array path (and
    still find the identical-doc pair)."""
    toks = [f"tk{i:02d}" for i in range(64)]
    rows = [(i, " ".join(toks[i % 32: i % 32 + 8])) for i in range(20)]
    rows += [(100, " ".join(toks)), (101, " ".join(toks))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in dedup.jaccard_pairs(df, threshold=0.99,
                                        open_vocab="band").collect()}
    assert got.get((100, 101)) == 1.0


def test_jaccard_open_vocab_lsh_path(spark, sf_smoke):
    """Open-vocabulary corpora must NOT use length-band blocking
    (quadratic within skewed bands): the default plan is MinHash-LSH
    candidates + exact verify.  Plan check: no floor(size(toks))
    band key; value check: >= 95% recall of the exact band path at
    tau=0.8 and no false positives (every emitted pair is exact)."""
    doc = load_table(spark, sf_smoke, "documents").limit(300)
    # widen vocabulary past 64 with a shared filler so docs stay similar
    open_doc = doc.select(
        "doc_id",
        F.concat_ws(" ", "text",
                    F.concat(F.lit("uniq"), (F.col("doc_id") % 200))
                    ).alias("text"))
    lsh_df = dedup.jaccard_pairs(open_doc, threshold=0.8)
    plan = lsh_df._jdf.queryExecution().optimizedPlan().toString()
    assert "band_hash" in plan, "expected LSH banded candidates"
    assert "FLOOR" not in plan.upper(), "length-band key leaked into LSH plan"
    # Ground truth: unblocked O(n^2) jaccard driver-side (300 docs).
    # (The length-band path is NOT full recall — it misses near-dup
    # pairs whose token counts straddle a band boundary.)
    from samplebatchprocessing_spark.operators.text import token_set
    sets = {r["doc_id"]: frozenset(r["toks"]) for r in open_doc.select(
        "doc_id", token_set(F.col("text")).alias("toks")).collect()}
    ids = sorted(sets)
    exact = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            jac = inter / (len(sets[a]) + len(sets[b]) - inter)
            if jac >= 0.8:
                exact[(a, b)] = jac
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in lsh_df.collect()}
    assert exact, "fixture should contain near-dup pairs"
    for pair, jac in got.items():
        assert pair in exact               # no false positives
        assert abs(exact[pair] - jac) < 1e-12
    recall = len(set(got) & set(exact)) / len(exact)
    assert recall >= 0.95, f"LSH-verified recall {recall:.3f} < 0.95"


def test_salted_join_rejects_outer(spark, sf_smoke):
    from samplebatchprocessing_spark.operators.skew import salted_join
    ord_ = load_table(spark, sf_smoke, "orders")
    cust = load_table(spark, sf_smoke, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(ord_, cust, "o_custkey", how="full")


def test_cosine_topk_has_partition_prune(spark, sf_smoke):
    """The exact path must prune per-partition (mapInPandas stage)
    before the global window exchange — the shuffle carries
    ~partitions x queries x k rows, not |corpus| x |queries|."""
    emb = load_table(spark, sf_smoke, "embeddings")
    df = similarity.cosine_topk(emb, F.col("vec_id") % 50 == 0, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_ivf_kmeans_centroids_beat_first_n(spark, sf_smoke):
    """On clustered data whose first-N-by-id vectors all sit in ONE
    cluster, the first-N quantizer scatters the other clusters across
    cells (recall collapses with n_probe=1) while sampled k-means
    recovers the true cluster structure."""
    import numpy as np
    rng = np.random.default_rng(11)
    dim, per = 16, 120
    rows = []
    vid = 0
    for c in range(4):
        base = np.zeros(dim)
        base[c * 4: c * 4 + 4] = 1.0
        for _ in range(per):
            v = base + rng.normal(0, 0.08, dim)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    # ids are cluster-ordered: the first 4 (and 16) vectors are all
    # cluster 0 — exactly the adversarial case for the "first" quantizer
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    pred = F.col("vec_id") % 37 == 0
    exact = {(r["query_id"], r["vec_id"])
             for r in similarity.cosine_topk(emb, pred, k=5).collect()}

    def recall(quantizer):
        got = {(r["query_id"], r["vec_id"])
               for r in similarity.ivf_topk(
                   emb, pred, k=5, n_cells=4, n_probe=1,
                   quantizer=quantizer).collect()}
        return len(exact & got) / len(exact)

    r_first, r_kmeans = recall("first"), recall("kmeans")
    assert r_kmeans >= 0.9, f"kmeans IVF recall {r_kmeans:.3f} < 0.9"
    assert r_kmeans > r_first + 0.2, (
        f"kmeans {r_kmeans:.3f} should dominate first-N {r_first:.3f}")


def test_curation_redact_and_strip_roundtrip(spark, sf_smoke):
    """No-match inputs pass through unchanged; injected PII is fully
    scrubbed; mixture weights sum to 1 and upsample rare sources."""
    from samplebatchprocessing_spark.operators import curation
    doc = load_table(spark, sf_smoke, "documents").limit(50)
    r = curation.redact_pii(F.col("text"))
    clean = doc.select(
        (F.col("text") == r["scrubbed"]).alias("same"),
        (r["n_emails"] + r["n_phones"]).alias("hits"))
    assert all(row["same"] and row["hits"] == 0 for row in clean.collect())
    pii = doc.select(curation.redact_pii(
        F.concat(F.col("text"), F.lit(" a@b.com +1-555-1234")))["scrubbed"]
        .alias("s"))
    for row in pii.collect():
        assert "a@b.com" not in row["s"] and "+1-555-1234" not in row["s"]
        assert "<EMAIL>" in row["s"] and "<PHONE>" in row["s"]
    stripped = doc.select(curation.strip_markup(
        F.concat(F.lit("<b>x</b>  "), F.col("text"))).alias("s"),
        F.col("text"))
    assert all(row["s"] == "x " + row["text"] for row in stripped.collect())


def test_mixture_weights_properties(spark, sf_smoke):
    from samplebatchprocessing_spark.operators import curation
    doc = load_table(spark, sf_smoke, "documents")
    rows = curation.mixture_weights(doc, "source", alpha=0.5).collect()
    assert abs(sum(r["mix_weight"] for r in rows) - 1.0) < 1e-4
    # alpha<1 upsamples rare sources: weight/share ratio must be
    # higher for the smallest source than for the largest
    smallest = min(rows, key=lambda r: r["n_docs"])
    largest = max(rows, key=lambda r: r["n_docs"])
    n = sum(r["n_docs"] for r in rows)
    if smallest["n_docs"] < largest["n_docs"]:
        assert (smallest["mix_weight"] / (smallest["n_docs"] / n)
                > largest["mix_weight"] / (largest["n_docs"] / n))


def test_contamination_is_equi_join(spark, sf_smoke):
    """The shingle join must plan as a hash equi-join on the shingle
    key — never a nested-loop/cartesian product."""
    from samplebatchprocessing_spark.operators import curation
    doc = load_table(spark, sf_smoke, "documents")
    df = curation.ngram_contamination(doc, F.col("source") == "src0", n=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert df.count() >= 0


def test_zero_norm_vectors_dropped_consistently(spark):
    """ADVICE r2: a zero-norm embedding scores cosine = NaN; Spark's
    ORDER BY DESC ranks NaN first while numpy lexsort prunes it —
    the declared invariant is that NaN rows are DROPPED on every
    path, so the exact and numpy top-k stay identical."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),     # zero-norm: never a match
            (3, [0.5, 0.5, 0.0, 0.0]),
            (4, [0.0, 1.0, 0.0, 0.0])]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")
    pred = F.col("vec_id") == 0
    exact = {(r["query_id"], r["rank"]): r["vec_id"]
             for r in similarity.cosine_topk(emb, pred, k=3).collect()}
    fast = {(r["query_id"], r["rank"]): r["vec_id"]
            for r in similarity.brute_force_topk_numpy(
                emb, pred, k=3).collect()}
    assert exact == fast
    assert 2 not in exact.values(), "zero-norm vector must be dropped"
    assert set(exact.values()) == {1, 3, 4}
    # the IVF quantizers skip it too: k-means must not raise on its
    # NaN sample row, and "first" must not take it as a centroid (a
    # NaN centroid wins every argmax, so queries found nothing)
    km = similarity.ivf_topk(emb, pred, k=3).collect()
    first = similarity.ivf_topk(emb, pred, k=3, quantizer="first",
                                n_cells=3, n_probe=2).collect()
    assert first, "query 0 must find its probed cells' vectors"
    # 4 directions for 16 cells: k-means must not pad with repeated
    # centroids whose empty cells a probe could pick
    assert km, "k-means: query 0 must find its probed cells' vectors"
    assert 2 not in {r["vec_id"] for r in km + first}


def test_paragraph_dedup_no_repeated_chunks(spark, sf_smoke):
    """After paragraph dedup, no chunk text may appear twice in the
    surviving corpus, and every doc's kept count is bounded by its
    total."""
    doc = load_table(spark, sf_smoke, "documents")
    out = dedup.paragraph_dedup(doc, chunk=5)
    re_split = out.select(
        F.posexplode(F.split("text_clean", " ")).alias("i", "tok"))
    # re-chunk the cleaned text the same way and assert global
    # uniqueness of chunks
    toks = F.split("text_clean", " ")
    n = F.ceil(F.size(toks) / F.lit(5)).cast("int")
    chunks = out.select(F.explode(F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 5 + 1, 5))))
        .alias("para"))
    assert chunks.count() == chunks.distinct().count()
    assert out.filter(F.col("n_paras_kept") > F.col("n_paras_total")).count() == 0


def test_incremental_dedup_disjoint_from_corpus(spark, sf_smoke):
    """Admitted batch docs share no content hash with the corpus and
    contain no internal duplicates."""
    doc = load_table(spark, sf_smoke, "documents")
    corpus = doc.filter(F.col("source") == "src0")
    batch = doc.filter(F.col("source") != "src0")
    out = dedup.incremental_dedup(batch, corpus)
    oh = out.select(F.md5("text").alias("h"))
    ch = corpus.select(F.md5("text").alias("h")).distinct()
    assert oh.join(ch, "h").count() == 0
    assert oh.count() == oh.distinct().count()


def test_apply_dedup_clusters_exactly_one_per_cluster(spark, sf_smoke):
    """The surviving corpus keeps exactly one representative per
    near-dup cluster and every unclustered doc."""
    doc = load_table(spark, sf_smoke, "documents")
    pairs = dedup.jaccard_pairs(doc, threshold=0.9, open_vocab="band")
    clusters = dedup.dedup_clusters(pairs)
    kept = dedup.apply_dedup_clusters(doc, clusters)
    n_clusters = clusters.select("cluster_id").distinct().count()
    n_clustered_docs = clusters.count()
    assert kept.count() == doc.count() - n_clustered_docs + n_clusters
    # every kept clustered doc IS its cluster representative
    assert (kept.join(clusters, "doc_id")
            .filter(F.col("cluster_id") != F.col("doc_id")).count() == 0)


def test_corpus_freq_score_bounds(spark, sf_smoke):
    """Scores are bounded by [1, corpus token count] and freq_sum is
    consistent with an independent two-pass computation."""
    from samplebatchprocessing_spark.operators import text as text_ops
    doc = load_table(spark, sf_smoke, "documents")
    out = text_ops.corpus_freq_score(doc)
    toks = doc.select("doc_id", F.explode(
        text_ops.tokenize(F.col("text"))).alias("token"))
    counts = toks.groupBy("token").count()
    two_pass = (toks.join(counts, "token").groupBy("doc_id")
                .agg(F.sum("count").alias("fs")))
    diff = (out.join(two_pass, "doc_id")
            .filter(F.col("freq_sum") != F.col("fs")).count())
    assert diff == 0
    total = toks.count()
    bad = out.filter((F.col("mean_token_freq") < 1)
                     | (F.col("mean_token_freq") > total)).count()
    assert bad == 0


def test_quota_sample_append_stable_and_maplocal(spark, sf_smoke):
    """x18's sample for one source must not change when OTHER sources
    are added/removed (hash rank is within-group only), and the rank
    must execute as a partial WindowGroupLimit (surplus dropped
    map-side)."""
    from samplebatchprocessing_spark.operators import sampling
    doc = load_table(spark, sf_smoke, "documents")
    full = sampling.quota_sample(doc, quota=10)
    partial_corpus = sampling.quota_sample(
        doc.filter(F.col("source") != "src2"), quota=10)
    a = {r["doc_id"] for r in
         full.filter(F.col("source") == "src1").collect()}
    b = {r["doc_id"] for r in
         partial_corpus.filter(F.col("source") == "src1").collect()}
    assert a == b and len(a) == 10
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_jaccard_signature_path_equals_band_exact(spark, sf_smoke):
    """The 1024-bit signature pre-filter is COMPLETE: on an
    open-vocabulary corpus (forced past the bitmask path), the
    signature plan returns exactly the band path's pairs — collisions
    can only overestimate Jaccard, never drop a true pair."""
    doc = load_table(spark, sf_smoke, "documents").limit(300)
    open_doc = doc.select(
        "doc_id",
        F.concat_ws(" ", "text",
                    F.concat(F.lit("uniq"), (F.col("doc_id") % 200))
                    ).alias("text"))
    sig = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           dedup.jaccard_pairs(open_doc, threshold=0.8,
                               open_vocab="signature").collect()}
    band = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
            dedup.jaccard_pairs(open_doc, threshold=0.8,
                                open_vocab="band").collect()}
    assert band, "fixture should contain near-dup pairs"
    assert sig == band


def test_signature_prefilter_randomized_differential(spark):
    """Random open-vocab corpora with planted near-dups, three
    thresholds: the signature path must equal the band path EXACTLY
    — completeness must hold under arbitrary token draws and hash
    collisions, not just on the fixtures."""
    import random
    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(500)]
    rows, did = [], 0
    for _ in range(120):
        base = rng.sample(vocab, rng.randint(20, 60))
        rows.append((did, " ".join(base)))
        did += 1
        if rng.random() < 0.5:       # planted near-dup
            mut = base.copy()
            for _ in range(rng.randint(0, 3)):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            rows.append((did, " ".join(mut)))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for thr in (0.6, 0.8, 0.9):
        sig = {(r["doc_a"], r["doc_b"], round(r["jaccard"], 9)) for r in
               dedup.jaccard_pairs(df, threshold=thr,
                                   open_vocab="signature").collect()}
        band = {(r["doc_a"], r["doc_b"], round(r["jaccard"], 9)) for r in
                dedup.jaccard_pairs(df, threshold=thr,
                                    open_vocab="band").collect()}
        assert sig == band, f"divergence at threshold {thr}"
    assert band, "generator should plant at least one near-dup pair"


def test_bigram_perplexity_matches_pure_python(spark):
    """X42 differential: the Spark bigram-LM scorer must reproduce a
    direct pure-Python implementation of the declared model (add-one
    smoothing over top-V vocab + <unk>) on a random synthetic corpus
    — counts exactly, entropies to the declared 6 dp."""
    import math
    import random
    import re
    from collections import Counter

    from samplebatchprocessing_spark.operators import text as T

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    rows = [(d, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(2, 80))))
            for d in range(60)]
    V = 15

    # pure-Python reference of the declared model
    def toks(s):
        return [t for t in
                re.sub(r"[^a-z0-9 ]", " ", s.lower()).split() if t]
    streams = {d: toks(s) for d, s in rows}
    uni = Counter(t for ts in streams.values() for t in ts)
    top = set(t for t, _ in sorted(
        uni.items(), key=lambda kv: (-kv[1], kv[0]))[:V])
    mapped = {d: [t if t in top else "<unk>" for t in ts]
              for d, ts in streams.items()}
    c1 = Counter(t for ts in mapped.values() for t in ts)
    cb = Counter((ts[i], ts[i + 1]) for ts in mapped.values()
                 for i in range(len(ts) - 1))
    expect = {}
    for d, ts in mapped.items():
        lps = [math.log((cb[(ts[i], ts[i + 1])] + 1.0)
                        / (c1[ts[i]] + V + 1.0))
               for i in range(len(ts) - 1)]
        if lps:
            h = -sum(lps) / len(lps)
            expect[d] = (len(lps), round(h, 6), round(math.exp(h), 6))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["cross_entropy"],
                         r["perplexity"])
           for r in T.bigram_perplexity(df, vocab_size=V).collect()}
    assert set(got) == set(expect)
    for d in expect:
        assert got[d][0] == expect[d][0], d
        assert abs(got[d][1] - expect[d][1]) <= 1e-6, d
        assert abs(got[d][2] - expect[d][2]) <= max(
            1e-6, abs(expect[d][2]) * 1e-9), d


def test_bpe_train_merges_matches_pure_python(spark, sf_smoke):
    """x44 differential gate: the distributed iterative BPE trainer
    must reproduce, round for round, a pure-python reference
    implementing the same Sennrich-style spec (word-frequency
    weighting, count-desc/pair-asc argmax, greedy left-to-right
    merge application)."""
    from collections import Counter

    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.operators.text import (
        bpe_train_merges)

    doc = load_table(spark, sf_smoke, "documents")
    got = bpe_train_merges(doc, n_merges=8)

    # pure-python reference
    import re
    texts = [r["text"] for r in doc.select("text").collect()]
    words = Counter()
    for t in texts:
        for w in re.findall(r"[a-z0-9]+", t.lower()):
            words[w] += 1
    vocab = {tuple(w): f for w, f in words.items()}
    expect = []
    for rnd in range(1, 9):
        pairs = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        (l, r), c = min(pairs.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merged = l + r
        expect.append((rnd, l, r, merged, c))
        new_vocab = {}
        for syms, f in vocab.items():
            out = []
            for t in syms:
                if out and out[-1] == l and t == r:
                    out[-1] = merged
                else:
                    out.append(t)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    assert got == expect, f"\nspark: {got}\npython: {expect}"


def test_kmeans_fixedpoint_matches_pure_python(spark, sf_smoke):
    """x47 differential gate (third implementation, after Spark and
    the DuckDB twin): a numpy replica of the exact integer trajectory
    — floor-quantize, integer distances, (d, cid) argmin, portable
    floor-division centroid means — must reproduce the per-cluster
    report bit-for-bit."""
    import math

    import numpy as np

    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.operators.clustering import (
        QUANT_SCALE, kmeans_fixedpoint)

    emb = load_table(spark, sf_smoke, "embeddings")
    got = {r["cid"]: (r["n_points"], r["sum_vec_id"], r["inertia"])
           for r in kmeans_fixedpoint(emb, k=8, iters=3).collect()}

    rows = sorted((r["vec_id"], r["embedding"])
                  for r in emb.select("vec_id", "embedding").collect())
    ids = np.array([v for v, _ in rows], dtype=np.int64)
    q = np.array([[math.floor(float(x) * QUANT_SCALE) for x in e]
                  for _, e in rows], dtype=np.int64)
    cents = q[:8].copy()
    for it in range(3):
        d = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)          # ties -> lowest cid
        best_d = d[np.arange(len(q)), assign]
        if it < 2:
            for c in range(8):
                m = assign == c
                if m.any():
                    s, n = q[m].sum(axis=0), int(m.sum())
                    cents[c] = (s - ((s % n + n) % n)) // n
    expect = {c: (int((assign == c).sum()),
                  int(ids[assign == c].sum()),
                  int(best_d[assign == c].sum()))
              for c in range(8) if (assign == c).any()}
    assert got == expect


def test_bpe_encode_matches_pure_python(spark, sf_smoke):
    """x46 differential gate: the distributed encoder (vocab-collapse
    + fold cascade) must reproduce a pure-python greedy left-to-right
    application of the pinned merge table, per document."""
    import re
    from collections import Counter

    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.operators.text import (
        PINNED_BPE_MERGES, bpe_encode_stats)

    doc = load_table(spark, sf_smoke, "documents")
    got = {r["doc_id"]: (r["n_words"], r["n_sym_chars"], r["n_pieces"],
                         r["chars_per_piece_x1000"])
           for r in bpe_encode_stats(doc).collect()}

    def encode_len(word: str) -> int:
        syms = list(word)
        for l, r, m in PINNED_BPE_MERGES:
            out = []
            for t in syms:
                if out and out[-1] == l and t == r:
                    out[-1] = m
                else:
                    out.append(t)
            syms = out
        return len(syms)

    cache: dict[str, int] = {}
    expect = {}
    for row in doc.select("doc_id", "text").collect():
        words = re.findall(r"[a-z0-9]+",
                           re.sub(r"[^a-z0-9 ]", " ", row["text"].lower()))
        stats = Counter()
        for w in words:
            if w not in cache:
                cache[w] = encode_len(w)
            stats["chars"] += len(w)
            stats["pieces"] += cache[w]
        if words:
            expect[row["doc_id"]] = (
                len(words), stats["chars"], stats["pieces"],
                1000 * stats["chars"] // stats["pieces"])
    assert got == expect


def test_ewma_fixedpoint_constructed(spark):
    """x49 unit gate: out-of-order arrival within a key must be
    re-ordered by (ts, event_id) before the scan, and the integer
    recurrence must match the hand recurrence exactly."""
    import datetime as dt

    from samplebatchprocessing_spark.operators.eventflow import (
        ewma_fixedpoint)

    t0 = dt.datetime(2024, 1, 1)
    rows = [  # (user, ts, event_id, value) — deliberately shuffled
        (1, t0 + dt.timedelta(minutes=3), 13, 4.00),
        (1, t0 + dt.timedelta(minutes=1), 11, 1.00),
        (1, t0 + dt.timedelta(minutes=2), 12, 2.00),
        (2, t0, 20, 10.00),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double")
    got = {(r["user_id"], r["event_id"]): (r["n"], r["ewma_fp"])
           for r in ewma_fixedpoint(df).collect()}

    def rec(vals):
        s, out = 0, []
        for v in vals:
            s = (s + int(v * 100) * 1024) // 2
            out.append(s)
        return out

    u1 = rec([1.00, 2.00, 4.00])
    u2 = rec([10.00])
    assert got == {
        (1, 11): (1, u1[0]), (1, 12): (2, u1[1]), (1, 13): (3, u1[2]),
        (2, 20): (1, u2[0]),
    }


def test_ivf_persisted_probe_equals_inflight(spark, sf_smoke, tmp_path):
    """X109 differential: probing the PERSISTED cell-partitioned
    index must return exactly the rows the in-flight ivf_topk
    computes with the same parameters — the centroid sample draw is
    layout-independent (xxhash64 order) and seeded, so build-time and
    query-time quantizers are identical and persistence must be a
    pure plan change, never a result change."""
    from samplebatchprocessing_spark.operators import similarity
    emb = load_table(spark, sf_smoke, "embeddings")
    pred = F.col("vec_id") % 50 == 0
    idx = str(tmp_path / "x109_diff")
    cmat = similarity.ivf_index_write(emb, idx, n_cells=16)
    persisted = {(r["query_id"], r["vec_id"], r["rank"], r["cosine"])
                 for r in similarity.ivf_index_probe(
                     spark, idx, cmat, emb, pred, k=5, n_probe=4)
                 .collect()}
    inflight = {(r["query_id"], r["vec_id"], r["rank"], r["cosine"])
                for r in similarity.ivf_topk(
                    emb, pred, k=5, n_cells=16, n_probe=4).collect()}
    assert persisted == inflight
    assert persisted, "probe should return rows"


def test_kcore_path_graph_peels_to_empty(spark):
    """2-core of a path is empty, and peeling exposes only one layer
    per round (the documented worst case) — a 5-path needs multiple
    rounds, so max_iter=1 must RAISE (non-convergence is loud, per
    the dedup_clusters guard discipline), never return a partial peel."""
    from samplebatchprocessing_spark.operators.graph import kcore
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "a long, b long")
    assert kcore(path, k=2).count() == 0
    with pytest.raises(RuntimeError, match="converge"):
        kcore(path, k=2, max_iter=1).count()
    with pytest.raises(ValueError, match="max_iter"):
        kcore(path, k=2, max_iter=0)


def test_kcore_lollipop_keeps_exactly_the_clique(spark):
    """Lollipop (K4 + pendant 3-path): the 3-core is exactly the K4
    with within-core degree 3 each — the tail peels away layer by
    layer even though its nodes have degree 2."""
    from samplebatchprocessing_spark.operators.graph import kcore
    k4 = [(u, v) for u in range(4) for v in range(u + 1, 4)]
    tail = [(3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(k4 + tail, "a long, b long")
    got = {(r["node"], r["core_degree"])
           for r in kcore(edges, k=3).collect()}
    assert got == {(0, 3), (1, 3), (2, 3), (3, 3)}


def test_kcore_ignores_self_loops_and_duplicate_edges(spark):
    """Dirty edge lists (self-loops, repeated pairs) must not inflate
    degrees: a triangle listed twice plus self-loops is still just a
    2-core triangle."""
    from samplebatchprocessing_spark.operators.graph import kcore
    tri = [(1, 2), (2, 3), (1, 3)]
    dirty = tri + tri + [(1, 1), (2, 2)]
    got = {(r["node"], r["core_degree"])
           for r in kcore(spark.createDataFrame(
               dirty, "a long, b long"), k=2).collect()}
    assert got == {(1, 2), (2, 2), (3, 2)}


def test_postings_probe_matches_direct_scan(spark, tmp_path):
    """X117 writer/prober contract on a hand corpus: the index-served
    AND equals the obvious direct answer, tf summed exactly; probing
    a term absent from the corpus returns empty; empty term list is
    rejected."""
    from samplebatchprocessing_spark.operators import text as T
    doc = spark.createDataFrame(
        [(1, "big cat big dog"), (2, "big cat"), (3, "dog big"),
         (4, "cat dog")], "doc_id long, text string")
    idx = str(tmp_path / "postings")
    T.postings_index_write(doc, idx, n_buckets=8)
    got = {(r["doc_id"], r["total_tf"])
           for r in T.postings_probe_and(
               spark, idx, ["big", "cat"], n_buckets=8).collect()}
    assert got == {(1, 3), (2, 2)}
    assert T.postings_probe_and(
        spark, idx, ["big", "unicorn"], n_buckets=8).count() == 0
    with pytest.raises(ValueError, match="terms"):
        T.postings_probe_and(spark, idx, [], n_buckets=8)


def test_postings_index_bucket_count_invariance(spark, tmp_path):
    """X117: the served relation is invariant to the bucket count —
    n_buckets=1 (no pruning possible) and n_buckets=8 must answer
    identically, so bucketing is pure layout, never semantics (a
    writer/prober hash mismatch or a dropped bucket would break
    this)."""
    from samplebatchprocessing_spark.operators import text as T
    doc = spark.createDataFrame(
        [(i, f"tok{i % 5} tok{i % 3} shared") for i in range(30)],
        "doc_id long, text string")
    outs = []
    for nb in (1, 8):
        idx = str(tmp_path / f"postings_{nb}")
        T.postings_index_write(doc, idx, n_buckets=nb)
        outs.append({(r["doc_id"], r["total_tf"])
                     for r in T.postings_probe_and(
                         spark, idx, ["tok1", "shared"],
                         n_buckets=nb).collect()})
    assert outs[0] == outs[1] and outs[0]


def test_postings_probe_layered_union(spark, tmp_path):
    """S24 serving contract: probing the LAYERED index (frozen base
    buckets UNION a delta layer built by the same relation builder)
    answers identically to a single index built over the full corpus
    — cross-layer ANDs included (doc 3's 'cat' lives only in the
    delta layer; doc 4 exists only there)."""
    from samplebatchprocessing_spark.operators import text as T
    base = spark.createDataFrame(
        [(1, "big cat big dog"), (2, "big cat"), (3, "dog big")],
        "doc_id long, text string")
    delta = spark.createDataFrame(
        [(3, "cat cat"), (4, "big cat")], "doc_id long, text string")
    idx = str(tmp_path / "base")
    T.postings_index_write(base, idx, n_buckets=8)
    cols = ["tok", "doc_id", "tf", "bucket"]
    layered = (spark.read.parquet(idx).select(cols)
               .unionByName(T._postings(delta, "text", "doc_id", 8)
                            .select(cols)))
    got = {(r["doc_id"], r["total_tf"])
           for r in T.postings_probe_and_df(
               layered, ["big", "cat"], n_buckets=8).collect()}
    full = base.filter("doc_id != 3").unionByName(delta).unionByName(
        base.filter("doc_id = 3"))
    # doc 3 holds 'big dog' in base + 'cat cat' in delta: the AND is
    # satisfied only across layers; total_tf sums both layers' tf.
    assert got == {(1, 3), (2, 2), (3, 3), (4, 2)}
    idx_full = str(tmp_path / "full")
    T.postings_index_write(full, idx_full, n_buckets=8)
    ref = {(r["doc_id"], r["total_tf"])
           for r in T.postings_probe_and(
               spark, idx_full, ["big", "cat"], n_buckets=8).collect()}
    assert got == ref


def test_triangle_orientation_decision_rule(spark):
    """r10 (VERDICT r9 #4): the auto kernel's decision predicate,
    pinned against the regimes that motivated it.  Hub star of
    degree d over d+1 nodes: skewed once d+1 >= 2*threshold (a
    100-leaf star MUST take the degree-oriented kernel — the raw-id
    plan is quadratic in the hub degree there).  Uniform graphs
    (clique: every degree equal, ratio exactly 1) and the measured
    sf0.1 dup-graph shape (max~1200, avg~890 over 5k nodes, ratio
    ~1.35) must take the raw-id kernel (78 s vs 247 s measured)."""
    from samplebatchprocessing_spark.operators.graph import (
        orientation_is_skewed, triangle_count_auto)

    # hub star, mid-id hub: max=100 over n=101, sum=200 -> ratio 50.5
    assert orientation_is_skewed(100, 101, 200)
    # K5 clique: every degree 4 -> ratio exactly 1
    assert not orientation_is_skewed(4, 5, 20)
    # the measured dense-uniform dup graph's shape
    assert not orientation_is_skewed(1200, 5000, 4_450_000)
    # threshold boundary: ratio == threshold counts as skewed
    assert orientation_is_skewed(8, 10, 10, skew_threshold=8)
    assert not orientation_is_skewed(8, 10, 11, skew_threshold=8)

    with pytest.raises(ValueError, match="skew_threshold"):
        triangle_count_auto(
            spark.createDataFrame([(1, 2)], "a long, b long"),
            skew_threshold=0)
    # empty edge list: census of zeros, either kernel
    empty = spark.createDataFrame([], "a long, b long")
    row = triangle_count_auto(empty).first()
    assert (row["n_nodes"], row["n_edges"], row["n_wedges"],
            row["n_triangles"], row["transitivity_ppm"]) \
        == (0, 0, 0, 0, None)


def test_ivf_recluster_trigger(spark, tmp_path):
    """x133's cadence rule (the orientation_is_skewed pattern): the
    pure predicate is pinned on both regimes, and the census + rule
    fire on a PLANTED drift — a fresh balanced build is not due;
    appending a tight duplicate cluster into one stale cell makes it
    due; reclustering the drifted index restores balance."""
    import numpy as np

    from samplebatchprocessing_spark.operators import similarity as S

    # pure predicate: balanced (all cells equal) vs one crowded cell
    assert not S.recluster_is_due(10, 8, 80)          # ratio 1
    assert S.recluster_is_due(50, 8, 80)              # ratio 5
    assert S.recluster_is_due(4, 4, 4, skew_threshold=4)   # boundary
    assert not S.recluster_is_due(4, 4, 5, skew_threshold=4)
    with pytest.raises(ValueError, match="skew_threshold"):
        S.recluster_is_due(1, 1, 1, skew_threshold=0)

    # note the predicate's ceiling: max/mean cannot exceed n_cells,
    # so the trigger needs skew_threshold < n_cells to ever fire —
    # 8 cells here against the default threshold 4
    rng = np.random.default_rng(11)
    base = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)])
         for i in range(64)], "vec_id long, embedding array<float>")
    idx = str(tmp_path / "idx")
    cmat = S.ivf_index_write(base, idx, n_cells=8)
    assert not S.recluster_is_due(*S.ivf_cell_census(spark, idx))

    # drift: 200 vectors from a SHIFTED tight mode the stale
    # quantizer never saw — they all crowd whichever old cell is
    # nearest, exactly the decay the cadence rule watches for
    center = np.array([8.0, 0.0, 0.0, 0.0])
    drift = spark.createDataFrame(
        [(1000 + i,
          [float(x) for x in center + 0.3 * rng.normal(size=4)])
         for i in range(200)], "vec_id long, embedding array<float>")
    (S.ivf_assign(drift, cmat).write.mode("append")
     .partitionBy("cell").parquet(idx))
    assert S.recluster_is_due(*S.ivf_cell_census(spark, idx))

    # re-centroiding equals a fresh build EXACTLY (the fuzzed x133
    # identity), so the post-refresh census is the DATA-INHERENT
    # imbalance: under spherical k-means an angularly tight mode
    # stays one cell by design (k-means++ won't seed twice inside a
    # tiny cap — correct for cosine retrieval), so the trigger
    # firing again after a refresh tells the operator the imbalance
    # is the data, not quantizer staleness
    recl = str(tmp_path / "recl")
    rebuild = str(tmp_path / "rebuild")
    S.ivf_index_recluster(spark, idx, recl, n_cells=8)
    S.ivf_index_write(
        base.unionByName(drift), rebuild, n_cells=8)
    assert (S.ivf_cell_census(spark, recl)
            == S.ivf_cell_census(spark, rebuild))
    assert S.ivf_cell_census(spark, recl)[2] == 264


def test_label_propagation_two_bridged_triangles(spark):
    """Two triangles joined by one bridge edge resolve to TWO
    communities under the declared 4-round synchronous recurrence —
    the bridge is outvoted inside each triangle.  Exact per-node
    labels, hand-traced: min-label tie-breaks pull each triangle to
    its smallest member's ancestral label."""
    from samplebatchprocessing_spark.operators.graph import (
        label_propagation)
    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    got = {(r["node"], r["community"])
           for r in label_propagation(
               spark.createDataFrame(edges, "a long, b long"),
               rounds=4).collect()}
    assert got == {(0, 0), (1, 0), (2, 0), (3, 2), (4, 2), (5, 2)}


def test_label_propagation_rejects_zero_rounds(spark):
    """rounds < 1 would silently return the init labels as if they
    were propagated — reject up front (the kcore/dedup_clusters
    guard-rail discipline)."""
    from samplebatchprocessing_spark.operators.graph import (
        label_propagation)
    df = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(ValueError, match="rounds"):
        label_propagation(df, rounds=0)


def test_bnl_topk_rejects_empty_query_set(spark):
    """Same contract as the collect-query kernel: an empty query
    predicate is a caller bug, not an empty result."""
    from samplebatchprocessing_spark.operators.similarity import (
        bnl_topk)
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no vectors"):
        bnl_topk(emb, F.col("vec_id") < 0)


def test_similarity_job_budgets(spark, sf_smoke, tmp_path, spark_jobs):
    """Spark jobs per similarity call, each with its ``collect``, on a
    fixed 4,000-vector corpus, pinned as upper bounds (the most seen
    in 5 fresh sessions).  ``ivf_index_probe`` runs in perfbench's
    serving shape: 8 ``local_df`` queries under ``F.lit(True)``, a
    16-cell index, ``n_probe=4``; so do the 250-vector delta append
    under the frozen centroids and the serving set-up's
    ``Engine.attach``.  An added action on any of these paths fails
    here.  A change that cuts jobs lowers its bound."""
    import numpy as np

    from samplebatchprocessing_spark.engine import Engine
    from samplebatchprocessing_spark.exprs import local_df
    rng = np.random.default_rng(3)
    schema = "vec_id long, embedding array<float>"
    path = str(tmp_path / "emb.parquet")
    local_df(spark, [(i, v.tolist()) for i, v in enumerate(
        rng.standard_normal((4000, 64)).astype(np.float32))],
        schema).write.parquet(path)
    emb = spark.read.parquet(path)
    idx = str(tmp_path / "idx")
    cmat = similarity.ivf_index_write(emb, idx, n_cells=16)
    qs = local_df(spark, [(-(j + 1), v.tolist()) for j, v in enumerate(
        rng.standard_normal((8, 64)).astype(np.float32))], schema)
    pred = F.col("vec_id") % 500 == 0
    S = similarity
    calls = {
        "ivf_index_probe": (4, lambda: S.ivf_index_probe(
            spark, idx, cmat, qs, F.lit(True), k=10, n_probe=4)),
        "cosine_topk": (3, lambda: S.cosine_topk(emb, pred)),
        "brute_force_topk_numpy": (3, lambda: S.brute_force_topk_numpy(
            emb, pred)),
        "bnl_topk": (7, lambda: S.bnl_topk(emb, pred)),
        "lsh_topk": (3, lambda: S.lsh_topk(emb, pred)),
        "ivf_topk": (5, lambda: S.ivf_topk(emb, pred)),
        "ivf_batch_topk": (4, lambda: S.ivf_batch_topk(emb, pred)),
        "ivf_index_probe_distributed": (7, lambda: (
            S.ivf_index_probe_distributed(spark, idx, cmat,
                                          emb.filter(pred)))),
    }
    seen = {}
    for name, (_, call) in calls.items():
        rows, seen[name] = spark_jobs(lambda: call().collect())
        assert rows, name
    delta_path = str(tmp_path / "delta.parquet")
    local_df(spark, [(4000 + i, v.tolist()) for i, v in enumerate(
        rng.standard_normal((250, 64)).astype(np.float32))],
        schema).write.parquet(delta_path)
    delta = spark.read.parquet(delta_path)
    writes = {
        "ivf_append": (1, lambda: (
            S.ivf_assign(delta, cmat).write.mode("append")
            .partitionBy("cell").parquet(idx))),
        "Engine.attach": (10, lambda: Engine(spark).attach(sf_smoke)),
    }
    for name, (_, call) in writes.items():
        _, seen[name] = spark_jobs(call)
    calls.update(writes)
    assert all(seen[n] <= b for n, (b, _) in calls.items()), \
        f"jobs per call: {seen}"


def test_curation_job_budgets(spark, sf_smoke, tmp_path, spark_jobs):
    """Spark jobs per batch curation call on ``documents``, each with
    its ``collect``, pinned as upper bounds (the most seen in 5 fresh
    sessions): the calls of perfbench's curation job.
    ``dedup_clusters`` runs on the LSH pairs read back from parquet,
    as there.  An added action on any of these paths fails here.  A
    change that cuts jobs lowers its bound."""
    from samplebatchprocessing_spark.operators import curation, text
    doc = load_table(spark, sf_smoke, "documents")
    pairs_dir = str(tmp_path / "pairs")
    dedup.ngram_jaccard_pairs(doc, method="lsh").write.parquet(pairs_dir)
    pairs = spark.read.parquet(pairs_dir)
    calls = {
        "exact_dedup": (2, lambda: dedup.exact_dedup(doc)),
        "ngram_jaccard_pairs": (6, lambda: dedup.ngram_jaccard_pairs(
            doc, method="lsh")),
        "dedup_clusters": (26, lambda: dedup.dedup_clusters(pairs)),
        "gopher_row_flags": (1, lambda: curation.gopher_row_flags(doc)),
        "gopher_rules": (2, lambda: curation.gopher_rules(doc)),
        "c4_rules": (2, lambda: curation.c4_rules(doc)),
        "tfidf": (6, lambda: text.tfidf(doc)),
    }
    seen = {}
    for name, (_, call) in calls.items():
        rows, seen[name] = spark_jobs(lambda: call().collect())
        assert rows, name
    assert all(seen[n] <= b for n, (b, _) in calls.items()), \
        f"jobs per call: {seen}"


def test_postings_append_merges_into_frozen_buckets(spark, tmp_path):
    """X121 writer/appender contract on a hand corpus: after a delta
    append, the merged index serves (a) terms spanning base and
    delta docs, (b) a term that exists ONLY in delta docs, and (c)
    the full postings relation equals a from-scratch rebuild —
    including exact tf for a delta doc repeating a base-vocabulary
    term."""
    from samplebatchprocessing_spark.operators import text as T
    base = spark.createDataFrame(
        [(1, "big cat big dog"), (2, "big cat"), (3, "dog big")],
        "doc_id long, text string")
    delta = spark.createDataFrame(
        [(4, "cat dog"), (5, "newt cat cat")],
        "doc_id long, text string")
    idx = str(tmp_path / "merged")
    reb = str(tmp_path / "rebuilt")
    T.postings_index_write(base, idx, n_buckets=8)
    T.postings_index_append(delta, idx, n_buckets=8)
    T.postings_index_write(base.unionByName(delta), reb, n_buckets=8)
    got = {(r["doc_id"], r["total_tf"])
           for r in T.postings_probe_and(
               spark, idx, ["cat", "dog"], n_buckets=8).collect()}
    assert got == {(1, 2), (4, 2)}
    only_delta = {(r["doc_id"], r["total_tf"])
                  for r in T.postings_probe_and(
                      spark, idx, ["newt"], n_buckets=8).collect()}
    assert only_delta == {(5, 1)}
    cols = ["tok", "doc_id", "tf", "bucket"]
    a = spark.read.parquet(idx).select(cols)
    b = spark.read.parquet(reb).select(cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_pack_offsets_hand_case(spark):
    """X122 packing arithmetic on a hand-traced corpus (seq_len=4):
    offsets are the exclusive prefix sum in id order; a doc may
    straddle sequences; an empty doc keeps its offset but owns no
    sequence."""
    from samplebatchprocessing_spark.operators.curation import pack_offsets
    df = spark.createDataFrame(
        [(1, 3), (2, 6), (3, 0), (4, 1)], "doc_id long, n_tok long")
    got = {r["doc_id"]: (r["start_off"], r["first_seq"],
                         r["last_seq"], r["n_seqs"])
           for r in pack_offsets(df, seq_len=4, n_parts=3).collect()}
    assert got == {
        1: (0, 0, 0, 1),     # tokens 0-2: seq 0
        2: (3, 0, 2, 3),     # tokens 3-8: straddles seqs 0,1,2
        3: (9, 2, 2, 0),     # empty: offset kept, no sequences
        4: (9, 2, 2, 1),     # token 9: seq 2
    }


def test_pack_offsets_n_parts_invariance(spark):
    """X122: the distributed split is pure mechanics — n_parts=1
    (degenerate single range) and n_parts=8 must answer identically
    on ids arriving in shuffled order."""
    from samplebatchprocessing_spark.operators.curation import pack_offsets
    import random
    rng = random.Random(7)
    rows = [(i, rng.randrange(0, 9)) for i in range(200)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    outs = [sorted(tuple(r) for r in
                   pack_offsets(df, seq_len=16, n_parts=p).collect())
            for p in (1, 8)]
    assert outs[0] == outs[1]
    # differential vs the obvious sequential cumsum
    exp, off = {}, 0
    for i, n in sorted(rows):
        first = off // 16
        last = (off + max(n, 1) - 1) // 16
        exp[i] = (n, off, first, last, 0 if n == 0 else last - first + 1)
        off += n
    got = {r["doc_id"]: (r["n_tok"], r["start_off"], r["first_seq"],
                         r["last_seq"], r["n_seqs"])
          for r in pack_offsets(df, seq_len=16, n_parts=8).collect()}
    assert got == exp


def test_pack_offsets_rejects_bad_params(spark):
    from samplebatchprocessing_spark.operators.curation import pack_offsets
    df = spark.createDataFrame([(1, 2)], "doc_id long, n_tok long")
    with pytest.raises(ValueError, match="seq_len"):
        pack_offsets(df, seq_len=0)
    with pytest.raises(ValueError, match="n_parts"):
        pack_offsets(df, n_parts=0)


def test_postings_compact_restores_layout(spark, tmp_path):
    """X123: after a build + two delta appends the layered index has
    multiple files per touched bucket; compaction restores exactly
    one data file per bucket directory, answers the probe
    identically, and preserves the full relation bit-for-bit."""
    import glob
    import os

    from samplebatchprocessing_spark.operators import text as T

    def files_per_bucket(d):
        out = {}
        for b in glob.glob(os.path.join(d, "bucket=*")):
            out[os.path.basename(b)] = len(
                glob.glob(os.path.join(b, "*.parquet")))
        return out

    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id long, text string")
    idx = str(tmp_path / "layered")
    T.postings_index_write(
        mk([(1, "big cat big dog"), (2, "big cat")]), idx, n_buckets=4)
    T.postings_index_append(mk([(3, "dog big")]), idx, n_buckets=4)
    T.postings_index_append(mk([(4, "cat dog big")]), idx, n_buckets=4)
    assert max(files_per_bucket(idx).values()) >= 2
    out = str(tmp_path / "compacted")
    T.postings_index_compact(spark, [idx], out)
    assert set(files_per_bucket(out).values()) == {1}
    probe = lambda d: {(r["doc_id"], r["total_tf"])
                       for r in T.postings_probe_and(
                           spark, d, ["big", "cat"],
                           n_buckets=4).collect()}
    assert probe(out) == probe(idx) == {(1, 3), (2, 2), (4, 2)}
    cols = ["tok", "doc_id", "tf", "bucket"]
    a = spark.read.parquet(idx).select(cols)
    b = spark.read.parquet(out).select(cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    with pytest.raises(ValueError, match="layers"):
        T.postings_index_compact(spark, [], str(tmp_path / "x"))


def test_pack_offsets_base_off_extends_frozen_prefix(spark):
    """x125 contract: packing a delta at base_off == the prior total
    equals the full rebuild restricted to the delta, for a split
    point that straddles a sequence boundary; base_off < 0 rejected."""
    from samplebatchprocessing_spark.operators.curation import (
        pack_offsets)
    rows = [(i, t) for i, t in enumerate([5, 9, 3, 0, 7, 2, 11])]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    full = {r["doc_id"]: (r["start_off"], r["first_seq"],
                          r["last_seq"], r["n_seqs"])
            for r in pack_offsets(df, seq_len=8, n_parts=3).collect()}
    total = sum(t for i, t in rows if i <= 3)
    inc = {r["doc_id"]: (r["start_off"], r["first_seq"],
                         r["last_seq"], r["n_seqs"])
           for r in pack_offsets(
               df.filter("doc_id > 3"), seq_len=8, n_parts=3,
               base_off=total).collect()}
    assert inc == {i: full[i] for i in full if i > 3}
    with pytest.raises(ValueError, match="base_off"):
        pack_offsets(df, base_off=-1)


# ---------------------------------------------------------------------------
# r11: GROUPS frame composition (operators/windows.py, w11)
# ---------------------------------------------------------------------------

def _groups_frame_truth(rows, preceding=1, following=1):
    """Pure-python GROUPS frame: rows = (part, order, val).

    SQL:2011 NULL semantics: a NULL order value is ONE peer group,
    sorted first (Spark's ascending NULLS FIRST default); a NULL
    partition value is one partition."""
    out = {}
    parts = {}
    for p, o, v in rows:
        parts.setdefault(p, {}).setdefault(o, []).append(v)
    for p, groups in parts.items():
        keys = sorted(groups, key=lambda k: (k is not None, k))
        for i, o in enumerate(keys):
            lo, hi = max(0, i - preceding), min(len(keys), i + following + 1)
            frame = [v for k in keys[lo:hi] for v in groups[k]]
            out[(p, o)] = (len(frame), sum(frame))
    return out


def test_groups_frame_matches_pure_python_with_ties(spark):
    """GROUPS counts neighbouring DISTINCT order values — ties are one
    peer group.  Constructed fixture has multi-row peer groups and
    irregular gaps, the two cases that distinguish GROUPS from ROWS
    (which would split ties) and RANGE (which would span gaps)."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.operators.windows import (
        groups_frame_agg)
    rows = [("a", 1, 10), ("a", 1, 11), ("a", 5, 20),
            ("a", 100, 30), ("a", 100, 31), ("a", 100, 32),
            ("b", 7, 1)]
    df = spark.createDataFrame(rows, "part string, ord int, val int")
    got = groups_frame_agg(
        df, ["part"], "ord",
        {"n": (F.count(F.lit(1)), "sum"),
         "s": (F.sum("val"), "sum"),
         "mx": (F.max("val"), "max")})
    truth = _groups_frame_truth(rows)
    for r in got.collect():
        n, s = truth[(r["part"], r["ord"])]
        assert (r["n"], r["s"]) == (n, s), r
    # the tie group at ord=100 sees the gap-insensitive frame
    # {5, 100} (3+1 rows), which ROWS (window of rows) and RANGE
    # (value distance 95 > 1) would both get wrong
    r100 = got.filter("part = 'a' and ord = 100").first()
    assert r100["n"] == 4 and r100["s"] == 20 + 30 + 31 + 32
    assert r100["mx"] == 32


def test_groups_frame_is_row_order_insensitive(spark):
    """ROWS frames depend on physical order among ties; GROUPS must
    not — shuffling the input leaves every framed value unchanged."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.operators.windows import (
        groups_frame_agg)
    rows = [("a", i % 5, i) for i in range(40)]
    df = spark.createDataFrame(rows, "part string, ord int, val int")
    aggs = {"s": (F.sum("val"), "sum")}
    base = groups_frame_agg(df, ["part"], "ord", aggs)
    shuffled = groups_frame_agg(df.repartition(7, "val"),
                                ["part"], "ord", aggs)
    assert base.exceptAll(shuffled).count() == 0
    assert shuffled.exceptAll(base).count() == 0


def test_groups_frame_keeps_null_order_and_partition_rows(spark):
    """VERDICT r11 "What's wrong #1": the join back onto base rows
    must be null-SAFE — a plain equi-join drops every row whose order
    (or partition) key is NULL.  Judge repro: 3-row input with one
    NULL ord must yield a 3-row output, the NULL forming one peer
    group sorted first (so it is the ord=1 group's preceding peer)."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.operators.windows import (
        groups_frame_agg)
    rows = [("a", None, 10), ("a", 1, 20), ("a", 3, 30)]
    df = spark.createDataFrame(rows, "part string, ord int, val int")
    got = groups_frame_agg(
        df, ["part"], "ord",
        {"n": (F.count(F.lit(1)), "sum"), "s": (F.sum("val"), "sum")})
    assert got.count() == 3, "NULL-ord row must not vanish"
    truth = _groups_frame_truth(rows)
    for r in got.collect():
        assert (r["n"], r["s"]) == truth[(r["part"], r["ord"])], r

    # NULL partition + NULL order together, multi-row NULL peer group
    rows2 = [(None, None, 1), (None, None, 2), (None, 5, 3),
             (None, 9, 4), ("a", None, 7), ("a", 2, 8)]
    df2 = spark.createDataFrame(rows2, "part string, ord int, val int")
    got2 = groups_frame_agg(
        df2, ["part"], "ord",
        {"n": (F.count(F.lit(1)), "sum"), "s": (F.sum("val"), "sum")})
    assert got2.count() == len(rows2)
    truth2 = _groups_frame_truth(rows2)
    for r in got2.collect():
        assert (r["n"], r["s"]) == truth2[(r["part"], r["ord"])], r


def test_groups_frame_rejects_bad_usage(spark):
    import pytest
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.operators.windows import (
        groups_frame_agg)
    df = spark.createDataFrame([("a", 1, 2)],
                               "part string, ord int, val int")
    with pytest.raises(ValueError, match="collide"):
        groups_frame_agg(df, ["part"], "ord",
                         {"val": (F.sum("val"), "sum")})
    with pytest.raises(ValueError, match=">= 0"):
        groups_frame_agg(df, ["part"], "ord",
                         {"s": (F.sum("val"), "sum")}, preceding=-1)
    with pytest.raises(ValueError, match="distributive"):
        groups_frame_agg(df, ["part"], "ord",
                         {"s": (F.avg("val"), "avg")})


def test_local_df_decimal_binary_roundtrip(spark):
    """r15 (VERDICT r14 #7): the two deliberate pickled-RDD holdouts
    (m12's collected aggregate rows, p21's binary poison frame) were
    kept on createDataFrame because Decimal/binary value identity
    through the pandas/Arrow path was unproven.  Pin it: for binary,
    Decimal, double, bigint and string columns, ``local_df`` must
    return the same schema and values as the pickle path AND plan as
    a LocalTableScan (the point of the conversion)."""
    from decimal import Decimal

    from samplebatchprocessing_spark.exprs import local_df

    cases = [
        ([("poison.bin", bytearray(b"POISON")),
          ("x.bin", bytearray(b"\x00\xff\x10"))],
         "file_name string, content binary"),
        ([("A", Decimal("123.45")), ("B", Decimal("-0.01"))],
         "k string, v decimal(12,2)"),
        [("s", 1.5, 7)],
    ]
    for case in cases:
        rows, schema = case if isinstance(case, tuple) \
            else (case, "s string, d double, n long")
        pickle_df = spark.createDataFrame(rows, schema)
        arrow_df = local_df(spark, rows, schema)
        assert pickle_df.schema == arrow_df.schema
        norm = (lambda r: tuple(bytes(c) if isinstance(c, (bytearray,
                                                           bytes))
                                else c for c in r))
        assert sorted(map(norm, pickle_df.collect())) == \
            sorted(map(norm, arrow_df.collect()))
        plan = arrow_df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan


def test_multiset_diff_and_count_matches_exceptall(spark):
    """r15: the one-action parity compare must equal the exceptAll
    idiom exactly — on multisets (duplicate rows), NULL keys (which
    exceptAll treats as equal), equal inputs, empty inputs, and two
    inputs that share lineage (a self-join of one plan)."""
    from samplebatchprocessing_spark.exprs import multiset_diff_and_count

    schema = "k int, v string"
    cases = [
        ([(1, "a"), (1, "a"), (2, "b"), (None, "n")],
         [(1, "a"), (2, "b"), (2, "b"), (None, "n")]),
        ([(1, "a"), (None, None)], [(1, "a"), (None, None)]),
        ([(1, "a")], []),
        ([], []),
    ]
    pairs = [(spark.createDataFrame(rows_a, schema),
              spark.createDataFrame(rows_b, schema))
             for rows_a, rows_b in cases]
    shared = spark.createDataFrame(cases[0][0], schema)
    pairs.append((shared, shared.filter(F.col("k") == 1)))
    for a, b in pairs:
        expect = (a.exceptAll(b).count() + b.exceptAll(a).count(),
                  a.count())
        assert multiset_diff_and_count(a, b) == expect, (a.collect(),
                                                         b.collect())
