"""Similarity search over embedding columns (SURVEY §2B L7/L8).

Two tiers, per the north-star mandate:
- **exact**: cosine via exact-decimal dot products — deterministic
  across engines (oracle-checkable), expression-only (JVM, codegen);
- **scale path**: Arrow-vectorized numpy kernel (`mapInPandas`) with
  per-partition top-k + global merge, and a seeded random-hyperplane
  LSH bucketing that prunes candidates before the kernel runs.

At 100 TB the exact form is a blocked pairwise join (block key
mandatory); the ANN form scans each partition once with a broadcast
query matrix — no shuffle at all until the final k-row merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .publish import resolve as _resolve_layout

def _seq_sum(arr):
    """Sequential left fold of an array<double> — order-FIXED double
    summation.  Spark's aggregate() and DuckDB's list_reduce() both
    fold left-to-right, so the same 64 IEEE additions happen in the
    same order on both engines -> bit-identical results (unlike
    SUM(), whose accumulation order is engine/partition-dependent)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def cosine_expr(a, b):
    """Deterministic cosine similarity between two float arrays.
    Every step is order-fixed: elementwise double products, a
    sequential fold, IEEE sqrt/divide."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = _seq_sum(F.zip_with(ad, bd, lambda x, y: x * y))
    na = _seq_sum(F.zip_with(ad, ad, lambda x, y: x * y))
    nb = _seq_sum(F.zip_with(bd, bd, lambda x, y: x * y))
    # try_divide: a zero-norm vector scores NULL (never a match)
    # instead of raising under ANSI mode — DuckDB's `/` is already
    # NULL on a zero divisor, so the twins agree.
    return F.try_divide(dot, F.sqrt(na) * F.sqrt(nb))


def cosine_sql_expr(a: str, b: str) -> str:
    """DuckDB twin of :func:`cosine_expr` (identical arithmetic)."""
    def dsum(x: str, y: str) -> str:
        return (f"LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)], "
                f"LIST_TRANSFORM(LIST_ZIP({x}, {y}), "
                f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), "
                f"(acc, v) -> acc + v)")
    return (f"({dsum(a, b)} / (SQRT({dsum(a, a)}) * SQRT({dsum(b, b)})))")


def _norm_col(vec):
    """sqrt of the sequential self-dot — one fold per vector."""
    vd = F.transform(vec, lambda x: x.cast("double"))
    return F.sqrt(_seq_sum(F.zip_with(vd, vd, lambda x, y: x * y)))


def _partition_topk(scored: DataFrame, k: int) -> DataFrame:
    """Partition-local top-k per query_id by (cosine desc, vec_id
    asc), streaming over Arrow batches with a bounded running-best
    frame.  Keeps every row that can appear in the GLOBAL top-k, so
    composing with the global window is bit-identical to windowing
    the unpruned input — but the exchange only carries
    n_partitions x n_queries x k rows instead of every scored pair."""
    def _prune(batches):
        import numpy as np
        import pandas as pd

        best = None
        for pdf in batches:
            cur = pd.concat([best, pdf], ignore_index=True) \
                if best is not None else pdf
            kept = []
            for _qid, g in cur.groupby("query_id", sort=False):
                if len(g) > k:
                    idx = np.lexsort((g["vec_id"].to_numpy(),
                                      -g["cosine"].to_numpy()))[:k]
                    g = g.iloc[idx]
                kept.append(g)
            best = pd.concat(kept, ignore_index=True)
        if best is not None and len(best):
            yield best

    return scored.mapInPandas(_prune, scored.schema)


def cosine_topk(emb: DataFrame, query_pred, k: int = 5) -> DataFrame:
    """L7: exact top-k neighbors for each query vector (query_pred
    selects the query subset).  Broadcast the (small) query side;
    rank with a (-cosine, vec_id) tie-break.

    Plan notes: norms are precomputed per VECTOR (one fold each side
    of the join), not per pair — only the dot product runs per pair.
    Scored pairs are pruned to the per-partition top-k BEFORE the
    global window (same discipline as the numpy scale path), so the
    one exchange carries ~partitions x queries x k rows, not
    |corpus| x |queries|; results are bit-identical because the prune
    keeps every global-top-k candidate and doubles cross Arrow
    losslessly.

    Zero-norm invariant: a zero-norm embedding has no direction, so
    the declared semantics are "zero-norm vectors never match".  The
    hazards differ per path — ANSI Spark RAISES on 0/0, numpy yields
    NaN which lexsort(-cosine) silently prunes while Spark's ORDER BY
    DESC would rank it FIRST.  Degenerate vectors are dropped PER
    VECTOR, before the pair join (`norm > 0` and not NaN — a finite
    float32 vector cannot produce a NaN/overflowing dot), so the
    per-pair hot loop stays a plain codegen divide: wrapping it in
    try_divide instead costs ~80% wall-clock on the pair scan
    (measured 1.79 s vs 1.00 s at sf0.1).  The numpy kernel masks
    NaN scores batch-side the same way."""
    q_norm = _norm_col(F.col("embedding"))
    queries = (emb.filter(query_pred).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        q_norm.alias("q_norm"))
        .filter((F.col("q_norm") > 0) & ~F.isnan("q_norm")))
    cands = (emb.select(
        "vec_id", "embedding",
        _norm_col(F.col("embedding")).alias("c_norm"))
        .filter((F.col("c_norm") > 0) & ~F.isnan("c_norm")))
    pairs = (cands.crossJoin(F.broadcast(queries))
             .filter(F.col("vec_id") != F.col("query_id")))
    qd = F.transform("q_emb", lambda x: x.cast("double"))
    cd = F.transform("embedding", lambda x: x.cast("double"))
    dot = _seq_sum(F.zip_with(qd, cd, lambda x, y: x * y))
    cos = dot / (F.col("q_norm") * F.col("c_norm"))
    scored = _partition_topk(
        pairs.select("query_id", "vec_id", cos.alias("cosine")), k)
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("cosine", F.round("cosine", 6)))


def hard_negative_topk(emb: DataFrame, query_pred, k: int = 3,
                       label_col: str = "label") -> DataFrame:
    """X88: HARD-NEGATIVE MINING — for each query vector, the top-k
    most-similar vectors with a DIFFERENT label: the contrastive-
    training counterpart of :func:`cosine_topk` (a hard negative is
    a near-miss the model must learn to push away; random negatives
    are too easy to carry gradient — public InfoNCE/DPR practice).

    Same plan shape and determinism contract as cosine_topk (query
    side broadcast, per-vector norms, partition-local top-k before
    the single exchange, (-cosine, vec_id) tie-break, zero-norm
    vectors dropped per vector); the only difference is the label
    inequality applied per pair BEFORE scoring, so excluded pairs
    never cost a dot product.  At 100 TB the label filter doesn't
    change the bound: the exchange still carries
    ~partitions x queries x k rows."""
    queries = (emb.filter(query_pred).select(
        F.col("vec_id").alias("query_id"),
        F.col(label_col).alias("q_label"),
        F.col("embedding").alias("q_emb"),
        _norm_col(F.col("embedding")).alias("q_norm"))
        .filter((F.col("q_norm") > 0) & ~F.isnan("q_norm")))
    cands = (emb.select(
        "vec_id", F.col(label_col).alias("neg_label"), "embedding",
        _norm_col(F.col("embedding")).alias("c_norm"))
        .filter((F.col("c_norm") > 0) & ~F.isnan("c_norm")))
    pairs = (cands.crossJoin(F.broadcast(queries))
             .filter(F.col("neg_label") != F.col("q_label")))
    qd = F.transform("q_emb", lambda x: x.cast("double"))
    cd = F.transform("embedding", lambda x: x.cast("double"))
    dot = _seq_sum(F.zip_with(qd, cd, lambda x, y: x * y))
    cos = dot / (F.col("q_norm") * F.col("c_norm"))
    # labels ride through the pruner (it keys on query_id/cosine/
    # vec_id and passes other columns through) — no corpus-sized
    # label join after the fact
    scored = _partition_topk(
        pairs.select("query_id", "q_label", "vec_id", "neg_label",
                     cos.alias("cosine")), k)
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("cosine", F.round("cosine", 6))
            .select("query_id", "q_label", "vec_id", "neg_label",
                    "cosine", "rank"))


def sim_join(emb: DataFrame, threshold: float,
             block_col: str = "label") -> DataFrame:
    """L8: pairwise similarity join (cosine >= threshold) with a
    mandatory blocking key — the declared semantics include the
    block, so the plan is an equi-join, never O(n^2)."""
    a = (emb.select(F.col("vec_id").alias("vec_a"),
                    F.col("embedding").alias("emb_a"),
                    _norm_col(F.col("embedding")).alias("norm_a"),
                    F.col(block_col).alias("blk"))
         .filter((F.col("norm_a") > 0) & ~F.isnan("norm_a")))
    b = (emb.select(F.col("vec_id").alias("vec_b"),
                    F.col("embedding").alias("emb_b"),
                    _norm_col(F.col("embedding")).alias("norm_b"),
                    F.col(block_col).alias("blk"))
         .filter((F.col("norm_b") > 0) & ~F.isnan("norm_b")))
    pairs = a.join(b, "blk").filter(F.col("vec_a") < F.col("vec_b"))
    ad = F.transform("emb_a", lambda x: x.cast("double"))
    bd = F.transform("emb_b", lambda x: x.cast("double"))
    dot = _seq_sum(F.zip_with(ad, bd, lambda x, y: x * y))
    # plain divide is safe: zero/NaN norms were dropped per-vector
    cos = dot / (F.col("norm_a") * F.col("norm_b"))
    return (pairs.select("blk", "vec_a", "vec_b", cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold)
            .withColumn("cosine", F.round("cosine", 6)))


# ---------------------------------------------------------------------------
# Scale path: Arrow/numpy kernel + LSH bucketing
# ---------------------------------------------------------------------------

def brute_force_topk_numpy(emb: DataFrame, query_pred,
                           k: int = 5) -> DataFrame:
    """L7 scale path: numpy matmul per Arrow batch, partition-local
    top-k, global merge via window.  ~100x the expression fold's
    throughput; property-tested equal (to fp tolerance) to
    :func:`cosine_topk`."""
    queries = emb.filter(query_pred).select("vec_id", "embedding").collect()
    if not queries:
        raise ValueError("query predicate selected no vectors")
    import numpy as np
    q_ids = [r["vec_id"] for r in queries]
    q_mat = np.array([r["embedding"] for r in queries], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    spark = emb.sparkSession
    b_ids = spark.sparkContext.broadcast(q_ids)
    b_mat = spark.sparkContext.broadcast(q_mat)

    out_schema = "query_id long, vec_id long, cosine double"

    def _part(batches):
        import numpy as np
        import pandas as pd
        qi = np.asarray(b_ids.value)
        qm = b_mat.value
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ qm.T                      # (n_cand, n_query)
            frames = []
            for j in range(sims.shape[1]):
                col = sims[:, j]
                # drop NaN (zero-norm) scores — same invariant as the
                # exact path, where lexsort/DESC would otherwise differ
                mask = (ids != qi[j]) & ~np.isnan(col)
                cid, cs = ids[mask], col[mask]
                if len(cid) > k:                   # partition-local prune
                    # lexsort on (-cosine, vec_id): keeps the declared
                    # tie-break, so a boundary tie can't drop the
                    # smaller vec_id before the global merge.
                    top = np.lexsort((cid, -cs))[:k]
                    cid, cs = cid[top], cs[top]
                frames.append(pd.DataFrame(
                    {"query_id": qi[j], "vec_id": cid, "cosine": cs}))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    local = emb.select("vec_id", "embedding").mapInPandas(_part, out_schema)
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("cosine", F.round("cosine", 6)))


def bnl_topk(emb: DataFrame, query_pred, k: int = 5,
             q_block: int = 64, c_block: int = 1024) -> DataFrame:
    """X119: EXACT brute-force top-k where BOTH sides stay DataFrames
    end to end — the block nested-loop form of
    :func:`brute_force_topk_numpy` for the regime where even the
    QUERY BATCH is too large to collect/broadcast (the last
    driver-collect contract in the similarity family; x114 removed
    it for the IVF path, this removes it for the exact path).

    Plan: queries are hash-packed into ~``q_block``-vector blocks and
    the corpus into ~``c_block``-vector blocks (one collect_list
    aggregate each — block rows are matrix tiles, metadata-free);
    every (corpus-tile x query-tile) pair is ONE numpy dgemm task
    emitting at most k rows per query in the tile, pruned again
    per-partition before the single (query_id)-keyed merge exchange.

    Scale (100 TB): exact brute force is inherently O(|C| x |Q|)
    FLOPs — no plan changes that — but the BYTES are bounded: corpus
    bytes are replicated exactly n_query_blocks times (the BNL lower
    bound), each task is a (c_block x dim) @ (dim x q_block) matmul
    sized to stay cache-resident, and no single node ever holds more
    than one tile pair.  Catalyst sizes the tile-pair join itself
    (broadcast while one side is metadata-small, cartesian-partitioned
    when both are big).  Every stage scales out with both counts; the
    driver never sees a vector.

    Determinism contract: float64 normalize + matmul, NaN (zero-norm)
    and self-pairs masked batch-side, (-cosine, vec_id) lexsort at
    every prune — same invariants as the collect-query kernel, so the
    two paths return the same neighbor ids on non-degenerate data
    (locked by the x119 registry row + block-size invariance test).
    Tiling CAN change dgemm accumulation order, so raw cosines agree
    only to fp tolerance — same caveat as l7_topk_numpy's oracle."""
    from math import ceil
    n_q = emb.filter(query_pred).count()
    if n_q == 0:
        raise ValueError("query predicate selected no vectors")
    n_c = emb.count()
    n_qb = max(1, ceil(n_q / q_block))
    n_cb = max(1, ceil(n_c / c_block))
    q_g = (emb.filter(query_pred)
           .select(F.col("vec_id").alias("query_id"), "embedding")
           .groupBy(F.pmod(F.hash("query_id"), F.lit(n_qb)).alias("qb"))
           .agg(F.collect_list(F.struct("query_id", "embedding"))
                .alias("qs")))
    c_g = (emb.select("vec_id", "embedding")
           .groupBy(F.pmod(F.hash("vec_id"), F.lit(n_cb)).alias("cb"))
           .agg(F.collect_list(F.struct("vec_id", "embedding"))
                .alias("cs")))
    blocks = c_g.crossJoin(q_g)

    out_schema = "query_id long, vec_id long, cosine double"

    def _tile(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            if not len(pdf):          # empty Arrow batch (r9, ADVICE)
                continue
            for crow, qrow in zip(pdf["cs"], pdf["qs"]):
                if not len(crow) or not len(qrow):
                    continue
                c_ids = np.array([r["vec_id"] for r in crow])
                c_mat = np.array([r["embedding"] for r in crow],
                                 dtype=np.float64)
                q_ids = np.array([r["query_id"] for r in qrow])
                q_mat = np.array([r["embedding"] for r in qrow],
                                 dtype=np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
                    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
                sims = c_mat @ q_mat.T             # (n_cand, n_query)
                frames = []
                for j in range(sims.shape[1]):
                    col = sims[:, j]
                    mask = (c_ids != q_ids[j]) & ~np.isnan(col)
                    cid, cs_ = c_ids[mask], col[mask]
                    if len(cid) > k:
                        top = np.lexsort((cid, -cs_))[:k]
                        cid, cs_ = cid[top], cs_[top]
                    frames.append(pd.DataFrame(
                        {"query_id": q_ids[j], "vec_id": cid,
                         "cosine": cs_}))
                if frames:
                    yield pd.concat(frames, ignore_index=True)

    local = _partition_topk(blocks.mapInPandas(_tile, out_schema), k)
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("cosine", F.round("cosine", 6)))


def bnl_hard_negatives(emb: DataFrame, query_pred, k: int = 3,
                       label_col: str = "label",
                       q_block: int = 64,
                       c_block: int = 1024) -> DataFrame:
    """X88b (r13): HARD-NEGATIVE MINING on the tiled block
    nested-loop path — :func:`hard_negative_topk`'s semantics
    (top-k most-cosine-similar vectors whose LABEL differs, the
    contrastive-training near-misses) on :func:`bnl_topk`'s
    execution shape: both sides stay DataFrames end to end, every
    (corpus-tile x query-tile) pair is one numpy dgemm task, and the
    label inequality is a vectorized mask applied to the similarity
    matrix BEFORE the per-query top-k — excluded pairs cost a
    compare, never a sort slot.

    Why it exists: the expression-path x88 builds per-pair array
    structs through zip_with/aggregate, which is allocation-heavy
    and the suite's most cache-state-sensitive row (BASELINE.md r13
    watch note); the dgemm tile does the same FLOPs out of
    contiguous float64 buffers.  And like x119 vs l7, it removes
    the scale ceiling: a 10 M-query mining job tiles out instead of
    broadcasting the query batch.

    Determinism contract: float64 normalize + matmul, NaN
    (zero-norm) masked, label-inequality mask (self-pairs fall out
    for free — a vector shares its own label), (-cosine, vec_id)
    lexsort at every prune — identical neighbor ids/ranks to the
    expression path; tiling can change dgemm accumulation order, so
    raw cosines agree to fp tolerance only (the l7_topk_numpy /
    x119 oracle discipline)."""
    from math import ceil
    n_q = emb.filter(query_pred).count()
    if n_q == 0:
        raise ValueError("query predicate selected no vectors")
    n_c = emb.count()
    n_qb = max(1, ceil(n_q / q_block))
    n_cb = max(1, ceil(n_c / c_block))
    # NULL labels drop from BOTH sides before tiling (ADVICE r13 #1):
    # the expression path's `neg_label != q_label` is NULL-rejecting,
    # while numpy's object-dtype `c_lab != q_lab[j]` evaluates
    # None != x as True — without this filter the tile kernel would
    # admit null-label candidates the expression path excludes.
    q_g = (emb.filter(query_pred)
           .filter(F.col(label_col).isNotNull())
           .select(F.col("vec_id").alias("query_id"),
                   F.col(label_col).alias("q_label"), "embedding")
           .groupBy(F.pmod(F.hash("query_id"), F.lit(n_qb)).alias("qb"))
           .agg(F.collect_list(
               F.struct("query_id", "q_label", "embedding"))
               .alias("qs")))
    c_g = (emb.filter(F.col(label_col).isNotNull())
           .select("vec_id", F.col(label_col).alias("neg_label"),
                   "embedding")
           .groupBy(F.pmod(F.hash("vec_id"), F.lit(n_cb)).alias("cb"))
           .agg(F.collect_list(
               F.struct("vec_id", "neg_label", "embedding"))
               .alias("cs")))
    blocks = c_g.crossJoin(q_g)

    out_schema = ("query_id long, q_label int, vec_id long, "
                  "neg_label int, cosine double")

    def _tile(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            if not len(pdf):          # empty Arrow batch (r9, ADVICE)
                continue
            for crow, qrow in zip(pdf["cs"], pdf["qs"]):
                if not len(crow) or not len(qrow):
                    continue
                c_ids = np.array([r["vec_id"] for r in crow])
                c_lab = np.array([r["neg_label"] for r in crow])
                c_mat = np.array([r["embedding"] for r in crow],
                                 dtype=np.float64)
                q_ids = np.array([r["query_id"] for r in qrow])
                q_lab = np.array([r["q_label"] for r in qrow])
                q_mat = np.array([r["embedding"] for r in qrow],
                                 dtype=np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    c_mat /= np.linalg.norm(c_mat, axis=1,
                                            keepdims=True)
                    q_mat /= np.linalg.norm(q_mat, axis=1,
                                            keepdims=True)
                sims = c_mat @ q_mat.T             # (n_cand, n_query)
                frames = []
                for j in range(sims.shape[1]):
                    col = sims[:, j]
                    mask = (c_lab != q_lab[j]) & ~np.isnan(col)
                    cid, cl, cs_ = c_ids[mask], c_lab[mask], col[mask]
                    if len(cid) > k:
                        top = np.lexsort((cid, -cs_))[:k]
                        cid, cl, cs_ = cid[top], cl[top], cs_[top]
                    frames.append(pd.DataFrame(
                        {"query_id": q_ids[j], "q_label": q_lab[j],
                         "vec_id": cid, "neg_label": cl,
                         "cosine": cs_}))
                if frames:
                    yield pd.concat(frames, ignore_index=True)

    local = _partition_topk(blocks.mapInPandas(_tile, out_schema), k)
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("cosine", F.round("cosine", 6))
            .select("query_id", "q_label", "vec_id", "neg_label",
                    "cosine", "rank"))


def _kmeans_centroids(vecs, n_cells: int, n_iter: int = 8,
                      seed: int = 7):
    """Seeded spherical k-means on a driver-side SAMPLE (numpy).
    k-means++ init, then Lloyd iterations with cosine assignment and
    renormalized mean updates; empty cells keep their old centroid.
    Deterministic for a fixed sample + seed."""
    import numpy as np
    rng = np.random.default_rng(seed)
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cents = [vecs[int(rng.integers(len(vecs)))]]
    for _ in range(n_cells - 1):               # k-means++ seeding
        C = np.array(cents)
        d2 = np.min(((vecs[:, None, :] - C[None]) ** 2).sum(-1), axis=1)
        if d2.sum() == 0:
            cents.append(vecs[int(rng.integers(len(vecs)))])
            continue
        cents.append(vecs[int(rng.choice(len(vecs), p=d2 / d2.sum()))])
    C = np.array(cents)
    for _ in range(n_iter):                    # Lloyd, cosine metric
        assign = (vecs @ C.T).argmax(axis=1)
        for c in range(n_cells):
            members = vecs[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    C[c] = m / n
    return C


def ivf_centroids(emb: DataFrame, n_cells: int,
                  quantizer: str = "kmeans", sample_cap: int = 4096):
    """Coarse-quantizer centroid matrix (numpy, unit-norm rows).
    Deterministic: the k-means sample is drawn by xxhash64(vec_id)
    order (layout-independent), seeds fixed in
    :func:`_kmeans_centroids`; the "first" quantizer is the
    ``n_cells`` lowest-vec_id vectors."""
    import numpy as np
    if quantizer == "kmeans":
        sample_rows = (emb.select("vec_id", "embedding")
                       .orderBy(F.xxhash64(F.col("vec_id")))
                       .limit(sample_cap).collect())
        smat = np.array([r["embedding"] for r in sample_rows],
                        dtype=np.float64)
        return _kmeans_centroids(smat, n_cells)
    cent_rows = (emb.orderBy("vec_id").limit(n_cells)
                 .select("embedding").collect())
    cmat = np.array([r["embedding"] for r in cent_rows],
                    dtype=np.float64)
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
    return cmat


def ivf_assign(emb: DataFrame, cmat) -> DataFrame:
    """(vec_id, embedding, cell): every vector labeled with its
    argmax-cosine centroid cell — one Arrow pass, no shuffle."""
    b_cent = emb.sparkSession.sparkContext.broadcast(cmat)
    assign_schema = "vec_id long, embedding array<float>, cell int"

    def _assign(batches):
        import numpy as np
        C = b_cent.value
        for pdf in batches:
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            M /= np.linalg.norm(M, axis=1, keepdims=True)
            pdf = pdf.copy()
            pdf["cell"] = (M @ C.T).argmax(axis=1).astype("int32")
            yield pdf

    return emb.select("vec_id", "embedding").mapInPandas(
        _assign, assign_schema)


def _probe_arrays(emb: DataFrame, query_pred, cmat, n_probe: int):
    """(collected query rows, per-query probe-cell matrix) — the
    driver-side arrays both the probe frame and the probed-cell list
    derive from (the query side is tiny by contract)."""
    import numpy as np
    q_rows = emb.filter(query_pred).select("vec_id", "embedding").collect()
    if not q_rows:
        raise ValueError("query predicate selected no vectors")
    qmat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
    probe = np.argsort(-(qmat @ cmat.T), axis=1)[:, :n_probe]
    return q_rows, probe


def _probe_frame(spark, q_rows, probe) -> DataFrame:
    from ..exprs import local_df
    return local_df(
        spark,
        [(int(r["vec_id"]), r["embedding"], int(c))
         for r, cells in zip(q_rows, probe) for c in cells],
        "query_id long, q_emb array<float>, cell int")


def ivf_probe_df(emb: DataFrame, query_pred, cmat,
                 n_probe: int) -> DataFrame:
    """One (query_id, q_emb, cell) row per probed cell per query —
    the query side is tiny by contract, so probe cells are computed
    driver-side and the frame is broadcast into the candidate join.
    Built via ``exprs.local_df`` (r14): the pickled-list form cost a
    Python-worker round-trip in every consuming stage."""
    q_rows, probe = _probe_arrays(emb, query_pred, cmat, n_probe)
    return _probe_frame(emb.sparkSession, q_rows, probe)


def ivf_index_write(emb: DataFrame, index_dir: str,
                    n_cells: int = 16, sample_cap: int = 4096):
    """IVF index BUILD step: assignment pass + a parquet sink
    PARTITIONED BY cell under ``index_dir``; returns the centroid
    matrix (the caller persists/broadcasts it — dim x n_cells floats,
    metadata-sized).  At 100 TB this runs once at ingest; the
    partition layout is what makes every later probe read
    ~n_probe/n_cells of the bytes (disk-level partition pruning,
    plan-gated in tests/test_plans.py)."""
    cmat = ivf_centroids(emb, n_cells, "kmeans", sample_cap)
    (ivf_assign(emb, cmat).write.mode("overwrite")
     .partitionBy("cell").parquet(index_dir))
    return cmat


def ivf_index_recluster(spark, index_dir: str, out_dir: str,
                        n_cells: int = 16, sample_cap: int = 4096):
    """IVF RE-CENTROIDING (x133, r10) — the maintenance pass x87's
    docstring left as "a policy knob": after a cadence of
    frozen-quantizer delta appends the centroids no longer describe
    the corpus (a drifted crawl's vectors crowd a few stale cells,
    so probes read ever-bigger partitions for the same recall).
    Retrain the coarse quantizer on the CURRENT index contents (the
    same deterministic xxhash64-ordered sample and fixed seeds as
    the one-shot build), reassign every vector in one Arrow pass,
    and rewrite ``out_dir`` in the canonical cell-partitioned
    layout; returns the new centroid matrix for the caller to
    publish alongside the swapped index (or persisted into the new
    layout via ``ivf_centroids_write`` so one pointer swap covers
    both — see ``maintenance.ivf_maintenance_sweep``).

    Identity contract: the index stores exactly the (vec_id,
    embedding) relation the builds wrote, so reclustering a layered
    index == ``ivf_index_write`` over the same corpus — same sample,
    same seeds, same centroids, same assignment (both parity
    booleans declared by the x133 registry row).  Scale (100 TB):
    one corpus-sized Arrow assignment pass + one cell-partitioned
    write, amortized over the recluster cadence (the ANN analog of
    l17/x123 compaction); probes keep serving the old layout until
    the atomic pointer swap (``publish.publish`` — r11, executable
    form of the swap this docstring used to leave to the caller)."""
    index_dir = _resolve_layout(index_dir)
    emb = spark.read.parquet(index_dir).select("vec_id", "embedding")
    cmat = ivf_centroids(emb, n_cells, "kmeans", sample_cap)
    (ivf_assign(emb, cmat).write.mode("overwrite")
     .partitionBy("cell").parquet(out_dir))
    return cmat


def ivf_centroids_write(index_dir: str, cmat) -> None:
    """Persist the coarse-quantizer centroid matrix NEXT TO the cell
    data it quantizes (r11): a ``_``-prefixed sidecar Spark's parquet
    reader ignores, the ``_lsh_meta.json`` discipline applied to the
    IVF index.  With centroids inside the layout directory, one
    pointer swap (``publish.publish``) versions index AND quantizer
    together — a probe can never pair new cells with stale centroids.
    JSON float serialization is repr-exact, so read(write(cmat)) is
    bit-identical (test-pinned)."""
    import json
    import os
    with open(os.path.join(index_dir, "_ivf_centroids.json"),
              "w") as f:
        json.dump([[float(v) for v in row] for row in cmat], f)


def ivf_centroids_read(index_dir: str):
    """Centroid matrix (numpy float64) from the layout's sidecar;
    accepts a plain layout directory or a versioned index root."""
    import json
    import os

    import numpy as np
    index_dir = _resolve_layout(index_dir)
    with open(os.path.join(index_dir, "_ivf_centroids.json")) as f:
        return np.array(json.load(f), dtype=np.float64)


def ivf_cell_census(spark, index_dir: str) -> tuple[int, int, int]:
    """(max_cell_rows, n_nonempty_cells, total_rows) over a persisted
    IVF index — ONE cell-keyed aggregate reading only the partition
    column (o(index) driver metadata), the input to
    :func:`recluster_is_due`."""
    index_dir = _resolve_layout(index_dir)
    row = (spark.read.parquet(index_dir)
           .groupBy("cell").agg(F.count(F.lit(1)).alias("c"))
           .agg(F.max("c").alias("mx"), F.count(F.lit(1)).alias("n"),
                F.sum("c").alias("tot")).first())
    return int(row["mx"]), int(row["n"]), int(row["tot"])


def recluster_is_due(max_cell: int, n_cells: int, total: int,
                     skew_threshold: int = 4) -> bool:
    """The recluster-cadence decision predicate (the
    ``orientation_is_skewed`` pattern: a pure, unit-testable integer
    rule apart from the operator it steers): re-centroiding is due
    when the largest cell holds >= ``skew_threshold`` x the mean
    cell size — ``max_cell * n_cells >= skew_threshold * total``.
    A fresh k-means build is roughly balanced; frozen-quantizer
    delta appends from a DRIFTED distribution crowd a few stale
    cells, and a crowded cell is exactly what makes probes read
    ever-bigger partitions for the same recall (the x126 n_probe
    economics decay with imbalance).  Exact integer arithmetic, no
    float division.

    Two documented limits: the ratio's ceiling is n_cells, so the
    trigger needs ``skew_threshold < n_cells`` to ever fire; and a
    refresh only rebalances imbalance CAUSED by staleness — an
    angularly tight mode stays one cell under spherical k-means by
    design (k-means++ will not seed twice inside a tiny cap, which
    is correct for cosine retrieval), so the trigger still firing
    right after a refresh says the imbalance is the data itself, not
    the quantizer (test-pinned)."""
    if skew_threshold < 1:
        raise ValueError(
            f"skew_threshold must be >= 1, got {skew_threshold}")
    return max_cell * n_cells >= skew_threshold * total


def _ivf_rank(cands: DataFrame, probe_df: DataFrame,
              k: int) -> DataFrame:
    """The shared IVF tail: join the cell-assigned candidates to the
    probe relation on cell, drop the self match, exact cosine
    rescore, then the per-query (cosine desc, vec_id) top-k window.
    The caller decides whether ``probe_df`` is wrapped in
    ``F.broadcast`` — that choice is what shapes each probe's plan."""
    pairs = (cands.join(probe_df, "cell")
             .filter(F.col("vec_id") != F.col("query_id")))
    cos = cosine_expr(F.col("q_emb"), F.col("embedding"))
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (pairs.select("query_id", "vec_id", cos.alias("cosine"))
            .filter(F.col("cosine").isNotNull() & ~F.isnan("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("cosine", F.round("cosine", 6)))


def ivf_index_probe(spark, index_dir: str, cmat, emb: DataFrame,
                    query_pred, k: int = 5,
                    n_probe: int = 4) -> DataFrame:
    """IVF index PROBE step against a PERSISTED index: the probe-cell
    filter lands on the index scan's partition column, so only the
    probed cell directories are read.  Exact cosine rescoring + the
    (cosine desc, vec_id) per-query top-k window over the pruned
    candidates — identical output contract to :func:`ivf_topk`.

    ``index_dir`` may be a plain layout directory or a VERSIONED
    index root (``publish.publish``); the pointer is resolved once
    up front so the probe reads a single consistent version."""
    index_dir = _resolve_layout(index_dir)
    # The probed-cell list is already known driver-side in the numpy
    # probe matrix — collecting it back out of the probe FRAME ran a
    # 32-task distinct+collect per probe (r14: 9.3 s of blocked
    # executor runtime for 0.38 s CPU, the pickled-RDD scan cost).
    q_rows, probe = _probe_arrays(emb, query_pred, cmat, n_probe)
    probe_df = _probe_frame(spark, q_rows, probe)
    cells = sorted({int(c) for c in probe.ravel()})
    index = (spark.read.parquet(index_dir)
             .filter(F.col("cell").isin(cells)))
    return _ivf_rank(index, F.broadcast(probe_df), k)


def ivf_topk(emb: DataFrame, query_pred, k: int = 5,
             n_cells: int = 16, n_probe: int = 4,
             quantizer: str = "kmeans",
             sample_cap: int = 4096) -> DataFrame:
    """L7 ANN variant 2: IVF (inverted-file) search.  A coarse
    quantizer assigns every vector to its nearest centroid cell
    (one Arrow pass, no shuffle); each query probes only its
    ``n_probe`` nearest cells, so the exact cosine runs on a
    ~n_probe/n_cells fraction of the corpus.

    Coarse quantizer (both deterministic, no unseeded RNG):
    - ``"kmeans"`` (default): seeded sampled k-means — sample up to
      ``sample_cap`` vectors by xxhash64(vec_id) order (a layout-
      independent pseudo-random draw, one TakeOrdered job), run a few
      Lloyd iterations driver-side, broadcast the centroids.  This is
      the quantizer with actual clustering properties — recall
      survives non-uniform data (property-tested on planted
      clusters).
    - ``"first"``: the ``n_cells`` lowest-vec_id vectors — the toy
      stand-in, kept for tests that need centroids independent of the
      sample machinery.

    At real scale the cell id is precomputed at ingest + used as a
    partition key, so the probe join prunes partitions — same plan
    shape as here.  Candidate restriction is a broadcast equi-join on
    cell id; the final top-k is a per-query window over the pruned
    candidates.  Recall is property-tested (planted neighbors +
    recall floor vs the exact operator); the registry row declares
    the measured recall as oracle-checkable booleans/counts rather
    than hash-matching approximate neighbor lists.
    """
    cmat = ivf_centroids(emb, n_cells, quantizer, sample_cap)
    cands = ivf_assign(emb, cmat)
    probe_df = ivf_probe_df(emb, query_pred, cmat, n_probe)
    return _ivf_rank(cands, F.broadcast(probe_df), k)


def ivf_probe_cells_distributed(queries: DataFrame, cmat,
                                n_probe: int) -> DataFrame:
    """Distributed twin of :func:`ivf_probe_df`: one (query_id,
    q_emb, cell) row per probed cell per query, computed WITHOUT
    collecting the query vectors to the driver — the centroid matrix
    (dim x n_cells floats, metadata-sized) is broadcast and each
    query partition assigns its own probe cells in one Arrow pass.

    The per-row arithmetic is the same numpy expression the collect
    path runs driver-side (``argsort(-(q @ C.T))[:n_probe]``), and
    probe-cell choice is row-local, so batching cannot change it —
    the two paths emit the identical probe relation (differential-
    tested in tests/test_operators.py and the x114 registry row)."""
    b_cent = queries.sparkSession.sparkContext.broadcast(cmat)
    out_schema = "query_id long, q_emb array<float>, cell int"

    def _probe(batches):
        import numpy as np
        import pandas as pd
        C = b_cent.value
        npr = n_probe
        for pdf in batches:
            if not len(pdf):          # empty Arrow batch (r9, ADVICE)
                continue
            qm = np.array(list(pdf["embedding"]), dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                qm /= np.linalg.norm(qm, axis=1, keepdims=True)
            cells = np.argsort(-(qm @ C.T), axis=1)[:, :npr]
            n = len(pdf)
            yield pd.DataFrame({
                "query_id": pdf["vec_id"].to_numpy().repeat(npr),
                "q_emb": [e for e in pdf["embedding"]
                          for _ in range(npr)],
                "cell": cells.reshape(n * npr).astype("int32"),
            })

    return (queries.select("vec_id", "embedding")
            .mapInPandas(_probe, out_schema))


def ivf_batch_topk(emb: DataFrame, query_pred, k: int = 5,
                   n_cells: int = 16, n_probe: int = 4,
                   quantizer: str = "kmeans",
                   sample_cap: int = 4096) -> DataFrame:
    """X114: IVF top-k where the QUERY SIDE STAYS A DATAFRAME end to
    end — the batch-join form of :func:`ivf_topk` for the 10 M-query
    regime where collecting query vectors to the driver (the
    "small by contract" serving shape) stops being small.

    Plan: the probe relation is computed per query partition against
    broadcast centroids (:func:`ivf_probe_cells_distributed`), then
    joined to the cell-assigned candidates on the cell id — a plain
    equi-join that Catalyst/AQE sizes (broadcast when the probe side
    is small, shuffle-hash on `cell` when it isn't; with a persisted
    index both sides are already cell-partitioned).  Exact cosine
    rescore + the per-query (cosine desc, vec_id) top-k window, whose
    partition key is query_id, scale out with the query count.

    Differential contract: with the same deterministic quantizer this
    is row-identical to :func:`ivf_topk` (same probe cells, same
    single-cell candidate membership, same order-fixed cosine fold) —
    locked by the x114 registry row.  No driver collect of any
    per-query data anywhere on this path."""
    cmat = ivf_centroids(emb, n_cells, quantizer, sample_cap)
    cands = ivf_assign(emb, cmat)
    probe_df = ivf_probe_cells_distributed(emb.filter(query_pred),
                                           cmat, n_probe)
    return _ivf_rank(cands, probe_df, k)


def ivf_index_probe_distributed(spark, index_dir: str, cmat,
                                queries: DataFrame, k: int = 5,
                                n_probe: int = 4) -> DataFrame:
    """Distributed-query variant of :func:`ivf_index_probe` against a
    PERSISTED cell-partitioned index.  Queries are never collected;
    the only driver materialization is the DISTINCT PROBED CELL LIST
    (bounded by n_cells — metadata, not data), which is what lets the
    cell filter land on the index scan's partition column so pruning
    still happens with a DataFrame query side."""
    index_dir = _resolve_layout(index_dir)
    probe_df = ivf_probe_cells_distributed(queries, cmat, n_probe)
    probe_df = probe_df.localCheckpoint(eager=True)  # reused twice
    cells = sorted(r["cell"] for r in
                   probe_df.select("cell").distinct().collect())
    index = (spark.read.parquet(index_dir)
             .filter(F.col("cell").isin(cells)))
    return _ivf_rank(index, probe_df, k)


def _pq_codebooks(sample_mat, m: int = 8, ksub: int = 16,
                  n_iter: int = 8, seed: int = 13):
    """Seeded per-subspace k-means codebooks for product quantization:
    split the (normalized) dimension range into ``m`` contiguous
    subspaces, run k-means++-seeded Lloyd with ``ksub`` centroids in
    each.  Returns (m, ksub, d/m).  Deterministic for a fixed sample
    + seed (same discipline as :func:`_kmeans_centroids`)."""
    import numpy as np
    n, d = sample_mat.shape
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = []
    for s in range(m):
        X = sample_mat[:, s * dsub:(s + 1) * dsub]
        cents = [X[int(rng.integers(len(X)))]]
        for _ in range(ksub - 1):
            C = np.array(cents)
            d2 = np.min(((X[:, None, :] - C[None]) ** 2).sum(-1), axis=1)
            if d2.sum() == 0:
                cents.append(X[int(rng.integers(len(X)))])
                continue
            cents.append(X[int(rng.choice(len(X), p=d2 / d2.sum()))])
        C = np.array(cents)
        for _ in range(n_iter):
            assign = ((X[:, None, :] - C[None]) ** 2).sum(-1).argmin(1)
            for c in range(ksub):
                members = X[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append(C)
    return np.array(books)


def pq_topk(emb: DataFrame, query_pred, k: int = 5,
            m: int = 16, ksub: int = 32, refine: int = 16,
            sample_cap: int = 4096) -> DataFrame:
    """L7 ANN variant 3: product quantization (PQ) with asymmetric
    distance computation (ADC) and exact re-ranking — the
    memory-bound ANN tier (Jégou et al. 2011 scheme, public): each
    64-dim float vector compresses to ``m`` one-byte codes (16x at
    the m=16 default), so at 100 TB the code table fits where the
    raw vectors cannot.

    Plan: (1) seeded sampled codebooks (one TakeOrdered job +
    driver-side per-subspace k-means, broadcast — same discipline as
    IVF's quantizer); (2) ONE Arrow encode pass, row-local, emitting
    (vec_id, m codes); (3) per query an ADC lookup table (m x ksub
    inner products) scores every code row as a numpy gather-sum —
    no per-pair float vectors, no shuffle; partition-local
    top-(refine*k) keeps the exchange at partitions x queries x
    refine*k rows; (4) the surviving ~refine*k candidate ids join
    back to raw embeddings for EXACT cosine re-ranking, so the only
    approximation is candidate membership.  Recall is property-tested
    vs the exact operator; the registry row declares it as
    oracle-checkable booleans rather than hash-matching approximate
    neighbor lists.

    Parameter curve at sf0.1 on the UNIFORM fixture vectors — the
    worst case for any quantizer — measured r5, wall-clock on
    local[16] in parens:
      m=8  ksub=32 refine=16 -> 0.715 (2.4 s)   [r4 defaults, 32x]
      m=8  ksub=32 refine=32 -> 0.885 (1.9 s)
      m=8  ksub=64 refine=32 -> 0.955 (3.2 s)
      m=16 ksub=32 refine=16 -> 0.980 (2.0 s)   [defaults since r5, 16x]
      m=16 ksub=32 refine=32 -> 1.000 (2.0 s)
    Halving the subspace width (dsub 8 -> 4 by doubling m) buys far
    more recall than widening the codebook or the refine pool,
    because uniform vectors have no cluster structure for centroids
    to exploit — only finer subspaces shrink the quantization cell.
    The defaults measure 1.0/1.0/0.98 at sf0.001/0.01/0.1; declared
    floor 0.8 (`queries/llm.py l7_topk_pq`), at 16x compression
    instead of r4's 32x — the documented memory trade-off."""
    import numpy as np
    sample_rows = (emb.select("vec_id", "embedding")
                   .orderBy(F.xxhash64(F.col("vec_id")))
                   .limit(sample_cap).collect())
    smat = np.array([r["embedding"] for r in sample_rows], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        smat /= np.linalg.norm(smat, axis=1, keepdims=True)
    smat = smat[~np.isnan(smat).any(axis=1)]
    books = _pq_codebooks(smat, m=m, ksub=ksub)          # (m, ksub, dsub)
    spark = emb.sparkSession
    b_books = spark.sparkContext.broadcast(books)

    q_rows = emb.filter(query_pred).select("vec_id", "embedding").collect()
    if not q_rows:
        raise ValueError("query predicate selected no vectors")
    q_ids = np.asarray([r["vec_id"] for r in q_rows])
    qmat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
    b_qids = spark.sparkContext.broadcast(q_ids)
    b_qmat = spark.sparkContext.broadcast(qmat)

    n_cand = refine * k
    out_schema = "query_id long, vec_id long"

    def _adc(batches):
        import numpy as np
        import pandas as pd
        B = b_books.value                    # (m, ksub, dsub)
        mm, kk, dsub = B.shape
        qi, qm = b_qids.value, b_qmat.value
        # per-query LUT: (n_q, m, ksub) inner products q_sub · centroid
        lut = np.einsum("qsd,skd->qsk",
                        qm.reshape(len(qm), mm, dsub), B)
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                M /= np.linalg.norm(M, axis=1, keepdims=True)
            nan_mask = np.isnan(M).any(axis=1)
            Msub = M.reshape(len(M), mm, dsub)
            # encode: argmin squared distance per subspace
            codes = np.stack([
                ((Msub[:, s, None, :] - B[s][None]) ** 2).sum(-1).argmin(1)
                for s in range(mm)], axis=1)          # (n, m)
            frames = []
            for j in range(len(qi)):
                # ADC score = sum_s LUT[j, s, code_s]
                score = lut[j][np.arange(mm)[None, :], codes].sum(axis=1)
                mask = (ids != qi[j]) & ~nan_mask
                cid, cs = ids[mask], score[mask]
                if len(cid) > n_cand:
                    top = np.lexsort((cid, -cs))[:n_cand]
                    cid = cid[top]
                frames.append(pd.DataFrame(
                    {"query_id": qi[j], "vec_id": cid}))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cand = (emb.select("vec_id", "embedding")
            .mapInPandas(_adc, out_schema))
    # global refine*k cut per query on the ADC candidates is implicit:
    # exact re-rank keeps only k anyway, and every partition already
    # pruned to refine*k.
    q_df = (emb.filter(query_pred)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("q_emb")))
    raw = emb.select("vec_id", "embedding",
                     _norm_col(F.col("embedding")).alias("c_norm"))
    pairs = (cand.join(raw, "vec_id")
             .join(F.broadcast(q_df), "query_id")
             .filter((F.col("c_norm") > 0) & ~F.isnan("c_norm")))
    cos = cosine_expr(F.col("q_emb"), F.col("embedding"))
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (pairs.select("query_id", "vec_id", cos.alias("cosine"))
            .filter(F.col("cosine").isNotNull() & ~F.isnan("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("cosine", F.round("cosine", 6)))


N_PLANES = 8
_PLANE_SEED = 42


def lsh_bucket_expr(dim: int = 64, n_planes: int = N_PLANES):
    """Random-hyperplane LSH bucket id (deterministic, seeded numpy)
    as a pure Spark expression: sign-bit of <v, plane_i> per plane."""
    import numpy as np
    rng = np.random.default_rng(_PLANE_SEED)
    planes = rng.standard_normal((n_planes, dim))

    def bucket(vec):
        vd = F.transform(vec, lambda x: x.cast("double"))
        bits = []
        for i in range(n_planes):
            dot = _seq_sum(F.zip_with(
                vd,
                F.array(*[F.lit(float(p)) for p in planes[i]]),
                lambda x, y: x * y))
            bits.append(F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out

    return bucket


def lsh_bucket_sql(vec: str, dim: int = 64,
                   n_planes: int = N_PLANES) -> str:
    """DuckDB twin of :func:`lsh_bucket_expr`: the SAME seeded plane
    constants embedded as literal arrays, the same sequential-fold
    dot product, the same sign-bit packing — so the bucket id (and
    therefore the whole LSH top-k) is exactly reproducible in SQL.
    repr() literals round-trip to the identical IEEE double in both
    engines."""
    import numpy as np
    rng = np.random.default_rng(_PLANE_SEED)
    planes = rng.standard_normal((n_planes, dim))
    terms = []
    for i in range(n_planes):
        arr = "[" + ", ".join(repr(float(p)) for p in planes[i]) + "]"
        dot = (f"LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)], "
               f"LIST_TRANSFORM(LIST_ZIP({vec}, {arr}), "
               f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), "
               f"(acc, v) -> acc + v)")
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def lsh_topk(emb: DataFrame, query_pred, k: int = 5,
             dim: int = 64) -> DataFrame:
    """L7 ANN variant: candidates restricted to the query's LSH
    bucket.  Property-tested recall vs exact top-k; at scale the
    bucket column is precomputed and the join is bucket-equi."""
    bucket = lsh_bucket_expr(dim)
    with_b = emb.withColumn("bucket", bucket(F.col("embedding")))
    queries = with_b.filter(query_pred).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket"))
    cands = with_b.select("vec_id", "embedding", "bucket")
    pairs = (cands.join(F.broadcast(queries), "bucket")
             .filter(F.col("vec_id") != F.col("query_id")))
    cos = cosine_expr(F.col("q_emb"), F.col("embedding"))
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (pairs.select("query_id", "vec_id", cos.alias("cosine"))
            .filter(F.col("cosine").isNotNull() & ~F.isnan("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("cosine", F.round("cosine", 6)))
