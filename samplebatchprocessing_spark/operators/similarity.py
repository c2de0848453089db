"""Similarity search over embedding columns (SURVEY §2B L7/L8).

Two tiers: an **exact** cosine of order-fixed double folds —
deterministic across engines (oracle-checkable), expression-only —
and a **scale path** of Arrow numpy kernels (`mapInPandas`) plus
seeded LSH / IVF / PQ candidate pruning.  Every top-k is one pattern
(REPOSE, ICDE 2021): a partition-local prune, then one global merge,
with one contract — rank by (cosine desc, vec_id), drop self and NaN
pairs, round to 6 digits — kept in one core: :func:`_topk` (the
merge window), :func:`_join_pairs` → :func:`_rescore_topk` (the
IVF/LSH keyed join and the exact ANN rescore), :func:`_block_topk`
(the numpy prune kernel), and one body each for the expression and
the tiled top-k (:func:`_exact_topk`, :func:`_tiled_topk`), where a
hard-negative operator is its top-k twin keyed on the label.

At 100 TB the exact form is a blocked pairwise join (block key
mandatory); the ANN form scans each partition once with a broadcast
query matrix — no shuffle at all until the final k-row merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..session import ship_package
from .publish import _get_json, _put_json, resolve as _resolve_layout

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


def _unit(mat):
    """Rows scaled to unit norm; a zero row becomes NaN, silently."""
    import numpy as np
    with np.errstate(divide="ignore", invalid="ignore"):
        return mat / np.linalg.norm(mat, axis=1, keepdims=True)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The global merge of every top-k: the per-query (cosine desc,
    vec_id) window, ``rank <= k``, cosine rounded to 6 digits."""
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("cosine", F.round("cosine", 6)))


def _join_pairs(cands: DataFrame, queries: DataFrame,
                key: str) -> DataFrame:
    """The one keyed candidate join: candidates meet the queries that
    share their ``key`` (IVF ``cell``, LSH ``bucket``), self pairs
    dropped.  The caller decides whether ``queries`` is wrapped in
    ``F.broadcast`` — that choice is what shapes each probe's plan."""
    return (cands.join(queries, key)
            .filter(F.col("vec_id") != F.col("query_id")))


def _rescore_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Exact :func:`cosine_expr` rescore of (query_id, q_emb, vec_id,
    embedding) pairs, NULL/NaN scores dropped, then :func:`_topk`."""
    cos = cosine_expr(F.col("q_emb"), F.col("embedding"))
    return _topk(pairs.select("query_id", "vec_id", cos.alias("cosine"))
                 .filter(F.col("cosine").isNotNull()
                         & ~F.isnan("cosine")), k)


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


def _block_topk(c_mat, q_mat, c_key, q_key, c_cols, q_cols, k: int):
    """The one numpy top-k kernel, per Arrow batch or tile pair:
    normalise both float64 sides, score ``c_mat @ q_mat.T``, keep each
    query's k best by lexsort on (-cosine, vec_id) — the declared
    tie-break, so a boundary tie can't drop the smaller vec_id before
    the global merge.  Candidates whose exclusion key ``c_key`` equals
    the query's ``q_key`` are masked, and so are NaN (zero-norm)
    scores, where lexsort and Spark's DESC would disagree.
    ``c_cols``/``q_cols`` map output names to per-row arrays
    (``c_cols`` holds ``vec_id``); ``q_mat`` has at least one row."""
    import numpy as np
    import pandas as pd
    sims = _unit(c_mat) @ _unit(q_mat).T       # (n_cand, n_query)
    ids = c_cols["vec_id"]
    frames = []
    for j in range(sims.shape[1]):
        col = sims[:, j]
        keep = np.flatnonzero((c_key != q_key[j]) & ~np.isnan(col))
        if len(keep) > k:
            keep = keep[np.lexsort((ids[keep], -col[keep]))[:k]]
        frames.append(pd.DataFrame(
            {**{n: v[j] for n, v in q_cols.items()},
             **{n: v[keep] for n, v in c_cols.items()},
             "cosine": col[keep]}))
    return pd.concat(frames, ignore_index=True)


def _exclusion(label_col):
    """(query-side carried columns, candidate-side carried columns,
    (query key, candidate key)): a pair with equal keys is never
    scored.  A top-k keys on the ids (self pairs drop); hard-negative
    mining on ``label_col``, carried as ``q_label``/``neg_label``."""
    if label_col is None:
        return {}, {}, ("query_id", "vec_id")
    return ({"q_label": label_col}, {"neg_label": label_col},
            ("q_label", "neg_label"))


def _exact_topk(emb: DataFrame, query_pred, k: int,
                label_col) -> DataFrame:
    """The one expression top-k body behind :func:`cosine_topk` and
    :func:`hard_negative_topk`, which differ only in the exclusion
    key (:func:`_exclusion`); see :func:`cosine_topk` for the plan."""
    q_lab, c_lab, (q_key, c_key) = _exclusion(label_col)
    queries = (emb.filter(query_pred).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(c).alias(n) for n, c in q_lab.items()],
        F.col("embedding").alias("q_emb"),
        _norm_col(F.col("embedding")).alias("q_norm"))
        .filter((F.col("q_norm") > 0) & ~F.isnan("q_norm")))
    cands = (emb.select(
        "vec_id", *[F.col(c).alias(n) for n, c in c_lab.items()],
        "embedding", _norm_col(F.col("embedding")).alias("c_norm"))
        .filter((F.col("c_norm") > 0) & ~F.isnan("c_norm")))
    # the exclusion applies per pair BEFORE scoring, so excluded pairs
    # never cost a dot product
    pairs = (cands.crossJoin(F.broadcast(queries))
             .filter(F.col(c_key) != F.col(q_key)))
    qd = F.transform("q_emb", lambda x: x.cast("double"))
    cd = F.transform("embedding", lambda x: x.cast("double"))
    dot = _seq_sum(F.zip_with(qd, cd, lambda x, y: x * y))
    cos = dot / (F.col("q_norm") * F.col("c_norm"))
    # labels ride through the pruner (it keys on query_id/cosine/
    # vec_id and passes other columns through) — no corpus-sized
    # label join after the fact
    return _topk(_partition_topk(
        pairs.select("query_id", *q_lab, "vec_id", *c_lab,
                     cos.alias("cosine")), k), k)


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
    return _exact_topk(emb, query_pred, k, None)


def hard_negative_topk(emb: DataFrame, query_pred, k: int = 3,
                       label_col: str = "label") -> DataFrame:
    """X88: HARD-NEGATIVE MINING — for each query vector, the top-k
    most-similar vectors with a DIFFERENT label: the contrastive-
    training counterpart of :func:`cosine_topk` (a hard negative is
    a near-miss the model must learn to push away; random negatives
    are too easy to carry gradient — public InfoNCE/DPR practice).

    The same body as cosine_topk (query side broadcast, per-vector
    norms, partition-local top-k before the single exchange,
    (-cosine, vec_id) tie-break, zero-norm vectors dropped per
    vector) with the label as the exclusion key: ``neg_label !=
    q_label`` replaces ``vec_id != query_id`` per pair, before
    scoring.  At 100 TB the label filter doesn't change the bound:
    the exchange still carries ~partitions x queries x k rows."""
    return _exact_topk(emb, query_pred, k, label_col)


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
    """L7 scale path: the collected queries are broadcast, and every
    Arrow batch of the corpus runs :func:`_block_topk` against them
    (one matmul, partition-local top-k); the global merge is the
    window.  ~100x the expression fold's throughput; property-tested
    equal (to fp tolerance) to :func:`cosine_topk`."""
    queries = emb.filter(query_pred).select("vec_id", "embedding").collect()
    if not queries:
        raise ValueError("query predicate selected no vectors")
    import numpy as np
    ship_package(emb.sparkSession)      # the kernel runs worker-side
    sc = emb.sparkSession.sparkContext
    b_ids = sc.broadcast(np.array([r["vec_id"] for r in queries]))
    b_mat = sc.broadcast(np.array([r["embedding"] for r in queries],
                                  dtype=np.float64))

    def _part(batches):
        import numpy as np
        qi = b_ids.value
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            yield _block_topk(
                np.array(list(pdf["embedding"]), dtype=np.float64),
                b_mat.value, ids, qi, {"vec_id": ids}, {"query_id": qi}, k)

    return _topk(emb.select("vec_id", "embedding").mapInPandas(
        _part, "query_id long, vec_id long, cosine double"), k)


def _tiled_topk(emb: DataFrame, query_pred, k: int, q_block: int,
                c_block: int, label_col) -> DataFrame:
    """The one block nested-loop body behind :func:`bnl_topk` and
    :func:`bnl_hard_negatives`, which differ only in the exclusion key
    (:func:`_exclusion`); see :func:`bnl_topk` for the plan."""
    from math import ceil
    n = emb.agg(F.count_if(query_pred).alias("q"),
                F.count(F.lit(1)).alias("c")).first()
    if n["q"] == 0:
        raise ValueError("query predicate selected no vectors")
    ship_package(emb.sparkSession)      # the kernel runs worker-side
    q_lab, c_lab, (q_key, c_key) = _exclusion(label_col)
    queries, cands = emb.filter(query_pred), emb
    if label_col is not None:
        # NULL labels drop from BOTH sides before tiling (ADVICE r13
        # #1): the expression path's `neg_label != q_label` is
        # NULL-rejecting, while numpy's object-dtype `c_key !=
        # q_key[j]` evaluates None != x as True — without this filter
        # the kernel would admit null-label candidates the expression
        # path excludes.
        queries, cands = (d.filter(F.col(label_col).isNotNull())
                          for d in (queries, cands))
    qs = queries.select(F.col("vec_id").alias("query_id"),
                        *[F.col(c).alias(n) for n, c in q_lab.items()],
                        "embedding")
    cs = cands.select("vec_id",
                      *[F.col(c).alias(n) for n, c in c_lab.items()],
                      "embedding")
    # one matrix tile per hash block: (block id, [struct of a row])
    q_g = (qs.groupBy(F.pmod(F.hash("query_id"),
                             F.lit(max(1, ceil(n["q"] / q_block))))
                      .alias("qb"))
           .agg(F.collect_list(F.struct(*qs.columns)).alias("qs")))
    c_g = (cs.groupBy(F.pmod(F.hash("vec_id"),
                             F.lit(max(1, ceil(n["c"] / c_block))))
                      .alias("cb"))
           .agg(F.collect_list(F.struct(*cs.columns)).alias("cs")))
    q_names, c_names = qs.columns[:-1], cs.columns[:-1]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}"
         for f in [*qs.schema[:-1], *cs.schema[:-1]]] + ["cosine double"])

    def _tile(batches):
        import numpy as np
        for pdf in batches:
            if not len(pdf):          # empty Arrow batch (r9, ADVICE)
                continue
            for crow, qrow in zip(pdf["cs"], pdf["qs"]):
                if not len(crow) or not len(qrow):
                    continue
                c = {n: np.array([r[n] for r in crow]) for n in c_names}
                q = {n: np.array([r[n] for r in qrow]) for n in q_names}
                yield _block_topk(
                    np.array([r["embedding"] for r in crow],
                             dtype=np.float64),
                    np.array([r["embedding"] for r in qrow],
                             dtype=np.float64),
                    c[c_key], q[q_key], c, q, k)

    return _topk(_partition_topk(
        c_g.crossJoin(q_g).mapInPandas(_tile, out_schema), k), k)


def bnl_topk(emb: DataFrame, query_pred, k: int = 5,
             q_block: int = 64, c_block: int = 1024) -> DataFrame:
    """X119: EXACT brute-force top-k where BOTH sides stay DataFrames
    end to end — the block nested-loop form of
    :func:`brute_force_topk_numpy` for the regime where even the
    QUERY BATCH is too large to collect/broadcast (the last
    driver-collect contract in the similarity family; x114 removed
    it for the IVF path, this removes it for the exact path).

    Plan: one aggregate counts both sides; queries are hash-packed
    into ~``q_block``-vector blocks and the corpus into
    ~``c_block``-vector blocks (one collect_list aggregate each —
    block rows are matrix tiles, metadata-free); every (corpus-tile
    x query-tile) pair is ONE numpy dgemm task (:func:`_block_topk`)
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

    Determinism contract: the same kernel as the collect-query path
    (float64 normalize + matmul, NaN (zero-norm) and self-pairs
    masked, (-cosine, vec_id) lexsort at every prune), so the two
    paths return the same neighbor ids on non-degenerate data
    (locked by the x119 registry row + block-size invariance test).
    Tiling CAN change dgemm accumulation order, so raw cosines agree
    only to fp tolerance — same caveat as l7_topk_numpy's oracle."""
    return _tiled_topk(emb, query_pred, k, q_block, c_block, None)


def bnl_hard_negatives(emb: DataFrame, query_pred, k: int = 3,
                       label_col: str = "label",
                       q_block: int = 64,
                       c_block: int = 1024) -> DataFrame:
    """X88b (r13): HARD-NEGATIVE MINING on the tiled block
    nested-loop path — :func:`hard_negative_topk`'s semantics
    (top-k most-cosine-similar vectors whose LABEL differs, the
    contrastive-training near-misses) on :func:`bnl_topk`'s body with
    the label as the exclusion key: both sides stay DataFrames end to
    end, every (corpus-tile x query-tile) pair is one numpy dgemm
    task, and the label inequality is a vectorized mask applied to
    the similarity matrix BEFORE the per-query top-k — excluded pairs
    cost a compare, never a sort slot.  NULL labels drop from both
    sides before tiling, as the expression path's NULL-rejecting
    inequality drops them.

    Why it exists: the expression-path x88 builds per-pair array
    structs through zip_with/aggregate, which is allocation-heavy
    and the suite's most cache-state-sensitive row (BASELINE.md r13
    watch note); the dgemm tile does the same FLOPs out of
    contiguous float64 buffers.  And like x119 vs l7, it removes
    the scale ceiling: a 10 M-query mining job tiles out instead of
    broadcasting the query batch.

    Determinism contract: bnl_topk's, with self-pairs falling out of
    the label mask (a vector shares its own label) — identical
    neighbor ids/ranks to the expression path, raw cosines to fp
    tolerance only (the l7_topk_numpy / x119 oracle discipline)."""
    return _tiled_topk(emb, query_pred, k, q_block, c_block, label_col)


def _unit_sample(emb: DataFrame, sample_cap: int):
    """Up to ``sample_cap`` unit rows drawn by xxhash64(vec_id) order
    (layout-independent, one TakeOrdered job) — the quantizers'
    training sample.  Zero-norm rows (no direction) are dropped."""
    import numpy as np
    rows = (emb.select("vec_id", "embedding")
            .orderBy(F.xxhash64(F.col("vec_id")))
            .limit(sample_cap).collect())
    smat = _unit(np.array([r["embedding"] for r in rows],
                          dtype=np.float64))
    return smat[np.isfinite(smat).all(axis=1)]


def _kmeans_centroids(vecs, n_cells: int, n_iter: int = 8,
                      seed: int = 7):
    """Seeded spherical k-means on a driver-side SAMPLE (numpy).
    k-means++ init, then Lloyd iterations with cosine assignment and
    renormalized mean updates; empty cells keep their old centroid.
    Seeding stops once every sample row is a centroid, so a sample
    with fewer distinct directions than ``n_cells`` yields fewer
    centroids (a repeated one would own an empty cell that a probe
    could pick).  Deterministic for a fixed sample
    (:func:`_unit_sample`) + seed."""
    import numpy as np
    rng = np.random.default_rng(seed)
    cents = [vecs[int(rng.integers(len(vecs)))]]
    for _ in range(n_cells - 1):               # k-means++ seeding
        C = np.array(cents)
        d2 = np.min(((vecs[:, None, :] - C[None]) ** 2).sum(-1), axis=1)
        if d2.sum() == 0:
            break
        cents.append(vecs[int(rng.choice(len(vecs), p=d2 / d2.sum()))])
    C = np.array(cents)
    for _ in range(n_iter):                    # Lloyd, cosine metric
        assign = (vecs @ C.T).argmax(axis=1)
        for c in range(len(C)):
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
    ``n_cells`` lowest-vec_id vectors with a nonzero norm (a zero
    vector would be a NaN centroid that every argmax picks)."""
    import numpy as np
    if quantizer == "kmeans":
        return _kmeans_centroids(_unit_sample(emb, sample_cap), n_cells)
    norm = _norm_col(F.col("embedding"))
    cent_rows = (emb.filter((norm > 0) & ~F.isnan(norm))
                 .orderBy("vec_id").limit(n_cells)
                 .select("embedding").collect())
    return _unit(np.array([r["embedding"] for r in cent_rows],
                          dtype=np.float64))


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


def _probe_cells(qmat, cmat, n_probe: int):
    """Each query row's ``n_probe`` nearest centroid cells — row-local,
    and the one expression of both probe shapes, so they agree."""
    import numpy as np
    return np.argsort(-(_unit(qmat) @ cmat.T), axis=1)[:, :n_probe]


def _probe_driver(emb: DataFrame, query_pred, cmat, n_probe: int):
    """(probe frame, sorted probed cells) from the collected query
    side (tiny by contract): the probed-cell list is known here, in
    the numpy probe matrix, without a job on the frame."""
    import numpy as np

    from ..exprs import local_df
    q_rows = emb.filter(query_pred).select("vec_id", "embedding").collect()
    if not q_rows:
        raise ValueError("query predicate selected no vectors")
    probe = _probe_cells(np.array([r["embedding"] for r in q_rows],
                                  dtype=np.float64), cmat, n_probe)
    return (local_df(emb.sparkSession,
                     [(int(r["vec_id"]), r["embedding"], int(c))
                      for r, cells in zip(q_rows, probe) for c in cells],
                     "query_id long, q_emb array<float>, cell int"),
            sorted({int(c) for c in probe.ravel()}))


def ivf_probe_df(emb: DataFrame, query_pred, cmat,
                 n_probe: int) -> DataFrame:
    """One (query_id, q_emb, cell) row per probed cell per query —
    the query side is tiny by contract, so probe cells are computed
    driver-side and the frame is broadcast into the candidate join.
    Built via ``exprs.local_df`` (r14): the pickled-list form cost a
    Python-worker round-trip in every consuming stage."""
    return _probe_driver(emb, query_pred, cmat, n_probe)[0]


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
    Rebuild ``out_dir`` from the CURRENT index contents with
    :func:`ivf_index_write` (the one-shot build's deterministic
    sample and fixed seeds); returns the new centroid matrix, which
    the caller stamps into the new layout (``ivf_centroids_write``)
    so one pointer swap covers both (``maintenance.
    ivf_maintenance_sweep``).

    Identity contract: the index stores exactly the (vec_id,
    embedding) relation the builds wrote, so reclustering a layered
    index == ``ivf_index_write`` over the same corpus (both parity
    booleans declared by the x133 registry row).  Scale (100 TB):
    one corpus-sized Arrow assignment pass + one cell-partitioned
    write, amortized over the recluster cadence (the ANN analog of
    l17/x123 compaction); probes keep serving the old layout until
    the atomic pointer swap (``publish.publish``)."""
    emb = (spark.read.parquet(_resolve_layout(index_dir))
           .select("vec_id", "embedding"))
    return ivf_index_write(emb, out_dir, n_cells, sample_cap)


_IVF_CENTROIDS = "_ivf_centroids.json"


def ivf_centroids_write(index_dir: str, cmat) -> None:
    """Persist the coarse-quantizer centroid matrix NEXT TO the cell
    data it quantizes (r11): a ``_``-prefixed sidecar Spark's parquet
    reader ignores, the ``_lsh_meta.json`` discipline applied to the
    IVF index.  With centroids inside the layout directory, one
    pointer swap (``publish.publish``) versions index AND quantizer
    together — a probe can never pair new cells with stale centroids.
    One atomic ``put`` through the layout path's client
    (``publish._put_json``).  JSON float serialization is repr-exact,
    so read(write(cmat)) is bit-identical (test-pinned)."""
    _put_json(index_dir, _IVF_CENTROIDS,
              [[float(v) for v in row] for row in cmat])


def ivf_centroids_read(index_dir: str):
    """Centroid matrix (numpy float64) from the layout's sidecar;
    accepts a plain layout directory or a versioned index root."""
    import numpy as np
    layout = _resolve_layout(index_dir)
    rows = _get_json(layout, _IVF_CENTROIDS)
    if rows is None:
        raise FileNotFoundError(
            f"{layout!r} holds no {_IVF_CENTROIDS} — not an IVF layout "
            f"with persisted centroids")
    return np.array(rows, dtype=np.float64)


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
    probe_df, cells = _probe_driver(emb, query_pred, cmat, n_probe)
    index = (spark.read.parquet(index_dir)
             .filter(F.col("cell").isin(cells)))
    return _rescore_topk(
        _join_pairs(index, F.broadcast(probe_df), "cell"), k)


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
    return _rescore_topk(
        _join_pairs(cands, F.broadcast(probe_df), "cell"), k)


def ivf_probe_cells_distributed(queries: DataFrame, cmat,
                                n_probe: int) -> DataFrame:
    """Distributed twin of :func:`ivf_probe_df`: one (query_id,
    q_emb, cell) row per probed cell per query, computed WITHOUT
    collecting the query vectors to the driver — the centroid matrix
    (dim x n_cells floats, metadata-sized) is broadcast and each
    query partition assigns its own probe cells in one Arrow pass.

    The per-row arithmetic is the numpy expression the collect
    path runs driver-side (:func:`_probe_cells`), and probe-cell
    choice is row-local, so batching cannot change it —
    the two paths emit the identical probe relation (differential-
    tested in tests/test_operators.py and the x114 registry row)."""
    ship_package(queries.sparkSession)  # _probe_cells runs worker-side
    b_cent = queries.sparkSession.sparkContext.broadcast(cmat)
    out_schema = "query_id long, q_emb array<float>, cell int"

    def _probe(batches):
        import numpy as np
        import pandas as pd
        npr = n_probe
        for pdf in batches:
            if not len(pdf):          # empty Arrow batch (r9, ADVICE)
                continue
            cells = _probe_cells(
                np.array(list(pdf["embedding"]), dtype=np.float64),
                b_cent.value, npr)
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
    return _rescore_topk(_join_pairs(cands, probe_df, "cell"), k)


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
    return _rescore_topk(_join_pairs(index, probe_df, "cell"), k)


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
    books = _pq_codebooks(_unit_sample(emb, sample_cap),
                          m=m, ksub=ksub)                # (m, ksub, dsub)
    spark = emb.sparkSession
    b_books = spark.sparkContext.broadcast(books)

    q_rows = emb.filter(query_pred).select("vec_id", "embedding").collect()
    if not q_rows:
        raise ValueError("query predicate selected no vectors")
    q_ids = np.asarray([r["vec_id"] for r in q_rows])
    qmat = _unit(np.array([r["embedding"] for r in q_rows],
                          dtype=np.float64))
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
    return _rescore_topk(pairs, k)


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
    return _rescore_topk(
        _join_pairs(cands, F.broadcast(queries), "bucket"), k)
