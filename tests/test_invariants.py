"""Structural invariants of the text/sampling operators — properties
that hold for ALL inputs, checked over the fixture corpus plus
adversarial values.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from samplebatchprocessing_spark.catalog import load_table
from samplebatchprocessing_spark.operators.sampling import hash_bucket
from samplebatchprocessing_spark.operators.text import bpe_tokenize


def test_bpe_tokenization_is_lossless(spark, sf_smoke):
    """GPT-2-style pre-tokenization contract: concatenating the
    pieces reconstructs the normalized text exactly — nothing is
    dropped or duplicated by the piece regex."""
    doc = load_table(spark, sf_smoke, "documents")
    normalized = F.regexp_replace(F.lower("text"), r"\s+", " ")
    rebuilt = F.concat_ws("", bpe_tokenize(F.col("text")))
    bad = doc.filter(rebuilt != normalized).count()
    assert bad == 0


def test_hash_bucket_bounds_and_stability(spark, sf_smoke):
    """hash_bucket must be in [0, n) for any int64 id (including
    negative and near-overflow ids) and identical across plans."""
    ids = [0, 1, -1, 7, -12345, 2**62, -(2**62), 2**63 - 1,
           -(2**63) + 1, 999999999999]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    out = df.select("id", hash_bucket(F.col("id")).alias("b")).collect()
    assert all(0 <= r["b"] < 100 for r in out)
    # stability: same ids through a different plan shape -> same buckets
    out2 = {r["id"]: r["b"] for r in
            df.repartition(4).select(
                "id", hash_bucket(F.col("id")).alias("b")).collect()}
    assert {r["id"]: r["b"] for r in out} == out2


def test_split_is_append_stable(spark, sf_smoke):
    """Adding new documents must never move an existing document to a
    different split (the property that makes the split usable as a
    persistent train/test boundary)."""
    from samplebatchprocessing_spark.operators.sampling import (
        train_val_test_split)
    doc = load_table(spark, sf_smoke, "documents")
    full = {r["doc_id"]: r["split"] for r in
            train_val_test_split(doc).select("doc_id", "split").collect()}
    half = {r["doc_id"]: r["split"] for r in
            train_val_test_split(doc.limit(200))
            .select("doc_id", "split").collect()}
    for doc_id, split in half.items():
        assert full[doc_id] == split


def test_deterministic_shuffle_is_seeded_permutation(spark, sf_smoke):
    """X23: same seed -> identical order across runs; different seed
    -> a different permutation; (bucket, pos) is a total order that
    covers every doc exactly once."""
    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.operators.sampling import (
        deterministic_shuffle)
    doc = load_table(spark, sf_smoke, "documents")
    a = sorted(tuple(r) for r in deterministic_shuffle(doc, seed=7).collect())
    b = sorted(tuple(r) for r in deterministic_shuffle(doc, seed=7).collect())
    c = sorted(tuple(r) for r in deterministic_shuffle(doc, seed=8).collect())
    assert a == b != c
    assert len({(r[1], r[2]) for r in a}) == len(a) == doc.count()


def test_dup_window_stats_bounds(spark, sf_smoke):
    """X21: dup windows never exceed total windows; window count is
    n_tokens - 10 + 1 for every doc with >= 10 tokens."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.operators import text as text_ops
    from samplebatchprocessing_spark.operators.dedup import dup_window_stats
    doc = load_table(spark, sf_smoke, "documents")
    out = dup_window_stats(doc, window=10)
    assert out.filter(F.col("n_dup_windows") > F.col("n_windows")).count() == 0
    joined = out.join(
        doc.select("doc_id",
                   F.size(text_ops.tokenize(F.col("text"))).alias("nt")),
        "doc_id")
    assert joined.filter(F.col("n_windows") != F.col("nt") - 9).count() == 0


def test_funnel_counts_monotone_non_increasing(spark, sf_smoke):
    from samplebatchprocessing_spark.queries.analytics import x25_funnel
    rows = sorted(x25_funnel(spark, sf_smoke).collect(),
                  key=lambda r: r.stage_idx)
    counts = [r.n_users for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] > 0


def test_pagerank_matches_pure_python_reference(spark):
    """The fixed-point recurrence is bit-exact: the DataFrame loop
    must equal a direct Python evaluation of the same integer
    recurrence on an adversarial little graph (dangling node, skewed
    weights, self-loop)."""
    from samplebatchprocessing_spark.operators.graph import (
        SCALE, pagerank_fixedpoint)
    edges = [(1, 2, 3), (1, 3, 1), (2, 3, 5), (3, 1, 2), (3, 3, 1),
             (4, 1, 7)]  # node 5 unreachable; 2->3 heavy; 3 self-loop
    edf = spark.createDataFrame(edges, "src bigint, dst bigint, w bigint")
    got = {r.node: r.rank_scaled
           for r in pagerank_fixedpoint(edf, iterations=3).collect()}

    nodes = {u for u, _, _ in edges} | {v for _, v, _ in edges}
    out_w = {}
    for u, _, w in edges:
        out_w[u] = out_w.get(u, 0) + w
    rank = {n: SCALE for n in nodes}
    for _ in range(3):
        nxt = {n: SCALE * 15 // 100 for n in nodes}
        for u, v, w in edges:
            nxt[v] += (rank[u] * 85 * w) // (100 * out_w[u])
        rank = nxt
    assert got == rank


def test_regression_matches_numpy_lstsq(spark, sf_smoke):
    """A14's exact-moment slope/intercept agree with numpy's least
    squares on the same rows to float tolerance."""
    import numpy as np
    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.queries.analytics import a14_regression
    li = load_table(spark, sf_smoke, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice").toPandas()
    got = {r.l_returnflag: r for r in
           a14_regression(spark, sf_smoke).collect()}
    for flag, grp in li.groupby("l_returnflag"):
        slope, intercept = np.polyfit(grp.l_quantity.to_numpy(),
                                      grp.l_extendedprice.to_numpy(), 1)
        assert abs(got[flag].slope - slope) < 1e-4 * max(1.0, abs(slope))
        assert (abs(got[flag].intercept - intercept)
                < 1e-4 * max(1.0, abs(intercept)))
        assert 0.0 <= got[flag].r2 <= 1.0


def test_zscore_outliers_bounded_and_rare(spark, sf_smoke):
    """X30: every flagged user has 0 < n_outliers <= n_events, and
    the 3-sigma rule keeps the global outlier fraction small."""
    from samplebatchprocessing_spark.queries.analytics import (
        x30_zscore_outliers)
    out = x30_zscore_outliers(spark, sf_smoke)
    assert out.filter((F.col("n_outliers") <= 0)
                      | (F.col("n_outliers") > F.col("n_events"))
                      ).count() == 0
    tot = out.agg(F.sum("n_outliers").alias("o"),
                  F.sum("n_events").alias("e")).collect()[0]
    if tot.o is not None:
        assert tot.o <= 0.2 * tot.e


def test_decile_stats_partition_orders(spark, sf_smoke):
    """X31: the decile buckets partition the orders table (counts sum
    to the table size) and the [lo, hi] ranges are ordered."""
    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.queries.analytics import (
        x31_decile_stats)
    rows = sorted(x31_decile_stats(spark, sf_smoke).collect(),
                  key=lambda r: r.decile)
    n_orders = load_table(spark, sf_smoke, "orders").count()
    assert sum(r.n for r in rows) == n_orders
    for a, b in zip(rows, rows[1:]):
        assert a.hi <= b.lo


def test_conversion_lag_consistent_with_funnel(spark, sf_smoke):
    """X32: converted-user count equals the funnel's final-stage
    count and every lag is positive (strict ts ordering)."""
    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.operators.eventflow import (
        conversion_lags)
    from samplebatchprocessing_spark.queries.analytics import (
        _FUNNEL_STEPS, x25_funnel, x32_conversion_lag)
    ev = load_table(spark, sf_smoke, "events")
    lags = conversion_lags(ev, _FUNNEL_STEPS)
    assert lags.filter(F.col("lag_ms") <= 0).count() == 0
    final = sorted(x25_funnel(spark, sf_smoke).collect(),
                   key=lambda r: r.stage_idx)[-1].n_users
    got = x32_conversion_lag(spark, sf_smoke).collect()[0]
    assert got.n_converted == final
    assert got.avg_lag_ms > 0 and got.p50_lag_ms > 0


def test_keep_best_same_clusters_higher_quality(spark, sf_smoke):
    """L16 keeps exactly one doc per cluster (same survivor count as
    L15's min-id policy) and its total kept quality dominates L15's."""
    from samplebatchprocessing_spark.queries.llm import (
        l15_fuzzy_dedup_keep, l16_dedup_keep_best)
    keep_first = l15_fuzzy_dedup_keep(spark, sf_smoke)
    keep_best = l16_dedup_keep_best(spark, sf_smoke)
    assert keep_best.count() == keep_first.count()
    alpha = (F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
             .cast("double") / F.length(F.col("text")))
    from samplebatchprocessing_spark.catalog import load_table
    doc = load_table(spark, sf_smoke, "documents").select(
        "doc_id", F.round(alpha, 6).alias("a"))
    s_first = (keep_first.join(doc, "doc_id")
               .agg(F.sum("a")).collect()[0][0])
    s_best = (keep_best.join(doc, "doc_id")
              .agg(F.sum("a")).collect()[0][0])
    assert s_best >= s_first - 1e-9


def test_zipf_fit_is_decreasing_power_law(spark, sf_smoke):
    """X33: natural-ish text must fit with negative slope and a
    meaningful r²; rank-1 frequency implied by the fit stays within
    the observed max."""
    from samplebatchprocessing_spark.queries.llm import x33_zipf_fit
    row = x33_zipf_fit(spark, sf_smoke).collect()[0]
    assert row.n_tokens > 10
    assert row.zipf_slope < 0
    assert 0.0 <= row.r2 <= 1.0


def test_source_drift_is_bounded_tvd(spark, sf_smoke):
    """X34: TVD is a metric in [0,1]; per-source doc counts must sum
    to the corpus size (the grid restored every zero cell)."""
    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.queries.llm import x34_source_drift
    rows = x34_source_drift(spark, sf_smoke).collect()
    assert all(0.0 <= r.tvd <= 1.0 for r in rows)
    n = load_table(spark, sf_smoke, "documents").count()
    assert sum(r.n_docs for r in rows) == n


def test_quality_audit_reports_every_rule(spark, sf_smoke):
    """X35: one row per declared rule, counts non-negative, and the
    FK rule agrees with a direct anti-join."""
    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.queries.relational import (
        x35_quality_audit)
    rows = {r.rule: r.n_violations
            for r in x35_quality_audit(spark, sf_smoke).collect()}
    assert len(rows) == 7 and all(v >= 0 for v in rows.values())
    ord_ = load_table(spark, sf_smoke, "orders")
    cust = load_table(spark, sf_smoke, "customer")
    orphans = ord_.join(cust, ord_.o_custkey == cust.c_custkey,
                        "left_anti").count()
    assert rows["orders_custkey_fk"] == orphans


def test_dupgraph_triangles_match_python_census(spark, sf_smoke):
    """X36: the two-join triangle count equals a direct Python count
    over the same edge list."""
    from itertools import combinations
    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.operators import dedup
    from samplebatchprocessing_spark.queries.llm import (
        x36_dupgraph_triangles)
    doc = load_table(spark, sf_smoke, "documents")
    edges = {(r.doc_a, r.doc_b) for r in
             dedup.jaccard_pairs(doc, threshold=0.8,
                                 open_vocab="signature")
             .select("doc_a", "doc_b").collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    n_tri = sum(1 for v, nbrs in adj.items()
                for a, b in combinations(sorted(nbrs), 2)
                if a > v and (a, b) in edges) if adj else 0
    got = x36_dupgraph_triangles(spark, sf_smoke).collect()[0]
    assert got.n_edges == len(edges)
    assert got.n_triangles == n_tri


def test_weighted_sample_rate_tracks_weight(spark, sf_smoke):
    """Weighted Bernoulli keep rate must track weight/max_weight:
    weight 0 keeps nothing, weight == max keeps everything, and a
    mid-range weight keeps a fraction within binomial noise of p.
    The decision is per-id stable (re-running yields the same set)."""
    from samplebatchprocessing_spark.operators.sampling import (
        weighted_bernoulli_sample)
    from samplebatchprocessing_spark.catalog import load_table
    doc = load_table(spark, sf_smoke, "documents")
    n = doc.count()
    assert weighted_bernoulli_sample(doc, F.lit(0), 100).count() == 0
    assert weighted_bernoulli_sample(doc, F.lit(100), 100).count() == n
    half = weighted_bernoulli_sample(doc, F.lit(50), 100)
    frac = half.count() / n
    assert 0.35 <= frac <= 0.65, frac
    ids1 = {r["doc_id"] for r in half.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in weighted_bernoulli_sample(
        doc, F.lit(50), 100).select("doc_id").collect()}
    assert ids1 == ids2


def test_mixture_realize_budget_conservation(spark, sf_smoke):
    """Mixture realization invariants: per-source kept tokens can't
    exceed the source's mass; target allocations sum to <= the global
    budget; realized totals land within sampling noise of the
    targets."""
    from samplebatchprocessing_spark.operators.sampling import (
        mixture_realize)
    from samplebatchprocessing_spark.catalog import load_table
    doc = load_table(spark, sf_smoke, "documents")
    w = F.regexp_extract("source", r"(\d+)$", 1).cast("long") + 1
    rep = mixture_realize(doc, w, F.col("n_chars"), 2, 5).collect()
    total = sum(r["t_tokens"] for r in rep)
    budget = total * 2 // 5
    assert sum(r["b_target"] for r in rep) <= budget
    for r in rep:
        assert r["kept_tokens"] <= r["t_tokens"]
        assert r["n_kept"] >= 0
    realized = sum(r["kept_tokens"] for r in rep)
    targeted = sum(min(r["b_target"], r["t_tokens"]) for r in rep)
    assert abs(realized - targeted) <= max(0.35 * targeted, 2000), (
        realized, targeted)


def test_mixture_realize_no_int64_wrap_and_zero_kept_groups(spark):
    """ADVICE r4: (a) the keep compare must not wrap int64 when
    hash * t_tokens exceeds 2^63 (~8.8e12 group tokens — real at
    100 TB); (b) a group whose budget realizes zero kept documents
    must still appear in the report with n_kept = kept_tokens = 0."""
    from samplebatchprocessing_spark.operators.sampling import (
        mixture_realize)
    # group "big": 64 docs x 2^48 tokens each -> t_tokens = 2^54;
    # hash (up to 2^20) * 2^54 would wrap int64 catastrophically, and
    # budget * w_big = 2^53 * 2^53 = 2^106 would overflow the old
    # all-int64 b_target expression.  group "tiny": weight 1 vs big's
    # 2^53 -> b_target = budget DIV W = 0 -> zero keeps.
    big = [(i, 1 << 48, "big", 1 << 53) for i in range(64)]
    tiny = [(1000 + i, 1 << 20, "tiny", 1) for i in range(4)]
    df = spark.createDataFrame(
        big + tiny, "doc_id long, toks long, source string, w long")
    rep = {r["source"]: r for r in
           mixture_realize(df, F.col("w"), F.col("toks"), 1, 2)
           .collect()}
    assert set(rep) == {"big", "tiny"}, "zero-kept group vanished"
    b, t = rep["big"], rep["tiny"]
    assert b["t_tokens"] == 64 << 48
    # exact replication of the decimal compare in python ints (which
    # never wrap): an int64-wrapped engine compare would diverge.
    frac_kept = b["kept_tokens"] / b["t_tokens"]
    target_frac = b["b_target"] / b["t_tokens"]
    assert 0 < b["n_kept"] <= 64
    assert abs(frac_kept - min(1.0, target_frac)) < 0.35
    assert t["n_kept"] == 0 and t["kept_tokens"] == 0


def test_shard_pack_conserves_tokens_and_fills_shards(spark, sf_smoke):
    """x51 invariants: (a) total docs and tokens are conserved across
    shards; (b) within a source, shard ids are dense 0..max; (c)
    every non-final shard STARTS full — its docs' start offsets span
    the whole budget window, so cumulative tokens before the final
    shard are >= shard_id * budget."""
    from samplebatchprocessing_spark.operators.sampling import shard_pack
    from samplebatchprocessing_spark.operators.text import tokenize

    doc = load_table(spark, sf_smoke, "documents")
    budget = 500
    out = shard_pack(doc, budget,
                     F.size(tokenize(F.col("text")))).collect()
    tot = doc.select(F.sum(F.size(tokenize(F.col("text"))))).first()[0]
    assert sum(r["shard_tokens"] for r in out) == tot
    assert sum(r["n_docs"] for r in out) == doc.count()
    by_src: dict = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    for src, rows in by_src.items():
        ids = sorted(r["shard_id"] for r in rows)
        assert ids == list(range(len(ids))), src
        # start-offset assignment: the first doc of shard k+1 starts
        # at offset >= (k+1)*budget, and that offset equals the
        # cumulative tokens through shard k — so every non-final
        # shard is full through its boundary
        rows.sort(key=lambda r: r["shard_id"])
        cum = 0
        for r in rows[:-1]:
            cum += r["shard_tokens"]
            assert cum >= (r["shard_id"] + 1) * budget, src


def test_kmeans_partition_and_inertia_improves_on_init(spark, sf_smoke):
    """x47 invariants: the final report partitions the corpus (sizes
    sum to N, id sums to the global id sum), and 3 Lloyd rounds
    strictly improve on the degenerate 1-round (init-centroid)
    inertia on the fixture."""
    from samplebatchprocessing_spark.operators.clustering import (
        kmeans_fixedpoint)

    emb = load_table(spark, sf_smoke, "embeddings")
    final = kmeans_fixedpoint(emb, k=8, iters=3).collect()
    n = emb.count()
    assert sum(r["n_points"] for r in final) == n
    assert (sum(r["sum_vec_id"] for r in final)
            == emb.select(F.sum("vec_id")).first()[0])
    init = kmeans_fixedpoint(emb, k=8, iters=1).collect()
    assert (sum(r["inertia"] for r in final)
            < sum(r["inertia"] for r in init))


def test_cluster_safe_split_no_root_spans_splits(spark, sf_smoke):
    """x48 invariant, asserted from the OUTPUT: no_leakage must be
    TRUE and the naive split must demonstrably leak on the fixture
    (n_naive_leaky > 0) — i.e. the operator is doing real work."""
    from samplebatchprocessing_spark.queries.llm import (
        x48_cluster_safe_split)
    rows = x48_cluster_safe_split(spark, sf_smoke).collect()
    assert rows and all(r["no_leakage"] for r in rows)
    assert rows[0]["n_naive_leaky"] > 0


def test_gopher_rules_counts_bounded(spark, sf_smoke):
    """x50 invariant: every pass count is within [0, n_docs] and
    n_pass_all <= min(per-rule passes)."""
    from samplebatchprocessing_spark.operators.curation import (
        gopher_rules)
    doc = load_table(spark, sf_smoke, "documents")
    for r in gopher_rules(doc, min_stops=1).collect():
        per = [r[f"n_pass_r{i}"] for i in range(1, 7)]
        assert all(0 <= p <= r["n_docs"] for p in per)
        assert 0 <= r["n_pass_all"] <= min(per)


def test_bpe_encode_compression_bounds(spark, sf_smoke):
    """x46 invariants: pieces never exceed symbol chars (merges only
    shrink) and never undercut chars/5 on this rule table (the
    longest pinned symbol is 5 chars), so the ratio column is in
    [1000, 5000]."""
    from samplebatchprocessing_spark.operators.text import (
        bpe_encode_stats)
    doc = load_table(spark, sf_smoke, "documents")
    for r in bpe_encode_stats(doc).collect():
        assert r["n_pieces"] <= r["n_sym_chars"]
        assert 5 * r["n_pieces"] >= r["n_sym_chars"]
        assert 1000 <= r["chars_per_piece_x1000"] <= 5000


def test_countmin_is_mergeable_and_never_underestimates(spark, sf_smoke):
    """X61: (a) the query's own audit must show zero underestimates
    (the CMS one-sided guarantee); (b) the relational sketch form is
    MERGEABLE — cells built per half-corpus and re-summed equal the
    whole-corpus cells exactly (the 100 TB artifact contract)."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.operators import text as text_ops
    from samplebatchprocessing_spark.queries.llm import (
        x61_countmin_sketch)
    row = x61_countmin_sketch(spark, sf_smoke).collect()[0]
    assert row["n_underestimates"] == 0
    assert row["max_overestimate"] >= 0
    assert row["sum_overestimate"] >= row["max_overestimate"]

    doc = load_table(spark, sf_smoke, "documents")

    def cells(df):
        toks = df.select("doc_id", F.explode(
            text_ops.tokenize(F.col("text"))).alias("tok"))
        h = F.conv(F.substring(
            F.md5(F.concat(F.lit("0:"), F.col("tok"))), 1, 15),
            16, 10).cast("long")
        return (toks.select((h % 16).cast("int").alias("b"))
                .groupBy("b").agg(F.count(F.lit(1)).alias("cnt")))

    whole = {r["b"]: r["cnt"] for r in cells(doc).collect()}
    lo = cells(doc.filter(F.col("doc_id") % 2 == 0))
    hi = cells(doc.filter(F.col("doc_id") % 2 == 1))
    merged = {r["b"]: r["s"] for r in
              lo.unionByName(hi).groupBy("b")
              .agg(F.sum("cnt").alias("s")).collect()}
    assert merged == whole


def test_span_removal_conserves_tokens(spark, sf_smoke):
    """X64: removal never grows a corpus, and a source shrinks iff it
    had a modified document."""
    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.operators.dedup import (
        dup_span_removal)
    doc = load_table(spark, sf_smoke, "documents")
    for r in dup_span_removal(doc).collect():
        assert r["tokens_after"] <= r["tokens_before"]
        assert (r["n_docs_changed"] == 0) == (
            r["tokens_after"] == r["tokens_before"])
        assert 0 <= r["n_docs_changed"] <= r["n_docs"]


def test_dsir_target_slice_scores_positive(spark, sf_smoke):
    """X65: summed importance weight over the TARGET slice must be
    positive — the fixed-point analog of KL(target || raw) > 0; a
    sign error in the log-ratio flips it."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.queries.llm import (
        _dsir_feats, dsir_lambda)
    from samplebatchprocessing_spark.catalog import load_table
    doc = load_table(spark, sf_smoke, "documents")
    feats = _dsir_feats(doc)
    lam = dsir_lambda(spark, sf_smoke)
    tot = (feats.filter(F.col("is_t"))
           .groupBy("b").agg(F.count(F.lit(1)).alias("c"))
           .join(lam, "b")
           .agg(F.sum(F.col("c") * F.col("lam")).alias("w"))
           .collect()[0]["w"])
    assert tot > 0


def test_trailing_debounce_keeps_every_burst_leader(spark, sf_smoke):
    """W8/X71 cross-invariant: a burst leader's gap from the last
    KEPT event is >= its gap from the previous event (> 60 s), so the
    trailing-edge kept set must be a superset of the leading-edge
    leader set."""
    from samplebatchprocessing_spark.queries.analytics import (
        x71_debounce_trailing)
    from samplebatchprocessing_spark.queries.relational import (
        w8_debounce)
    leaders = {r["event_id"]
               for r in w8_debounce(spark, sf_smoke).collect()}
    kept = {r["event_id"]
            for r in x71_debounce_trailing(spark, sf_smoke).collect()}
    assert leaders <= kept


def test_embedding_diversity_matches_numpy_bruteforce(spark, sf_smoke):
    """X77: the one-pass moment identity must equal the O(n^2)
    pairwise sum computed brute-force in numpy on the same integer
    grid."""
    import numpy as np

    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.operators.clustering import (
        QUANT_SCALE)
    from samplebatchprocessing_spark.queries.analytics import (
        x77_embedding_diversity)
    got = {r["label"]: (r["n_vecs"], r["sum_sq_dist"])
           for r in x77_embedding_diversity(spark, sf_smoke).collect()}
    emb = load_table(spark, sf_smoke, "embeddings").collect()
    by_label: dict = {}
    for r in emb:
        q = np.floor(np.array(r["embedding"], dtype=np.float64)
                     * QUANT_SCALE).astype(np.int64)
        by_label.setdefault(r["label"], []).append(q)
    for label, vecs in by_label.items():
        m = np.stack(vecs)
        d = m[:, None, :] - m[None, :, :]
        brute = int((d * d).sum())
        assert got[label] == (len(vecs), brute), label


def test_weighted_median_and_mad_bounds(spark, sf_smoke):
    """X69/X70 sanity: the weighted median lies within the observed
    value range; MAD is non-negative and at most the half-range;
    outliers never exceed the group size."""
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.queries.analytics import (
        x69_weighted_median, x70_mad_outliers)
    doc = load_table(spark, sf_smoke, "documents")
    rng = {r["source"]: (r["lo"], r["hi"]) for r in
           doc.groupBy("source").agg(F.min("n_chars").alias("lo"),
                                     F.max("n_chars").alias("hi"))
           .collect()}
    for r in x69_weighted_median(spark, sf_smoke).collect():
        lo, hi = rng[r["source"]]
        assert lo <= r["wmedian_chars"] <= hi
    for r in x70_mad_outliers(spark, sf_smoke).collect():
        lo, hi = rng[r["source"]]
        assert lo <= r["median_chars"] <= hi
        assert 0 <= r["mad_chars"] <= hi - lo
        assert 0 <= r["n_outliers"] <= r["n_docs"]


def test_waterfill_is_feasible_tight_and_maxmin_fair(spark, sf_smoke):
    """X83: the allocation must (a) fit the budget, (b) leave less
    than one integer level per source unallocated, and (c) be
    max-min fair — every source is either fully satisfied or sits at
    the one common level."""
    from samplebatchprocessing_spark.queries.analytics import (
        x83_waterfill_allocation)
    rows = x83_waterfill_allocation(spark, sf_smoke).collect()
    total_cap = sum(r["cap"] for r in rows)
    budget = total_cap // 2
    alloc = sum(r["allocation"] for r in rows)
    assert alloc <= budget
    assert budget - alloc < len(rows)
    levels = {r["allocation"] for r in rows
              if r["allocation"] < r["cap"]}
    assert len(levels) <= 1
    for r in rows:
        assert 0 <= r["allocation"] <= r["cap"]


def test_attribution_conserves_purchases(spark, sf_smoke):
    """X85: first-touch and last-touch totals must each equal the
    number of purchases with >= 1 preceding touch, and the revenue
    totals under both models must be identical (they distribute the
    same purchases differently)."""
    from samplebatchprocessing_spark.queries.analytics import (
        x85_attribution)
    from pyspark.sql import functions as F
    from samplebatchprocessing_spark.catalog import load_table
    rows = x85_attribution(spark, sf_smoke).collect()
    n_first = sum(r["n_first"] for r in rows)
    n_last = sum(r["n_last"] for r in rows)
    assert n_first == n_last > 0
    assert abs(sum(r["first_revenue"] for r in rows)
               - sum(r["last_revenue"] for r in rows)) < 1e-6
    # cross-check the attributable-purchase count independently
    ev = load_table(spark, sf_smoke, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid"))
    t = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", F.col("ts").alias("tts"))
    n_attr = (p.join(t, "user_id")
              .filter(F.col("tts") < F.col("pts"))
              .select("pid").distinct().count())
    assert n_first == n_attr


def test_seasonal_outlier_counts_bounded(spark, sf_smoke):
    """X86: flags partition the per-type hour set; a type's flagged
    hours can never exceed its observed hours, and every type's
    event total matches the raw table."""
    from samplebatchprocessing_spark.queries.analytics import (
        x86_seasonal_outliers)
    from samplebatchprocessing_spark.catalog import load_table
    rows = {r["event_type"]: r
            for r in x86_seasonal_outliers(spark, sf_smoke).collect()}
    ev = load_table(spark, sf_smoke, "events")
    totals = {r["event_type"]: r["n"] for r in
              ev.groupBy("event_type").count()
              .withColumnRenamed("count", "n").collect()}
    for t, r in rows.items():
        assert r["n_high"] + r["n_low"] <= r["n_hours"] <= 24
        assert r["n_events"] == totals[t]


def test_hard_negatives_never_same_label(spark, sf_smoke):
    """X88: no returned negative may share the query's label, and per
    query the ranks are 1..k with strictly ordered cosines under the
    declared tie-break."""
    from pyspark.sql import functions as F
    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.operators.similarity import (
        hard_negative_topk)
    emb = load_table(spark, sf_smoke, "embeddings")
    rows = (hard_negative_topk(emb, F.col("vec_id") % 50 == 0, k=3)
            .collect())
    assert rows
    by_q = {}
    for r in rows:
        assert r["neg_label"] != r["q_label"]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        keys = [(-r["cosine"], r["vec_id"]) for r in rs]
        assert keys == sorted(keys)


def test_power_iteration_replays_exact_trajectory(spark, sf_smoke):
    """X92 differential (the x29 PageRank discipline): the engine must
    replay the DECLARED finite fixed-point trajectory bit-for-bit —
    pure-Python big-int power iteration on the same quantized Gram
    matrix, same floor-division renormalization.  (The fixture
    embeddings are near-isotropic — lambda2/lambda1 = 0.93 measured —
    so 3 rounds do NOT converge to the true eigenvector; the declared
    semantics are the trajectory, and convergence is asserted
    separately on a planted-direction frame.)"""
    import numpy as np
    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.operators.clustering import (
        QUANT_SCALE)
    from samplebatchprocessing_spark.operators.spectral import (
        U_SCALE, power_iteration_top5)
    emb = load_table(spark, sf_smoke, "embeddings")
    rows = sorted(power_iteration_top5(emb, iters=3).collect(),
                  key=lambda r: r["rank"])
    x = np.array([r["embedding"] for r in
                  emb.select("embedding").collect()], dtype=np.float64)
    g = (np.floor(x * QUANT_SCALE)).astype(object)
    gm = g.T @ g                      # python ints, exact
    dim = gm.shape[0]
    v = [U_SCALE] * dim
    for _ in range(3):
        w = [sum(int(gm[i, j]) * v[j] for j in range(dim))
             for i in range(dim)]
        m = max(abs(t) for t in w)
        v = [(t * U_SCALE - ((t * U_SCALE % m + m) % m)) // m
             for t in w]
    order = sorted(range(dim), key=lambda d: (-abs(v[d]), d))[:5]
    got = [(r["dim"], r["component"]) for r in rows]
    want = [(d, v[d]) for d in order]
    assert got == want, (got, want)
    ugu = sum(int(gm[i, j]) * v[i] * v[j]
              for i in range(dim) for j in range(dim))
    uu = sum(t * t for t in v)
    assert rows[0]["rayleigh_x1000"] == (ugu * 1000) // uu


def test_power_iteration_finds_planted_direction(spark, sf_smoke):
    """X92 convergence: on a frame with one PLANTED dominant axis the
    3-round trajectory must rank that axis first (and the Rayleigh
    estimate must dwarf the isotropic background)."""
    from samplebatchprocessing_spark.operators.spectral import (
        power_iteration_top5)
    rows = [(i, [0.001 * ((i * 7 + d) % 11 - 5) + (4.0 if d == 5 else 0.0)
                 for d in range(8)])
            for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sorted(power_iteration_top5(df, iters=3).collect(),
                 key=lambda r: r["rank"])
    assert out[0]["dim"] == 5
    assert abs(out[0]["component"]) > 10 * abs(out[1]["component"])


def test_padding_waste_bucketed_never_worse(spark, sf_smoke):
    """X90: bucketed waste <= naive waste per source, and the savings
    ratio is consistent with the two waste columns."""
    from samplebatchprocessing_spark.queries.llm import x90_padding_waste
    for r in x90_padding_waste(spark, sf_smoke).collect():
        assert 0 <= r["bucketed_waste"] <= r["naive_waste"]
        if r["naive_waste"]:
            assert r["savings_x1000"] == (
                1000 * (r["naive_waste"] - r["bucketed_waste"])
                // r["naive_waste"])


def test_vacuum_removes_only_unreferenced_files(spark, sf_smoke):
    """M10: after vacuum, the removable v1 bucket dirs are gone, the
    6 shared dirs survive, and the live snapshot still reads."""
    import os
    from samplebatchprocessing_spark.queries.sqlapi import (
        _snapshot_materialize, m10_vacuum)
    rows = m10_vacuum(spark, sf_smoke).collect()
    assert all(r["n_removed_ok"] and r["n_shared_kept_ok"] for r in rows)
    manifests = _snapshot_materialize(spark, sf_smoke)  # re-stage
    live = set(manifests[2])
    import shutil
    for p in [p for p in manifests[1] if p not in live]:
        shutil.rmtree(p, ignore_errors=True)
    for p in manifests[1]:
        assert os.path.isdir(p) == (p in live)
    assert spark.read.parquet(*manifests[2]).count() > 0


def test_market_basket_counts_consistent(spark, sf_smoke):
    """X96: pair support can never exceed either part's own order
    frequency, and ranks are the declared total order."""
    from samplebatchprocessing_spark.queries.analytics import (
        x96_market_basket)
    rows = sorted(x96_market_basket(spark, sf_smoke).collect(),
                  key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    keys = [(-r["n_orders_both"], r["p_a"], r["p_b"]) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        assert r["n_orders_both"] <= min(r["n_orders_a"],
                                         r["n_orders_b"])
        assert r["p_a"] < r["p_b"]


def test_rfm_census_covers_every_customer(spark, sf_smoke):
    """X97: segment census sums to the distinct customer count, every
    code is 1..5, and total monetary mass is conserved."""
    from pyspark.sql import functions as F
    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.queries.analytics import x97_rfm
    rows = x97_rfm(spark, sf_smoke).collect()
    ord_ = load_table(spark, sf_smoke, "orders")
    n_cust = ord_.select("o_custkey").distinct().count()
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        for c in ("r_code", "f_code", "m_code"):
            assert 1 <= r[c] <= 5
    total = ord_.agg(F.sum("o_totalprice")).first()[0]
    assert abs(sum(r["segment_monetary"] for r in rows) - total) < 1e-4


def test_rag_pipeline_rank_and_self_exclusion(spark, sf_smoke):
    """X98: no query retrieves its own document, every dot is
    positive, ranks are dense per query chunk."""
    from samplebatchprocessing_spark.queries.llm import x98_rag_pipeline
    rows = x98_rag_pipeline(spark, sf_smoke).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r["c_doc"] != r["q_doc"]
        assert r["dot"] > 0
        by_q.setdefault((r["q_doc"], r["q_idx"]), []).append(r)
    for _q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        keys = [(-r["dot"], r["c_doc"]) for r in rs]
        assert keys == sorted(keys)


def test_ngram_novelty_first_doc_is_fully_novel(spark, sf_smoke):
    """X99: the corpus-minimum doc_id contributes only novel grams,
    so every source's novel count is positive and bounded by its
    gram mass."""
    from samplebatchprocessing_spark.queries.llm import x99_ngram_novelty
    rows = x99_ngram_novelty(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_novel"] <= r["n_grams"]
        assert 0 <= r["novelty_x1000"] <= 1000
    assert any(r["n_novel"] > 0 for r in rows)


def test_datasheet_cube_totals_reconcile(spark, sf_smoke):
    """X100: the grand-total row equals the sum/union of the
    per-source rows, which equal the sums of their (source, lang)
    rows."""
    from samplebatchprocessing_spark.queries.llm import (
        x100_datasheet_cube)
    rows = x100_datasheet_cube(spark, sf_smoke).collect()
    grand = [r for r in rows if r["source"] == "<all>"]
    assert len(grand) == 1
    per_src = [r for r in rows
               if r["source"] != "<all>" and r["lang"] == "<all>"]
    leaves = [r for r in rows
              if r["source"] != "<all>" and r["lang"] != "<all>"]
    assert grand[0]["n_docs"] == sum(r["n_docs"] for r in per_src) \
        == sum(r["n_docs"] for r in leaves)
    assert grand[0]["n_chars"] == sum(r["n_chars"] for r in per_src)
    for s in per_src:
        mine = [r for r in leaves if r["source"] == s["source"]]
        assert s["n_docs"] == sum(r["n_docs"] for r in mine)
        assert s["n_langs"] == len(mine)


def test_semdedup_eval_confusion_partitions_truth(spark, sf_smoke):
    """X101: found + missed = planted, and the detector finds a
    strict majority (the perturbation keeps cosine ~0.97; only
    hyperplane-crossing plants may be missed)."""
    from samplebatchprocessing_spark.queries.llm import x101_semdedup_eval
    r = x101_semdedup_eval(spark, sf_smoke).collect()[0]
    assert r["n_planted"] > 0
    assert r["n_found"] + r["n_missed_by_lsh"] == r["n_planted"]
    # both phenomena must be observed: the detector works (finds
    # same-bucket plants at cosine ~0.97) AND single-table LSH
    # provably misses (a whole-dimension sign flip crosses every
    # hyperplane with a large 64th component — measured 11/20 missed
    # at sf0.001, the recall cost the report exists to surface)
    assert r["n_found"] > 0
    assert r["n_missed_by_lsh"] > 0


def test_prefix_filter_join_has_zero_recall_loss(spark, sf_smoke):
    """X103: the prefix-filtered pair set must equal the brute-force
    all-pairs truth at the same threshold — the lossless-blocking
    guarantee (pigeonhole on the required overlap) that band and LSH
    blocking trade away.  Truth computed independently in DuckDB."""
    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.operators.dedup import (
        prefix_filter_pairs)
    from samplebatchprocessing_spark.operators.text import token_set_sql
    from samplebatchprocessing_spark.oracle import duck_conn
    doc = load_table(spark, sf_smoke, "documents")
    got = {(r["doc_a"], r["doc_b"])
           for r in prefix_filter_pairs(doc).collect()}
    conn = duck_conn(sf_smoke)
    try:
        truth = set(map(tuple, conn.execute(f"""
            WITH s AS (SELECT doc_id, {token_set_sql('text')} AS toks
                       FROM documents),
            s2 AS (SELECT * FROM s WHERE LEN(toks) > 0)
            SELECT a.doc_id, b.doc_id
            FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
            WHERE 5 * LEN(LIST_INTERSECT(a.toks, b.toks))
                  >= 4 * (LEN(a.toks) + LEN(b.toks)
                          - LEN(LIST_INTERSECT(a.toks, b.toks)))
        """).fetchall()))
    finally:
        conn.close()
    assert got == truth
    assert truth, "fixture should contain qualifying pairs"


def test_prefix_filter_open_vocab_array_path_lossless(spark):
    """The fixture corpus has a 31-token vocabulary, so every
    fixture-driven x103 run takes the closed-vocab popcount branch —
    the open-vocab (>= 64 tokens) distinct + array_intersect branch
    would otherwise ship untested.  Synthetic 80-token vocabulary:
    the operator must dispatch to the array path (plan shows
    array_intersect, no bit_count) and still equal driver-side
    brute-force truth exactly."""
    import itertools
    from samplebatchprocessing_spark.operators.dedup import (
        prefix_filter_pairs)
    toks = [f"tk{i:02d}" for i in range(80)]
    # overlapping sliding windows of 10 tokens -> adjacent docs share
    # 9/11 = 0.818 >= 4/5; stride-2 neighbours share 8/12 < 4/5
    rows = [(i, " ".join(toks[i:i + 10])) for i in range(70)]
    rows += [(200, " ".join(toks[:10])), (201, " ".join(toks[:10]))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = prefix_filter_pairs(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "array_intersect" in plan, "expected open-vocab array path"
    assert "bit_count" not in plan, "mask path must not fire at 80 tokens"
    got = {(r["doc_a"], r["doc_b"]): (r["inter"], r["uni"])
           for r in out.collect()}
    sets = {i: set(t.split()) for i, t in rows}
    truth = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a] | sets[b])
        if 5 * inter >= 4 * uni:
            truth[(a, b)] = (inter, uni)
    assert got == truth
    assert (200, 201) in truth and truth[(200, 201)] == (10, 10)
    assert any(v != (10, 10) for v in truth.values()), \
        "fixture should contain non-identical qualifying pairs"


def test_prefix_filter_hot_token_never_enters_prefixes(spark):
    """The published skew-resistance claim the x103 plan rests on
    (Bayardo et al. 2007): prefixes hold each document's RAREST
    tokens, so a universal stop-token (df = corpus size — the worst
    possible join key) sorts LAST in every document and never enters
    any prefix.  Adding it to every document must leave the prefix
    relation's token set free of it and the final pair relation
    identical except for the +1 shift in inter/uni."""
    from samplebatchprocessing_spark.operators.dedup import (
        prefix_filter_pairs)
    toks = [f"tk{i:02d}" for i in range(80)]
    rows = [(i, " ".join(toks[i:i + 10])) for i in range(60)]
    clean = spark.createDataFrame(rows, "doc_id long, text string")
    hot = spark.createDataFrame(
        [(i, t + " everywhere") for i, t in rows],
        "doc_id long, text string")
    from samplebatchprocessing_spark.operators.dedup import (
        _df_ordered_prefixes, _stage_sets)
    from samplebatchprocessing_spark.operators.text import token_set
    # the claim itself, on the very frame the join keys on: the
    # universal token never appears as a prefix token, so it adds
    # ZERO candidate mass (it would otherwise be the hottest join
    # key in the corpus — one bucket holding every document)
    sets_hot = _stage_sets(hot.select(
        "doc_id", token_set(F.col("text")).alias("toks")))
    _, prefix = _df_ordered_prefixes(sets_hot, 4, 5)
    ptoks = {r["ptok"] for r in prefix.select("ptok").distinct().collect()}
    assert "everywhere" not in ptoks
    n_pref_hot = prefix.count()
    sets_clean = _stage_sets(clean.select(
        "doc_id", token_set(F.col("text")).alias("toks")))
    _, prefix_clean = _df_ordered_prefixes(sets_clean, 4, 5)
    # the +1 set size can grow each prefix by at most one token
    assert n_pref_hot <= prefix_clean.count() + hot.count()
    # and the full operator still equals brute-force truth
    import itertools
    got = {(r["doc_a"], r["doc_b"]): (r["inter"], r["uni"])
           for r in prefix_filter_pairs(hot).collect()}
    sets = {i: set(t.split()) | {"everywhere"} for i, t in rows}
    truth = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a] | sets[b])
        if 5 * inter >= 4 * uni:
            truth[(a, b)] = (inter, uni)
    assert got == truth and truth


def test_dedup_clusters_contracts_long_path(spark):
    """On a 200-node PATH graph (diameter 199 — the case
    large-star/small-star exists for) dedup_clusters converges to one
    component in O(log n) rounds, well inside a 12-round budget."""
    from samplebatchprocessing_spark.operators import dedup
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a long, doc_b long")
    out = dedup.dedup_clusters(path, max_iter=12).collect()
    assert len(out) == 201
    assert {r["cluster_id"] for r in out} == {0}


def test_dedup_clusters_long_chain_is_one_cluster(spark):
    """A chain of 41 near-duplicates (versioned pages) is ONE cluster
    under the default max_iter: a diameter-40 chain needs more rounds
    than the budget when each round moves a label one hop."""
    from samplebatchprocessing_spark.operators import dedup
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long")
    out = dedup.dedup_clusters(path).collect()
    assert len(out) == 41
    assert {r["cluster_id"] for r in out} == {0}


def test_dedup_clusters_raises_on_nonconvergence(spark):
    """Exhausting max_iter without reaching the edge-set fixpoint must
    raise, never silently label from a non-converged edge set."""
    import pytest
    from samplebatchprocessing_spark.operators import dedup
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dedup_clusters(path, max_iter=1)


def test_qgram_edit_join_bitmap_equals_array_path(spark, sf_smoke):
    """X116: the closed-vocab bitmap count filter (popcount over
    fixed 64-long masks, bits in the same rarest-first order the
    prefixes use) must emit the IDENTICAL pair relation as the
    open-vocab array_intersect form on the same corpus — the filter
    is an implementation of the same sound bound, never a semantics
    change."""
    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.operators.dedup import (
        qgram_edit_pairs)
    doc = load_table(spark, sf_smoke, "documents")
    fast = {tuple(r) for r in qgram_edit_pairs(doc).collect()}
    slow = {tuple(r) for r in
            qgram_edit_pairs(doc, count_filter="array").collect()}
    assert fast == slow and fast


def test_qgram_edit_join_finds_cross_band_pairs(spark):
    """X116 length banding (r14): the candidate join keys on
    (gram, len // (k+1)) with one side exploded to its adjacent
    bands, so a qualifying pair whose lengths straddle a band
    boundary at the maximum |la - lb| = k must still surface.
    Construct pairs sitting exactly on the boundary — len w*(k+1)-1
    vs w*(k+1)+k-1 (bands w-1 and w, length gap exactly k) — in
    both length orders, and a control pair at gap k+1 that must NOT
    surface."""
    from samplebatchprocessing_spark.operators.dedup import (
        qgram_edit_pairs)
    k, q = 3, 2
    w = k + 1
    # lengths 4*w-1=15 (band 3) and 4*w+k-1=18 (band 4): gap k,
    # adjacent bands.  Edit distance == 3 (three appended chars).
    base = "abcdefgh" + "ijklmno"           # len 15
    longer = base + "xyz"                   # len 18, ed 3
    too_far = base + "wxyz"                 # len 19, ed 4 > k
    # reversed length order (smaller id holds the LONGER text), on
    # a disjoint alphabet so no cross pairs with docs 1-3
    rbase = "ABCDEFGH" + "IJKLMNO"
    rows = [(1, base), (2, longer), (3, too_far),
            (4, rbase + "XYZ"), (5, rbase)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for cf in ("auto", "array"):
        pairs = {(r["doc_a"], r["doc_b"])
                 for r in qgram_edit_pairs(df, k=k, q=q,
                                           count_filter=cf).collect()}
        assert (1, 2) in pairs, cf
        assert (4, 5) in pairs, cf
        assert (1, 3) not in pairs, cf


def test_dedup_clusters_rejects_nonpositive_max_iter(spark):
    """max_iter < 1 skips the loop entirely, leaving
    delta at its 0 sentinel — which would bypass the non-convergence
    guard and silently label from the raw edge set.  Must raise up
    front instead."""
    import pytest
    from samplebatchprocessing_spark.operators import dedup
    pairs = spark.createDataFrame(
        [(1, 2)], "doc_a long, doc_b long")
    for bad in (0, -3):
        with pytest.raises(ValueError, match="max_iter"):
            dedup.dedup_clusters(pairs, max_iter=bad)


def test_multi_asof_rejects_left_column_collision(spark):
    """r7 (ADVICE): a right payload column whose name collides with a
    left column must be rejected — the union scaffolding would
    silently NULL the left column otherwise."""
    import pytest
    from samplebatchprocessing_spark.operators.asof import multi_asof_join
    left = spark.createDataFrame(
        [(1, 10, 5)], "k long, ts long, price long")
    right = spark.createDataFrame(
        [(1, 9, 7)], "k long, ts long, price long")
    with pytest.raises(ValueError, match="collides"):
        multi_asof_join(left,
                        [{"df": right, "ts": "ts", "by": "k",
                          "cols": ["price"]}],
                        left_ts="ts", left_by="k")


def test_asof_tiebreak_picks_smallest_id(spark):
    """r7 (ADVICE, J14): two right rows at the identical match ts —
    the tiebreak column must decide (smallest wins), not partition
    order."""
    from samplebatchprocessing_spark.operators.asof import asof_join
    left = spark.createDataFrame([(1, 100)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 90, 7), (1, 90, 3), (1, 90, 5)],
        "k long, rts long, rid long")
    out = asof_join(left, right, left_ts="ts", right_ts="rts",
                    left_by="k", right_by="k", right_cols=["rid"],
                    tiebreak="rid").collect()
    assert [r["rid"] for r in out] == [3]


def test_lsh_default_bands_derived_and_certified(spark, sf_smoke):
    """r7 (VERDICT r6 stretch #8): L6's default band config is no
    longer a free literal — it is the smallest band count whose
    theoretical s-curve recall at jaccard 0.8 clears 0.95, and the
    X108 sweep's measured recall for that same config must clear the
    same bound on the fixture corpus (the default and the tuning
    table are one artifact)."""
    from samplebatchprocessing_spark.operators.dedup import (
        N_BANDS, N_HASHES, choose_bands)
    assert N_BANDS == choose_bands(N_HASHES, 0.8, 0.95) == 8
    from samplebatchprocessing_spark.queries.llm import (
        x108_lsh_parameter_sweep)
    rows = {r["bands"]: r for r in
            x108_lsh_parameter_sweep(spark, sf_smoke).collect()}
    assert rows[N_BANDS]["recall_meets_bound"] is True


def test_triangle_count_matches_brute_force(spark):
    """X112's oriented wedge-join census equals a brute-force
    enumeration on adversarial little graphs: a clique (every wedge
    closes), a path (none do), a hub star (orientation must stop the
    hub from exploding the wedge join), duplicate/reversed input
    edges (canonicalization), and a seeded random graph."""
    import itertools
    import random
    from samplebatchprocessing_spark.operators.graph import triangle_count

    def brute(edges):
        es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        nodes = sorted({n for e in es for n in e})
        deg = {n: sum(1 for e in es if n in e) for n in nodes}
        tri = sum(1 for a, b, c in itertools.combinations(nodes, 3)
                  if {(a, b), (a, c), (b, c)} <= es)
        wed = sum(d * (d - 1) // 2 for d in deg.values())
        return {"n_nodes": len(nodes), "n_edges": len(es),
                "n_wedges": wed, "n_triangles": tri,
                "transitivity_ppm":
                    3 * tri * 1_000_000 // wed if wed else None}

    rng = random.Random(7)
    rand = [(rng.randrange(12), rng.randrange(12)) for _ in range(40)]
    cases = [
        [(a, b) for a, b in itertools.combinations(range(5), 2)],  # K5
        [(i, i + 1) for i in range(6)],                    # path: 0 tri
        [(0, i) for i in range(1, 9)] + [(1, 2)],          # hub star
        [(1, 2), (2, 1), (1, 2), (2, 3), (3, 1), (4, 4)],  # dups/rev/loop
        [e for e in rand if e[0] != e[1]],
    ]
    for edges in cases:
        edf = spark.createDataFrame(edges, "a bigint, b bigint")
        got = triangle_count(edf).collect()[0].asDict()
        assert got == brute(edges), edges


def test_sequence_census_conservation(spark, sf_smoke):
    """x124 conservation laws against the x122 manifest and the raw
    corpus: token mass is conserved (sum of per-sequence fills ==
    total corpus tokens), every non-empty doc starts in exactly one
    sequence, every interior sequence is exactly full, and seq_ids
    are the gap-free range [0, total_tokens/128]."""
    from samplebatchprocessing_spark.operators.text import tokenize
    from samplebatchprocessing_spark.queries.llm import (
        x124_sequence_census)
    doc = load_table(spark, sf_smoke, "documents")
    totals = doc.select(
        F.sum(F.size(tokenize(F.col("text")))).alias("toks"),
        F.sum((F.size(tokenize(F.col("text"))) > 0).cast("long"))
        .alias("nonempty")).first()
    rows = sorted((r["seq_id"], r["n_docs"], r["n_starts"],
                   r["n_tokens"])
                  for r in x124_sequence_census(spark, sf_smoke)
                  .collect())
    assert sum(r[3] for r in rows) == totals["toks"]
    assert sum(r[2] for r in rows) == totals["nonempty"]
    assert [r[0] for r in rows] == list(range(len(rows)))
    assert all(r[3] == 128 for r in rows[:-1])
    assert 0 < rows[-1][3] <= 128
    assert all(r[1] >= r[2] for r in rows)


def test_dq_audit_counts_planted_violations_exactly(spark, sf_smoke,
                                                    tmp_path):
    """x113 sensitivity: the audit must COUNT violations, not just
    flag them.  Plant a known number of each violation class into a
    copy of the fixture (2 duplicated PKs, 3 orphan FKs via one
    repeated unknown key, 1 of each range/era/accepted-values
    breach) and require the per-rule counts to move by exactly the
    planted deltas relative to the clean audit."""
    import os

    from samplebatchprocessing_spark.queries.analytics import (
        x113_dq_audit)

    def audit(sf):
        return {r["rule"]: (r["violations"], r["passed"])
                for r in x113_dq_audit(spark, sf).collect()}

    clean = audit(sf_smoke)
    li = load_table(spark, sf_smoke, "lineitem")
    o = load_table(spark, sf_smoke, "orders")
    # one deterministic row, MATERIALIZED (limit(1) re-evaluates per
    # union branch and can pick different rows)
    one = spark.createDataFrame(
        li.orderBy("l_orderkey", "l_linenumber").limit(1).collect(),
        li.schema)
    orphan = one.withColumn(
        "l_orderkey", F.lit(999_999_999).cast(
            li.schema["l_orderkey"].dataType))
    bad = (
        one.unionByName(one)                     # 2 extra PK copies
        .unionByName(orphan).unionByName(orphan)  # 3 orphans, one
        .unionByName(orphan)                      # new key
        .unionByName(one.withColumn(             # range_quantity
            "l_quantity", F.lit(500.0).cast(
                li.schema["l_quantity"].dataType)))
        .unionByName(one.withColumn(             # range_discount
            "l_discount", F.lit(0.9).cast(
                li.schema["l_discount"].dataType)))
        .unionByName(one.withColumn(             # accepted values
            "l_returnflag", F.lit("Z")))
        .unionByName(one.withColumn(             # shipdate era
            "l_shipdate", F.lit("1970-01-01").cast(
                li.schema["l_shipdate"].dataType)))
        .unionByName(one.withColumn(             # nonpositive price
            "l_extendedprice", F.lit(-1.0).cast(
                li.schema["l_extendedprice"].dataType))))
    sf = str(tmp_path / "dirty")
    os.makedirs(sf)
    li.unionByName(bad).coalesce(4).write.parquet(
        os.path.join(sf, "lineitem.parquet"))
    o.write.parquet(os.path.join(sf, "orders.parquet"))
    dirty = audit(sf)
    # dup_pk counts EXTRA copies beyond the distinct key set; every
    # other planted row reuses row 1's PK, adding to dup_pk too.
    planted_extra_rows = 10  # 2 copies + 3 orphans + 5 singles
    non_pk_new_keys = 1      # the orphan key is new (counted once)
    assert (dirty["pk_unique"][0] - clean["pk_unique"][0]
            == planted_extra_rows - non_pk_new_keys)
    assert dirty["ri_orderkey"][0] - clean["ri_orderkey"][0] == 3
    for rule in ("range_quantity", "range_discount",
                 "accepted_returnflag", "shipdate_era",
                 "nonpositive_price"):
        assert dirty[rule][0] - clean[rule][0] == 1, rule
    assert not dirty["pk_unique"][1] and not dirty["ri_orderkey"][1]
    rows = {r["rule"]: r["checked_rows"]
            for r in x113_dq_audit(spark, sf).collect()}
    base_rows = {r["rule"]: r["checked_rows"]
                 for r in x113_dq_audit(spark, sf_smoke).collect()}
    assert all(rows[k] == base_rows[k] + planted_extra_rows
               for k in rows)


def test_table_checksum_order_invariant_and_sensitive(spark, sf_smoke,
                                                      tmp_path):
    """x130 contract: the checksum is invariant to row order and
    partitioning (same fixture rewritten shuffled across 7
    partitions -> identical output) and sensitive to a single-cell
    change (one mutated l_quantity -> exactly that group's checksum
    moves, counts unchanged)."""
    import os

    from samplebatchprocessing_spark.queries.analytics import (
        x130_table_checksum)

    def run(sf):
        return {r["l_returnflag"]: (r["n_rows"], r["checksum"])
                for r in x130_table_checksum(spark, sf).collect()}

    clean = run(sf_smoke)
    li = load_table(spark, sf_smoke, "lineitem")

    shuffled = str(tmp_path / "shuffled")
    os.makedirs(shuffled)
    (li.orderBy(F.xxhash64("l_orderkey", "l_linenumber", "l_partkey"))
       .repartition(7)
       .write.parquet(os.path.join(shuffled, "lineitem.parquet")))
    assert run(shuffled) == clean

    flag = li.orderBy("l_orderkey", "l_linenumber").first()
    mutated = str(tmp_path / "mutated")
    os.makedirs(mutated)
    key = ((F.col("l_orderkey") == flag["l_orderkey"])
           & (F.col("l_linenumber") == flag["l_linenumber"]))
    # mutate l_quantity on every copy of the first PK (dup-tolerant)
    li.withColumn("l_quantity",
                  F.when(key, F.col("l_quantity") + 1)
                  .otherwise(F.col("l_quantity"))) \
      .write.parquet(os.path.join(mutated, "lineitem.parquet"))
    dirty = run(mutated)
    assert dirty.keys() == clean.keys()
    moved = [g for g in clean
             if dirty[g][1] != clean[g][1]]
    assert moved == [flag["l_returnflag"]] or (
        # the first PK's copies could span several returnflags
        flag["l_returnflag"] in moved)
    assert all(dirty[g][0] == clean[g][0] for g in clean)


def test_table_checksum_null_canonicalization(spark, sf_smoke, tmp_path):
    """x130/x131 NULL contract (r9, ADVICE): Spark's concat_ws SKIPS
    NULLs while DuckDB's '||' NULL-propagates (md5(NULL) = NULL drops
    the row from SUM while COUNT keeps it) — so without explicit
    canonicalization the cross-engine checksum silently diverges on
    the first NULL.  Both twins now render every hashed column
    through the shared netstring template (NULL -> the prefix-free
    token 'n'); this test plants NULLs in four hashed columns (date,
    double, string, and the int PK itself) and asserts the two
    engines still produce the identical (group, n_rows, checksum)
    relation — n_rows == full fixture count on BOTH sides."""
    import os

    import duckdb

    from samplebatchprocessing_spark.oracle import rows_to_multiset
    from samplebatchprocessing_spark.queries.analytics import (
        X130_SQL, x130_table_checksum)

    li = load_table(spark, sf_smoke, "lineitem")
    total = li.count()
    k = F.col("l_orderkey")
    nulled = (
        li.withColumn("l_shipdate",
                      F.when(k % 7 == 3, None).otherwise(F.col("l_shipdate")))
          .withColumn("l_quantity",
                      F.when(k % 7 == 4, None).otherwise(F.col("l_quantity")))
          .withColumn("l_linestatus",
                      F.when(k % 7 == 5, None)
                      .otherwise(F.col("l_linestatus")))
          .withColumn("l_linenumber",
                      F.when(k % 7 == 6, None)
                      .otherwise(F.col("l_linenumber"))))
    path = str(tmp_path / "nulled")
    os.makedirs(path)
    pq = os.path.join(path, "lineitem.parquet")
    nulled.write.parquet(pq)

    s_df = x130_table_checksum(spark, path)
    s_rows = [tuple(r) for r in s_df.collect()]
    assert sum(r[1] for r in s_rows) == total  # no row silently dropped

    conn = duckdb.connect()
    try:
        conn.execute(f"CREATE VIEW lineitem AS "
                     f"SELECT * FROM read_parquet('{pq}/*.parquet')")
        cur = conn.execute(X130_SQL)
        d_cols = [d[0] for d in cur.description]
        d_rows = cur.fetchall()
    finally:
        conn.close()
    assert sum(r[d_cols.index("n_rows")] for r in d_rows) == total
    assert (rows_to_multiset(s_df.columns, s_rows)
            == rows_to_multiset(d_cols, d_rows))


def test_table_checksum_collision_classes(spark, sf_smoke, tmp_path):
    """x130 netstring contract (r10, ADVICE): the old rendering had
    two documented collision classes — a NULL was indistinguishable
    from the literal sentinel string, and a value CONTAINING the '|'
    join separator could forge a neighboring column.  The
    length-prefixed rendering (``_netstring``) kills both; this test
    plants each collision pair and asserts the checksums now
    DISAGREE (under the old rendering both pairs hashed equal)."""
    import os

    from samplebatchprocessing_spark.queries.analytics import (
        x130_table_checksum)

    li = load_table(spark, sf_smoke, "lineitem").localCheckpoint()
    k = F.col("l_orderkey")

    def run(df, name):
        path = str(tmp_path / name)
        os.makedirs(path)
        df.write.parquet(os.path.join(path, "lineitem.parquet"))
        return {r["l_returnflag"]: (r["n_rows"], r["checksum"])
                for r in x130_table_checksum(spark, path).collect()}

    # class 1: NULL vs the literal NULL token in a hashed string col
    a = li.withColumn("l_linestatus",
                      F.when(k % 7 == 5, None)
                      .otherwise(F.col("l_linestatus")))
    b = li.withColumn("l_linestatus",
                      F.when(k % 7 == 5, F.lit("n"))
                      .otherwise(F.col("l_linestatus")))
    assert run(a, "null_a") != run(b, "null_b")

    # class 2: '|' inside a value forging the adjacent column — the
    # rendering itself must be injective on the column TUPLE.  Under
    # the old '|'-concat, ("a|b","c") and ("a","b|c") both rendered
    # "a|b|c" and (NULL,"x") == ("<NULL>","x"); netstring renders all
    # four distinctly ("3:a|b|1:c", "1:a|3:b|c", "n|1:x", "1:n|1:x").
    from samplebatchprocessing_spark.queries.analytics import _netstring
    pairs = spark.createDataFrame(
        [("a|b", "c"), ("a", "b|c"), (None, "x"), ("n", "x")],
        "u string, v string")
    rendered = [r["r"] for r in pairs.select(
        F.concat_ws("|", F.expr(_netstring("u")),
                    F.expr(_netstring("v"))).alias("r")).collect()]
    assert len(set(rendered)) == 4, rendered


def test_cogrouped_pandas_survives_nanos_fixture_scale(spark):
    """d10 regression (r9): self-cogroup of two filters over ONE
    DataFrame lineage hit a Spark analyzer attribute-dedup hazard on
    the sf0.1 NANOS-timestamp events fixture — the right cogroup side
    reached the Python worker pruned to just the grouping key
    (KeyError 'ts').  d10 now builds each side from its own
    load_table lineage; this locks the fix at the scale that
    triggered it."""
    import os

    from samplebatchprocessing_spark.queries.udf import (
        d10_cogrouped_pandas)
    sf = "/root/testdata/sf0.1"
    if not os.path.isdir(sf):
        import pytest as _pytest
        _pytest.skip("sf0.1 fixtures not present")
    df = d10_cogrouped_pandas(spark, sf)
    assert df.columns == ["purchase_id", "user_id", "click_id",
                          "lag_us"]
    assert df.count() > 0
