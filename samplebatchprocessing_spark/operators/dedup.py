"""Deduplication operators for LLM data pipelines (SURVEY §2B L1,
L5, L6 + SimHash / n-gram variants from the north-star mandate).

Scale design (100 TB):
- exact dedup hash-partitions on the content hash — one shuffle, no
  driver state (L1);
- candidate-pair generation is ALWAYS blocked (length bands for
  Jaccard, LSH bands for MinHash) so no full O(n^2) self-join ever
  materializes — the blocking key is part of the declared semantics;
- MinHash/SimHash signatures are computed row-locally with fixed
  seeds (deterministic), then pairs come from equi-joins on band
  keys, which Catalyst plans as hash joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..exprs import spread
from .publish import (_compact_layers, _get_json, _publisher, _put_json,
                      resolve as _resolve_layout)
from .text import token_set, tokenize

# Deterministic MinHash parameters (seed vector fixed by design,
# SURVEY §2B L6): h_i(x) = (a_i * xxhash64(x) + b_i) mod p.
# 31-bit modulus keeps a*h + b < 2^63 (no ANSI overflow): a,h < 2^31.
_MERSENNE31 = (1 << 31) - 1
N_HASHES = 32


def choose_bands(n_hashes: int = 32, target_jaccard: float = 0.8,
                 min_recall: float = 0.95) -> int:
    """Pick the SMALLEST band count b (dividing ``n_hashes``) whose
    theoretical s-curve recall at ``target_jaccard`` clears
    ``min_recall``: recall(s) = 1 - (1 - s^r)^b with r = n_hashes/b
    (Leskovec/Rajaraman/Ullman, MMDS ch.3).  Smallest-b = highest
    rows-per-band = tightest candidate set for the required recall —
    the cost knob X108 measures empirically: its sweep certifies the
    chosen config's MEASURED recall clears the same bound on the
    fixture corpus (r7, VERDICT r6 stretch #8: the default and the
    sweep are now one artifact; tests/test_invariants.py ties them)."""
    for b in (d for d in range(1, n_hashes + 1) if n_hashes % d == 0):
        r = n_hashes // b
        if 1.0 - (1.0 - target_jaccard ** r) ** b >= min_recall:
            return b
    return n_hashes


# 8 bands x 4 rows at the defaults: theoretical recall 0.985 at
# jaccard 0.8, while r=4 keeps moderate-similarity word-soup pairs
# out (s-curve threshold ~(1/b)^(1/r) ~ 0.59).
N_BANDS = choose_bands(N_HASHES, 0.8, 0.95)
ROWS_PER_BAND = N_HASHES // N_BANDS


def _stage_sets(sets_df: DataFrame) -> DataFrame:
    """Materialize a (doc_id, toks) frame consumed by 2-3 downstream
    branches (vocab probe / signature build / token rejoin) so the
    tokenize pass runs once.

    ``localCheckpoint`` instead of ``persist()``: blocks land in the
    same MEMORY_AND_DISK storage, but the checkpointed RDD is released
    by Spark's ContextCleaner when the DataFrame is garbage-collected —
    no module-level cache registry, no unbounded accumulation across
    repeated calls (persist() entries live in the CacheManager until
    an explicit unpersist).  Trade-off, documented: localCheckpoint
    truncates lineage, so a lost executor cannot recompute its blocks
    — fine for local/static clusters; on a dynamic-allocation cluster
    pass an externally persisted frame via the operators' ``sets_df``
    parameter instead.

    EAGER, deliberately (root-caused r5): with ``eager=False`` the
    first action to touch the frame is the vocab probe's limited
    collect, so checkpoint materialization rides a partial job and its
    completion races the ContextCleaner cleaning the previous call's
    blocks — surfacing as benign-but-noisy ``ERROR DAGScheduler:
    ... non-existent accumulator`` spam during bench (BENCH_r04 tail;
    reproduced 25x in 5 iterations, 0x with eager=True, identical
    wall-clock — the materialization job does the same work the lazy
    completion job did)."""
    return sets_df.localCheckpoint(eager=True)


def _hash_params(n: int = N_HASHES) -> list[tuple[int, int]]:
    """Fixed multiplicative-shift family; python ints, no RNG."""
    params = []
    a, b = 0x9E3779B9, 0xC2B2AE3D
    for i in range(n):
        a = (a * 1103515245 + 12345) % _MERSENNE31
        b = (b * 1103515245 + 12345) % _MERSENNE31
        params.append((a | 1, b))
    return params


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """L1: exact dedup by content hash, keep the minimum id.
    Single shuffle keyed by md5(text)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


EXACT_DEDUP_SQL = """
SELECT MD5(text) AS content_hash, MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY MD5(text)
"""


def _banded_self_pairs(sets_df: DataFrame, band_width: int = 10) -> DataFrame:
    """Length-band blocked candidate pairs (a.doc_id < b.doc_id, same
    token-count band).  The band key turns the self-join into an
    equi-join — hash-partitioned, never a cross product."""
    banded = sets_df.withColumn(
        "band", F.floor(F.size("toks") / band_width).cast("int"))
    a = banded.select(F.col("doc_id").alias("doc_a"),
                      F.col("toks").alias("toks_a"), "band")
    b = banded.select(F.col("doc_id").alias("doc_b"),
                      F.col("toks").alias("toks_b"), "band")
    return a.join(b, "band").filter(F.col("doc_a") < F.col("doc_b"))


def jaccard_pairs(df: DataFrame, threshold: float = 0.8,
                  text_col: str = "text",
                  band_width: int = 10,
                  open_vocab: str = "lsh",
                  sets_df: DataFrame | None = None) -> DataFrame:
    """L5: token-set Jaccard near-dup pairs.  jaccard = |A∩B| / |A∪B|
    computed as exact integer division -> bit-identical across
    engines.

    Physical strategy is adaptive: when the corpus vocabulary fits in
    one machine word (< 64 distinct tokens), each token set becomes
    a bitmask and per-pair intersection is one AND + popcount —
    ~30x faster than array_intersect over the blocked pairs (59s ->
    2s at sf0.1).  Open-vocabulary corpora default to MinHash-LSH
    candidate generation (L6) + exact Jaccard verification on the
    candidates only — length bands don't bound band population, so
    exact-within-band is quadratic on a skewed key at corpus scale.
    ``open_vocab="band"`` keeps the exact length-band plan as an
    explicit small-corpus option (full recall, O(band^2) cost);
    ``open_vocab="signature"`` computes the SAME band-semantics
    result exactly but prunes pairs with a 1024-bit hash signature
    first (:func:`_signature_banded_pairs`) — band-pair count still
    applies, but each pruned pair costs 16 AND+popcounts instead of
    an array intersect (~14x on shingle-sized sets).

    ``sets_df``: optional caller-owned pre-tokenized (doc_id, toks)
    frame (persist it yourself and you own the unpersist); default
    builds one and stages it via :func:`_stage_sets`."""
    if sets_df is None:
        sets_df = _stage_sets(df.select(
            "doc_id", token_set(F.col(text_col)).alias("toks")))
    vocab = [r["t"] for r in sets_df
             .select(F.explode("toks").alias("t")).distinct()
             .orderBy("t").limit(65).collect()]
    # < 64, not <= : bit index 63 would need F.lit(1 << 63), which
    # exceeds the signed JVM long max — a legal 64-token corpus must
    # take the array path, not crash.
    if len(vocab) < 64:
        return _jaccard_pairs_bitmask(sets_df, vocab, threshold, band_width)
    if open_vocab == "signature":
        return _signature_banded_pairs(sets_df, threshold, band_width)
    if open_vocab == "lsh":
        return _exact_jaccard(_lsh_pairs_from_sets(sets_df), threshold,
                              sets_df)
    return _exact_jaccard(_banded_self_pairs(sets_df, band_width),
                          threshold)


def _exact_jaccard(pairs: DataFrame, threshold: float,
                   sets_df: DataFrame | None = None) -> DataFrame:
    """Exact-Jaccard verify: (doc_a, doc_b, jaccard) for the pairs
    with |A∩B| / |A∪B| >= ``threshold``.  ``pairs`` carries the token
    arrays as ``toks_a``/``toks_b``, or — given ``sets_df`` — only
    ``(doc_a, doc_b)`` candidates, whose arrays are joined back from
    ``sets_df`` first."""
    if sets_df is not None:
        a = sets_df.select(F.col("doc_id").alias("doc_a"),
                           F.col("toks").alias("toks_a"))
        b = sets_df.select(F.col("doc_id").alias("doc_b"),
                           F.col("toks").alias("toks_b"))
        pairs = pairs.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    jac = inter.cast("double") / union
    return (pairs.select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def _df_ordered_prefixes(base: DataFrame, n: int, d: int,
                         id_col: str = "doc_id"):
    """(dfreq, prefix) for the AllPairs prefix join: tokens sorted
    rarest-first by (global document frequency, token), each document
    exposing only its first ``m - ceil(n*m/d) + 1`` tokens with their
    1-based sorted positions.  The prefix frame feeds both self-join
    sides, so it is eagerly checkpointed.  Split out of
    :func:`prefix_filter_pairs` so the skew-resistance property —
    a corpus-universal stop-token sorts LAST everywhere and never
    enters any prefix — is directly testable on the very frame the
    join keys on (tests/test_invariants.py)."""
    toks = base.select(id_col, F.explode("toks").alias("tok"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("ndf"))
    ordered = (toks.join(dfreq, "tok")
               .groupBy(id_col)
               .agg(F.expr("transform(array_sort(collect_list("
                           "struct(ndf, tok))), s -> s.tok)")
                    .alias("st")))
    # prefix_len = m - ceil(t*m) + 1, with ceil(num*m/den) in exact
    # integer form
    plen = F.expr(
        f"size(st) - ((({n} * size(st))"
        f" + {d} - 1) div {d}) + 1")
    prefix = (ordered.select(F.col(id_col).alias("pid"),
                             F.size("st").alias("m"),
                             F.posexplode(F.slice("st", 1, plen))
                             .alias("pos0", "ptok"))
              .select("pid", "m", (F.col("pos0") + 1).alias("pos"),
                      "ptok")
              .localCheckpoint(eager=True))
    # The checkpointed prefix frame is the PROBE side of the
    # candidate self-join (the build side broadcasts), so the join
    # stage's parallelism equals this frame's partition count — and
    # AQE's byte-based coalescing leaves the small-bytes frame at 1
    # partition while the join fans out ~100x (measured r14: the
    # whole join+verify+count ran as ONE 5.4 s task on 32 cores;
    # wall 7.6-9.4 s -> 2.1-2.6 s at IDENTICAL ~10 s tree-CPU after
    # the spread).  Spreading AFTER the checkpoint beat force-
    # spreading before it (wall equal, CPU 13.5 vs 10 s): two cheap
    # consumer exchanges of a 26 k-row frame cost less than a
    # 32-task checkpoint write.  No-op at scale (guarded).
    return dfreq, spread(prefix)


def prefix_filter_pairs(df: DataFrame, threshold_num: int = 4,
                        threshold_den: int = 5,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """AllPairs/PPJoin prefix-filtered set-similarity join (Bayardo
    et al. 2007 / Xiao et al. 2008, public) — the LOSSLESS
    alternative to band/LSH blocking: sort each document's distinct
    tokens rarest-first (global document frequency, token tie-break)
    and keep only the PREFIX of length ``m - ceil(t*m) + 1``; any
    pair with token-set Jaccard >= t MUST share a prefix token
    (pigeonhole on the ``ceil(t*m)`` overlap a qualifying pair needs),
    so the prefix equi-join generates a complete candidate set and
    the exact verify drops the rest.  No recall loss, ever — the
    property band blocking (L5) and single-table LSH (X101's
    measured 11/20 misses) both trade away.

    Threshold is the exact rational ``threshold_num/threshold_den``
    (default 4/5 = 0.8); the verify is the division-free
    cross-multiplication ``den*inter >= num*union``.

    Scale (100 TB): the document-frequency frame is vocabulary-sized;
    prefix length shrinks as documents grow (a 100-token doc at 0.8
    exposes 21 tokens), and because prefixes hold each document's
    RAREST tokens, prefix-token buckets are small by construction —
    the published reason this plan beats banding on skewed corpora.
    One vocabulary shuffle, one prefix-key equi-join, one verify
    join back to the set frame.  The set frame and the exploded
    prefix frame each feed 2-3 downstream branches, so both are
    staged (the x65/x92 shared-subtree discipline — unstaged, the
    whole tokenize->order->slice tree re-executes per branch: 74 s
    -> ~25 s at sf0.1, measured r7).

    Two further LOSSLESS prunes on top of the prefix pigeonhole:
    - PPJoin POSITIONAL filter (Xiao et al. 2008 §3.2): a shared
      prefix token at (1-based) sorted positions (i, j) bounds the
      overlap by ``1 + min(m_a - i, m_b - j)``; a qualifying pair's
      FIRST shared token (which the prefix property guarantees sits
      inside both prefixes) always passes the bound, so filtering
      candidate-generating rows on it loses nothing while dropping
      deep-position-only collisions before the distinct.
    - CLOSED-VOCAB mask verify: when the corpus vocabulary fits in
      63 tokens (probed, same guard as :func:`jaccard_pairs`), the
      exact verify runs on 64-bit bitmask AND + popcount instead of
      joining token arrays — identical integers, 8-byte shuffle
      payloads.  Mask bits are assigned in the SAME rarest-first
      (df, token) total order the prefixes use, so the lowest set
      bit of ``mask_a & mask_b`` names each pair's FIRST shared
      token; keeping only the candidate row generated BY that token
      (PPJoin's first-occurrence dedup, here as a row-local bit
      trick) emits every qualifying pair exactly once — no
      ``distinct()`` shuffle at all, and the verify runs inline in
      the join stage.  Open-vocab corpora take the array_intersect
      path with an explicit pair distinct."""
    from .text import token_set
    n, d = threshold_num, threshold_den
    base = _stage_sets(
        df.select(id_col, token_set(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") > 0))
    dfreq, prefix = _df_ordered_prefixes(base, n, d, id_col)
    # LENGTH filter (the AllPairs companion prune, also lossless):
    # Jaccard >= num/den forces num*max(m_a,m_b) <= den*min(m_a,m_b),
    # so cross-length candidates die inside the join condition before
    # the verify pays for them.  Positional filter: qualifying needs
    # (n+d)*inter >= n*(m_a+m_b); this row's overlap upper bound is
    # 1 + min(m_a - pos_a, m_b - pos_b).
    ubound = 1 + F.least(F.col("a.m") - F.col("a.pos"),
                         F.col("b.m") - F.col("b.pos"))
    join_cond = ((F.col("a.ptok") == F.col("b.ptok"))
                 & (F.col("a.pid") < F.col("b.pid"))
                 & (n * F.col("b.m") <= d * F.col("a.m"))
                 & (n * F.col("a.m") <= d * F.col("b.m"))
                 & ((n + d) * ubound
                    >= n * (F.col("a.m") + F.col("b.m"))))
    # Closed-vocab probe off the (already tiny, already aggregated)
    # document-frequency frame, in the prefixes' own rarest-first
    # (ndf, tok) order; < 64 not <= 64 — bit index 63 would need
    # 1 << 63, past the signed JVM long (same guard as the
    # jaccard_pairs dispatch above).
    vocab = [r["tok"] for r in dfreq.select("tok", "ndf")
             .orderBy("ndf", "tok").limit(65).collect()]
    if len(vocab) < 64:
        kv = []
        for i, tk in enumerate(vocab):
            kv += [F.lit(tk), F.lit(1 << i).cast("long")]
        token_bit = F.create_map(*kv)
        mask = F.aggregate(
            F.col("toks"), F.lit(0).cast("long"),
            lambda acc, tk: acc.bitwiseOR(F.element_at(token_bit, tk)))
        masked = base.select(id_col, mask.alias("mask"),
                             F.size("toks").alias("sz"))
        sa = masked.select(F.col(id_col).alias("doc_a"),
                           F.col("mask").alias("mask_a"),
                           F.col("sz").alias("sz_a"))
        sb = masked.select(F.col(id_col).alias("doc_b"),
                           F.col("mask").alias("mask_b"),
                           F.col("sz").alias("sz_b"))
        # Precompute the generating token's bit ON THE PREFIX FRAME
        # (r14, guide §1.2 "per-task work"): ``element_at(create_map(
        # 62 literals), ptok)`` is not constant-folded — Catalyst
        # rebuilds the literal map PER EVALUATION — so filtering the
        # RAW candidate rows on it paid one map construction per
        # candidate (~10M at sf0.1).  As a prefix-frame column it is
        # evaluated once per prefix row (~100k) and crosses the join
        # as 8 fixed bytes.
        pexp = prefix.withColumn(
            "pbit", F.element_at(token_bit, F.col("ptok")))
        raw = (pexp.alias("a").join(pexp.alias("b"), join_cond)
               .select(F.col("a.pid").alias("doc_a"),
                       F.col("b.pid").alias("doc_b"),
                       F.col("a.pbit").alias("pbit"))
               .join(sa, "doc_a").join(sb, "doc_b")
               .withColumn("shared", F.col("mask_a")
                           .bitwiseAND(F.col("mask_b"))))
        # One surviving row per pair: this row's generating token is
        # the pair's first shared token (lowest set bit, rarest-first
        # bit order) — a qualifying pair's first shared token is
        # always inside both prefixes (the pigeonhole token bounds
        # its position), so exactly one row survives per true pair.
        first_shared = F.col("shared").bitwiseAND(-F.col("shared"))
        inter = F.bit_count("shared").cast("int")
        ver = (raw.filter(F.col("pbit") == first_shared)
               .select("doc_a", "doc_b", inter.alias("inter"),
                       (F.col("sz_a") + F.col("sz_b") - inter)
                       .cast("int").alias("uni")))
    else:
        cand = (prefix.alias("a").join(prefix.alias("b"), join_cond)
                .select(F.col("a.pid").alias("doc_a"),
                        F.col("b.pid").alias("doc_b"))
                .distinct())
        sa = base.select(F.col(id_col).alias("doc_a"),
                         F.col("toks").alias("ta"))
        sb = base.select(F.col(id_col).alias("doc_b"),
                         F.col("toks").alias("tb"))
        ver = (cand.join(sa, "doc_a").join(sb, "doc_b")
               .select("doc_a", "doc_b",
                       F.size(F.array_intersect("ta", "tb"))
                       .alias("inter"),
                       (F.size("ta") + F.size("tb")
                        - F.size(F.array_intersect("ta", "tb")))
                       .alias("uni")))
    return ver.filter(d * F.col("inter") >= n * F.col("uni"))


def prefix_filter_pairs_sql(threshold_num: int = 4,
                            threshold_den: int = 5,
                            table: str = "documents") -> str:
    """DuckDB twin: identical df-ordered prefix + verify."""
    from .text import token_set_sql
    n, d = threshold_num, threshold_den
    return f"""
WITH s AS (SELECT doc_id, {token_set_sql('text')} AS toks
           FROM {table}),
s2 AS (SELECT * FROM s WHERE LEN(toks) > 0),
tok AS (SELECT doc_id, UNNEST(toks) AS tok FROM s2),
dfreq AS (SELECT tok, COUNT(*) AS ndf FROM tok GROUP BY tok),
ordered AS (
  SELECT doc_id,
         LIST(tok ORDER BY ndf, tok) AS st,
         COUNT(*) AS m
  FROM tok JOIN dfreq USING (tok) GROUP BY doc_id),
pref AS (
  SELECT doc_id, m,
         UNNEST(st[1 : m - (({n} * m + {d} - 1) // {d}) + 1]) AS ptok
  FROM ordered),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b
    ON a.ptok = b.ptok AND a.doc_id < b.doc_id
   AND {n} * b.m <= {d} * a.m AND {n} * a.m <= {d} * b.m),
ver AS (
  SELECT doc_a, doc_b,
         LEN(LIST_INTERSECT(x.toks, y.toks)) AS inter,
         LEN(x.toks) + LEN(y.toks)
           - LEN(LIST_INTERSECT(x.toks, y.toks)) AS uni
  FROM cand JOIN s2 x ON x.doc_id = cand.doc_a
            JOIN s2 y ON y.doc_id = cand.doc_b)
SELECT doc_a, doc_b, inter, uni FROM ver
WHERE {d} * inter >= {n} * uni
"""


def _jaccard_pairs_bitmask(sets_df: DataFrame, vocab: list[str],
                           threshold: float,
                           band_width: int) -> DataFrame:
    """Bitmask fast path: token set -> 64-bit mask via a fold over a
    literal vocabulary array (row-local, no shuffle); blocked
    self-join compares masks with AND/popcount."""
    kv = []
    for i, t in enumerate(vocab):
        kv += [F.lit(t), F.lit(1 << i).cast("long")]
    token_mask = F.create_map(*kv)
    mask = F.aggregate(
        F.col("toks"), F.lit(0).cast("long"),
        lambda acc, t: acc.bitwiseOR(F.element_at(token_mask, t)))
    masked = sets_df.select(
        "doc_id", mask.alias("mask"), F.size("toks").alias("sz"))
    banded = masked.withColumn(
        "band", F.floor(F.col("sz") / band_width).cast("int"))
    a = banded.select(F.col("doc_id").alias("doc_a"),
                      F.col("mask").alias("mask_a"),
                      F.col("sz").alias("sz_a"), "band")
    b = banded.select(F.col("doc_id").alias("doc_b"),
                      F.col("mask").alias("mask_b"),
                      F.col("sz").alias("sz_b"), "band")
    pairs = a.join(b, "band").filter(F.col("doc_a") < F.col("doc_b"))
    inter = F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b")))
    union = F.col("sz_a") + F.col("sz_b") - inter
    jac = inter.cast("double") / union
    return (pairs.select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


SIG_WORDS = 16     # 1024-bit signatures; size for ~8x the typical set size


def _sig_mask_cols(n_words: int = SIG_WORDS) -> list:
    """Per-word signature columns from an ``idxs`` bit-index column
    (``pmod(xxhash64(token), 64*n_words)``).  FLAT long columns, one
    aggregate each, because array-valued masks fall out of
    whole-stage codegen and cost ~6x in the pair scan (measured)."""
    return [F.expr(
        f"aggregate(idxs, 0L, (acc, i) -> acc | "
        f"IF(i >= {w * 64} AND i < {w * 64 + 64}, "
        f"shiftleft(1L, CAST(i - {w * 64} AS INT)), 0L))").alias(f"_w{w}")
        for w in range(n_words)]


def _signature_banded_pairs(sets_df: DataFrame, threshold: float,
                            band_width: int,
                            n_words: int = SIG_WORDS) -> DataFrame:
    """EXACT open-vocabulary candidate generation: a fixed-width hash
    signature (Bloom-style bitmask over ``64*n_words`` bits) gives a
    sound UPPER bound on the intersection, so pruning below the
    threshold can never drop a true pair (unlike MinHash banding).

    The bound needs care: common tokens set common bits, so
    ``bits(A∩B) <= popcount(maskA & maskB)`` — but two COMMON tokens
    can collide into one shared bit, making popcount(A&B) an
    UNDERcount of |A∩B|.  The undercount is at most the number of
    intra-set collisions on either side (a common-token collision is
    in particular a collision within A and within B), which is
    observable per document: ``|s| - popcount(mask)``.  Hence

        |A∩B| <= popcount(A&B) + min(|A|-pc(A), |B|-pc(B))
               <= min(|A|, |B|)

    and filtering on the Jaccard computed from that bound is a
    COMPLETE pre-filter (randomized differential test asserts
    signature == band on planted near-dups; the naive bound WITHOUT
    the slack term provably drops boundary pairs).  The exact array
    intersect runs only on surviving candidates.

    Occupancy scales with tokens-per-set, NOT vocabulary size, so the
    prune stays sharp on any corpus; size ``n_words`` at ~8x the
    typical set size / 64.  The band join carries only (id, size,
    popcount, n_words longs) — the token arrays rejoin AFTER the
    filter, so the exchange never ships them per-pair (shipping them
    cost 3x wall, measured).  Returns exact (doc_a, doc_b, jaccard)
    pairs."""
    pc_terms = [F.bit_count(F.col(f"_w{w}")) for w in range(n_words)]
    pc = pc_terms[0]
    for t in pc_terms[1:]:
        pc = pc + t
    m = (sets_df
         .withColumn("idxs", F.transform(
             "toks", lambda t: F.pmod(F.xxhash64(t),
                                      F.lit(n_words * 64))))
         .select("doc_id", "toks", F.size("toks").alias("sz"),
                 *_sig_mask_cols(n_words))
         .withColumn("pc", pc))
    slim = (m.drop("toks", "idxs")
            .withColumn("band",
                        F.floor(F.col("sz") / band_width).cast("int")))
    a = slim.select(F.col("doc_id").alias("doc_a"),
                    F.col("sz").alias("sz_a"), F.col("pc").alias("pc_a"),
                    "band",
                    *[F.col(f"_w{w}").alias(f"_a{w}")
                      for w in range(n_words)])
    b = slim.select(F.col("doc_id").alias("doc_b"),
                    F.col("sz").alias("sz_b"), F.col("pc").alias("pc_b"),
                    "band",
                    *[F.col(f"_w{w}").alias(f"_b{w}")
                      for w in range(n_words)])
    terms = [F.bit_count(F.col(f"_a{w}").bitwiseAND(F.col(f"_b{w}")))
             for w in range(n_words)]
    ib = terms[0]
    for t in terms[1:]:
        ib = ib + t
    slack = F.least(F.col("sz_a") - F.col("pc_a"),
                    F.col("sz_b") - F.col("pc_b"))
    inter_ub = F.least(F.col("_ib") + slack,
                       F.least(F.col("sz_a"), F.col("sz_b")))
    cand = (a.join(b, "band").filter(F.col("doc_a") < F.col("doc_b"))
            .withColumn("_ib", ib)
            .withColumn("_iub", inter_ub)
            .filter(F.col("_iub").cast("double")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("_iub"))
                    >= threshold)
            .select("doc_a", "doc_b"))
    return _exact_jaccard(cand, threshold, sets_df)


def ngram_shingle_sets(df: DataFrame, n: int = 2,
                       text_col: str = "text") -> DataFrame:
    """(doc_id, toks) where toks = sorted distinct word n-gram
    shingles.  The token array is STAGED into a column before the
    shingle transform — referencing ``tokenize(text)`` inside the
    lambda re-runs the tokenizer regex per ``element_at`` (measured
    ~4x slower)."""
    return (df.withColumn("_tk", tokenize(F.col(text_col)))
            .withColumn("toks", F.array_sort(F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("_tk") - (n - 1)),
                    lambda i: F.array_join(F.slice("_tk", i, n), " ")))))
            .select("doc_id", "toks"))


def ngram_jaccard_pairs(df: DataFrame, n: int = 2,
                        threshold: float = 0.6,
                        text_col: str = "text",
                        band_width: int = 10,
                        method: str = "signature") -> DataFrame:
    """L5 variant: Jaccard over word n-gram shingles — order-aware
    near-dup detection (catches re-ordered bags that token-set
    Jaccard conflates).  Shingle vocabularies never fit one machine
    word, so two physical strategies:

    - ``method="signature"`` (exact, the oracle twin): candidates from
      the exact signature pre-filter (:func:`_signature_banded_pairs`)
      — identical results to the band self-join, ~14x faster at sf0.1
      (117 s -> ~8 s), but the band join is still O(band^2) pairs by
      construction.
    - ``method="lsh"`` (the scale path / bench headline): MinHash-LSH
      candidate generation (8 bands x 4 rows; the corpus' true
      near-dups sit at jaccard>=0.8 where per-pair recall is
      1-(1-j^4)^8 >= 0.97, measured 1.0 at sf0.1 — and crucially the
      r=4 rows keep moderate-similarity word-soup pairs OUT: at
      j=0.3 the collision rate is 0.06 vs 0.78 under a 16x2 banding,
      751 candidates vs 218k measured) followed by EXACT Jaccard
      verification on candidates only.  Output is a subset of the
      exact pairs with property-tested recall (>=95%,
      ``l5_ngram_lsh`` registry row); pair-generation cost is linear
      in true-match density, not band population — this is the plan
      that survives 100 TB.
    """
    sets_df = _stage_sets(ngram_shingle_sets(df, n, text_col))
    if method == "lsh":
        return _exact_jaccard(_lsh_pairs_from_sets(sets_df, n_bands=8),
                              threshold, sets_df)
    return _signature_banded_pairs(sets_df, threshold, band_width)


def _h31_expr(toks):
    """Per-token 31-bit base hash array: pmod(xxhash64(token), M31).
    Computed ONCE and shared by all N_HASHES components — the string
    hash dominates the per-component linear map, so hashing inside
    each component costs ~N_HASHES x more (measured)."""
    return F.transform(toks, lambda t: F.pmod(F.xxhash64(t),
                                              F.lit(_MERSENNE31)))


def _sig_from_hashes(hs):
    """MinHash signature from a precomputed h31 array column:
    component_i = min over tokens of (a_i * h31 + b_i) mod M31
    (a,h < 2^31 keeps products inside int64)."""
    return F.array(*[
        F.array_min(F.transform(
            hs, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_MERSENNE31)))
        for a, b in _hash_params()])


def _check_bands(n_bands: int) -> int:
    """Validate a band count against the frozen hash family (r10,
    ADVICE): ``N_HASHES // n_bands`` with a non-dividing ``n_bands``
    would SILENTLY drop the trailing signature hashes (weakening the
    LSH recall contract), and ``n_bands > N_HASHES`` would make
    rows-per-band zero so ``F.hash()`` gets zero columns and fails
    with an opaque analyzer error.  Fail loudly instead; returns the
    exact rows-per-band."""
    if not (isinstance(n_bands, int) and 1 <= n_bands <= N_HASHES
            and N_HASHES % n_bands == 0):
        raise ValueError(
            f"n_bands must be an integer divisor of N_HASHES="
            f"{N_HASHES} in [1, {N_HASHES}], got {n_bands!r}")
    return N_HASHES // n_bands


def _band_rows(sets: DataFrame, id_col: str, n_bands: int) -> DataFrame:
    """(``id_col``, band_idx, band_hash) from an (``id_col``, toks)
    frame: the one MinHash signature -> band-hash projection, shared
    by in-memory candidate generation (:func:`_lsh_pairs_from_sets`)
    and the persisted index (:func:`lsh_band_relation`) so both band
    a document identically.  Rows-per-band = N_HASHES/n_bands,
    validated by :func:`_check_bands`."""
    rpb = _check_bands(n_bands)
    sigs = (sets.withColumn("_hs", _h31_expr(F.col("toks")))
            .select(id_col, _sig_from_hashes(F.col("_hs")).alias("sig")))
    return sigs.select(
        id_col,
        F.posexplode(F.array(*[
            F.hash(*[F.col("sig")[i] for i in
                     range(b * rpb, (b + 1) * rpb)])
            for b in range(n_bands)
        ])).alias("band_idx", "band_hash"))


def _lsh_pairs_from_sets(sets_df: DataFrame,
                         n_bands: int = N_BANDS) -> DataFrame:
    """Banded-LSH candidate pairs from a (doc_id, toks) frame: the
    :func:`_band_rows` relation (more bands -> lower s-curve
    threshold) self-equi-joined on (band_idx, band_hash)."""
    # r14 (guide §2.4): both sides of the band self-join consumed
    # this subtree, recomputing the 32-hash MinHash signature per
    # side (~0.6 s each at sf0.1).  One eager checkpoint of the
    # narrow (doc_id, band_idx, band_hash) relation computes it once.
    bands = _band_rows(sets_df, "doc_id", n_bands).localCheckpoint(
        eager=True)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_hash")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_hash")
    return (a.join(b, ["band_idx", "band_hash"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """L6: banded-LSH candidate pairs.  Deterministic (fixed seeds);
    probabilistic recall bounds are property-tested against L5 ground
    truth, never hash-matched."""
    return _lsh_pairs_from_sets(
        df.select("doc_id", token_set(F.col(text_col)).alias("toks")))


def lsh_band_relation(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      n_bands: int = N_BANDS,
                      n_buckets: int = 32) -> DataFrame:
    """The (did, band_idx, band_hash, bucket) LSH band relation —
    shared by the index writer, the delta appender, and the prober
    (the ``_postings`` discipline: one relation builder so the hash
    family, banding, and bucket assignment can never drift between
    build and probe).  All built-ins (xxhash64 / transform /
    array_min / hash), fully JVM-side: signature + bands are
    row-local, no shuffle until the caller's layout step."""
    sets = df.select(F.col(id_col).alias("did"),
                     token_set(F.col(text_col)).alias("toks"))
    return _band_rows(sets, "did", n_bands).withColumn(
        "bucket", F.pmod(F.xxhash64("band_idx", "band_hash"),
                         F.lit(n_buckets)).cast("int"))


_LSH_META = "_lsh_meta.json"


def _lsh_meta_check(index_dir: str, n_bands: int,
                    n_buckets: int) -> None:
    """Fail loudly on a frozen-parameter mismatch (r10): an append
    or probe with a different ``n_buckets`` silently scatters rows
    across an inconsistent bucket layout, and a different
    ``n_bands`` changes the band keys — both corrupt the index
    without an error anywhere near the cause.  A legacy index with
    no sidecar passes unchecked (backward compatible; its parity
    booleans still catch drift end-to-end)."""
    meta = _get_json(index_dir, _LSH_META)
    if meta is None:
        return
    want = {"n_hashes": N_HASHES, "n_bands": n_bands,
            "n_buckets": n_buckets}
    if meta != want:
        raise ValueError(
            f"LSH index at {index_dir} was built with {meta}, "
            f"called with {want} — the hash family and bucket "
            f"layout are FROZEN at build time")


def lsh_index_write(df: DataFrame, index_dir: str,
                    text_col: str = "text", id_col: str = "doc_id",
                    n_bands: int = N_BANDS,
                    n_buckets: int = 32) -> None:
    """X132: build and PERSIST the MinHash-LSH band index — the
    dedup family's missing index-lifecycle quadrant (ANN has
    x109/x87/x114, text serving has x117/x121/x123; x38's scale note
    'the corpus side becomes a persisted band+signature index'
    becomes executable here).  One row per (doc, band), parquet-
    partitioned by ``bucket = pmod(xxhash64(band_idx, band_hash),
    n_buckets)`` and (band_idx, band_hash)-sorted within each
    bucket file, so a probe batch's band keys prune bucket
    directories at planning time and row-group min/max stats skip
    inside them.

    Scale (100 TB): built ONCE per corpus snapshot (one tokenize
    scan + one bucket shuffle of the fixed-width band relation —
    n_bands x 12 bytes per doc, never text); every later crawl-shard
    ingest probes this index instead of re-tokenizing the corpus."""
    _publisher(index_dir)   # an unsupported scheme raises before the write
    (lsh_band_relation(df, text_col, id_col, n_bands, n_buckets)
     .repartition("bucket")
     .sortWithinPartitions("band_idx", "band_hash")
     .write.mode("overwrite").partitionBy("bucket").parquet(index_dir))
    # stamp the FROZEN parameters (r10) in a `_` sidecar Spark's
    # reader skips, AFTER the sink (an overwrite clears the directory)
    _put_json(index_dir, _LSH_META, {"n_hashes": N_HASHES,
                                     "n_bands": n_bands,
                                     "n_buckets": n_buckets})


def lsh_index_append(df: DataFrame, index_dir: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     n_bands: int = N_BANDS,
                     n_buckets: int = 32) -> None:
    """X132 delta append — the x87/x121 frozen-layout discipline for
    the LSH index: the delta batch's band rows are computed with the
    SAME shared relation builder (hash family and banding are module
    constants, frozen by construction) and land in the same buckets
    as new files; existing bucket files are never rewritten, ingest
    cost is one tokenize scan + one shuffle of the DELTA only.
    append == rebuild EXACTLY because a (doc, band) row depends only
    on that doc's text (x132 registry parity boolean)."""
    index_dir = _resolve_layout(index_dir)  # versioned root or plain dir
    _lsh_meta_check(index_dir, n_bands, n_buckets)
    (lsh_band_relation(df, text_col, id_col, n_bands, n_buckets)
     .repartition("bucket")
     .sortWithinPartitions("band_idx", "band_hash")
     .write.mode("append").partitionBy("bucket").parquet(index_dir))


def lsh_index_probe(spark, index_dir: str, batch: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    n_bands: int = N_BANDS,
                    n_buckets: int = 32) -> DataFrame:
    """X132 probe — near-dup CANDIDATES for an incoming batch against
    the persisted corpus index: (batch_id, corpus_id) pairs that
    collide in >= 1 LSH band, distinct.  This is the incremental-
    dedup serving read path: the batch is banded with the shared
    relation builder (row-local, JVM-side), its DISTINCT BUCKET LIST
    (bounded by n_buckets — metadata, not data) lands the bucket
    filter on the index scan's partition column, and candidates come
    from one (band_idx, band_hash) equi-join.  A small shard probe
    reads only its buckets; exact verification (token-set Jaccard on
    the candidate pairs only) stays with the caller, as in L5/L6.

    Identity contract: with the same frozen hash family this is
    row-identical to banding the corpus in memory and equi-joining
    (the in-flight L6 path) — locked by the x132 registry row.

    ``index_dir`` may be a plain layout directory or a VERSIONED
    index root (``publish.publish``): the pointer is resolved ONCE
    up front, so the whole probe reads a single consistent version
    even if a compaction publishes mid-query."""
    index_dir = _resolve_layout(index_dir)
    _lsh_meta_check(index_dir, n_bands, n_buckets)
    q = lsh_band_relation(batch, text_col, id_col, n_bands, n_buckets)
    q = q.localCheckpoint(eager=True)   # reused: bucket list + join
    buckets = sorted(r["bucket"] for r in
                     q.select("bucket").distinct().collect())
    idx = (spark.read.parquet(index_dir)
           .filter(F.col("bucket").isin(buckets)))
    return (idx.withColumnRenamed("did", "corpus_id")
            .join(q.withColumnRenamed("did", "batch_id"),
                  ["bucket", "band_idx", "band_hash"])
            .filter(F.col("batch_id") != F.col("corpus_id"))
            .select("batch_id", "corpus_id").distinct())


def lsh_index_compact(spark, layers: list[str], out_dir: str) -> None:
    """X123's layout-restoring COMPACTION applied to the x132 LSH
    band index (r10, VERDICT r9 #2 — the lifecycle's last missing
    quadrant): ``lsh_index_append`` adds new files per bucket
    forever, so at crawl cadence the bucket directories accumulate
    small files and the sorted-within-bucket layout that enables
    row-group min/max skipping on (band_idx, band_hash) decays.
    This maintenance pass folds the layers back into the canonical
    one-file-per-bucket, (band_idx, band_hash)-sorted layout the
    one-shot build produces (:func:`publish._compact_layers`, with
    the frozen-parameter sidecar carried all-or-none).  Probes
    between compactions stay correct on the layered form, merely
    reading more, smaller files."""
    metas = [_get_json(layer, _LSH_META) for layer in layers]
    stamped = [m for m in metas if m is not None]
    bare = [layer for layer, m in zip(layers, metas) if m is None]
    # all-or-none sidecars (ADVICE r10): a sidecar-less layer mixed
    # with sidecar-bearing ones CANNOT be verified parameter-
    # compatible — folding it in could silently merge two different
    # hash families.  All-bare (a pure legacy index) stays allowed,
    # matching _lsh_meta_check's backward compatibility.
    if stamped and bare:
        raise ValueError(
            f"layers {bare} have no {_LSH_META} sidecar while "
            f"other layers do — their frozen LSH parameters cannot "
            f"be verified; stamp them (or compact them separately)")
    if any(m != stamped[0] for m in stamped[1:]):
        raise ValueError(f"layers disagree on frozen LSH parameters: "
                         f"{stamped}")
    _compact_layers(spark, layers, out_dir,
                    ["did", "band_idx", "band_hash", "bucket"],
                    ["band_idx", "band_hash"])
    if stamped:   # carry the frozen parameters onto the new layout
        _put_json(out_dir, _LSH_META, stamped[0])


def simhash(df: DataFrame, text_col: str = "text",
            bits: int = 64) -> DataFrame:
    """SimHash: 64-bit locality-sensitive fingerprint, fully
    vectorized inside each Arrow batch.

    Per batch: tokenize (one C-regex split per doc), FNV-1a-hash the
    batch's UNIQUE tokens as a numpy byte-matrix fold (vectorized
    across tokens, looping only over the max token length), bit-unpack
    every hash once into a (n_uniq, bits) ±1 matrix, and scatter-add
    per document — no per-token or per-bit Python loop.  Values are
    identical to :func:`simhash_reference` (differential-tested)."""
    out_schema = "doc_id long, simhash long"

    def _part(batches):
        import re

        import numpy as np
        import pandas as pd

        splitter = re.compile(r"[\W_]+")   # runs of non-alphanumerics
        shifts = np.arange(bits, dtype=np.uint64)
        weights = np.uint64(1) << shifts
        prime = np.uint64(0x100000001B3)
        one = np.uint64(1)
        for pdf in batches:
            n = len(pdf)
            tok_lists = [[t for t in splitter.split(txt.lower()) if t]
                         for txt in pdf[text_col]]
            acc = np.zeros((n, bits), dtype=np.int64)
            flat = [t for toks in tok_lists for t in toks]
            if flat:
                counts = np.fromiter((len(t) for t in tok_lists),
                                     dtype=np.int64, count=n)
                doc_idx = np.repeat(np.arange(n), counts)
                uniq, inv = np.unique(np.asarray(flat, dtype=object),
                                      return_inverse=True)
                enc = [u.encode() for u in uniq]
                lens = np.fromiter((len(e) for e in enc),
                                   dtype=np.int64, count=len(enc))
                mat = np.zeros((len(enc), int(lens.max())), dtype=np.uint64)
                for i, e in enumerate(enc):
                    mat[i, :len(e)] = np.frombuffer(e, dtype=np.uint8)
                h = np.full(len(enc), 0xCBF29CE484222325, dtype=np.uint64)
                for j in range(mat.shape[1]):       # FNV-1a, all tokens at once
                    m = lens > j
                    h[m] = (h[m] ^ mat[m, j]) * prime
                bitmat = ((h[:, None] >> shifts) & one).astype(np.int64)
                np.add.at(acc, doc_idx, 2 * bitmat[inv] - 1)
            sh = ((acc > 0).astype(np.uint64) * weights).sum(
                axis=1, dtype=np.uint64)
            yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(),
                                "simhash": sh.view(np.int64)})

    return df.select("doc_id", text_col).mapInPandas(_part, out_schema)


def simhash_reference(df: DataFrame, text_col: str = "text",
                      bits: int = 64) -> DataFrame:
    """Scalar spec implementation of :func:`simhash` (per-token
    FNV-1a, per-bit accumulation).  Kept only as the differential-test
    oracle — O(tokens x bits) Python work per row; never use in a
    pipeline."""
    out_schema = "doc_id long, simhash long"

    def _part(batches):
        import numpy as np
        import pandas as pd

        def h64(tok: str) -> int:
            # FNV-1a 64-bit: stable across runs/processes (no PYTHONHASHSEED)
            h = 0xCBF29CE484222325
            for ch in tok.encode():
                h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
            return h

        for pdf in batches:
            ids, hashes = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                toks = [t for t in
                        "".join(c if c.isalnum() or c == " " else " "
                                for c in text.lower()).split() if t]
                acc = np.zeros(bits, dtype=np.int64)
                for t in toks:
                    hv = h64(t)  # python int (may exceed int64) —
                    bitvec = np.fromiter(((hv >> i) & 1 for i in range(bits)),
                                         dtype=np.int64, count=bits)
                    acc += np.where(bitvec == 1, 1, -1)
                sh = 0
                for i in range(bits):
                    if acc[i] > 0:
                        sh |= (1 << i)
                # store as signed 64-bit
                if sh >= 1 << 63:
                    sh -= 1 << 64
                ids.append(doc_id)
                hashes.append(sh)
            yield pd.DataFrame({"doc_id": ids, "simhash": hashes})

    return df.select("doc_id", text_col).mapInPandas(_part, out_schema)


def dedup_clusters(pairs: DataFrame, *, id_a: str = "doc_a",
                   id_b: str = "doc_b", max_iter: int = 25) -> DataFrame:
    """Connected components over a near-dup pair list -> duplicate
    CLUSTERS (each doc labeled with the min doc_id of its component
    — the canonical representative to keep).

    ALTERNATING LARGE-STAR / SMALL-STAR (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"): the round count
    scales with log(component size), not graph DIAMETER, so a long
    chain of near-duplicates (versioned pages) converges in a few
    rounds — a 10^6-node path in ~20.  Each round is two conditional
    re-attachment passes over the edge relation:
    - large-star: every node u attaches its LARGER neighbors to
      m = min(N(u) ∪ {u});
    - small-star: every node u attaches its smaller-or-equal
      neighbors to the same m.
    The edge set converges to stars centered at each component's
    minimum; a node's root is then its minimum neighbor (or itself).
    Convergence test = edge-set fixpoint via a changed-count (no
    driver data collect), lineage truncated per round with
    localCheckpoint.  Running out of rounds RAISES: labels from a
    non-converged edge set would be plausible but wrong clusters.

    The iteration itself is non-SQL-expressible, but its FIXPOINT
    is: the l11/x104 registry rows oracle the clusters against a
    recursive-CTE reachability twin; equality vs union-find is
    pytest-checked."""
    if max_iter < 1:
        # delta starts at 0, so a never-entered loop would skip the
        # non-convergence guard below and silently emit cluster_ids
        # computed from the raw, never-iterated edge set.
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    edges = (pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
             .unionByName(pairs.select(F.col(id_b).alias("u"),
                                       F.col(id_a).alias("v")))
             .distinct().localCheckpoint(eager=True))
    # The initial edge set is symmetric and keeps self-pairs, so every
    # endpoint appears as u: the node set rides on this checkpoint
    # instead of costing a scan of its own.
    nodes = edges.select(F.col("u").alias("n")).distinct()

    def _sym(e: DataFrame) -> DataFrame:
        return (e.unionByName(e.select(F.col("v").alias("u"),
                                       F.col("u").alias("v")))
                .filter(F.col("u") != F.col("v")).distinct())

    def large_star(e: DataFrame) -> DataFrame:
        # m = min(N(u) ∪ {u}); attach every STRICTLY LARGER neighbor
        # to m (each undirected edge is processed exactly once, from
        # its smaller endpoint)
        m = (e.groupBy("u")
             .agg(F.least(F.min("v"), F.col("u")).alias("m")))
        out = (e.filter(F.col("v") > F.col("u")).join(m, "u")
               .select(F.col("v").alias("u"), F.col("m").alias("v")))
        return _sym(out)

    def small_star(e: DataFrame) -> DataFrame:
        # over the SMALLER-OR-EQUAL neighborhood only: m = min(S ∪
        # {u}); attach every small neighbor AND u itself to m
        es = e.filter(F.col("v") <= F.col("u"))
        m = (es.groupBy("u")
             .agg(F.least(F.min("v"), F.col("u")).alias("m")))
        out = (es.join(m, "u")
               .select(F.col("v").alias("a"), F.col("m").alias("b"))
               .unionByName(m.select(F.col("u").alias("a"),
                                     F.col("m").alias("b"))))
        return _sym(out.select(F.col("a").alias("u"),
                               F.col("b").alias("v")))

    delta = 0
    for _ in range(max_iter):
        new_e = small_star(large_star(edges))
        new_e = new_e.localCheckpoint(eager=True)
        # ONE tagged-union job per round: both relations are distinct
        # SETS, so sum(tag) per (u, v) is +1/-1/0 and the nonzero-key
        # count IS the symmetric difference size.
        delta = (new_e.withColumn("__t", F.lit(1))
                 .unionByName(edges.withColumn("__t", F.lit(-1)))
                 .groupBy("u", "v").agg(F.sum("__t").alias("__s"))
                 .filter(F.col("__s") != 0).count())
        edges = new_e
        if delta == 0:
            break
    if delta != 0:
        # the alternating rounds converge in O(log component size), so
        # hitting this means max_iter was set far too low for the
        # graph, not a transient condition.
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds "
            f"(last round still changed {delta} edges)")
    roots = (edges.groupBy("u")
             .agg(F.least(F.min("v"), F.col("u")).alias("root")))
    return (nodes.join(roots, nodes.n == roots.u, "left")
            .select(F.col("n").alias("doc_id"),
                    F.coalesce("root", "n").alias("cluster_id")))


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.95,
                            block_col: str = "label") -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by a coarse key
    (label here; at scale an LSH/IVF bucket id).  See
    operators/similarity.py for the cosine machinery."""
    from .similarity import cosine_expr
    a = emb.select(F.col("vec_id").alias("vec_a"),
                   F.col("embedding").alias("emb_a"),
                   F.col(block_col).alias("blk"))
    b = emb.select(F.col("vec_id").alias("vec_b"),
                   F.col("embedding").alias("emb_b"),
                   F.col(block_col).alias("blk"))
    pairs = a.join(b, "blk").filter(F.col("vec_a") < F.col("vec_b"))
    cos = cosine_expr(F.col("emb_a"), F.col("emb_b"))
    return (pairs.select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def semantic_dup_ids(emb: DataFrame, threshold: float = 0.3,
                     id_col: str = "vec_id") -> DataFrame:
    """SemDeDup-style semantic duplicate detection (Abbas et al.
    2023, public): a vector is a DUPLICATE when some LOWER-id vector
    in the SAME deterministic LSH bucket has cosine >= threshold —
    the embarrassingly-parallel pair-marking variant of the greedy
    keep-first scan (a dup may itself mark later dups, which only
    widens removal; declared semantics, mirrored exactly in SQL).

    Buckets come from the fixed-seed hyperplane signature
    (``similarity.lsh_bucket_expr``), so the whole operator is
    deterministic and oracle-checkable — unlike sampled-k-means
    clustering, which is why SemDeDup's k-means stage is swapped for
    LSH here (same blocking role, exact replay in DuckDB).

    Scale (100 TB): the bucket id is the blocking key — candidate
    pairs come from an equi-join on ``bkt`` (plan-gated: no
    cartesian), the same discipline as L5/L6.  Pick ``n_planes`` ~
    log2(corpus / target_bucket_size) so per-bucket population stays
    bounded; at real scale the bucket id is precomputed at ingest
    and doubles as the partition key, making the self-join
    co-partitioned."""
    from .similarity import cosine_expr, lsh_bucket_expr
    bkt = lsh_bucket_expr()(F.col("embedding"))
    base = emb.select(id_col, "embedding").withColumn("bkt", bkt)
    a = base.select(F.col(id_col).alias("_ida"),
                    F.col("embedding").alias("_ea"), "bkt")
    b = base.select(F.col(id_col).alias("_idb"),
                    F.col("embedding").alias("_eb"), "bkt")
    cos = F.round(cosine_expr(F.col("_ea"), F.col("_eb")), 6)
    return (a.join(b, "bkt")
            .filter(F.col("_ida") < F.col("_idb"))
            .filter(cos >= threshold)
            .select(F.col("_idb").alias(id_col))
            .distinct())


def paragraph_dedup(df: DataFrame, chunk: int = 5,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """C4/RefinedWeb-style PARAGRAPH-level exact dedup: split each
    document into fixed-width token chunks ("paragraphs" — the
    fixture text has no newlines), keep only the corpus-wide FIRST
    occurrence of every chunk (ordered by doc_id, position), and
    reassemble each document from its surviving chunks.  A document
    whose every chunk already appeared elsewhere disappears entirely.

    Scale (100 TB): one explode (row-local), ONE shuffle keyed by the
    chunk text for the keep-first window, one reassembly agg keyed by
    doc id.  Chunk totals ride along as a pre-explode expression, so
    no extra pass or join.  All JVM expressions — no UDF.
    """
    # r15 (the r14 n-gram lesson, guide §1.2): the token array must
    # be STAGED into its own projection before the per-chunk lambda —
    # passing the raw split() expression lets Catalyst substitute it
    # into every slice() reference, re-splitting the text once per
    # chunk position (O(len^2/chunk) per document).  Bit-identical
    # output; measured ~1.7x on the l13 bench row.
    staged = df.select(
        F.col(id_col), F.split(text_col, " ").alias("__toks"))
    n_total = (F.ceil(F.size("__toks") / F.lit(chunk)).cast("long"))
    paras = (staged.select(
        id_col,
        n_total.alias("n_paras_total"),
        F.posexplode(F.transform(
            F.sequence(F.lit(0), (n_total - 1).cast("int")),
            lambda i: F.concat_ws(
                " ", F.slice("__toks", i * chunk + 1, chunk))))
        .alias("pos", "para")))
    w = Window.partitionBy("para").orderBy(id_col, "pos")
    kept = (paras.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1))
    return (kept.groupBy(id_col)
            .agg(F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("pos", "para"))),
                        lambda s: s.getField("para")), " ")
                 .alias("text_clean"),
                 F.count(F.lit(1)).alias("n_paras_kept"),
                 F.max("n_paras_total").alias("n_paras_total")))


def incremental_dedup(new_df: DataFrame, corpus_df: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Snapshot-ingest dedup: admit only NEW-batch documents whose
    exact content (md5) appears neither in the existing corpus nor
    earlier in the batch itself (keep-first by id within the batch).

    Scale (100 TB): the corpus side reduces to DISTINCT hashes before
    the join — at real scale that's the previous snapshot's persisted
    hash index, so each ingest shuffles only the new batch plus a
    hash column, never re-reads corpus text.  Left-anti hash join +
    one keep-first window, both keyed on the content hash.
    """
    nh = new_df.withColumn("_h", F.md5(F.col(text_col)))
    w = Window.partitionBy("_h").orderBy(id_col)
    batch_first = (nh.withColumn("_rn", F.row_number().over(w))
                   .filter(F.col("_rn") == 1).drop("_rn"))
    corpus_hashes = (corpus_df
                     .select(F.md5(F.col(text_col)).alias("_h"))
                     .distinct())
    return (batch_first.join(corpus_hashes, "_h", "left_anti")
            .drop("_h"))


def incremental_fuzzy_dedup(new_df: DataFrame, corpus_df: DataFrame,
                            threshold: float = 0.8,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Fuzzy snapshot-ingest dedup (the near-dup extension of
    :func:`incremental_dedup`): admit only NEW-batch documents that
    are not a near-duplicate (same-length-band token-set Jaccard >=
    ``threshold``) of ANY corpus document or of any lower-id document
    in the batch itself.  Band-restricted semantics keep the operator
    exactly SQL-expressible (the declared contract, same as L5).

    Scale (100 TB): near-dup pairs come from ONE signature-pruned
    band join over corpus+batch (``open_vocab="signature"``, sound
    upper bound — no true pair dropped); at real scale the corpus
    side is the previous snapshot's persisted (band, signature)
    index, so each ingest shuffles only the new batch against index
    buckets, never re-tokenizing corpus text.  The rejection logic is
    two hash joins on doc ids (pair list is near-dup-density-sized,
    far smaller than the corpus)."""
    new_ids = new_df.select(F.col(id_col).alias("x"))
    both = new_df.unionByName(corpus_df)
    pairs = jaccard_pairs(both, threshold=threshold, text_col=text_col,
                          open_vocab="signature")
    # undirected pair list -> both orientations (x = candidate-for-
    # rejection side, y = the witness)
    und = (pairs.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y"))
           .unionByName(pairs.select(F.col("doc_b").alias("x"),
                                     F.col("doc_a").alias("y"))))
    in_batch = und.join(new_ids, "x")
    corpus_ids = corpus_df.select(F.col(id_col).alias("y"))
    batch_witness = new_ids.select(F.col("x").alias("y"))
    rejected = (in_batch.join(corpus_ids, "y", "left_semi")
                .unionByName(
                    in_batch.join(batch_witness, "y", "left_semi")
                    .filter(F.col("y") < F.col("x")))
                .select("x").distinct())
    return (new_df.join(rejected.withColumnRenamed("x", id_col),
                        id_col, "left_anti")
            .select(id_col))


def apply_dedup_clusters(df: DataFrame, clusters: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Materialize the fuzzy-dedup decision: keep each near-dup
    cluster's canonical representative (its min-id member, i.e. the
    doc whose cluster_id equals its own id) plus every document that
    belongs to no cluster.  One broadcast-or-hash join keyed by id —
    the cluster table is |graph nodes| rows, far smaller than the
    corpus at scale."""
    return (df.join(clusters, id_col, "left")
            .filter(F.col("cluster_id").isNull()
                    | (F.col("cluster_id") == F.col(id_col)))
            .drop("cluster_id"))


def apply_dedup_clusters_best(df: DataFrame, clusters: DataFrame,
                              score_col: str,
                              id_col: str = "doc_id") -> DataFrame:
    """Quality-aware dedup materialization: instead of the min-id
    member, keep each near-dup cluster's HIGHEST-``score_col`` member
    (ties -> lowest id) plus every unclustered document — the
    keep-the-best-copy policy training-data pipelines actually want
    (the copies differ by boilerplate, and min-id is arbitrary).

    Scale: same single id-keyed join as ``apply_dedup_clusters``; the
    argmax window partitions by cluster_id over ONLY the clustered
    rows (graph-node count, not corpus count), so window state is
    bounded by the largest near-dup cluster."""
    from pyspark.sql import Window
    joined = df.join(clusters, id_col, "left")
    unclustered = (joined.filter(F.col("cluster_id").isNull())
                   .drop("cluster_id"))
    w = (Window.partitionBy("cluster_id")
         .orderBy(F.col(score_col).desc(), F.col(id_col)))
    best = (joined.filter(F.col("cluster_id").isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "cluster_id"))
    return unclustered.unionByName(best)


def dup_window_stats(df: DataFrame, window: int = 10,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact duplicated-substring detection, the token-window variant
    of Lee et al. 2021 ("Deduplicating Training Data Makes Language
    Models Better"): slide a fixed-width token window over every
    document, count how many of a document's windows also occur
    elsewhere in the corpus (any second occurrence, same doc or not),
    and report the per-document duplicated-window fraction — the
    signal that drives substring-level (not whole-doc) dedup.

    Scale (100 TB): the window explode is row-local (one output row
    per token, ~window x text volume in bytes, bounded by ``window``);
    occurrence counting is ONE shuffle keyed by the window's 64-bit
    ``xxhash64`` via a count-over-partition window function (no
    second pass, no join) — the shuffle moves 8-byte hashes, not the
    ~10-token strings (~25% faster here, ~window x cheaper in shuffle
    bytes at scale; collision odds ~n^2/2^65 only ever overcount a
    dup, and at >10^9 distinct windows you'd widen to a 128-bit hash);
    the per-doc rollup is one more shuffle keyed by doc id.
    """
    toks = (df.select(id_col, tokenize(F.col(text_col)).alias("t"))
            .filter(F.size("t") >= window))
    wins = toks.select(
        id_col,
        F.explode(F.transform(
            F.sequence(F.lit(1), F.size("t") - window + 1),
            lambda i: F.array_join(F.slice("t", i, window), " ")))
        .alias("w0"))
    wins = wins.select(id_col, F.xxhash64("w0").alias("win"))
    occ = F.count(F.lit(1)).over(Window.partitionBy("win"))
    flagged = wins.select(id_col, (occ >= 2).cast("int").alias("is_dup"))
    return (flagged.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_windows"),
                 F.sum("is_dup").alias("n_dup_windows"),
                 F.round(F.sum("is_dup") / F.count(F.lit(1)), 6)
                  .alias("dup_frac")))


def dup_span_removal(df: DataFrame, window: int = 10,
                     text_col: str = "text",
                     id_col: str = "doc_id",
                     group_col: str = "source") -> DataFrame:
    """The ACTION on :func:`dup_window_stats`'s report — Lee et al.
    2021 substring-level dedup materialized: every duplicated token
    window keeps its FIRST corpus occurrence (global (doc, pos)
    order) and every later occurrence marks its covered token
    positions for deletion; documents are reassembled from surviving
    tokens.  Returns the per-``group_col`` audit: documents, tokens
    before/after, documents modified — all exact integers.

    The window key is the engine-portable md5 of the window text
    (32-char shuffle key instead of ~window-token strings; exact, no
    collision caveat at fixture scale — at >10^9 windows you'd pair
    it with a length prefix).

    Scale (100 TB): window explode and deletion-interval explode are
    row-local; keep-first ranking is ONE shuffle keyed by window
    hash; the distinct deletion set is keyed by (doc, pos) and is
    only as large as the duplicated volume.  No driver-side state,
    no global window.

    r15 (guide §1.2 "the distributed algorithm"): the audit never
    needs the token RELATION — only counts.  Every deletion position
    is by construction a live token position (window spans lie in
    [1, len]), so ``tokens_after == tokens_before - |dels|`` exactly,
    and the per-doc token count comes from ``size(tokenize(text))``
    at DOC level.  This removes the posexplode of every token, the
    token-level anti-join, and the countDistinct over the token
    relation (measured: 2.1-2.7 s noop wall / 7-14 s CPU -> ~1.5 s /
    ~3.5 s at sf0.1, output bit-identical; differential + oracle
    green).  ``greatest(size, 0)`` guards NULL text under both
    sizeOfNull settings, and the ``tokens_before > 0`` filter keeps
    the historical contract that a group whose documents all
    tokenize empty does not appear (the token relation never had
    rows for it)."""
    n_tok = F.greatest(F.size(tokenize(F.col(text_col))), F.lit(0))
    base = df.select(F.col(id_col), F.col(group_col),
                     n_tok.alias("__n"))
    t = (df.select(id_col, tokenize(F.col(text_col)).alias("t"))
         .filter(F.size("t") >= window))
    wins = t.select(
        id_col,
        F.explode(F.transform(
            F.sequence(F.lit(1), F.size("t") - window + 1),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.array_join(F.slice("t", i, window), " "))
                .alias("h")))).alias("w")) \
        .select(id_col, "w.pos", "w.h")
    rk = Window.partitionBy("h").orderBy(id_col, "pos")
    later = (wins.withColumn("_rn", F.row_number().over(rk))
             .filter(F.col("_rn") >= 2))
    dels = (later.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"),
                             F.col("pos") + window - 1)).alias("pos"))
        .distinct())
    before = (base.groupBy(group_col).agg(
        F.sum((F.col("__n") > 0).cast("long")).alias("n_docs"),
        F.sum("__n").alias("tokens_before"))
        .filter(F.col("tokens_before") > 0))
    removed = (dels.join(base.select(id_col, group_col), id_col)
               .groupBy(group_col)
               .agg(F.count(F.lit(1)).alias("__n_del"),
                    F.countDistinct(id_col).alias("n_docs_changed")))
    return (before.join(removed, group_col, "left")
            .select(group_col, "n_docs",
                    F.col("tokens_before").cast("long")
                    .alias("tokens_before"),
                    (F.col("tokens_before")
                     - F.coalesce("__n_del", F.lit(0))).cast("long")
                    .alias("tokens_after"),
                    F.coalesce("n_docs_changed", F.lit(0).cast("long"))
                    .alias("n_docs_changed")))


def dup_span_removal_sql(window: int = 10,
                         table: str = "documents") -> str:
    """DuckDB twin of :func:`dup_span_removal` — identical window
    hashing, keep-first ranking, and interval deletion algebra."""
    from .text import tokenize_sql
    tok = tokenize_sql("text")
    w = window
    return f"""
WITH t AS (SELECT doc_id, source, {tok} AS t FROM {table}),
toks AS (
  SELECT doc_id, source, i AS pos, t[i] AS tok
  FROM t, UNNEST(range(1, LEN(t) + 1)) AS u(i)),
wins AS (
  SELECT doc_id, i AS pos,
         MD5(ARRAY_TO_STRING(t[i:i + {w - 1}], ' ')) AS h
  FROM t, UNNEST(range(1, LEN(t) - {w} + 2)) AS u(i)
  WHERE LEN(t) >= {w}),
later AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos)
             AS rn
    FROM wins) WHERE rn >= 2),
dels AS (
  SELECT DISTINCT doc_id, p AS pos
  FROM later, UNNEST(range(pos, pos + {w})) AS u(p)),
kept AS (
  SELECT toks.* FROM toks
  WHERE NOT EXISTS (SELECT 1 FROM dels
                    WHERE dels.doc_id = toks.doc_id
                      AND dels.pos = toks.pos)),
b AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
             COUNT(*) AS tokens_before
      FROM toks GROUP BY source),
a AS (SELECT source, COUNT(*) AS tokens_after
      FROM kept GROUP BY source),
c AS (SELECT source, COUNT(*) AS n_docs_changed
      FROM (SELECT DISTINCT toks.doc_id, toks.source FROM toks
            JOIN (SELECT DISTINCT doc_id FROM dels) dd
              ON dd.doc_id = toks.doc_id)
      GROUP BY source)
SELECT b.source, b.n_docs, b.tokens_before,
       COALESCE(a.tokens_after, 0) AS tokens_after,
       COALESCE(c.n_docs_changed, 0) AS n_docs_changed
FROM b LEFT JOIN a ON a.source = b.source
LEFT JOIN c ON c.source = b.source
"""


def containment_pairs(df: DataFrame, n: int = 2, df_cap: int = 20,
                      min_grams: int = 5,
                      text_col: str = "text") -> DataFrame:
    """ASYMMETRIC near-dup detection — containment
    ``C(A->B) = |A n B| / |A|`` over word-``n``-gram shingle sets,
    the measure that catches quotes and subset duplication Jaccard
    misses (a short doc fully embedded in a long one has high
    containment but low Jaccard, so length-band blocking is
    structurally wrong here).  Blocking is a RARE-GRAM inverted
    index: candidate ordered pairs share at least one shingle whose
    corpus document-frequency is <= ``df_cap``; each rare gram
    contributes at most df_cap^2 pairs, so candidate volume is
    df-capped at any corpus size — the standard entity-resolution
    prefix/rare-token discipline.  Candidates are then verified with
    the EXACT integer cross-multiplication ``5*|A n B| >= 4*|A|``
    (C >= 0.8).  The declared contract (like l5_ngram_lsh) is
    blocking + exact verify; the oracle replays the identical chain.

    Returns the one-row exact audit: candidate ordered pairs,
    contained pairs, distinct contained documents.

    Scale (100 TB): gram explode row-local; document frequency is one
    gram-keyed aggregate; the inverted-index self-join is keyed by
    rare gram (bounded fan-out); exact verify joins sets back by doc
    id.  No cartesian anywhere."""
    # Stage the (doc_id, toks) frame (the jaccard_pairs _stage_sets
    # discipline) — it feeds the inverted index AND both exact-verify
    # sides, and unstaged the shingle-array projection is collapsed
    # into the verify join and re-built PER CANDIDATE PAIR (measured
    # r14 at sf0.1: x66 ~52 s -> ~15 s noop wall with the checkpoint;
    # combined with the slice n-gram form, ~95 s -> ~15 s).
    sets_df = _stage_sets(ngram_shingle_sets(df, n, text_col)
                          .filter(F.size("toks") >= min_grams))
    ex = sets_df.select("doc_id", F.explode("toks").alias("g"))
    rare = (ex.groupBy("g").agg(F.count(F.lit(1)).alias("dfreq"))
            .filter(F.col("dfreq") <= df_cap).select("g"))
    inv = ex.join(rare, "g")
    cand = (inv.select(F.col("doc_id").alias("doc_a"), "g")
            .join(inv.select(F.col("doc_id").alias("doc_b"), "g"), "g")
            .filter(F.col("doc_a") != F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
    a = sets_df.select(F.col("doc_id").alias("doc_a"),
                       F.col("toks").alias("ta"))
    b = sets_df.select(F.col("doc_id").alias("doc_b"),
                       F.col("toks").alias("tb"))
    res = (cand.join(a, "doc_a").join(b, "doc_b")
           .select("doc_a", "doc_b",
                   F.size(F.array_intersect("ta", "tb")).alias("i"),
                   F.size("ta").alias("na")))
    contained = (5 * F.col("i") >= 4 * F.col("na")).cast("long")
    return res.agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.sum(contained).alias("n_contained_pairs"),
        F.countDistinct(F.when(5 * F.col("i") >= 4 * F.col("na"),
                               F.col("doc_a")))
         .alias("n_docs_contained"))


def containment_pairs_sql(n: int = 2, df_cap: int = 20,
                          min_grams: int = 5,
                          table: str = "documents") -> str:
    """DuckDB twin of :func:`containment_pairs` — identical rare-gram
    blocking and integer verify."""
    from .text import tokenize_sql
    tok = tokenize_sql("text")
    grams = (f"LIST_SORT(LIST_DISTINCT(LIST_TRANSFORM("
             f"RANGE(1, LEN({tok}) - {n - 2}), "
             f"i -> ARRAY_TO_STRING(({tok})[i:i + {n - 1}], ' '))))")
    return f"""
WITH s AS (
  SELECT doc_id, {grams} AS toks FROM {table}),
s2 AS (SELECT * FROM s WHERE LEN(toks) >= {min_grams}),
ex AS (SELECT doc_id, UNNEST(toks) AS g FROM s2),
rare AS (SELECT g FROM (SELECT g, COUNT(*) AS dfreq FROM ex GROUP BY g)
         WHERE dfreq <= {df_cap}),
inv AS (SELECT ex.doc_id, ex.g FROM ex JOIN rare USING (g)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id != b.doc_id),
res AS (
  SELECT cand.doc_a, cand.doc_b,
         LEN(LIST_INTERSECT(sa.toks, sb.toks)) AS i,
         LEN(sa.toks) AS na
  FROM cand
  JOIN s2 sa ON sa.doc_id = cand.doc_a
  JOIN s2 sb ON sb.doc_id = cand.doc_b)
SELECT COUNT(*) AS n_candidate_pairs,
       CAST(SUM(CASE WHEN 5 * i >= 4 * na THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contained_pairs,
       CAST(COUNT(DISTINCT CASE WHEN 5 * i >= 4 * na
                                THEN doc_a END) AS BIGINT)
         AS n_docs_contained
FROM res
"""


def qgram_edit_pairs(df: DataFrame, k: int = 10, q: int = 4,
                     text_col: str = "text",
                     id_col: str = "doc_id",
                     count_filter: str = "auto") -> DataFrame:
    """Lossless EDIT-DISTANCE self-join (Gravano et al. 2001,
    "Approximate String Joins in a Database (Almost) for Free";
    prefix idea per Ed-Join, Xiao et al. 2008 — both public): emit
    every pair of documents with Levenshtein distance <= ``k``,
    completing the dedup family's distance menu (x103 = set Jaccard,
    L6/LSH = probabilistic Jaccard, this = character edit distance —
    the near-dup notion OCR/crawl pipelines need, where token sets
    barely move but characters do).

    Filter stack, each step LOSSLESS on the declared domain
    (len >= q*(k+1), i.e. at least q*k+1 positional q-grams):
    - LENGTH filter: ed <= k forces |len_a - len_b| <= k (each edit
      changes length by at most 1).
    - Q-GRAM PREFIX filter: one edit alters at most ``q`` positional
      q-gram occurrences, so k edits eliminate at most q*k gram
      TYPES from a document's distinct-gram set:
      |G(a) & G(b)| >= |G(a)| - q*k.  Under a global rarest-first
      (df, gram) total order, a qualifying pair must therefore share
      a gram inside BOTH documents' (q*k + 1)-gram prefixes — the
      AllPairs prefix theorem with the constant required-overlap
      deficit q*k.  Each document exposes only its q*k+1 RAREST
      grams as join keys (~14% of a 300-char doc at the defaults),
      and rarest-first buckets are small by construction (the same
      skew-resistance argument as x103).
    - EXACT verify: ``levenshtein(a, b) <= k`` — an integer both
      engines compute identically, so the declared output
      (doc_a, doc_b, ed) is bit-exact cross-engine.

    Scale (100 TB): one gram-df shuffle (vocabulary-sized result),
    one doc-keyed window to slice prefixes, one prefix-gram
    equi-join (closed-vocab path: with the count filter pipelined
    inside it, pre-distinct) + pair distinct, one candidate-sized
    verify join back to the text frame.  The O(len^2) Levenshtein
    DP runs ONLY on surviving candidates.  Documents shorter than q*(k+1) are outside the
    declared domain (a short-string tier would pair them separately
    — at real scale they are the cheap tier)."""
    grams = F.array_distinct(F.expr(
        f"transform(sequence(1, length(__txt) - {q - 1}), "
        f"i -> substring(__txt, i, {q}))"))
    # r14 (guide §2.3/§6): the base checkpoint used to materialize
    # the per-doc DISTINCT GRAM ARRAY (a ~|G|-string nested column)
    # alongside the text — a 1.8 s single-task stage at sf0.1 whose
    # array was then only ever exploded or size()d.  Checkpoint the
    # narrow (id, text, len) frame instead, and materialize the
    # FLAT exploded gram relation once (it feeds dfreq, the prefix
    # window, and the mask build — three consumers).
    base = (df.select(id_col, F.col(text_col).alias("__txt"))
            .withColumn("len", F.length("__txt"))
            .filter(F.col("len") >= q * (k + 1))
            .localCheckpoint(eager=True))   # feeds prefix + 2 verify branches
    ex = (base.select(id_col, "len", F.explode(grams).alias("gram"))
          .localCheckpoint(eager=True))
    dfreq = ex.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy("df", "gram")
    prefix = (ex.join(dfreq, "gram")
              .withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= k * q + 1)
              .select(F.col(id_col).alias("pid"), "len", "gram"))
    # COUNT filter (Gravano 2001) before the O(len^2) DP: a
    # qualifying pair must share >= max(|G(a)|, |G(b)|) - q*k gram
    # TYPES (k edits eliminate at most q*k types).  On
    # tiny-vocabulary corpora (this fixture: 31 tokens -> 985 char
    # grams), where every document shares most gram types and the
    # prefix filter degrades toward the cross product, this is the
    # prune that keeps the DP off the candidates (measured at
    # sf0.1: >500 s prefix-only, ~20 s with an array-intersect
    # count filter, 8.5 s with post-distinct bitmaps, ~4 s with the
    # pre-distinct bitmap form below).
    #
    # Branch on the PROBED gram-vocabulary size (the jaccard_pairs /
    # x103 closed-vocab discipline):
    # - <= 63*64 gram types: assign each gram a bit in the SAME
    #   rarest-first (df, gram) order and give every doc a fixed
    #   64-long mask array, carried THROUGH the prefix join itself
    #   (128 fixed bytes per prefix row), so the popcount(AND) count
    #   filter runs PIPELINED inside the candidate-join stage —
    #   BEFORE the pair distinct.  On the degraded tiny-vocab corpus
    #   this collapses the distinct's input from every prefix-
    #   sharing pair occurrence (1.7 M rows at sf0.1) to the few
    #   hundred count-surviving ones, and the verify join back to
    #   the text column is candidate-sized instead of 479 k pairs.
    # - open gram vocabulary: the ~|G|-string gram arrays are far
    #   too wide to carry through the prefix join (KBs per row vs
    #   128 B) — distinct the id pairs first, then array_intersect
    #   on the two arrays at the verify join.
    if count_filter not in ("auto", "array"):
        raise ValueError(f"unknown count_filter {count_filter!r}")
    # vocabulary-sized driver scalar — only the bitmap branch needs
    # it, so the explicit array path skips the extra Spark job (r9,
    # ADVICE)
    n_grams = dfreq.count() if count_filter == "auto" else 0
    if count_filter == "auto" and n_grams <= 63 * 64:
        from ..exprs import bounded_part
        n_words = (n_grams + 62) // 63
        wb = Window.partitionBy(bounded_part("df")).orderBy("df", "gram")
        bits = dfreq.withColumn(
            "bit", (F.row_number().over(wb) - 1).cast("int"))
        # __n (the doc's distinct-gram count) is exactly this
        # aggregation's row count — computing it here retires the
        # former size(g) + base-join (one join and one shuffle
        # fewer; r14).
        masks = (ex.join(bits, "gram")
                 .groupBy(id_col)
                 .agg(F.count(F.lit(1)).alias("__n"),
                      *[F.expr(
                          f"bit_or(case when bit div 63 = {wi} then "
                          f"shiftleft(1L, cast(bit % 63 as int)) "
                          f"else 0L end)").alias(f"__m{wi}")
                          for wi in range(n_words)]))
        mcols = [f"__m{wi}" for wi in range(n_words)]
        info = masks.withColumnRenamed(id_col, "pid")
        # Stage the mask-carrying prefix relation ONCE (r14):
        # unstaged, the whole explode->dfreq->window->mask subtree
        # executed twice (plan ops 16-55 duplicated as 61-115 in
        # the r14 before capture).  An explicit 32-wide gram-keyed
        # repartition lived here while the candidate join evaluated
        # ~54 M same-gram pairs; the length banding below cut that
        # to ~2.6 M, after which the forced width was pure per-task
        # fixed cost — A/B at sf0.1 (3 runs each): forced-32
        # 6.4-7.1 s wall / 23-30 s tree CPU vs AQE-sized 5.5-6.2 s
        # / 18-22 s.  AQE's byte-proportional sizing is right again
        # once the fan-out matches the bytes, so the join is left
        # to it (guide §2.2).
        pm = prefix.join(info, "pid").localCheckpoint(eager=True)
        # r15 (guide §2.5; the x103 probe-side lesson at one remove):
        # the candidate join below lands as a BroadcastHashJoin whose
        # STREAM side inherits pm's checkpoint width — and AQE
        # coalesces the small-BYTES pm to ~1 partition while the join
        # fans out quadratically in bucket sizes.  The r15 scaling
        # probe (x4 fixture) measured the 42 M-pair stage at width
        # ~2: 92 s wall / 140 s tree CPU on 32 cores, 8-vs-32-core
        # ratio 1.04 (i.e. zero parallelism).  Widen pm by ROW COUNT
        # (a monotone proxy for the fan-out), capped at
        # defaultParallelism — scale-adaptive: the count is a cheap
        # job over the materialized checkpoint, the divisor keeps
        # sf0.1 at its measured-optimal ~8 tasks, and at real scale
        # the checkpoint is already wide so the guard no-ops.
        n_pm = pm.count()
        width = min(max(int(n_pm) // 25_000, 1),
                    pm.sparkSession.sparkContext.defaultParallelism)
        if width > pm.rdd.getNumPartitions():
            pm = pm.repartition(width)
        # LENGTH BANDING on the join key (r14, guide §3 "avoid
        # exploding joins"): |la - lb| <= k puts a qualifying pair
        # in the same or adjacent width-(k+1) length band, so
        # joining on (gram, band) with one side exploded to its 3
        # adjacent bands enumerates only length-compatible pairs —
        # measured sf0.1: 4.2% of same-gram pairs survive the
        # length filter, so the join stops evaluating the other
        # ~96% (54 M -> ~2.6 M pair evaluations).  Lossless: the
        # exact |la - lb| <= k filter below is unchanged, banding
        # only prunes pairs that filter already rejected.  Both
        # sides stay hash-partitioned by gram ({gram} is a subset
        # of the (gram, band) join keys), so no new exchange.
        band = F.floor(F.col("len") / F.lit(k + 1)).cast("int")
        pa = pm.select(F.col("pid").alias("ida"),
                       F.col("len").alias("la"),
                       F.col("__n").alias("__na"), "gram",
                       band.alias("band"),
                       *[F.col(m).alias("__a" + m) for m in mcols])
        pb = pm.select(F.col("pid").alias("idb"),
                       F.col("len").alias("lb"),
                       F.col("__n").alias("__nb"), "gram",
                       F.explode(F.array(band - 1, band,
                                         band + 1)).alias("band"),
                       *[F.col(m).alias("__b" + m) for m in mcols])
        shared = sum(F.bit_count(
            F.col("__a" + m).bitwiseAND(F.col("__b" + m)))
            for m in mcols)
        cand = (pa.join(pb, ["gram", "band"])
                .filter((F.col("ida") < F.col("idb"))
                        & (F.abs(F.col("la") - F.col("lb")) <= k)
                        & (shared >= F.greatest("__na", "__nb")
                           - q * k))
                .select("ida", "idb").distinct())
        verified = (cand
                    .join(base.select(F.col(id_col).alias("ida"),
                                      F.col("__txt").alias("__ta")),
                          "ida")
                    .join(base.select(F.col(id_col).alias("idb"),
                                      F.col("__txt").alias("__tb")),
                          "idb"))
    else:
        # same length banding as the bitmap branch (lossless — the
        # exact length filter below is unchanged)
        band = F.floor(F.col("len") / F.lit(k + 1)).cast("int")
        a = prefix.select(F.col("pid").alias("ida"),
                          F.col("len").alias("la"), "gram",
                          band.alias("band"))
        b = prefix.select(F.col("pid").alias("idb"),
                          F.col("len").alias("lb"), "gram",
                          F.explode(F.array(band - 1, band,
                                            band + 1)).alias("band"))
        cand = (a.join(b, ["gram", "band"])
                .filter((F.col("ida") < F.col("idb"))
                        & (F.abs(F.col("la") - F.col("lb")) <= k))
                .select("ida", "idb").distinct())
        # the open-vocab verify needs the gram ARRAYS — materialize
        # them once here (this branch only; the bitmap branch never
        # pays for the nested column)
        gbase = (base.withColumn("g", grams)
                 .localCheckpoint(eager=True))
        ta = gbase.select(F.col(id_col).alias("ida"),
                          F.col("__txt").alias("__ta"),
                          F.size("g").alias("__na"),
                          F.col("g").alias("__ga"))
        tb = gbase.select(F.col(id_col).alias("idb"),
                          F.col("__txt").alias("__tb"),
                          F.size("g").alias("__nb"),
                          F.col("g").alias("__gb"))
        count_ok = (F.size(F.array_intersect("__ga", "__gb"))
                    >= F.greatest("__na", "__nb") - q * k)
        verified = (cand.join(ta, "ida").join(tb, "idb")
                    .filter(count_ok))
    return (verified
            .select(F.col("ida").alias("doc_a"),
                    F.col("idb").alias("doc_b"),
                    F.levenshtein("__ta", "__tb").cast("long")
                    .alias("ed"))
            .filter(F.col("ed") <= k))
