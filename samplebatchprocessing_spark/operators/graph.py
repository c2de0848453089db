"""Iterative graph algorithms as join+aggregate loops.

PageRank here is the canonical "iterate a join-agg to fixpoint"
Spark pattern (same driver-synchronized loop family as the
large-star/small-star connected-components operator in
``dedup.py::dedup_clusters``, which also raises when it runs out of
rounds).
No reference ancestry — the reference (`GetJobs.py`) has no graph
surface; this is the Spark-first design for link analysis over an
edge list.

Exactness contract: ranks are **scaled fixed-point BIGINTs**
(``SCALE = 1_000_000``), every step uses integer multiply +
integer floor-division, so a fixed iteration count yields
bit-identical results on any engine — the DuckDB oracle unrolls the
same recurrence as a CTE chain.  (Float PageRank would diverge
between engines on summation order alone.)

Scale notes (billions of edges):
- ``ranks`` is O(nodes) and re-shuffles each iteration keyed by the
  join key; ``edges`` is the big side and should be pre-partitioned
  by ``src`` once (``repartition(src)`` + persist) so each
  iteration's join co-locates against the cached edge partitioning
  instead of re-shuffling the edge list.
- Per-iteration ``localCheckpoint`` truncates the lineage so the
  plan doesn't grow with the iteration count (same idiom as
  dedup_clusters).
- Dangling nodes (no out-edges) keep only the teleport term; their
  outgoing mass is dropped rather than redistributed — declared,
  and exact on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000


def pagerank_fixedpoint(edges: DataFrame, iterations: int = 3,
                        damping_pct: int = 85,
                        src: str = "src", dst: str = "dst",
                        weight: str = "w") -> DataFrame:
    """Weighted PageRank over (src, dst, w) with integer fixed-point
    arithmetic.  Returns (node, rank_scaled) — rank ~ rank_scaled /
    SCALE, sum over nodes <= n_nodes * SCALE (floor losses + dangling
    mass are dropped).

    Recurrence (all BIGINT, positive, floor division):
        contrib(u, v) = (rank[u] * damping_pct * w(u, v))
                          DIV (100 * out_w(u))
        rank'(v)      = SCALE * (100 - damping_pct) DIV 100
                          + sum_u contrib(u, v)
    """
    nodes = (edges.select(F.col(src).alias("node"))
             .unionByName(edges.select(F.col(dst).alias("node")))
             .distinct())
    out_w = (edges.groupBy(src)
             .agg(F.sum(F.col(weight)).alias("out_w")))
    # big side: pre-joined (src, dst, w, out_w), partitioned by src
    # once and pinned — iterations join ranks against this layout.
    links = (edges.join(out_w, src)
             .select(F.col(src).alias("u"), F.col(dst).alias("v"),
                     F.col(weight).cast("bigint").alias("w"),
                     F.col("out_w").cast("bigint").alias("out_w"))
             .repartition("u").persist())
    teleport = SCALE * (100 - damping_pct) // 100
    ranks = nodes.select("node", F.lit(SCALE).cast("bigint")
                         .alias("rank_scaled"))
    for it in range(iterations):
        # `div` = integer floor division (exact; a double `/` would
        # round and drift from the DuckDB `//` oracle).
        contribs = (links.join(ranks, links.u == ranks.node)
                    .select(F.col("v"),
                            F.expr(f"(rank_scaled * {damping_pct} * w)"
                                   f" div (100 * out_w)")
                            .alias("contrib")))
        summed = (contribs.groupBy("v")
                  .agg(F.sum("contrib").alias("s")))
        ranks = (nodes.join(summed, nodes.node == summed.v, "left")
                 .select(F.col("node"),
                         (F.lit(teleport)
                          + F.coalesce(F.col("s"), F.lit(0)))
                         .cast("bigint").alias("rank_scaled")))
        # truncate lineage between iterations (not after the last:
        # the caller gets a one-iteration plan over the pinned links,
        # inspectable via explain(), instead of an opaque RDD scan)
        if it < iterations - 1:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def _canon_edges(edges: DataFrame, a: str, b: str) -> DataFrame:
    """Canonical undirected edge list: {x, y} -> one (u < v) row,
    self-loops and duplicates/reversals dropped; eagerly
    localCheckpointed (the x65/x92 shared-subtree discipline — every
    triangle kernel re-reads it several times)."""
    return (edges
            .select(F.least(F.col(a), F.col(b)).alias("u"),
                    F.greatest(F.col(a), F.col(b)).alias("v"))
            .filter(F.col("u") < F.col("v"))
            .distinct()
            .localCheckpoint(eager=True))


def _degrees(e: DataFrame) -> DataFrame:
    """(node, dg) over a canonical edge list, eagerly checkpointed
    (node-sized, re-read by orientation + census)."""
    return (e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("dg"))
            .localCheckpoint(eager=True))


def _tri_degree_oriented(e: DataFrame, deg: DataFrame) -> DataFrame:
    """1-row n_triangles via degree-ordered orientation (Suri &
    Vassilvitskii 2011): orient every edge from its lower-(degree,
    id) endpoint to the higher one, join oriented wedges (s->t1,
    s->t2) back against the oriented edge (t1->t2).  Each triangle
    matches EXACTLY once: its minimum-(degree, id) vertex is the
    wedge center, and of the two ordered (t1, t2) pairs only the one
    agreeing with the third edge's orientation survives the
    equi-join.  The orientation bounds every out-neighborhood by
    O(sqrt(m)) regardless of raw degree skew — wedge fan-out is
    sum(d_out^2) = O(m^1.5) worst-case instead of the hub-dominated
    sum(deg^2) of a naive wedge join."""
    du = deg.select(F.col("node").alias("u"), F.col("dg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("dg").alias("dv"))
    u_first = ((F.col("du") < F.col("dv"))
               | ((F.col("du") == F.col("dv"))
                  & (F.col("u") < F.col("v"))))
    oe = (e.join(du, "u").join(dv, "v")
          .select(F.when(u_first, F.col("u")).otherwise(F.col("v"))
                  .alias("s"),
                  F.when(u_first, F.col("v")).otherwise(F.col("u"))
                  .alias("t"))
          .localCheckpoint(eager=True))
    e1 = oe.select(F.col("s"), F.col("t").alias("t1"))
    e2 = oe.select(F.col("s"), F.col("t").alias("t2"))
    e3 = oe.select(F.col("s").alias("t1"), F.col("t").alias("t2"))
    return (e1.join(e2, "s")
            .filter(F.col("t1") != F.col("t2"))
            .join(e3, ["t1", "t2"])
            .agg(F.count(F.lit(1)).alias("n_triangles")))


def _tri_rawid_oriented(e: DataFrame) -> DataFrame:
    """1-row n_triangles via RAW-ID orientation (x36's measured
    plan): the canonical (u < v) edges are already an acyclic
    orientation, so a triangle a<b<c closes as path (a,b)+(b,c)
    joined against (a,c) — two equi-joins, NO degree computation and
    NO re-orientation pass.  On a near-uniform-degree graph this is
    the faster kernel (measured r9: 78 s vs 247 s at sf0.1 on the
    dense dup graph — orientation cannot shrink fan-out when there
    are no hubs, but still pays its two extra passes); on a
    hub-skewed graph the max-id hub center makes it blow up, which
    is what :func:`triangle_count_auto`'s probe protects against."""
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (e1.join(e2, F.col("e1.v") == F.col("e2.u"))
            .join(e3, (F.col("e3.u") == F.col("e1.u"))
                  & (F.col("e3.v") == F.col("e2.v")))
            .agg(F.count(F.lit(1)).alias("n_triangles")))


def _census(deg: DataFrame, tri: DataFrame) -> DataFrame:
    """Assemble the declared 1-row census from the node-degree frame
    and a 1-row triangle count.  transitivity = 3 * triangles /
    wedges, kept exact as parts-per-million floor division."""
    summary = (deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # coalesce: SUM over an EMPTY degree frame is NULL, but the
        # empty graph's census is all-zeros, not all-NULL
        F.expr("cast(coalesce(sum(dg), 0) div 2 as bigint)")
        .alias("n_edges"),
        F.expr("cast(coalesce(sum(dg * (dg - 1) div 2), 0) as bigint)")
        .alias("n_wedges")))
    return (summary.crossJoin(tri)  # two 1-row frames
            .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
                    F.expr("case when n_wedges > 0 then "
                           "cast(3 * n_triangles * 1000000 div n_wedges"
                           " as bigint) end")
                    .alias("transitivity_ppm")))


def triangle_count(edges: DataFrame, a: str = "a",
                   b: str = "b") -> DataFrame:
    """Exact triangle census over an undirected edge list, via
    degree-ordered edge orientation (the distributed-triangle
    standard: Suri & Vassilvitskii 2011, "Counting Triangles and the
    Curse of the Last Reducer").  Returns ONE row:
    (n_nodes, n_edges, n_wedges, n_triangles, transitivity_ppm).

    All joins are keyed equi-joins (plan-gated: no cartesian); the
    canonical edge list and the node-degree frame are each computed
    once and eagerly localCheckpointed.  See
    :func:`_tri_degree_oriented` for the orientation argument and
    :func:`triangle_count_auto` for the measured kernel-choice rule.
    """
    e = _canon_edges(edges, a, b)
    deg = _degrees(e)
    return _census(deg, _tri_degree_oriented(e, deg))


def triangle_count_rawid(edges: DataFrame, a: str = "a",
                         b: str = "b") -> DataFrame:
    """The same exact census through the RAW-ID-oriented kernel —
    the dense-uniform-graph tool (see :func:`_tri_rawid_oriented`).
    Output-identical to :func:`triangle_count` on every input
    (triangle counts are orientation-invariant; differential-tested
    kernel-vs-kernel)."""
    e = _canon_edges(edges, a, b)
    return _census(_degrees(e), _tri_rawid_oriented(e))


def orientation_is_skewed(max_deg: int, n_nodes: int, sum_deg: int,
                          skew_threshold: int = 8) -> bool:
    """:func:`triangle_count_auto`'s decision predicate, exact
    integer arithmetic (no float division): hub-skewed iff
    max_degree / mean_degree >= skew_threshold, i.e.
    ``max_deg * n_nodes >= skew_threshold * sum_deg``.  Pure
    function so the rule itself is unit-testable apart from the
    kernels it steers (the bench.py ``sentinel_verdict`` precedent).
    """
    return max_deg * n_nodes >= skew_threshold * sum_deg


def triangle_count_auto(edges: DataFrame, a: str = "a",
                        b: str = "b",
                        skew_threshold: int = 8) -> DataFrame:
    """Kernel-choosing triangle census (r10, VERDICT r9 #4): encode
    the measured x36/x112 orientation decision as an operator
    instead of a per-callsite human choice.

    Probe: ONE aggregate over the node-sized degree frame —
    ``max(dg) * n_nodes >= skew_threshold * sum(dg)`` (exact integer
    compare of max/mean degree ratio, a 1-row driver scalar).
    Hub-skewed -> degree-oriented kernel (orientation bounds wedge
    fan-out by O(sqrt m) — a hub star's raw-id plan is quadratic in
    the hub degree); near-uniform -> raw-id kernel (orientation
    cannot shrink fan-out without hubs but still pays the degree
    join + two re-orientation passes; measured r9 at sf0.1: 78 s
    raw-id vs 247 s degree-oriented on the dense dup graph).  The
    default threshold 8 sits between the fixture regimes: the dense
    dup graph probes ~2-3x, a hub star probes ~n/2.

    Both kernels share the canonical edge list and the degree frame
    (already needed for the census), so the probe's marginal cost is
    one node-sized aggregate — o(graph) against the wedge join it
    steers.  Output is identical either way (orientation-invariant;
    differential-tested against both fixed kernels)."""
    if skew_threshold < 1:
        raise ValueError(
            f"skew_threshold must be >= 1, got {skew_threshold}")
    e = _canon_edges(edges, a, b)
    deg = _degrees(e)
    probe = deg.agg(F.max("dg").alias("mx"),
                    F.sum("dg").alias("sm"),
                    F.count(F.lit(1)).alias("n")).first()
    if probe["n"] == 0:                 # empty graph: either kernel
        return _census(deg, _tri_rawid_oriented(e))
    skewed = orientation_is_skewed(probe["mx"], probe["n"],
                                   probe["sm"], skew_threshold)
    tri = (_tri_degree_oriented(e, deg) if skewed
           else _tri_rawid_oriented(e))
    return _census(deg, tri)


def _peel_once(sym: DataFrame, k: int) -> DataFrame:
    """One k-core peel round over a SYMMETRIZED edge list (u, v):
    keep exactly the edges whose BOTH endpoints currently have
    degree >= k.  Two keyed semi-joins against the node-sized
    survivor set — no cartesian (plan-gated in tests/test_plans.py).
    Factored out of :func:`kcore` so the per-round plan is gateable
    without running the loop."""
    keep = (sym.groupBy("u")
            .agg(F.count(F.lit(1)).alias("dg"))
            .filter(F.col("dg") >= k)
            .select("u"))
    return (sym.join(keep, "u", "semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "semi")
            .select("u", "v"))


def kcore(edges: DataFrame, k: int, a: str = "a", b: str = "b",
          max_iter: int = 40) -> DataFrame:
    """K-CORE decomposition by iterative peeling (Matula & Beck 1983;
    the distributed peel-all-at-once form per Montresor et al. 2013):
    repeatedly delete every node of degree < ``k`` until the graph is
    stable; the survivors are the (maximal) k-core.  Returns
    (node, core_degree) — each surviving node with its WITHIN-CORE
    degree, exact BIGINTs.

    Each round deletes ALL current low-degree nodes simultaneously:
    one node-sized degree aggregate plus two keyed semi-joins
    (``_peel_once``).  Convergence is edge-count stability; because a
    fixed point is stable under further rounds, early exit equals any
    longer unrolling — which is what makes an UNROLLED fixed-round
    SQL oracle exact as long as its round count covers convergence
    (the x29/x47 unrolled-CTE discipline).

    Guard rails (the dedup_clusters lesson): ``max_iter`` < 1 is
    rejected up front, and running out of rounds RAISES instead of
    returning the un-converged edge set as if it were the core.

    Scale (100 TB graphs): per-round cost is one groupBy shuffle on
    the current edge set plus two semi-joins keyed the same way —
    map-side-combinable and skew-tolerant (degrees are counts, not
    lists).  The edge set only shrinks; per-round
    ``localCheckpoint`` truncates lineage so the plan stays
    round-count-independent.  Worst-case round count is O(n) on
    path-like graphs (each round only exposes the next layer) —
    real co-occurrence graphs converge in O(log n)-ish rounds; the
    guard makes the pathological case loud, not slow."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # canonicalize BEFORE distinct (the triangle_count idiom): a
    # reversed copy (v, u) of a listed edge (u, v) must collapse to
    # one undirected edge, not survive distinct() and double-count
    # both endpoints' degrees after symmetrization (caught by the
    # random dirty-graph differential).
    fwd = (edges.select(F.least(F.col(a), F.col(b)).alias("u"),
                        F.greatest(F.col(a), F.col(b)).alias("v"))
           .filter(F.col("u") != F.col("v")).distinct())
    cur = (fwd.unionByName(fwd.select(F.col("v").alias("u"),
                                      F.col("u").alias("v")))
           .localCheckpoint(eager=True))
    n_cur = cur.count()
    for _ in range(max_iter):
        nxt = _peel_once(cur, k).localCheckpoint(eager=True)
        n_nxt = nxt.count()
        if n_nxt == n_cur:
            return (cur.groupBy(F.col("u").alias("node"))
                    .agg(F.count(F.lit(1)).alias("core_degree")))
        cur, n_cur = nxt, n_nxt
        if n_cur == 0:
            return (cur.groupBy(F.col("u").alias("node"))
                    .agg(F.count(F.lit(1)).alias("core_degree")))
    raise RuntimeError(
        f"kcore did not converge within max_iter={max_iter} rounds")


def label_propagation(edges: DataFrame, rounds: int = 4,
                      a: str = "a", b: str = "b") -> DataFrame:
    """X120: SYNCHRONOUS label propagation (Raghavan et al. 2007) over
    an undirected edge list — the community-detection complement of
    the density cuts (x118 k-core) and closure census (x112
    triangles): every node starts as its own community and each round
    adopts the most frequent label among its neighbors.

    Determinism contract: classic LPA is notoriously run-dependent
    (random visit order, random tie-breaks, and asynchronous updates
    all change the partition).  This is the DECLARED-deterministic
    form: updates are synchronous (round r+1 reads only round r),
    the round count is FIXED (not run-to-convergence — synchronous
    LPA can 2-cycle on bipartite structure, so a fixpoint loop would
    need oscillation detection; a fixed horizon is the reproducible
    choice and what makes a fixed unrolling exact), and ties break
    on (count DESC, label ASC).  Every quantity is an integer, so
    the result is bit-identical on any engine — the unrolled-CTE
    oracle runs the same recurrence.

    Plan: per round ONE edge-sized equi-join (neighbor label lookup
    keyed on the node id) + one map-side-combinable (node, label)
    count + one node-keyed argmax window; per-round eager
    localCheckpoint keeps the plan round-count-independent (the
    kcore/pagerank idiom).  Isolated nodes don't occur by
    construction (the node universe is the endpoints of the
    symmetrized edge set, so every node has >= 1 neighbor).

    Scale (100 TB graphs): each round shuffles O(edges) label
    lookups keyed by node — the same bound as one pagerank step;
    hub nodes are counts, not lists, through the aggregate.  Round
    count is a constant, so total cost is O(rounds x edges)."""
    from pyspark.sql import Window
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    # canonicalize before distinct, then symmetrize (kcore idiom)
    fwd = (edges.select(F.least(F.col(a), F.col(b)).alias("u"),
                        F.greatest(F.col(a), F.col(b)).alias("v"))
           .filter(F.col("u") != F.col("v")).distinct())
    sym = (fwd.unionByName(fwd.select(F.col("v").alias("u"),
                                      F.col("u").alias("v")))
           .localCheckpoint(eager=True))
    w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("lbl"))
    # r14 (guide §2.3): round 1's neighbor lookup is an IDENTITY join
    # — the initial label of v is v itself — so the first round reads
    # (u, v) straight off the edge list, eliding both the initial
    # node-universe distinct over the symmetrized relation and the
    # round-1 join.  The multiset fed to the (node, lbl) count is
    # identical, so every round's labels are bit-identical; the node
    # universe is unchanged (every endpoint has >= 1 neighbor, so
    # round 1's groupBy emits every node).
    labels = None
    for _ in range(rounds):
        if labels is None:
            nbr = sym.select(F.col("u").alias("node"),
                             F.col("v").alias("lbl"))
        else:
            nbr = (sym.join(labels.withColumnRenamed("node", "v"), "v")
                   .select(F.col("u").alias("node"), "lbl"))
        labels = (nbr.groupBy("node", "lbl")
                  .agg(F.count(F.lit(1)).alias("cnt"))
                  .withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1)
                  .select("node", "lbl")
                  .localCheckpoint(eager=True))
    return labels.select(F.col("node").cast("bigint"),
                         F.col("lbl").cast("bigint").alias("community"))
