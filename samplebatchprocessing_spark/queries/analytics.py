"""Event-log + statistical analytics queries: ordered funnel, cohort
retention, sweep-line peak concurrency, group-wise OLS regression,
fixed-width histograms, and integer fixed-point PageRank.

The reference has no analytics surface (its only operator is a
per-file shell transform, `GetJobs.py:51-56`); these are the
product/ML-analytics workloads a batch engine at this layer is
expected to run, designed Spark-first.

Determinism: counts and bucket ids are integers; regression outputs
follow the a13 exact-moment idiom (order-independent decimal sums,
then one shared double expression tree on both engines); PageRank is
scaled fixed-point BIGINT so a fixed iteration count is bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..exprs import bounded_part, r6
from ..operators.eventflow import (cohort_retention, conversion_lags,
                                   funnel_stages, peak_concurrency)
from ..operators.graph import pagerank_fixedpoint

_FUNNEL_STEPS = ["view", "click", "purchase"]


def x25_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X25: ordered conversion funnel view -> click -> purchase.

    Stage k counts users whose first step-k event is strictly after
    their stage-(k-1) frontier.  All stage joins are keyed on
    user_id (one logical shuffle key end-to-end); frontiers shrink
    down the funnel so AQE broadcasts the tail joins.
    """
    ev = load_table(spark, sf_dir, "events")
    return funnel_stages(ev, _FUNNEL_STEPS)


X25_SQL = """
WITH s0 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id),
s1 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s0 ON e.user_id = s0.user_id
  WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY e.user_id),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY e.user_id)
SELECT CAST(0 AS INT) AS stage_idx, 'view' AS stage, COUNT(*) AS n_users FROM s0
UNION ALL
SELECT CAST(1 AS INT), 'click', COUNT(*) FROM s1
UNION ALL
SELECT CAST(2 AS INT), 'purchase', COUNT(*) FROM s2
"""


def x26_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X26: weekly cohort retention matrix — (cohort_week,
    weeks_since, n_active distinct users).  Two user-keyed shuffles
    (first-event week; distinct activity weeks) then one small agg;
    no self-join on the raw event log.
    """
    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev)


X26_SQL = """
WITH first AS (
  SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id),
act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events)
SELECT CAST(f.cohort_week AS DATE) AS cohort_week,
       CAST((CAST(a.act_week AS DATE) - CAST(f.cohort_week AS DATE)) // 7
            AS INT) AS weeks_since,
       COUNT(DISTINCT a.user_id) AS n_active
FROM act a JOIN first f ON a.user_id = f.user_id
GROUP BY 1, 2
"""


def x27_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X27: per-day peak concurrency of event intervals
    [ts, ts + value seconds), sweep-line as +1/-1 deltas with a
    per-day running sum — NOT the textbook global ORDER BY running
    sum, whose single-partition window is the classic sweep-line
    scale-killer.  Day-partitioned windows parallelize across the
    date range; intervals are clipped at midnight (declared).
    """
    ev = load_table(spark, sf_dir, "events")
    return peak_concurrency(ev, F.greatest(F.col("value"), F.lit(0.0)))


X27_SQL = """
WITH deltas AS (
  SELECT CAST(ts AS DATE) AS day, epoch_ms(ts) AS t, 1 AS delta FROM events
  UNION ALL
  SELECT CAST(ts AS DATE) AS day,
         LEAST(epoch_ms(ts)
                 + CAST(FLOOR(GREATEST("value", 0.0) * 1000) AS BIGINT),
               epoch_ms(CAST(CAST(ts AS DATE) + 1 AS TIMESTAMP))) AS t,
         -1 AS delta
  FROM events),
running AS (
  SELECT day,
         SUM(delta) OVER (PARTITION BY day ORDER BY t, delta) AS conc
  FROM deltas)
SELECT day, CAST(MAX(conc) AS BIGINT) AS peak
FROM running GROUP BY day
"""


def a14_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: group-wise OLS regression (slope / intercept / r²) of
    extendedprice on quantity per returnflag — the exact-moment
    idiom of a13 (`relational.py:262`): five order-independent
    decimal moment sums per group, then ONE shared double expression
    tree, so both engines produce bit-identical doubles (built-in
    regr_slope/regr_intercept accumulate in engine-dependent order
    and cannot hash-match).
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(9,6)")
    y = F.col("l_extendedprice").cast("decimal(13,6)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = ((n * sxy - sx * sy) * (n * sxy - sx * sy)
          / ((n * sxx - sx * sx) * (n * syy - sy * sy)))
    return agg.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        r6(slope, "slope"),
        r6(intercept, "intercept"),
        r6(r2, "r2"))


A14_SQL = """
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                  * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
                  * CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))
                  * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
             6) AS intercept,
       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM m
"""


_HIST_LO, _HIST_HI, _HIST_N = 0.0, 600000.0, 24


def x28_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28: fixed-width histogram of o_totalprice (24 buckets over
    [0, 600k), under/overflow clamped into the edge buckets).  One
    scan + one tiny agg; the bucket id is FLOOR arithmetic written
    identically on both engines (Spark's width_bucket has no DuckDB
    counterpart, and double->int casts round differently — floor is
    the portable kernel).
    """
    ord_ = load_table(spark, sf_dir, "orders")
    width = (_HIST_HI - _HIST_LO) / _HIST_N
    bucket = F.least(
        F.lit(_HIST_N - 1),
        F.greatest(F.lit(0),
                   F.floor((F.col("o_totalprice") - _HIST_LO) / width)
                   .cast("int"))).alias("bucket")
    return (ord_.groupBy(bucket)
            .agg(F.count(F.lit(1)).alias("n"),
                 r6(F.min("o_totalprice"), "lo"),
                 r6(F.max("o_totalprice"), "hi")))


X28_SQL = f"""
SELECT LEAST({_HIST_N - 1},
             GREATEST(0, CAST(FLOOR((o_totalprice - {_HIST_LO})
                                    / {(_HIST_HI - _HIST_LO) / _HIST_N})
                              AS INT))) AS bucket,
       COUNT(*) AS n,
       ROUND(MIN(o_totalprice), 6) AS lo,
       ROUND(MAX(o_totalprice), 6) AS hi
FROM orders GROUP BY 1
"""


def x29_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X29: weighted PageRank over the customer-nation -> supplier-
    nation trade graph (edge weight = lineitem count), 3 iterations
    of integer fixed-point `pagerank_fixedpoint`
    (`operators/graph.py`).  The edge build is the heavy part at
    scale (lineitem⋈orders⋈customer⋈supplier, two broadcast dims);
    each iteration is a ranks⋈edges join + dst aggregation against
    a pinned src-partitioned edge layout.  Bit-exact: the oracle
    unrolls the same BIGINT recurrence as a 3-step CTE chain.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ord_ = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    edges = (li.join(ord_, li.l_orderkey == ord_.o_orderkey)
             .join(F.broadcast(cust), ord_.o_custkey == cust.c_custkey)
             .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
             .groupBy(F.col("c_nationkey").alias("src"),
                      F.col("s_nationkey").alias("dst"))
             .agg(F.count(F.lit(1)).alias("w")))
    return pagerank_fixedpoint(edges, iterations=3)


_PR_STEP = """
r{k} AS (
  SELECT n.node,
         CAST(150000 + COALESCE(s.s, 0) AS BIGINT) AS rank_scaled
  FROM nodes n LEFT JOIN (
    SELECT l.v, SUM((r.rank_scaled * 85 * l.w) // (100 * l.out_w)) AS s
    FROM links l JOIN r{p} r ON l.u = r.node GROUP BY l.v) s
  ON n.node = s.v)
"""

X29_SQL = ("""
WITH edges AS (
  SELECT c_nationkey AS u, s_nationkey AS v, COUNT(*) AS w
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2),
nodes AS (
  SELECT u AS node FROM edges UNION SELECT v FROM edges),
outw AS (SELECT u, SUM(w) AS out_w FROM edges GROUP BY u),
links AS (
  SELECT e.u, e.v, CAST(e.w AS BIGINT) AS w,
         CAST(o.out_w AS BIGINT) AS out_w
  FROM edges e JOIN outw o ON e.u = o.u),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_scaled FROM nodes),"""
           + ",".join(_PR_STEP.format(k=k, p=k - 1) for k in (1, 2, 3))
           + """
SELECT node, rank_scaled FROM r3
""")


def x30_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X30: per-user z-score anomaly detection over event values —
    per-user exact decimal moments (one user-keyed shuffle), then a
    co-partitioned join back to the events to flag |v - mean| >
    3*stddev.  The mean/std doubles come from order-independent
    decimal sums through one shared expression tree (a13 idiom), so
    the outlier booleans agree bit-for-bit with the oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(19,6)")
    mom = (ev.groupBy("user_id")
           .agg(F.count(F.lit(1)).cast("double").alias("n"),
                F.sum(v).cast("double").alias("sv"),
                F.sum(v * v).cast("double").alias("svv"))
           .filter(F.col("n") >= 2))
    n, sv, svv = F.col("n"), F.col("sv"), F.col("svv")
    stats = mom.select(
        "user_id", n,
        (sv / n).alias("mean"),
        F.sqrt((svv - sv * sv / n) / (n - 1)).alias("std"))
    flagged = (ev.join(stats, "user_id")
               .withColumn("is_out",
                           (F.abs(F.col("value") - F.col("mean"))
                            > 3 * F.col("std")).cast("int")))
    return (flagged.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("is_out").cast("bigint").alias("n_outliers"))
            .filter(F.col("n_outliers") > 0))


X30_SQL = """
WITH m AS (
  SELECT user_id,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST("value" AS DECIMAL(19,6))) AS DOUBLE) AS sv,
         CAST(SUM(CAST("value" AS DECIMAL(19,6))
                  * CAST("value" AS DECIMAL(19,6))) AS DOUBLE) AS svv
  FROM events GROUP BY user_id HAVING COUNT(*) >= 2),
s AS (
  SELECT user_id, sv / n AS mean,
         SQRT((svv - sv * sv / n) / (n - 1)) AS std
  FROM m)
SELECT e.user_id, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN ABS(e."value" - s.mean) > 3 * s.std
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN s ON e.user_id = s.user_id
GROUP BY e.user_id
HAVING SUM(CASE WHEN ABS(e."value" - s.mean) > 3 * s.std
               THEN 1 ELSE 0 END) > 0
"""


_DECILES = [i / 10 for i in range(1, 10)]


def x31_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X31: global decile bucketing WITHOUT a global sort — the
    textbook ntile(10) OVER () is a single-partition window (the
    same scale-killer class as a global running sum).  Instead:
    exact interpolated percentile boundaries (one tiny agg row),
    broadcast-crossJoin them back, and bucket each row with a
    comparison-count expression — fully parallel, one scan + one
    1-row agg.
    """
    ord_ = load_table(spark, sf_dir, "orders")
    bounds = ord_.agg(*[
        F.percentile(F.col("o_totalprice"), F.lit(q)).alias(f"b{i}")
        for i, q in enumerate(_DECILES, start=1)])
    decile = (
        F.lit(1)
        + sum((F.col("o_totalprice") > F.col(f"b{i}")).cast("int")
              for i in range(1, 10))).cast("int").alias("decile")
    return (ord_.crossJoin(F.broadcast(bounds))
            .groupBy(decile)
            .agg(F.count(F.lit(1)).alias("n"),
                 r6(F.min("o_totalprice"), "lo"),
                 r6(F.max("o_totalprice"), "hi")))


X31_SQL = ("""
WITH b AS (
  SELECT """
           + ", ".join(f"QUANTILE_CONT(o_totalprice, {q}) AS b{i}"
                       for i, q in enumerate(_DECILES, start=1))
           + """
  FROM orders)
SELECT CAST(1 + """
           + " + ".join(
               f"(CASE WHEN o_totalprice > b{i} THEN 1 ELSE 0 END)"
               for i in range(1, 10))
           + """ AS INT) AS decile,
       COUNT(*) AS n,
       ROUND(MIN(o_totalprice), 6) AS lo,
       ROUND(MAX(o_totalprice), 6) AS hi
FROM orders, b GROUP BY 1
""")


def x32_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X32: time-to-convert through the x25 funnel — per converted
    user the first-view -> funnel-completion lag, summarized exactly:
    count, mean lag (exact BIGINT ms sum, one shared double divide)
    and interpolated median.  Shares the funnel frontier chain
    (`operators/eventflow.py::conversion_lags`), all user-keyed.
    """
    ev = load_table(spark, sf_dir, "events")
    lags = conversion_lags(ev, _FUNNEL_STEPS)
    return lags.agg(
        F.count(F.lit(1)).alias("n_converted"),
        r6(F.sum("lag_ms").cast("double") / F.count(F.lit(1)),
           "avg_lag_ms"),
        r6(F.percentile(F.col("lag_ms"), F.lit(0.5)), "p50_lag_ms"))


X32_SQL = """
WITH s0 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id),
s1 AS (
  SELECT e.user_id, MIN(s0.t) AS t0, MIN(e.ts) AS t
  FROM events e JOIN s0 ON e.user_id = s0.user_id
  WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY e.user_id),
s2 AS (
  SELECT e.user_id, MIN(s1.t0) AS t0, MIN(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY e.user_id),
lags AS (
  SELECT user_id, epoch_ms(t) - epoch_ms(t0) AS lag_ms FROM s2)
SELECT COUNT(*) AS n_converted,
       ROUND(CAST(SUM(lag_ms) AS DOUBLE) / COUNT(*), 6) AS avg_lag_ms,
       ROUND(QUANTILE_CONT(lag_ms, 0.5), 6) AS p50_lag_ms
FROM lags
"""


def x37_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X37 (r4): join-key skew diagnosis — the report you run BEFORE
    picking a join strategy at 100 TB.  For each candidate join key,
    one row: distinct keys, total rows, max per-key rows, the exact
    p50/p99 of the per-key distribution, the skew factor
    (max / mean, x1000 as an exact integer — no float division), and
    the heaviest key.  A skew factor in the thousands says "salt or
    AQE-skew-split this join"; ~1000 says the key is uniform.

    Scale: one shuffle per key column (groupBy count), then the
    percentile/argmax run over the per-key COUNTS frame — |keys|
    rows, not |fact| rows.  Exact integers end to end -> hash-stable
    cross-engine oracle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    out = None
    for label, df, key in (("lineitem.l_suppkey", li, "l_suppkey"),
                           ("lineitem.l_orderkey", li, "l_orderkey"),
                           ("events.user_id", ev, "user_id")):
        per_key = df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("c"))
        rep = (per_key.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.max("c").alias("max_rows"),
            # exact DISCRETE percentiles of the count distribution:
            # both engines select the ceil(q*n)-th smallest count
            # (convention verified identical r5) — integer-exact end
            # to end, unlike FLOOR(interpolated) where a 1-ulp
            # double difference on an integer boundary could flip
            # the floor (ADVICE r4).
            F.expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c)"
                   " AS LONG)").alias("p50_rows"),
            F.expr("CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY c)"
                   " AS LONG)").alias("p99_rows"),
            F.max_by("k", F.struct(F.col("c"), (-F.col("k")).alias("nk")))
             .alias("heaviest_key"))
            .select(
                F.lit(label).alias("join_key"),
                "n_keys", "n_rows", "max_rows", "p50_rows", "p99_rows",
                # skew = max/mean scaled x1000, exact integer division
                F.expr("(max_rows * n_keys * 1000L) DIV n_rows")
                 .alias("skew_x1000"),
                "heaviest_key"))
        out = rep if out is None else out.unionByName(rep)
    return out


X37_SQL = """
WITH g1 AS (SELECT l_suppkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1),
g2 AS (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1),
g3 AS (SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY 1)
SELECT 'lineitem.l_suppkey' AS join_key, COUNT(*) AS n_keys,
       CAST(SUM(c) AS BIGINT) AS n_rows, MAX(c) AS max_rows,
       CAST(QUANTILE_DISC(c, 0.5) AS BIGINT) AS p50_rows,
       CAST(QUANTILE_DISC(c, 0.99) AS BIGINT) AS p99_rows,
       MAX(c) * COUNT(*) * 1000 // CAST(SUM(c) AS BIGINT) AS skew_x1000,
       (SELECT MIN(k) FROM g1 WHERE c = (SELECT MAX(c) FROM g1))
         AS heaviest_key
FROM g1
UNION ALL
SELECT 'lineitem.l_orderkey', COUNT(*), CAST(SUM(c) AS BIGINT), MAX(c),
       CAST(QUANTILE_DISC(c, 0.5) AS BIGINT),
       CAST(QUANTILE_DISC(c, 0.99) AS BIGINT),
       MAX(c) * COUNT(*) * 1000 // CAST(SUM(c) AS BIGINT),
       (SELECT MIN(k) FROM g2 WHERE c = (SELECT MAX(c) FROM g2))
FROM g2
UNION ALL
SELECT 'events.user_id', COUNT(*), CAST(SUM(c) AS BIGINT), MAX(c),
       CAST(QUANTILE_DISC(c, 0.5) AS BIGINT),
       CAST(QUANTILE_DISC(c, 0.99) AS BIGINT),
       MAX(c) * COUNT(*) * 1000 // CAST(SUM(c) AS BIGINT),
       (SELECT MIN(k) FROM g3 WHERE c = (SELECT MAX(c) FROM g3))
FROM g3
"""


def x47_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47 (r5): integer fixed-point k-means document clustering over
    the embeddings table (``operators.clustering.kmeans_fixedpoint``)
    — k=8 centroids, 3 full Lloyd rounds, every quantity an exact
    int64 so the whole trajectory replays bit-for-bit in the unrolled
    DuckDB CTE twin.  Assignment is a row-local expression against
    broadcast literal centroids (no join); each update round is one
    (cluster, dim)-keyed shuffle with k*dim = 512 reduce keys at any
    corpus scale."""
    from ..operators.clustering import kmeans_fixedpoint
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_fixedpoint(emb, k=8, iters=3)


def _x47_sql() -> str:
    from ..operators.clustering import kmeans_fixedpoint_sql
    return kmeans_fixedpoint_sql(k=8, iters=3)


def x53_cluster_balanced_sample(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """X53 (r5): cluster-balanced subsampling — the SemDeDup/DoReMi
    curation move: cap every semantic cluster at K documents so no
    over-represented mode dominates the training mix.  Vectors are
    assigned with the X47 trained model (join-free literal
    centroids), then each cluster keeps its first K=40 members in
    deterministic hash order (the x18 quota idiom — rank within
    cluster by portable hash, rebalance-stable).

    Per cluster: total members, kept count, exact kept-id sum — the
    oracle replays assignment (unrolled CTE chain) and the identical
    hash-ranked quota.  Scale: the quota window partitions on the
    cluster id (k tasks); for huge k the same two-pass bucket trick
    as X51 applies — noted, not needed at k=8."""
    from ..operators.clustering import (assign_best, kmeans_train,
                                        quantize_vec)
    from ..operators.sampling import hash_bucket
    from pyspark.sql import Window as W
    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_train(emb, k=8, iters=3)
    assigned = (emb.select("vec_id", quantize_vec("embedding").alias("qv"))
                .withColumn("best", assign_best(cents))
                .select("vec_id", F.col("best.cid").cast("int").alias("cid"),
                        hash_bucket(F.col("vec_id"), 1 << 20).alias("hb")))
    w = W.partitionBy("cid").orderBy("hb", "vec_id")
    ranked = assigned.withColumn("rk", F.row_number().over(w))
    return (ranked.groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum((F.col("rk") <= 40).cast("long")).alias("n_kept"),
                 F.sum(F.when(F.col("rk") <= 40, F.col("vec_id")))
                 .alias("kept_id_sum")))


def _x53_sql() -> str:
    from ..operators.clustering import _kmeans_cte_chain
    from ..operators.sampling import hash_bucket_sql
    chain = _kmeans_cte_chain(8, 3, "embeddings", "embedding", "vec_id")
    hb = hash_bucket_sql("vid", 1 << 20)
    return chain + f""",
rk AS (SELECT cid, vid,
              ROW_NUMBER() OVER (PARTITION BY cid
                                 ORDER BY {hb}, vid) AS rk
       FROM a3)
SELECT CAST(cid AS INTEGER) AS cid, COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN rk <= 40 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN rk <= 40 THEN vid END) AS BIGINT)
         AS kept_id_sum
FROM rk GROUP BY cid"""


def x57_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X57 (r5): embedding-space outlier detection — the
    out-of-distribution flag for curation: a vector is an outlier
    when its squared distance to its X47 centroid exceeds the
    cluster mean by 1.5 population sigmas (2 sigma flags nothing on
    the uniform fixture vectors — distances concentrate; 1.5 flags
    16 at sf0.01 and stays the documented calibration, x50-style).
    The whole test is EXACT integer/decimal algebra: with n,
    S = sum(d), Q = sum(d^2) per cluster, ``d > mean + 1.5*sigma``
    is equivalent to
    ``n*d - S > 0 AND 4*(n*d - S)^2 > 9*(n*Q - S^2)`` — no float
    anywhere, so the oracle replays it bit-for-bit on the unrolled
    assignment chain.

    Scale: assignment is the join-free literal-centroid expression;
    the moments frame is k rows broadcast back; the flag is
    row-local."""
    from ..operators.clustering import (assign_best, kmeans_train,
                                        quantize_vec)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_train(emb, k=8, iters=3)
    d = (emb.select("vec_id", quantize_vec("embedding").alias("qv"))
         .withColumn("best", assign_best(cents))
         .select("vec_id", F.col("best.cid").cast("int").alias("cid"),
                 F.col("best.d").alias("d")))
    dec = "decimal(38,0)"
    stats = (d.groupBy("cid")
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.sum("d").cast(dec).alias("s"),
                  F.sum(F.col("d").cast(dec) * F.col("d")).alias("q")))
    j = d.join(F.broadcast(stats), "cid")
    lhs = F.col("n").cast(dec) * F.col("d") - F.col("s")
    base = (F.col("n").cast(dec) * F.col("q")
            - F.col("s") * F.col("s"))
    out = (lhs > 0) & (4 * lhs * lhs > 9 * base)
    return (j.groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.sum(out.cast("long")).alias("n_outliers_15sigma"),
                 F.max("d").alias("max_d")))


def _x57_sql() -> str:
    from ..operators.clustering import _kmeans_cte_chain
    chain = _kmeans_cte_chain(8, 3, "embeddings", "embedding", "vec_id")
    return chain + """,
st AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(d) AS DECIMAL(38,0)) AS s,
              SUM(CAST(d AS DECIMAL(38,0)) * d) AS q
       FROM a3 GROUP BY cid)
SELECT CAST(a.cid AS INTEGER) AS cid, COUNT(*) AS n_points,
       CAST(SUM(CASE WHEN CAST(st.n AS DECIMAL(38,0)) * a.d - st.s > 0
                 AND 4 * (CAST(st.n AS DECIMAL(38,0)) * a.d - st.s)
                       * (CAST(st.n AS DECIMAL(38,0)) * a.d - st.s)
                     > 9 * (CAST(st.n AS DECIMAL(38,0)) * st.q
                            - st.s * st.s)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers_15sigma,
       CAST(MAX(a.d) AS BIGINT) AS max_d
FROM a3 a JOIN st USING (cid)
GROUP BY a.cid"""


def x59_label_centroid_matrix(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X59 (r5): label-centroid similarity matrix — how close the 10
    label populations sit in embedding space (the class-confusability
    audit before sampling balances them).  Centroids are per-(label,
    dim) floor-division integer means of the quantized vectors (X47's
    grid + pdiv); the matrix reports the exact integer dot product
    and both squared norms (all < 2^62 — int64-safe), from which any
    consumer derives cosine; raw integers keep every declared cell
    bit-replayable with no cross-engine decimal division in play.

    Scale: one (label, dim) shuffle for the means (10 x 64 keys), a
    dim-keyed join of the two tiny centroid relations, one pair
    aggregate."""
    from ..operators.clustering import quantize_vec
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.select("label", quantize_vec("embedding").alias("qv"))
         .select("label", F.posexplode("qv").alias("dim", "v")))
    cent = (q.groupBy("label", "dim")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .select("label", "dim",
                    F.expr("(s - ((s % n + n) % n)) div n").alias("m")))
    a = cent.select(F.col("label").alias("la"), "dim",
                    F.col("m").alias("ma"))
    b = cent.select(F.col("label").alias("lb"), "dim",
                    F.col("m").alias("mb"))
    pairs = (a.join(b, "dim").filter(F.col("la") < F.col("lb"))
             .groupBy("la", "lb")
             .agg(F.sum(F.col("ma") * F.col("mb")).alias("dot"),
                  F.sum(F.col("ma") * F.col("ma")).alias("na"),
                  F.sum(F.col("mb") * F.col("mb")).alias("nb")))
    return pairs.select("la", "lb", "dot", "na", "nb",
                        (F.col("dot") >= 0).alias("dot_nonneg"))


def _x59_sql() -> str:
    return """
WITH q AS (
  SELECT label, GENERATE_SUBSCRIPTS(embedding, 1) AS dim,
         CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1024)
              AS BIGINT) AS v
  FROM embeddings),
cent AS (
  SELECT label, dim,
         (SUM(v) - ((SUM(v) % COUNT(*) + COUNT(*)) % COUNT(*)))
           // COUNT(*) AS m
  FROM q GROUP BY label, dim),
p AS (
  SELECT a.label AS la, b.label AS lb,
         CAST(SUM(a.m * b.m) AS BIGINT) AS dot,
         CAST(SUM(a.m * a.m) AS BIGINT) AS na,
         CAST(SUM(b.m * b.m) AS BIGINT) AS nb
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
  GROUP BY a.label, b.label)
SELECT la, lb, dot, na, nb, dot >= 0 AS dot_nonneg
FROM p
"""


def x49_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X49 (r5): per-user exponentially weighted moving average over
    the event stream (``operators.eventflow.ewma_fixedpoint``) — the
    ordered per-key linear recurrence built-in windows can't express,
    run as one applyInPandas scan per key after a single hash
    shuffle.  Fixed-point integer halving makes every step exact, so
    the DuckDB recursive-CTE twin replays the trajectory
    bit-for-bit."""
    from ..operators.eventflow import ewma_fixedpoint
    ev = load_table(spark, sf_dir, "events")
    return ewma_fixedpoint(ev)


def _x49_sql() -> str:
    from ..operators.eventflow import ewma_fixedpoint_sql
    return ewma_fixedpoint_sql()



def x71_debounce_trailing(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """X71 (r5): trailing-edge debounce — keep an event iff it is
    >= 60 s after the last KEPT event of its (user, type) key
    (``operators.eventflow.debounce_trailing``).  W8's window-algebra
    burst collapse drops whole bursts; the trailing form re-admits an
    event once the gap from the last SURVIVOR passes the threshold —
    a recurrence on the operator's own output, the x49 class, run as
    one applyInPandas scan per key.  The DuckDB recursive-CTE twin
    replays the kept set bit-for-bit."""
    from ..operators.eventflow import debounce_trailing
    ev = load_table(spark, sf_dir, "events")
    return debounce_trailing(ev)


def _x71_sql() -> str:
    from ..operators.eventflow import debounce_trailing_sql
    return debounce_trailing_sql()


def j11_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 (r5): interval-overlap join — per day, how many event
    pairs [ts, ts+value sec) genuinely overlap
    (``operators.eventflow.interval_overlap_pairs``).  Spark plans
    the naive form as a quadratic theta join, so the operator blocks
    on (day, hour) with per-bucket replication and a DISTINCT pair
    key — an equi-join plan, no cartesian (gated).  The oracle runs
    the direct per-day range self-join with identical
    integer-millisecond clip arithmetic."""
    from ..operators.eventflow import interval_overlap_pairs
    ev = load_table(spark, sf_dir, "events")
    return interval_overlap_pairs(
        ev, F.greatest(F.col("value"), F.lit(0.0)))


def _j11_sql() -> str:
    from ..operators.eventflow import interval_overlap_pairs_sql
    return interval_overlap_pairs_sql()


def x60_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X60 (r5): MERGEABLE distinct-count sub-sketches — per
    (event_type, day) HLL sketches built once, then re-aggregated
    with ``hll_union_agg`` into the per-type total, the estimate
    checked against both the exact distinct and a direct
    whole-column sketch.  This is the architecture a10's one-shot
    ``approx_count_distinct`` can't show: at 100 TB each daily
    ingest materializes its own 4 KiB sketch artifact, and any
    rollup window (type x week, type x all-time) is a metadata-sized
    union over stored sketches — the raw data is never re-scanned.
    Declared output is exact on both engines: the exact distinct,
    the number of sub-sketches merged, and two accuracy booleans the
    oracle states TRUE (union estimate within 5% of exact at
    lgConfigK=12 (~1.6% standard error); union-of-partials within 5%
    of the direct sketch — the mergeability contract; estimates
    differ only by HIP-vs-composite estimator choice, never by
    register content).  Both sketch paths really run; a broken union
    flips the booleans."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_type", F.to_date("ts").alias("day"),
                  "user_id"))
    sub = (ev.groupBy("event_type", "day")
           .agg(F.hll_sketch_agg("user_id", 12).alias("sk")))
    merged = (sub.groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n_subsketches"),
                   F.hll_sketch_estimate(
                       F.hll_union_agg("sk", False)).alias("est_u")))
    direct = (ev.groupBy("event_type")
              .agg(F.countDistinct("user_id").alias("n_exact"),
                   F.hll_sketch_estimate(
                       F.hll_sketch_agg("user_id", 12))
                   .alias("est_d")))
    return (direct.join(merged, "event_type")
            .select("event_type", "n_exact", "n_subsketches",
                    (F.abs(F.col("est_u") - F.col("n_exact"))
                     <= 0.05 * F.col("n_exact"))
                    .alias("union_within_5pct"),
                    (F.abs(F.col("est_u") - F.col("est_d"))
                     <= 0.05 * F.greatest(F.col("est_d"), F.lit(1)))
                    .alias("union_close_to_direct")))


def x69_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X69 (r5): exact GROUP-WISE WEIGHTED MEDIAN — per source, the
    document length below which half the corpus' TOKEN MASS lies
    (the curation statistic that answers "where do the tokens live",
    which the unweighted median misrepresents whenever long docs
    dominate).  No weighted-percentile builtin exists in either
    engine; the operator is the X31 discipline made exact: weights
    pre-aggregate onto the (source, value) HISTOGRAM frame (uniform
    keys, one data-scale shuffle), and the running-sum window walks
    the aggregated frame — rows per source = distinct lengths, a
    bounded domain — never the document-level relation.  The median
    pick ``min value with 2*cum >= total`` is exact integer
    arithmetic end to end.

    Scale (100 TB): the only data-scale shuffle is the (source,
    n_chars) aggregate; the window input is vocabulary-sized per
    group.  Cross-multiplication keeps everything int64 (token mass
    < 2^62)."""
    from ..operators.text import tokenize
    doc = load_table(spark, sf_dir, "documents")
    d = doc.select("source", "n_chars",
                   F.size(tokenize(F.col("text"))).alias("w"))
    h = (d.groupBy("source", "n_chars")
         .agg(F.sum("w").alias("w"), F.count(F.lit(1)).alias("n")))
    from pyspark.sql import Window as W
    cum = F.sum("w").over(
        W.partitionBy("source").orderBy("n_chars")
        .rowsBetween(W.unboundedPreceding, W.currentRow))
    tot = h.groupBy("source").agg(
        F.sum("w").alias("tot_w"), F.sum("n").alias("n_docs"))
    marked = (h.withColumn("cum", cum)
              .join(F.broadcast(tot), "source")
              .filter(2 * F.col("cum") >= F.col("tot_w")))
    return (marked.groupBy("source")
            .agg(F.min("n_chars").alias("wmedian_chars"),
                 F.min("n_docs").cast("long").alias("n_docs"),
                 F.min("tot_w").cast("long").alias("total_tokens")))


def _x69_sql() -> str:
    from ..operators.text import tokenize_sql
    return X69_SQL_TMPL.format(tok=tokenize_sql("text"))


X69_SQL_TMPL = """
WITH h0 AS (
  SELECT source, n_chars, LEN({tok}) AS w
  FROM documents),
h AS (SELECT source, n_chars, SUM(w) AS w, COUNT(*) AS n
      FROM h0 GROUP BY source, n_chars),
c AS (
  SELECT source, n_chars, n, w,
         SUM(w) OVER (PARTITION BY source ORDER BY n_chars
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM h),
t AS (SELECT source, SUM(w) AS tot_w, SUM(n) AS n_docs
      FROM h GROUP BY source)
SELECT c.source,
       MIN(c.n_chars) AS wmedian_chars,
       CAST(MIN(t.n_docs) AS BIGINT) AS n_docs,
       CAST(MIN(t.tot_w) AS BIGINT) AS total_tokens
FROM c JOIN t ON t.source = c.source
WHERE 2 * c.cum >= t.tot_w
GROUP BY c.source
"""


def x70_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70 (r5): exact group-wise MAD (median absolute deviation)
    robust outliers — the X30 z-score audit's robust twin: 3-sigma
    flags break when the contamination itself inflates sigma; median
    +- 3*MAD doesn't.  Neither engine has an exact MAD builtin with
    deterministic semantics; both phases reuse X69's histogram
    discipline — per-(group, value) counts (one data-scale shuffle,
    uniform keys), running-sum window over the bounded aggregated
    frame, pick ``min value with 2*cum >= total``; phase two runs the
    same kernel on |value - median| after a broadcast join of the
    20-row median frame.  The outlier test |x - med| > 3*MAD is an
    exact integer compare.  Output: per-source median, MAD, doc and
    outlier counts — all exact."""
    doc = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    def _median_of(frame, val_col, out_name):
        h = (frame.groupBy("source", val_col)
             .agg(F.count(F.lit(1)).alias("n")))
        cum = F.sum("n").over(
            W.partitionBy("source").orderBy(val_col)
            .rowsBetween(W.unboundedPreceding, W.currentRow))
        tot = h.groupBy("source").agg(F.sum("n").alias("tot"))
        return (h.withColumn("cum", cum)
                .join(F.broadcast(tot), "source")
                .filter(2 * F.col("cum") >= F.col("tot"))
                .groupBy("source")
                .agg(F.min(val_col).alias(out_name)))
    # med feeds 3 consumers and mad 2 — unstaged, each re-executes
    # the whole histogram+window lineage (98 Exchanges in the r14
    # registry plan audit; ~24 staged).  Both are per-source 20-row
    # frames, the x65/x92 shared-subtree discipline applies (r14).
    med = _median_of(doc, "n_chars",
                     "median_chars").localCheckpoint(eager=True)
    dev = (doc.join(F.broadcast(med), "source")
           .select("source",
                   F.abs(F.col("n_chars") - F.col("median_chars"))
                   .alias("dev")))
    mad = _median_of(dev, "dev",
                     "mad_chars").localCheckpoint(eager=True)
    flags = (doc.join(F.broadcast(med), "source")
             .join(F.broadcast(mad), "source")
             .groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum((F.abs(F.col("n_chars")
                               - F.col("median_chars"))
                         > 3 * F.col("mad_chars")).cast("long"))
                  .alias("n_outliers")))
    return (med.join(mad, "source").join(flags, "source")
            .select("source", "median_chars", "mad_chars",
                    "n_docs", "n_outliers"))


X70_SQL = """
WITH h AS (SELECT source, n_chars, COUNT(*) AS n
           FROM documents GROUP BY source, n_chars),
c AS (SELECT source, n_chars,
             SUM(n) OVER (PARTITION BY source ORDER BY n_chars
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM h),
t AS (SELECT source, SUM(n) AS tot FROM h GROUP BY source),
med AS (
  SELECT c.source, MIN(c.n_chars) AS median_chars
  FROM c JOIN t ON t.source = c.source
  WHERE 2 * c.cum >= t.tot GROUP BY c.source),
dev AS (
  SELECT d.source, ABS(d.n_chars - m.median_chars) AS dev
  FROM documents d JOIN med m ON m.source = d.source),
h2 AS (SELECT source, dev, COUNT(*) AS n FROM dev
       GROUP BY source, dev),
c2 AS (SELECT source, dev,
              SUM(n) OVER (PARTITION BY source ORDER BY dev
                           ROWS UNBOUNDED PRECEDING) AS cum
       FROM h2),
t2 AS (SELECT source, SUM(n) AS tot FROM h2 GROUP BY source),
mad AS (
  SELECT c2.source, MIN(c2.dev) AS mad_chars
  FROM c2 JOIN t2 ON t2.source = c2.source
  WHERE 2 * c2.cum >= t2.tot GROUP BY c2.source),
fl AS (
  SELECT d.source, COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN ABS(d.n_chars - m.median_chars)
                            > 3 * a.mad_chars THEN 1 ELSE 0 END)
              AS BIGINT) AS n_outliers
  FROM documents d
  JOIN med m ON m.source = d.source
  JOIN mad a ON a.source = d.source
  GROUP BY d.source)
SELECT med.source, med.median_chars, mad.mad_chars,
       fl.n_docs, fl.n_outliers
FROM med JOIN mad ON mad.source = med.source
JOIN fl ON fl.source = med.source
"""


def x72_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X72 (r5): k-anonymity audit over the event log — group by the
    quasi-identifier (event_type, day) and flag groups whose distinct
    user count is below k=5: the re-identification risk report that
    gates a dataset release (Sweeney 2002, public).  Exact integers:
    group counts, risky groups, events exposed in risky groups, and
    the minimum group size (the dataset's actual k).  One
    data-scale shuffle on the quasi-identifier, then a scalar
    rollup."""
    ev = load_table(spark, sf_dir, "events")
    g = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
         .agg(F.countDistinct("user_id").alias("n_users"),
              F.count(F.lit(1)).alias("n_events")))
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum((F.col("n_users") < 5).cast("long"))
         .alias("n_risky_groups"),
        F.sum(F.when(F.col("n_users") < 5, F.col("n_events"))
              .otherwise(F.lit(0))).cast("long")
         .alias("n_events_exposed"),
        F.min("n_users").cast("long").alias("dataset_k"))


X72_SQL = """
WITH g AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         COUNT(DISTINCT user_id) AS n_users,
         COUNT(*) AS n_events
  FROM events GROUP BY event_type, CAST(ts AS DATE))
SELECT COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN n_users < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_risky_groups,
       CAST(SUM(CASE WHEN n_users < 5 THEN n_events ELSE 0 END)
            AS BIGINT) AS n_events_exposed,
       CAST(MIN(n_users) AS BIGINT) AS dataset_k
FROM g
"""


_X73_COLS = ("l_orderkey", "l_partkey", "l_quantity",
             "l_extendedprice", "l_discount")


def x73_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X73 (r5): generic TABLE PROFILER — one row per column with
    null count, distinct count, and exact fixed-point min/max
    (floor x 100, identical IEEE doubles on both engines) — the
    first-look data-quality report X35's rule engine presumes.
    ONE scan computes all per-column aggregates; the row-per-column
    shape comes from a stack (unpivot) of the single aggregate row,
    so profiling N columns costs one pass regardless of N."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in _X73_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.floor(F.min(c) * 100).cast("long").alias(f"{c}__min"),
            F.floor(F.max(c) * 100).cast("long").alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in _X73_COLS)
    return one.select(
        F.expr(f"stack({len(_X73_COLS)}, {stack}) AS "
               "(column_name, n_nulls, n_distinct, min_x100, max_x100)"),
        F.col("_n").alias("n_rows")).select(
        "column_name", "n_rows", "n_nulls", "n_distinct",
        "min_x100", "max_x100")


X73_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(FLOOR(MIN({c}) * 100) AS BIGINT) AS min_x100,
       CAST(FLOOR(MAX({c}) * 100) AS BIGINT) AS max_x100
FROM lineitem"""
    for c in _X73_COLS)


def x75_rolling_active_users(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X75 (r5): rolling 3-day ACTIVE USERS — the DAU/WAU-class
    metric that needs distinct-per-overlapping-window, which plain
    window frames can't express (a distinct count can't merge across
    frame rows).  The declared rewrite replicates each event to the
    3 window-end days it belongs to (row-local explode, bounded x3),
    then one exact distinct count per (window_end) — the standard
    explode-to-windows form whose cost scales with window length,
    not corpus size.  Only windows fully inside the data range are
    reported (no partial-edge windows)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(F.to_date("ts").alias("day"), "user_id")
    bounds = d.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    w = (d.select("user_id", F.explode(F.expr(
        "sequence(day, date_add(day, 2))")).alias("window_end"))
         .crossJoin(F.broadcast(bounds))
         .filter((F.col("window_end") >= F.date_add("lo", 2))
                 & (F.col("window_end") <= F.col("hi"))))
    return (w.groupBy("window_end")
            .agg(F.countDistinct("user_id").alias("n_active_3d")))


X75_SQL = """
WITH d AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM d),
w AS (
  SELECT d.user_id, d.day + o AS window_end
  FROM d, UNNEST([0, 1, 2]) AS u(o), b
  WHERE d.day + o >= b.lo + 2 AND d.day + o <= b.hi)
SELECT window_end, COUNT(DISTINCT user_id) AS n_active_3d
FROM w GROUP BY window_end
"""


def x76_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X76 (r5): A/B experiment readout — users split by the stable
    hash parity (user_id % 2), conversion = the user purchased after
    their first view (X25's ordered-funnel rule), compared with the
    two-proportion z statistic.  The a13 exact-moment discipline:
    counts are exact integers on both engines, and z comes from ONE
    shared double expression tree over those integers, reported at
    6 dp — no engine-ordered float accumulation anywhere."""
    ev = load_table(spark, sf_dir, "events")
    views = (ev.filter(F.col("event_type") == "view")
             .groupBy("user_id").agg(F.min("ts").alias("t0")))
    conv = (ev.filter(F.col("event_type") == "purchase")
            .join(views, "user_id")
            .filter((F.col("ts") > F.col("t0"))
                    & (F.col("ts") <= F.col("t0")
                       + F.expr("INTERVAL 1 HOUR")))
            .select("user_id").distinct()
            .withColumn("c", F.lit(1)))
    per = (views.join(conv, "user_id", "left")
           .select((F.col("user_id") % 2).alias("variant"),
                   F.coalesce("c", F.lit(0)).alias("c")))
    agg = per.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("conv"))
    a = agg.filter(F.col("variant") == 0).select(
        F.col("n").alias("na"), F.col("conv").alias("ca"))
    b = agg.filter(F.col("variant") == 1).select(
        F.col("n").alias("nb"), F.col("conv").alias("cb"))
    j = a.crossJoin(b)
    na, ca = F.col("na").cast("double"), F.col("ca").cast("double")
    nb, cb = F.col("nb").cast("double"), F.col("cb").cast("double")
    p = (ca + cb) / (na + nb)
    denom = p * (1 - p) * (1 / na + 1 / nb)
    # p = 0 or 1 (everyone or no one converts — real at small SF)
    # zero-variances the pooled estimate; z is undefined, NULL on
    # both engines.
    z = F.when(denom > 0,
               (ca / na - cb / nb) / F.sqrt(denom))
    return j.select(F.col("na").cast("long").alias("n_a"),
                    F.col("ca").cast("long").alias("conv_a"),
                    F.col("nb").cast("long").alias("n_b"),
                    F.col("cb").cast("long").alias("conv_b"),
                    r6(z, "z_score"))


X76_SQL = """
WITH views AS (
  SELECT user_id, MIN(ts) AS t0 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
conv AS (
  SELECT DISTINCT e.user_id FROM events e
  JOIN views v ON v.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v.t0
    AND e.ts <= v.t0 + INTERVAL 1 HOUR),
per AS (
  SELECT v.user_id % 2 AS variant,
         CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END AS c
  FROM views v LEFT JOIN conv c ON c.user_id = v.user_id),
agg AS (SELECT variant, COUNT(*) AS n, SUM(c) AS conv
        FROM per GROUP BY variant),
j AS (
  SELECT a.n AS na, a.conv AS ca, b.n AS nb, b.conv AS cb
  FROM (SELECT * FROM agg WHERE variant = 0) a,
       (SELECT * FROM agg WHERE variant = 1) b)
SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
       CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
       CASE WHEN ((CAST(ca AS DOUBLE) + cb) / (na + nb))
                 * (1 - (CAST(ca AS DOUBLE) + cb) / (na + nb))
                 * (1.0 / na + 1.0 / nb) > 0
            THEN ROUND((CAST(ca AS DOUBLE) / na
                        - CAST(cb AS DOUBLE) / nb)
                 / SQRT(((CAST(ca AS DOUBLE) + cb) / (na + nb))
                        * (1 - (CAST(ca AS DOUBLE) + cb) / (na + nb))
                        * (1.0 / na + 1.0 / nb)), 6)
       END AS z_score
FROM j
"""


def x77_embedding_diversity(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """X77 (r5): per-label EMBEDDING DIVERSITY — the total pairwise
    squared distance, the audit that flags collapsed/duplicated
    clusters before balancing or subsampling.  The quadratic
    quantity computes in ONE LINEAR PASS by the moment identity
    ``sum_{i,j} ||xi - xj||^2 = 2n * sum||xi||^2 - 2||sum xi||^2``
    on the X47 integer grid (floor(v * 1024)), so the result is an
    exact int64 on both engines — no pair join exists anywhere.

    Scale (100 TB): per-row squared norms are row-local; the
    per-(label, dim) component sums are one uniform-key shuffle; the
    identity folds everything into a per-label scalar.  This is the
    canonical trick for pairwise statistics at scale: moments, not
    pairs."""
    from ..operators.clustering import quantize_vec
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("label", "vec_id", quantize_vec().alias("qv"))
    sq = F.expr("aggregate(qv, 0L, (a, x) -> a + x * x)")
    per = q.select("label", sq.alias("sq"), "qv")
    norms = per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sq").alias("ssq"))
    comps = (q.select("label", F.posexplode("qv").alias("d", "v"))
             .groupBy("label", "d")
             .agg(F.sum("v").alias("s"))
             .groupBy("label")
             .agg(F.sum(F.col("s") * F.col("s")).alias("s2")))
    return (norms.join(comps, "label")
            .select("label", F.col("n").cast("long").alias("n_vecs"),
                    (2 * (F.col("n") * F.col("ssq") - F.col("s2")))
                    .cast("long").alias("sum_sq_dist"),
                    (F.col("n") * (F.col("n") - 1)).cast("long")
                    .alias("n_ordered_pairs")))


X77_SQL = """
WITH q AS (
  SELECT label, vec_id,
         LIST_TRANSFORM(embedding,
           v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1024) AS BIGINT))
           AS qv
  FROM embeddings),
norms AS (
  SELECT label, COUNT(*) AS n,
         SUM(LIST_REDUCE(LIST_CONCAT([CAST(0 AS BIGINT)],
             LIST_TRANSFORM(qv, x -> x * x)), (a, x) -> a + x))
           AS ssq
  FROM q GROUP BY label),
comps AS (
  SELECT label, SUM(s * s) AS s2 FROM (
    SELECT label, d, SUM(v) AS s FROM (
      SELECT label, UNNEST(qv) AS v,
             UNNEST(range(1, LEN(qv) + 1)) AS d
      FROM q)
    GROUP BY label, d)
  GROUP BY label)
SELECT norms.label, CAST(n AS BIGINT) AS n_vecs,
       CAST(2 * (n * ssq - s2) AS BIGINT) AS sum_sq_dist,
       CAST(n * (n - 1) AS BIGINT) AS n_ordered_pairs
FROM norms JOIN comps ON comps.label = norms.label
"""


def x79_transition_matrix(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """X79 (r5): user-journey TRANSITION MATRIX — the first-order
    Markov view of the event log: for each (from_type, to_type),
    how many consecutive-event transitions occur across all users,
    plus the row-normalized probability as an exact integer
    cross-multiplication (x 10^6, integer division — no float
    crosses the gate).  One (user)-keyed shuffle for the lag window
    over the (ts, event_id) total order, then a transition-keyed
    rollup — the standard product-analytics path report."""
    from pyspark.sql import Window as W
    ev = load_table(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = (ev.select("user_id", "ts", "event_id",
                   F.col("event_type").alias("to_type"))
         .withColumn("from_type", F.lag("to_type").over(wo))
         .filter(F.col("from_type").isNotNull()))
    cnt = (t.groupBy("from_type", "to_type")
           .agg(F.count(F.lit(1)).alias("n")))
    tot = (cnt.groupBy("from_type")
           .agg(F.sum("n").alias("row_total")))
    return (cnt.join(tot, "from_type")
            .select("from_type", "to_type", "n",
                    F.col("row_total").cast("long").alias("row_total"),
                    F.expr("n * 1000000 div row_total")
                    .alias("p_x1e6")))


X79_SQL = """
WITH t AS (
  SELECT user_id, event_type AS to_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type
  FROM events),
cnt AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM t WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type),
tot AS (SELECT from_type, SUM(n) AS row_total FROM cnt
        GROUP BY from_type)
SELECT cnt.from_type, to_type, n,
       CAST(row_total AS BIGINT) AS row_total,
       n * 1000000 // CAST(row_total AS BIGINT) AS p_x1e6
FROM cnt JOIN tot ON tot.from_type = cnt.from_type
"""


def x80_survival_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X80 (r5): conversion SURVIVAL TABLE (the Kaplan-Meier input) —
    per whole-hour lag since first view: users still at risk, users
    converting in that hour, users censored (last seen, never
    converted).  X32 reports the converters' lag distribution; the
    survival view is the one that handles NON-converters honestly
    (right-censoring at last activity) instead of dropping them.
    All quantities are exact integers — the KM estimator itself is a
    product of rationals, so the declared artifact is its exact
    input table, at-risk counts derived by the reverse cumulative
    sums both engines compute identically.

    Scale (100 TB): two user-keyed aggregates (first view, first
    conversion / last activity) and one hour-keyed rollup; the
    at-risk accumulation runs over the bounded lag-hour frame (x69
    histogram discipline)."""
    from pyspark.sql import Window as W
    ev = load_table(spark, sf_dir, "events")
    views = (ev.filter(F.col("event_type") == "view")
             .groupBy("user_id").agg(F.min("ts").alias("t0")))
    conv = (ev.filter(F.col("event_type") == "purchase")
            .join(views, "user_id")
            .filter(F.col("ts") > F.col("t0"))
            .groupBy("user_id").agg(F.min("ts").alias("tc")))
    last = ev.groupBy("user_id").agg(F.max("ts").alias("tl"))
    per = (views.join(conv, "user_id", "left")
           .join(last, "user_id")
           .select("user_id",
                   F.when(F.col("tc").isNotNull(), 1).otherwise(0)
                   .alias("converted"),
                   F.floor((F.unix_millis(F.coalesce("tc", "tl"))
                            - F.unix_millis(F.col("t0")))
                           / 3_600_000).cast("long").alias("lag_h")))
    g = (per.groupBy("lag_h")
         .agg(F.sum("converted").alias("n_events"),
              F.sum(1 - F.col("converted")).alias("n_censored")))
    # frame = distinct lag-hours (bounded by corpus time range);
    # bounded_part keeps the bounded window off the no-partition
    # WindowExec warning path (r7)
    wdesc = (W.partitionBy(bounded_part("lag_h"))
             .orderBy(F.col("lag_h").desc())
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (g.withColumn(
        "n_at_risk",
        F.sum(F.col("n_events") + F.col("n_censored")).over(wdesc)
        .cast("long"))
        .select("lag_h",
                F.col("n_at_risk"),
                F.col("n_events").cast("long").alias("n_events"),
                F.col("n_censored").cast("long").alias("n_censored")))


X80_SQL = """
WITH views AS (
  SELECT user_id, MIN(ts) AS t0 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
conv AS (
  SELECT e.user_id, MIN(e.ts) AS tc FROM events e
  JOIN views v ON v.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v.t0
  GROUP BY e.user_id),
last AS (SELECT user_id, MAX(ts) AS tl FROM events GROUP BY user_id),
per AS (
  SELECT v.user_id,
         CASE WHEN c.tc IS NOT NULL THEN 1 ELSE 0 END AS converted,
         CAST(FLOOR((epoch_ms(COALESCE(c.tc, l.tl))
                     - epoch_ms(v.t0)) / 3600000.0) AS BIGINT)
           AS lag_h
  FROM views v
  LEFT JOIN conv c ON c.user_id = v.user_id
  JOIN last l ON l.user_id = v.user_id),
g AS (
  SELECT lag_h, SUM(converted) AS n_events,
         SUM(1 - converted) AS n_censored
  FROM per GROUP BY lag_h)
SELECT lag_h,
       CAST(SUM(n_events + n_censored)
            OVER (ORDER BY lag_h DESC ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS n_at_risk,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_censored AS BIGINT) AS n_censored
FROM g
"""


def x83_waterfill_allocation(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """X83 (r5): WATER-FILLING token-budget allocation — the max-min
    fair alternative to X40's proportional mixture: every source gets
    up to the common level L, sources with less capacity keep all
    they have, and L is the largest level that fits the budget
    (B = half the corpus here).  The textbook algorithm is
    sequential; the relational form finds the split point with ONE
    ranking window over the per-source capacity frame (ascending
    capacity, cumulative sums): for each prefix k the tentative
    level is (B - cum_k) div (n - k), and the binding level comes
    from the last prefix whose own capacity is below its tentative
    level — all exact integer division, bit-equal across engines,
    with the remainder left unallocated (declared; real mixture runs
    hand the slack to a designated source).

    Scale: the window runs over the SOURCE frame (bounded), the
    capacity aggregate is the only data-scale shuffle."""
    from pyspark.sql import Window as W
    from ..operators.text import tokenize
    doc = load_table(spark, sf_dir, "documents")
    cap = (doc.select("source",
                      F.size(tokenize(F.col("text"))).alias("w"))
           .groupBy("source").agg(F.sum("w").alias("cap")))
    tot = cap.agg(F.sum("cap").alias("T"),
                  F.count(F.lit(1)).alias("n"))
    b = tot.select(F.expr("T div 2").alias("B"), "n")
    # frame = one row per source (bounded vocabulary); r7 bounded_part
    wr = W.partitionBy(bounded_part("cap")).orderBy("cap", "source")
    ranked = (cap.withColumn("k", F.row_number().over(wr))
              .withColumn("cum", F.sum("cap").over(
                  wr.rowsBetween(W.unboundedPreceding,
                                 W.currentRow)))
              .withColumn("prev_cap",
                          F.coalesce(F.lag("cap").over(wr), F.lit(0)))
              .crossJoin(F.broadcast(b)))
    # tentative level at row k: sources ranked < k keep their full
    # capacity, everyone from k on shares the rest flat
    cand = ranked.withColumn(
        "lvl", F.expr("(B - (cum - cap)) div (n - k + 1)"))
    # the binding row: its level clears every smaller source
    # (prev_cap <= lvl) but not its own capacity (lvl < cap); if no
    # row binds the budget covers the whole corpus.
    binding = (cand.filter((F.col("prev_cap") <= F.col("lvl"))
                           & (F.col("lvl") < F.col("cap")))
               .agg(F.min("lvl").alias("L")))
    return (ranked.crossJoin(F.broadcast(binding))
            .select("source", F.col("cap").cast("long").alias("cap"),
                    F.when(F.col("L").isNull(), F.col("cap"))
                    .otherwise(F.least("cap", "L")).cast("long")
                    .alias("allocation")))


def _x83_sql() -> str:
    from ..operators.text import tokenize_sql
    return X83_SQL_TMPL.format(tok=tokenize_sql("text"))


X83_SQL_TMPL = """
WITH cap AS (
  SELECT source, CAST(SUM(LEN({tok})) AS BIGINT) AS cap
  FROM documents GROUP BY source),
tot AS (SELECT SUM(cap) AS T, COUNT(*) AS n FROM cap),
b AS (SELECT T // 2 AS B, n FROM tot),
ranked AS (
  SELECT cap.source, cap.cap,
         ROW_NUMBER() OVER (ORDER BY cap.cap, cap.source) AS k,
         SUM(cap.cap) OVER (ORDER BY cap.cap, cap.source
                            ROWS UNBOUNDED PRECEDING) AS cum,
         COALESCE(LAG(cap.cap) OVER (ORDER BY cap.cap, cap.source),
                  0) AS prev_cap,
         b.B, b.n
  FROM cap, b),
cand AS (
  SELECT *, (B - (cum - cap)) // (n - k + 1) AS lvl
  FROM ranked),
binding AS (
  SELECT MIN(lvl) AS L FROM cand
  WHERE prev_cap <= lvl AND lvl < cap)
SELECT ranked.source, ranked.cap,
       CAST(CASE WHEN binding.L IS NULL THEN ranked.cap
                 ELSE LEAST(ranked.cap, binding.L) END AS BIGINT)
         AS allocation
FROM ranked, binding
"""


def x84_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X84 (r5): BOT / automation detection by inter-event timing
    regularity — scripted clients fire on near-constant intervals,
    so a user whose gap variance is tiny relative to the squared
    mean gap (coefficient of variation) is flagged.  Exact integer
    algebra end to end: per-user gap moments (n, sum_s, sum_sq_s —
    SECOND resolution: millisecond squares overflow int64 once a
    user's span reaches days x hundreds of events, measured)
    from one lag window over the (ts, event_id) total order, and the
    CV^2 < 1/100 test as the cross-multiplication
    ``100 * (n*Q - S^2) < S^2`` (CV^2 = variance/mean^2 =
    (n*Q - S^2)/S^2 after the n^2 denominators cancel) — no
    division, no float.  Output:
    the exact audit (eligible users with >= 5 gaps, flagged count,
    plus per-flag gap totals so a wrong flag moves integers).

    Scale: one user-keyed shuffle for the lag window, one scalar
    rollup.  Second-resolution gaps over year-scale spans keep
    n*Q < 2^62 into millions of events per user."""
    from pyspark.sql import Window as W
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id")
    # planted bots (the x63 injection discipline): three synthetic
    # users firing every 61 s exactly — the organic fixture's gaps
    # are random, so without planting the detector (correctly)
    # flags nobody and the audit never exercises.
    bots = (spark.range(3).select(
        (F.col("id") + 90001).alias("user_id"), F.explode(
            F.sequence(F.lit(0), F.lit(49))).alias("i"))
        .select("user_id",
                F.expr("timestampadd(SECOND, i * 61,"
                       " TIMESTAMP '1996-06-01 00:00:00')")
                .alias("ts"),
                (F.col("user_id") * 1000 + F.col("i"))
                .alias("event_id")))
    ev = ev.unionByName(bots)
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = (ev.select("user_id", "ts", "event_id")
         .withColumn("gap",
                     (F.unix_millis(F.col("ts"))
                      - F.unix_millis(F.lag("ts").over(wo)))
                     / F.lit(1000))
         .withColumn("gap", F.floor("gap").cast("long"))
         .filter(F.col("gap").isNotNull()))
    per = (g.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("gap").alias("s"),
                F.sum(F.col("gap") * F.col("gap")).alias("q")))
    eligible = per.filter(F.col("n") >= 5)
    flagged = (100 * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
               < F.col("s") * F.col("s"))
    return eligible.agg(
        F.count(F.lit(1)).alias("n_eligible_users"),
        F.sum(flagged.cast("long")).alias("n_flagged"),
        F.sum(F.when(flagged, F.col("n")).otherwise(0)).cast("long")
         .alias("flagged_gap_count"),
        F.sum(F.when(flagged, F.col("s")).otherwise(0)).cast("long")
         .alias("flagged_gap_s_sum"))


X84_SQL = """
WITH ev AS (
  SELECT user_id, ts, event_id FROM events
  UNION ALL
  SELECT 90001 + b AS user_id,
         TIMESTAMP '1996-06-01 00:00:00'
           + (i * 61) * INTERVAL 1 SECOND AS ts,
         (90001 + b) * 1000 + i AS event_id
  FROM UNNEST([0, 1, 2]) AS t(b), UNNEST(range(0, 50)) AS u(i)),
g AS (
  SELECT user_id,
         CAST(FLOOR((epoch_ms(ts) - epoch_ms(LAG(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id))) / 1000.0)
              AS BIGINT) AS gap
  FROM ev),
per AS (
  SELECT user_id, COUNT(*) AS n, SUM(gap) AS s,
         SUM(gap * gap) AS q
  FROM g WHERE gap IS NOT NULL GROUP BY user_id),
e AS (SELECT * FROM per WHERE n >= 5)
SELECT COUNT(*) AS n_eligible_users,
       CAST(SUM(CASE WHEN 100 * (n * q - s * s) < s * s
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(SUM(CASE WHEN 100 * (n * q - s * s) < s * s
                     THEN n ELSE 0 END) AS BIGINT)
         AS flagged_gap_count,
       CAST(SUM(CASE WHEN 100 * (n * q - s * s) < s * s
                     THEN s ELSE 0 END) AS BIGINT)
         AS flagged_gap_s_sum
FROM e
"""


X60_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_exact,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_subsketches,
       TRUE AS union_within_5pct,
       TRUE AS union_close_to_direct
FROM events GROUP BY event_type
"""

def x85_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X85 (r6): MARKETING ATTRIBUTION — first-touch and last-touch
    revenue credit per channel: for every purchase, the user's
    earliest and latest preceding non-purchase events (the "touches")
    each claim the purchase's value under the two classic models; the
    report is per-channel purchase counts and exact-decimal revenue
    sums under both.  Purchases with no preceding touch are declared
    out (no channel to credit — the standard direct-traffic bucket
    would be a third model).

    Determinism: the touch order is the (ts, event_id) total order —
    one ROW_NUMBER per purchase per direction, identical on both
    engines; revenue sums are dsum-exact decimals.

    Scale (100 TB): the purchase-x-touch join is keyed on user_id
    (the natural partition key; per-user event counts are bounded in
    practice), the per-purchase windows run inside that key, and the
    channel rollup is a channels-sized frame.  No global window, no
    cross join."""
    from pyspark.sql import Window as W
    from ..exprs import dsum
    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"), "value")
    touch = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"))
    j = purch.join(touch, "user_id").filter(F.col("tts") < F.col("pts"))
    wf = W.partitionBy("pid").orderBy("tts", "tid")
    wl = W.partitionBy("pid").orderBy(F.col("tts").desc(),
                                      F.col("tid").desc())
    first = (j.withColumn("rk", F.row_number().over(wf))
             .filter(F.col("rk") == 1)
             .groupBy("channel")
             .agg(F.count(F.lit(1)).alias("n_first"),
                  dsum("value", "first_revenue")))
    last = (j.withColumn("rk", F.row_number().over(wl))
            .filter(F.col("rk") == 1)
            .groupBy("channel")
            .agg(F.count(F.lit(1)).alias("n_last"),
                 dsum("value", "last_revenue")))
    return (first.join(last, "channel", "full_outer")
            .select("channel",
                    F.coalesce("n_first", F.lit(0)).alias("n_first"),
                    F.coalesce("first_revenue", F.lit(0.0))
                    .alias("first_revenue"),
                    F.coalesce("n_last", F.lit(0)).alias("n_last"),
                    F.coalesce("last_revenue", F.lit(0.0))
                    .alias("last_revenue")))


def _x85_sql() -> str:
    from ..exprs import sql_dsum
    return f"""
WITH p AS (SELECT user_id, ts AS pts, event_id AS pid, value
           FROM events WHERE event_type = 'purchase'),
t AS (SELECT user_id, ts AS tts, event_id AS tid,
             event_type AS channel
      FROM events WHERE event_type <> 'purchase'),
j AS (SELECT p.pid, p.value, t.channel, t.tts, t.tid
      FROM p JOIN t ON p.user_id = t.user_id AND t.tts < p.pts),
f AS (SELECT * FROM j
      QUALIFY ROW_NUMBER() OVER (PARTITION BY pid
                                 ORDER BY tts, tid) = 1),
l AS (SELECT * FROM j
      QUALIFY ROW_NUMBER() OVER (PARTITION BY pid
                                 ORDER BY tts DESC, tid DESC) = 1),
fa AS (SELECT channel, COUNT(*) AS n_first,
              {sql_dsum('value')} AS first_revenue
       FROM f GROUP BY channel),
la AS (SELECT channel, COUNT(*) AS n_last,
              {sql_dsum('value')} AS last_revenue
       FROM l GROUP BY channel)
SELECT COALESCE(fa.channel, la.channel) AS channel,
       COALESCE(n_first, 0) AS n_first,
       COALESCE(first_revenue, 0.0) AS first_revenue,
       COALESCE(n_last, 0) AS n_last,
       COALESCE(last_revenue, 0.0) AS last_revenue
FROM fa FULL OUTER JOIN la ON fa.channel = la.channel
"""


def x86_seasonal_outliers(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """X86 (r6): SEASONAL-PROFILE ANOMALY flags — the ops-monitoring
    read: per event type, the hour-of-day traffic profile (24 counts)
    compared to the type's own DISCRETE median hourly count; hours
    whose count deviates from the median by more than 50% in either
    direction are flagged (integer cross-multiplication
    ``2*c > 3*med`` / ``2*c < med`` — no float, no division).  The
    same residual-vs-seasonal-baseline test, run on a day-of-week
    profile at real scale, is the standard first-line traffic
    anomaly detector.

    Determinism: counts are exact; the median is percentile_disc /
    QUANTILE_DISC (the r5 x37 discipline — an interpolated median of
    an even count list is a float boundary risk, the discrete one is
    an actual observed integer).

    Scale: one (type, hour) shuffle over the corpus — 24 x |types|
    output rows; the median runs over the 24-row per-type profile."""
    ev = load_table(spark, sf_dir, "events")
    prof = (ev.groupBy("event_type", F.hour("ts").alias("hour"))
            .agg(F.count(F.lit(1)).alias("c")))
    med = (prof.groupBy("event_type")
           .agg(F.expr("CAST(percentile_disc(0.5) WITHIN GROUP "
                       "(ORDER BY c) AS LONG)").alias("med")))
    return (prof.join(med, "event_type")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_hours"),
                 F.max("med").alias("median_hourly"),
                 F.sum((2 * F.col("c") > 3 * F.col("med"))
                       .cast("long")).alias("n_high"),
                 F.sum((2 * F.col("c") < F.col("med"))
                       .cast("long")).alias("n_low"),
                 F.sum("c").alias("n_events")))


X86_SQL = """
WITH prof AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hour, COUNT(*) AS c
  FROM events GROUP BY 1, 2),
med AS (
  SELECT event_type, CAST(QUANTILE_DISC(c, 0.5) AS BIGINT) AS med
  FROM prof GROUP BY event_type)
SELECT prof.event_type, COUNT(*) AS n_hours,
       MAX(med) AS median_hourly,
       CAST(SUM(CASE WHEN 2 * c > 3 * med THEN 1 ELSE 0 END)
            AS BIGINT) AS n_high,
       CAST(SUM(CASE WHEN 2 * c < med THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low,
       CAST(SUM(c) AS BIGINT) AS n_events
FROM prof JOIN med USING (event_type)
GROUP BY prof.event_type
"""


def x93_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X93 (r6): WINSORIZATION report — robust preprocessing for a
    heavy-tailed metric: clip event values at the type's own
    DISCRETE p5/p95 (actual observed values, so both engines pick
    the identical double — the x37/x86 quantile discipline), and
    report how much mass the clip moved: clipped-row counts on each
    side plus exact-decimal sums before and after.  The
    before/after delta IS the outlier influence a mean-based
    downstream metric was silently carrying.

    Scale: the quantile pass and the clip pass are two aggregates
    over the same (type)-keyed shuffle; boundaries broadcast back."""
    from ..exprs import dsum
    ev = load_table(spark, sf_dir, "events")
    q = (ev.groupBy("event_type")
         .agg(F.expr("percentile_disc(0.05) WITHIN GROUP"
                     " (ORDER BY value)").alias("p05"),
              F.expr("percentile_disc(0.95) WITHIN GROUP"
                     " (ORDER BY value)").alias("p95")))
    j = ev.join(F.broadcast(q), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")),
                      F.col("p95"))
    return (j.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max("p05").alias("p05"),
                 F.max("p95").alias("p95"),
                 F.sum((F.col("value") < F.col("p05")).cast("long"))
                 .alias("n_clip_lo"),
                 F.sum((F.col("value") > F.col("p95")).cast("long"))
                 .alias("n_clip_hi"),
                 dsum("value", "sum_raw"),
                 dsum(clipped, "sum_winsorized")))


def _x93_sql() -> str:
    from ..exprs import sql_dsum
    return f"""
WITH q AS (SELECT event_type,
                  QUANTILE_DISC(value, 0.05) AS p05,
                  QUANTILE_DISC(value, 0.95) AS p95
           FROM events GROUP BY event_type)
SELECT e.event_type, COUNT(*) AS n,
       MAX(p05) AS p05, MAX(p95) AS p95,
       CAST(SUM(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_lo,
       CAST(SUM(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_hi,
       {sql_dsum('value')} AS sum_raw,
       {sql_dsum('LEAST(GREATEST(value, p05), p95)')}
         AS sum_winsorized
FROM events e JOIN q USING (event_type)
GROUP BY e.event_type
"""


def x94_path_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X94 (r6): SEQUENCE-PATTERN matching over event paths — the
    MATCH_RECOGNIZE workload neither engine ships natively,
    expressed relationally: each user's events collapse to ONE
    ordered comma-joined type string ((ts, event_id) total order),
    and 'view, any clicks, purchase with nothing else between'
    conversions are counted by a regex over that string — both
    engines run RE2-class engines left-to-right non-overlapping, so
    the counts are exact.  Per user: path length and direct-funnel
    conversion count, plus the per-user-bounded path audit columns.

    Scale: one user-keyed shuffle; the path string is bounded by the
    per-user event count (the same bound every sessionization op
    already carries).  The regex is row-local on the collapsed
    frame (|users| rows)."""
    ev = load_table(spark, sf_dir, "events")
    path = (ev.groupBy("user_id")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(
                        "ts", "event_id", "event_type"))),
                    lambda s: s["event_type"]), ",").alias("path"),
                F.count(F.lit(1)).alias("n_events")))
    return path.select(
        "user_id", "n_events",
        F.regexp_count("path", F.lit("view,(click,)*purchase"))
        .alias("n_direct_conversions"),
        F.regexp_count("path", F.lit("error")).alias("n_errors"))


X94_SQL = """
WITH p AS (
  SELECT user_id,
         STRING_AGG(event_type, ',' ORDER BY ts, event_id) AS path,
         COUNT(*) AS n_events
  FROM events GROUP BY user_id)
SELECT user_id, n_events,
       LEN(REGEXP_EXTRACT_ALL(path, 'view,(?:click,)*purchase'))
         AS n_direct_conversions,
       LEN(REGEXP_EXTRACT_ALL(path, 'error')) AS n_errors
FROM p
"""


def x95_trigram_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X95 (r6): top-10 THREE-STEP user journeys — X79's transition
    matrix extended one hop: two lags over the per-user (ts,
    event_id) order give every consecutive type triple, counted
    globally and ranked (count desc, lexicographic tie-break).  The
    'what do users actually do' product question at its most-asked
    depth.

    Scale: one user-keyed shuffle for the lag window, one
    (t1,t2,t3)-keyed aggregate (|types|^3 keys), then a top-10 over
    that bounded frame."""
    from pyspark.sql import Window as W
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (ev.select(
        F.lag("event_type", 2).over(w).alias("t1"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.col("event_type").alias("t3"))
        .filter(F.col("t1").isNotNull()))
    counts = tri.groupBy("t1", "t2", "t3").agg(
        F.count(F.lit(1)).alias("n"))
    # frame = event-type trigram vocabulary (bounded); r7 bounded_part
    wr = (W.partitionBy(bounded_part("n"))
          .orderBy(F.col("n").desc(), "t1", "t2", "t3"))
    return (counts.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= 10)
            .select("rank", "t1", "t2", "t3", "n"))


X95_SQL = """
WITH tri AS (
  SELECT LAG(event_type, 2) OVER w AS t1,
         LAG(event_type, 1) OVER w AS t2,
         event_type AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
c AS (SELECT t1, t2, t3, COUNT(*) AS n FROM tri
      WHERE t1 IS NOT NULL GROUP BY t1, t2, t3)
SELECT rank, t1, t2, t3, n FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, t1, t2, t3) AS rank
  FROM c)
WHERE rank <= 10
"""


def x96_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X96 (r6): MARKET-BASKET co-occurrence — the top-10 part PAIRS
    that appear in the same order ("frequently bought together"),
    with support counts and each part's individual order frequency
    (the inputs to lift/confidence, kept as exact integers; the
    division is the consumer's choice).  The pair join is keyed on
    the ORDER (bounded per-order line count — the standard basket
    bound), never a global cross join; per-part brands come from the
    broadcast part dim.

    Scale: one orderkey-keyed self-join whose fan-out is the squared
    per-order basket size (TPC-H ~4 lines/order), one pair
    aggregate, a TakeOrderedAndProject top-10 over the pair frame
    (``orderBy().limit(10)`` — never a global-window rank over the
    unbounded pair frame; the r6 verdict's single-partition fix);
    the 10 winners broadcast back onto the part-frequency dim."""
    from pyspark.sql import Window as W
    # r14 (guide §2.2): hash-partitioning by l_orderkey ALONE
    # satisfies both the (l_orderkey, l_partkey) distinct (equal
    # pairs share an orderkey, so they land in one partition) and
    # the orderkey self-join below — one exchange instead of the
    # distinct exchange plus a second orderkey exchange per side.
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey")
          .repartition("l_orderkey").distinct())
    a = li.select("l_orderkey", F.col("l_partkey").alias("p_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("p_b"))
    pairs = (a.join(b, "l_orderkey")
             .filter(F.col("p_a") < F.col("p_b"))
             .groupBy("p_a", "p_b")
             .agg(F.count(F.lit(1)).alias("n_orders_both")))
    freq = (li.groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("n_orders")))
    from ..exprs import bounded_part
    top = (pairs.orderBy(F.col("n_orders_both").desc(), "p_a", "p_b")
           .limit(10))
    wr = (W.partitionBy(bounded_part("p_a"))
          .orderBy(F.col("n_orders_both").desc(), "p_a", "p_b"))
    return (F.broadcast(top.withColumn("rank",
                                       F.row_number().over(wr)))
            .join(freq.select(F.col("l_partkey").alias("p_a"),
                              F.col("n_orders").alias("n_orders_a")),
                  "p_a")
            .join(freq.select(F.col("l_partkey").alias("p_b"),
                              F.col("n_orders").alias("n_orders_b")),
                  "p_b")
            .select("rank", "p_a", "p_b", "n_orders_both",
                    "n_orders_a", "n_orders_b"))


X96_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS p_a, b.l_partkey AS p_b,
         COUNT(*) AS n_orders_both
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
freq AS (SELECT l_partkey, COUNT(*) AS n_orders FROM li GROUP BY 1),
top AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY n_orders_both DESC,
                                 p_a, p_b) AS rank
    FROM pairs)
  WHERE rank <= 10)
SELECT rank, p_a, p_b, n_orders_both,
       fa.n_orders AS n_orders_a, fb.n_orders AS n_orders_b
FROM top
JOIN freq fa ON fa.l_partkey = top.p_a
JOIN freq fb ON fb.l_partkey = top.p_b
"""


def x97_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X97 (r6, rewritten r7): RFM customer segmentation — the
    classic warehouse scoring: per customer, Recency (days from last
    order to the corpus max date), Frequency (order count), Monetary
    (exact-decimal total), each cut into quintile CODES by the X31
    broadcast range-boundary idiom: interpolated 0.2/0.4/0.6/0.8
    percentile boundaries (one tiny agg row), broadcast back, each
    row coded with a comparison-count expression.  Equal metric
    values land in the same code (value-based cuts, the RFM-honest
    choice) instead of being split across tiles by an arbitrary
    key order as NTILE does.  Recency codes are REVERSED (most
    recent = 5).  The report is the segment-code census plus each
    code's exact monetary mass.

    All three metrics are cut on EXACT INTEGER columns (r8, ADVICE
    fix): recency_days and freq are already ints; monetary is
    cents-scaled to BIGINT before the percentile, so the values
    being compared against the interpolated boundary are exactly
    representable and the cross-engine ulp gap in the boundary
    itself cannot capture a data point (a double-cast decimal sum
    could sit inside that gap; an integer cannot, short of the two
    engines' boundaries straddling an integer — which identical
    lo+frac*(hi-lo) arithmetic over identical integer inputs
    doesn't produce).

    Scale: one customer-keyed aggregate, one 1-row percentile agg,
    one broadcast crossJoin, one census agg — fully parallel, no
    global window (the r6 verdict's single-partition fix; the
    ntile(5) version moved the whole customer frame through one
    task three times)."""
    from ..exprs import dsum
    ord_ = load_table(spark, sf_dir, "orders")
    mx = ord_.agg(F.max(F.to_date("o_orderdate")).alias("mx"))
    per = (ord_.groupBy("o_custkey")
           .agg(F.max(F.to_date("o_orderdate")).alias("last_d"),
                F.count(F.lit(1)).alias("freq"),
                dsum("o_totalprice", "monetary"))
           .crossJoin(F.broadcast(mx))
           .select("o_custkey",
                   F.datediff("mx", "last_d").alias("recency_days"),
                   "freq",
                   "monetary",
                   (F.col("monetary") * 100).cast("bigint")
                   .alias("mon_cents")))
    qs = (0.2, 0.4, 0.6, 0.8)
    bounds = per.agg(*(
        [F.percentile(F.col("recency_days"), F.lit(q))
         .alias(f"rb{i}") for i, q in enumerate(qs, start=1)]
        + [F.percentile(F.col("freq"), F.lit(q)).alias(f"fb{i}")
           for i, q in enumerate(qs, start=1)]
        + [F.percentile(F.col("mon_cents"), F.lit(q)).alias(f"mb{i}")
           for i, q in enumerate(qs, start=1)]))
    r = (F.lit(5)
         - sum((F.col("recency_days") > F.col(f"rb{i}")).cast("int")
               for i in range(1, 5))).cast("int")
    f_ = (F.lit(1)
          + sum((F.col("freq") > F.col(f"fb{i}")).cast("int")
                for i in range(1, 5))).cast("int")
    m = (F.lit(1)
         + sum((F.col("mon_cents") > F.col(f"mb{i}")).cast("int")
               for i in range(1, 5))).cast("int")
    scored = (per.crossJoin(F.broadcast(bounds))
              .select("o_custkey", "monetary",
                      r.alias("r_code"), f_.alias("f_code"),
                      m.alias("m_code")))
    return (scored.groupBy("r_code", "f_code", "m_code")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 dsum("monetary", "segment_monetary")))


def _x97_sql() -> str:
    from ..exprs import sql_dsum
    rb = ", ".join(f"QUANTILE_CONT(recency_days, {q}) AS rb{i}"
                   for i, q in enumerate((0.2, 0.4, 0.6, 0.8),
                                         start=1))
    fb = ", ".join(f"QUANTILE_CONT(freq, {q}) AS fb{i}"
                   for i, q in enumerate((0.2, 0.4, 0.6, 0.8),
                                         start=1))
    mb = ", ".join(f"QUANTILE_CONT(mon_cents, {q}) AS mb{i}"
                   for i, q in enumerate((0.2, 0.4, 0.6, 0.8),
                                         start=1))
    r_sum = " + ".join(
        f"(CASE WHEN recency_days > rb{i} THEN 1 ELSE 0 END)"
        for i in range(1, 5))
    f_sum = " + ".join(
        f"(CASE WHEN freq > fb{i} THEN 1 ELSE 0 END)"
        for i in range(1, 5))
    m_sum = " + ".join(
        f"(CASE WHEN mon_cents > mb{i} THEN 1 ELSE 0 END)"
        for i in range(1, 5))
    return f"""
WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
per AS (
  SELECT o_custkey,
         DATE_DIFF('day', MAX(CAST(o_orderdate AS DATE)),
                   (SELECT mx FROM mx)) AS recency_days,
         COUNT(*) AS freq,
         {sql_dsum('o_totalprice')} AS monetary,
         CAST({sql_dsum('o_totalprice')} * 100 AS BIGINT) AS mon_cents
  FROM orders GROUP BY o_custkey),
b AS (SELECT {rb}, {fb}, {mb} FROM per),
scored AS (
  SELECT o_custkey, monetary,
         CAST(5 - ({r_sum}) AS INT) AS r_code,
         CAST(1 + ({f_sum}) AS INT) AS f_code,
         CAST(1 + ({m_sum}) AS INT) AS m_code
  FROM per, b)
SELECT r_code, f_code, m_code, COUNT(*) AS n_customers,
       {sql_dsum('monetary')} AS segment_monetary
FROM scored GROUP BY 1, 2, 3
"""


def x105_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X105 (r6): the ELBOW report — X47's fixed-point k-means run at
    k = 2, 4, 8 and reduced to one row per k: total inertia plus the
    exact x1000 inertia ratio to the k=2 anchor.  The model-selection
    table every clustering deployment reads before freezing k; all
    integer arithmetic, so each k's whole trajectory replays
    bit-for-bit in the oracle's unrolled CTE chains (three chains,
    one per k, UNION ALL'd).

    Scale: three independent X47 runs — each is the documented
    bounded-iteration plan (k x dim centroid means to the driver per
    round, join-free literal-centroid assignment)."""
    from ..operators.clustering import kmeans_fixedpoint
    emb = load_table(spark, sf_dir, "embeddings")
    out = None
    for k in (2, 4, 8):
        rep = (kmeans_fixedpoint(emb, k=k, iters=3)
               .agg(F.sum("n_points").cast("long").alias("n_points"),
                    F.sum("inertia").cast("long").alias("inertia"))
               .select(F.lit(k).alias("k"), "n_points", "inertia"))
        out = rep if out is None else out.unionByName(rep)
    # eager checkpoint of the 3-row report: deriving the k=2 anchor
    # from `out` lazily would re-execute the k=2 assignment subtree
    # (one extra corpus scan) — the x65/x92 multiply-referenced-
    # subtree discipline
    out = out.localCheckpoint(eager=True)
    anchor = out.filter(F.col("k") == 2).select(
        F.col("inertia").alias("anchor"))
    return (out.crossJoin(F.broadcast(anchor))
            .select("k", "n_points", "inertia",
                    # decimal(38,0) product: 1000 * inertia wraps
                    # int64 past ~2^29 vectors (the kmeans_fixedpoint
                    # bound / 1000); the ratio itself is tiny
                    F.expr("CAST(CAST(inertia AS DECIMAL(38,0)) * 1000"
                           " DIV anchor AS LONG)")
                    .alias("inertia_vs_k2_x1000")))


def _x105_sql() -> str:
    from ..operators.clustering import _kmeans_cte_chain
    parts = []
    for k in (2, 4, 8):
        chain = _kmeans_cte_chain(k, 3, "embeddings", "embedding",
                                  "vec_id")
        parts.append(f"""
SELECT {k} AS k, COUNT(*) AS n_points,
       CAST(SUM(d) AS BIGINT) AS inertia
FROM ({chain}
SELECT d FROM a3) """)
    union = "UNION ALL".join(parts)
    return f"""
WITH r AS ({union}),
a AS (SELECT inertia AS anchor FROM r WHERE k = 2)
SELECT k, n_points, inertia,
       CAST(CAST(inertia AS HUGEINT) * 1000 // anchor AS BIGINT)
         AS inertia_vs_k2_x1000
FROM r, a
"""


def x106_quality_dedup_interaction(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """X106 (r6): QUALITY x DUPLICATION interaction — the 2x2 audit
    behind the "dedup first or filter first" pipeline-ordering
    decision: every document is labeled exact-duplicate-or-not (L1's
    md5 keep-first rule) and Gopher-pass-or-not (X50's full rule
    set via the shared row-flag core), and the report is the cross
    census with exact char mass.
    If duplicates concentrate in the quality-fail cell (they do on
    template-spam corpora), filtering first shrinks the dedup join;
    if not, dedup first saves filter compute — this table is the
    evidence either way.

    Scale: both labels are existing single-shuffle operators; the
    census is one 4-key aggregate."""
    from ..operators.curation import gopher_row_flags
    from pyspark.sql import Window as W
    doc = load_table(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    labeled = doc.select(
        "doc_id", "n_chars",
        (F.row_number().over(w) > 1).alias("is_dup"))
    flags = gopher_row_flags(doc, min_stops=1,
                             keep_cols=("doc_id",)).select(
        "doc_id", "passes_all")
    j = labeled.join(flags, "doc_id")
    return (j.groupBy("is_dup", "passes_all")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("n_chars")))


def _x106_sql() -> str:
    from ..operators.curation import gopher_flags_cte
    cte = gopher_flags_cte("documents", 1, "doc_id")
    return cte + """,
dup AS (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY MD5(text)
                            ORDER BY doc_id) > 1 AS is_dup
  FROM documents)
SELECT dup.is_dup,
       (r1 AND r2 AND r3 AND r4 AND r5 AND r6) AS passes_all,
       COUNT(*) AS n_docs,
       CAST(SUM(dup.n_chars) AS BIGINT) AS n_chars
FROM dup JOIN r USING (doc_id)
GROUP BY 1, 2
"""


def x112_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X112 (r7): TRIANGLE CENSUS of the co-purchase graph — nodes
    are parts, an edge joins two parts co-ordered in >= 2 distinct
    orders (the x96 basket construction plus a support threshold,
    which drops the single-co-occurrence noise edges and keeps the
    graph sparse: 115k -> 3.4k edges at sf0.01), and the one-row
    report is the exact triangle count plus global transitivity:
    how clique-ish the repeat-co-purchase structure is
    (random-graph baselines have near-zero closure; real baskets
    close triangles).

    Spark plan: ``operators/graph.py::triangle_count`` — degree-
    ordered edge orientation (Suri & Vassilvitskii 2011) so the
    wedge join's fan-out is bounded by O(sqrt(m)) per node even
    under hub skew; three keyed equi-joins, no cartesian
    (plan-gated), shared edge/degree subtrees eagerly
    localCheckpointed so the lineitem scan happens once.

    Oracle: the identical construction as a DuckDB CTE chain —
    canonical edges, degrees, (deg, id)-orientation, wedge-edge
    equi-join — bit-exact integer outputs end to end."""
    from ..operators.graph import triangle_count
    # r14 (guide §2.2): hash-partitioning by l_orderkey ALONE
    # satisfies both the (l_orderkey, l_partkey) distinct (equal
    # pairs share an orderkey, so they land in one partition) and
    # the orderkey self-join below — one exchange instead of the
    # distinct exchange plus a second orderkey exchange per side.
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey")
          .repartition("l_orderkey").distinct())
    edges = (li.alias("x").join(li.alias("y"), "l_orderkey")
             .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
             .groupBy(F.col("x.l_partkey").alias("pa"),
                      F.col("y.l_partkey").alias("pb"))
             .agg(F.count(F.lit(1)).alias("n_orders"))
             .filter(F.col("n_orders") >= 2)
             .select("pa", "pb"))
    return triangle_count(edges, "pa", "pb")


X112_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT x.l_partkey AS u, y.l_partkey AS v
  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
                     AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
deg AS (
  SELECT node, COUNT(*) AS dg
  FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
  GROUP BY 1),
oe AS (
  SELECT CASE WHEN du.dg < dv.dg
               OR (du.dg = dv.dg AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN du.dg < dv.dg
               OR (du.dg = dv.dg AND e.u < e.v)
              THEN e.v ELSE e.u END AS t
  FROM e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM oe e1
  JOIN oe e2 ON e2.s = e1.s AND e2.t <> e1.t
  JOIN oe e3 ON e3.s = e1.t AND e3.t = e2.t),
summary AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(dg) // 2 AS BIGINT) AS n_edges,
         CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN CAST(3 * n_triangles * 1000000 // n_wedges AS BIGINT)
       END AS transitivity_ppm
FROM summary, tri
"""


def x113_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X113 (r7): DATA-QUALITY CONSTRAINT AUDIT (the Deequ/
    dbt-test pattern) — one row per declared constraint over
    ``lineitem``: primary-key uniqueness, completeness, accepted
    values, numeric/date ranges, and referential integrity against
    ``orders``; each row carries the exact violation count, the
    rows checked, and the pass verdict.  The table a pipeline gates
    a publish step on.

    Spark plan: every single-table rule folds into ONE full-scan
    aggregate (map-side-combinable sums of 0/1 indicators plus one
    exact count-distinct for the PK rule — the scan's only real
    shuffle, keyed by the PK hash); referential integrity is one
    LEFT ANTI join against the orders key over a second, key-only
    pruned scan (ReadSchema carries just ``l_orderkey`` — plan-
    gated); the per-constraint rows are unpivoted from the two
    1-row aggregates with ``stack``, never a re-scan per rule.

    Oracle: the identical indicator algebra in DuckDB, UNION ALL of
    the same constraint rows (SUMs cast BIGINT per the HUGEINT
    twin-type discipline)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")

    def viol(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)) \
                .cast("long").alias(name)

    agg = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1))
         - F.count_distinct(F.struct("l_orderkey", "l_linenumber")))
        .cast("long").alias("dup_pk"),
        viol(F.col("l_quantity").isNull(), "null_quantity"),
        viol(~F.col("l_returnflag").isin("A", "N", "R")
             | F.col("l_returnflag").isNull(), "bad_returnflag"),
        viol((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
             "range_quantity"),
        viol((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
             "range_discount"),
        viol(F.col("l_extendedprice") <= 0, "nonpositive_price"),
        viol((F.col("l_shipdate") < F.lit("1992-01-01").cast("date"))
             | (F.col("l_shipdate") > F.lit("1998-12-31").cast("date"))
             | F.col("l_shipdate").isNull(), "shipdate_era"),
    ).localCheckpoint(eager=True)  # 1 row, unpivoted 8 ways below
    orphans = (li.select("l_orderkey")
               .join(o, li.l_orderkey == o.o_orderkey, "left_anti")
               .agg(F.count(F.lit(1)).alias("ri_orderkey")))
    stacked = agg.select(
        F.expr(
            "stack(7,"
            " 'pk_unique', dup_pk,"
            " 'null_quantity', null_quantity,"
            " 'accepted_returnflag', bad_returnflag,"
            " 'range_quantity', range_quantity,"
            " 'range_discount', range_discount,"
            " 'nonpositive_price', nonpositive_price,"
            " 'shipdate_era', shipdate_era"
            ") as (rule, violations)"),
        F.col("n_rows").alias("checked_rows"))
    ri = (orphans.crossJoin(agg.select("n_rows"))  # two 1-row frames
          .select(F.lit("ri_orderkey").alias("rule"),
                  F.col("ri_orderkey").cast("long").alias("violations"),
                  F.col("n_rows").alias("checked_rows")))
    return (stacked.unionByName(ri)
            .withColumn("passed", F.col("violations") == 0))


X113_SQL = """
WITH agg AS (
  SELECT COUNT(*) AS n_rows,
         CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
              AS BIGINT) AS dup_pk,
         CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS null_quantity,
         CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                        OR l_returnflag IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_returnflag,
         CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                       THEN 1 ELSE 0 END) AS BIGINT) AS range_quantity,
         CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                       THEN 1 ELSE 0 END) AS BIGINT) AS range_discount,
         CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS nonpositive_price,
         CAST(SUM(CASE WHEN l_shipdate < DATE '1992-01-01'
                        OR l_shipdate > DATE '1998-12-31'
                        OR l_shipdate IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS shipdate_era
  FROM lineitem),
orphans AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS ri_orderkey
  FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_orderkey = l.l_orderkey)),
stacked AS (
  SELECT 'pk_unique' AS rule, dup_pk AS violations,
         n_rows AS checked_rows FROM agg
  UNION ALL SELECT 'null_quantity', null_quantity, n_rows FROM agg
  UNION ALL SELECT 'accepted_returnflag', bad_returnflag, n_rows
  FROM agg
  UNION ALL SELECT 'range_quantity', range_quantity, n_rows FROM agg
  UNION ALL SELECT 'range_discount', range_discount, n_rows FROM agg
  UNION ALL SELECT 'nonpositive_price', nonpositive_price, n_rows
  FROM agg
  UNION ALL SELECT 'shipdate_era', shipdate_era, n_rows FROM agg
  UNION ALL SELECT 'ri_orderkey', ri_orderkey, n_rows
  FROM orphans, agg)
SELECT rule, violations, checked_rows,
       violations = 0 AS passed
FROM stacked
"""


def x118_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X118 (r8): K-CORE decomposition of the x112 co-purchase graph
    (parts co-ordered in >= 2 distinct orders) — iterative peeling
    (``operators/graph.py::kcore``) to the maximal 3-core, returning
    each surviving part with its exact within-core degree.  The
    graph-density complement to x112's triangle census: triangles
    say how clique-ish the closures are, the 3-core is the engaged
    sub-network itself (every member co-purchased with >= 3 other
    members that all themselves stay), the standard "dense nucleus"
    cut used for influence and spam-cluster mining.

    Spark plan: per round one map-side-combinable degree aggregate +
    two keyed semi-joins (no cartesian, per-round plan gated via the
    factored ``_peel_once``), per-round localCheckpoint so lineage
    stays flat, loop guarded by a non-convergence RAISE rather than
    a silent partial peel (the dedup_clusters discipline).

    Oracle: the SAME peel unrolled as a fixed 24-round CTE chain —
    a fixed point is stable under extra rounds, so the unroll is
    exact as long as 24 covers convergence (measured: 11 rounds at
    sf0.01, 1 at sf0.001; the Spark side would RAISE at 40 rounds
    before the oracle bound went stale silently)."""
    from ..operators.graph import kcore
    # r14 (guide §2.2): hash-partitioning by l_orderkey ALONE
    # satisfies both the (l_orderkey, l_partkey) distinct (equal
    # pairs share an orderkey, so they land in one partition) and
    # the orderkey self-join below — one exchange instead of the
    # distinct exchange plus a second orderkey exchange per side.
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey")
          .repartition("l_orderkey").distinct())
    edges = (li.alias("x").join(li.alias("y"), "l_orderkey")
             .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
             .groupBy(F.col("x.l_partkey").alias("pa"),
                      F.col("y.l_partkey").alias("pb"))
             .agg(F.count(F.lit(1)).alias("n_orders"))
             .filter(F.col("n_orders") >= 2)
             .select("pa", "pb"))
    return kcore(edges, k=3, a="pa", b="pb")


def _x118_sql(k: int = 3, rounds: int = 24) -> str:
    # Every e{i} is referenced three times by round i+1 — without
    # AS MATERIALIZED, CTE inlining expands the chain toward 3^rounds
    # scans of lineitem (measured: DuckDB exhausts file handles).
    parts = ["""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT x.l_partkey AS u, y.l_partkey AS v
  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
                     AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
e0 AS MATERIALIZED (
  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e)"""]
    for i in range(rounds):
        parts.append(f""",
k{i} AS MATERIALIZED (
  SELECT u FROM e{i} GROUP BY u HAVING COUNT(*) >= {k}),
e{i + 1} AS MATERIALIZED (
  SELECT c.u, c.v FROM e{i} c
  JOIN k{i} x ON c.u = x.u JOIN k{i} y ON c.v = y.u)""")
    parts.append(f"""
SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM e{rounds} GROUP BY u""")
    return "".join(parts)


def x120_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X120 (r8): LABEL-PROPAGATION community detection over the x112
    co-purchase graph — the third graph-structure lens alongside
    x112's triangle census (closure density) and x118's k-core
    (dense nucleus): LPA partitions the WHOLE graph into communities
    (Raghavan et al. 2007), the standard cheap pre-cut before
    per-community processing (dup-cluster triage, mixture analysis,
    spam-ring candidates).

    Deterministic by declaration (``operators/graph.py::
    label_propagation``): synchronous updates, FIXED 4 rounds, ties
    broken (count DESC, label ASC), all-integer state — so the
    DuckDB twin unrolls the SAME recurrence and the hash gate proves
    every node's final community, not a summary.

    Spark plan: per round one edge-keyed equi-join + one map-side-
    combinable (node, label) count + one node-keyed argmax window,
    eager localCheckpoint per round (the kcore/pagerank idiom) —
    O(rounds x edges) total, no cartesian anywhere (plan-gated)."""
    from ..operators.graph import label_propagation
    # r14 (guide §2.2): hash-partitioning by l_orderkey ALONE
    # satisfies both the (l_orderkey, l_partkey) distinct (equal
    # pairs share an orderkey, so they land in one partition) and
    # the orderkey self-join below — one exchange instead of the
    # distinct exchange plus a second orderkey exchange per side.
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey")
          .repartition("l_orderkey").distinct())
    edges = (li.alias("x").join(li.alias("y"), "l_orderkey")
             .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
             .groupBy(F.col("x.l_partkey").alias("pa"),
                      F.col("y.l_partkey").alias("pb"))
             .agg(F.count(F.lit(1)).alias("n_orders"))
             .filter(F.col("n_orders") >= 2)
             .select("pa", "pb"))
    return label_propagation(edges, rounds=4, a="pa", b="pb")


def _x120_sql(rounds: int = 4) -> str:
    # Each l{i} is referenced once per round but sym is referenced
    # every round — MATERIALIZED throughout (the x118 lesson: CTE
    # inlining otherwise re-expands the lineitem self-join per round).
    parts = ["""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT x.l_partkey AS u, y.l_partkey AS v
  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
                     AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
sym AS MATERIALIZED (
  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM sym)"""]
    for i in range(rounds):
        parts.append(f""",
l{i + 1} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY cnt DESC, lbl) AS rn
    FROM (SELECT s.u AS node, p.lbl, COUNT(*) AS cnt
          FROM sym s JOIN l{i} p ON p.node = s.v
          GROUP BY 1, 2)) WHERE rn = 1)""")
    parts.append(f"""
SELECT CAST(node AS BIGINT) AS node,
       CAST(lbl AS BIGINT) AS community
FROM l{rounds}""")
    return "".join(parts)




def _netstring(base: str) -> str:
    """x130's per-column rendering, made COLLISION-PROOF (r10,
    ADVICE): a non-null value is length-prefixed (netstring style,
    ``LENGTH(v) || ':' || v``) and a NULL renders as the bare token
    ``'n'``.  The prefix makes every rendered column self-delimiting,
    so the '|' join separator can never be forged by a value that
    CONTAINS '|' ("a|b","c" vs "a","b|c" now render differently),
    and NULL can never collide with any literal string (every
    non-null rendering starts with a digit).  Shared verbatim by
    both engines: the template is ANSI CASE/LENGTH/|| and DuckDB
    accepts STRING as a VARCHAR alias."""
    return (f"CASE WHEN ({base}) IS NULL THEN 'n' "
            f"ELSE CAST(LENGTH({base}) AS STRING) || ':' || ({base}) "
            f"END")


#: x130's canonical row rendering: bigint keys and category strings
#: as-is, dates as ISO strings, doubles scaled to exact integer
#: grids with an explicit FLOOR (both engines floor the SAME IEEE
#: double product, and cast-to-bigint semantics differ — Spark
#: truncates, DuckDB rounds — so the floor must be spelled out).
#: NULL canonicalization (r9 ADVICE) + netstring length prefix (r10
#: ADVICE): every hashed column renders through :func:`_netstring`
#: on BOTH engines.  Without NULL handling the engines silently
#: diverge on any NULL (Spark's concat_ws SKIPS nulls while DuckDB's
#: '||' NULL-PROPAGATES — md5 of NULL is NULL, dropping the row from
#: SUM while COUNT keeps it); without the length prefix a NULL was
#: indistinguishable from a literal sentinel string and '|' inside a
#: value could forge a neighboring column.  The fixture is NULL-free
#: and '|'-free, but the checksum claims to be a GENERAL
#: table-equality primitive, so the contract must hold beyond it
#: (collision classes are test-pinned in tests/test_invariants.py).
_X130_COLS = tuple(_netstring(b) for b in (
    "CAST(l_orderkey AS STRING)",
    "CAST(l_linenumber AS STRING)",
    "l_returnflag",
    "l_linestatus",
    "CAST(l_shipdate AS STRING)",
    "CAST(FLOOR(l_extendedprice * 100) AS STRING)",
    "CAST(FLOOR(l_quantity * 100) AS STRING)",
    "CAST(FLOOR(l_discount * 1000) AS STRING)",
))


#: x130's modulus and the fan-out of the two-level exact reduction.
#: 4096 buckets x 2^33 rows of bigint-safe per-bucket accumulation
#: covers ~3.5e13 (2^45) rows per group — far past 100 TB lineitem.
_X130_P = 1_000_000_007
_X130_BUCKETS = 4096


def x130_summary(df: DataFrame) -> DataFrame:
    """Per-group mergeable checksum summary: exact row count + modular
    hash sum.  Merging two disjoint slices' summaries (counts add,
    sums add mod p) equals summarizing their union — the x131
    delta-maintenance identity.

    r15 (guide §1.2): the hash sum accumulates as BIGINT of per-row
    ``h % p`` terms instead of a decimal(38,0) sum of raw ``h`` — the
    BigDecimal accumulation was ~55% of the whole query's CPU
    (measured 7.0 s noop wall vs 3.4 s, identical values: ``sum(h)
    mod p == sum(h mod p) mod p``).  h < 2^60 parses exactly into a
    bigint; h % p < 2^30, so a bucket of up to 2^33 rows sums without
    overflow, and the two-level reduction (bucket partial sums mod p,
    then a ~``_X130_BUCKETS``-row recombine per group) keeps the
    arithmetic exact at any realistic scale instead of capping a
    group at 2^33 rows.  The bucket key hashes the md5 rendering
    itself, so the summary stays self-contained on any lineitem
    slice."""
    h15 = F.substring(F.md5(F.concat_ws(
        "|", *[F.expr(c) for c in _X130_COLS])), 1, 15)
    # stage the rendering+md5 into its own projection: the bucket
    # GROUPING key and the aggregated term both derive from it, and
    # Catalyst does not share subexpressions between key and buffer
    # evaluation (measured: the unstaged form re-renders every row
    # twice, ~5.7 s noop vs ~3.4 s staged)
    staged = df.select("l_returnflag", h15.alias("__h15"))
    hmod = F.conv(F.col("__h15"), 16, 10).cast("bigint") % _X130_P
    bucket = F.pmod(F.xxhash64("__h15"), F.lit(_X130_BUCKETS))
    part = (staged.groupBy("l_returnflag", bucket.alias("__b"))
            .agg(F.count(F.lit(1)).alias("__pn"),
                 (F.sum(hmod) % _X130_P).alias("__pc")))
    return (part.groupBy("l_returnflag")
            .agg(F.sum("__pn").alias("n"),
                 (F.sum("__pc") % _X130_P).alias("c")))


def x130_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X130 (r8): ORDER-INDEPENDENT table checksum — the 100 TB
    equality primitive: comparing two snapshots with exceptAll is a
    full shuffle of both tables, while a content checksum is ONE
    map-side-combinable scan each and a driver-sized compare.  Per
    row: md5 of the canonical '|'-joined rendering, the top 15 hex
    chars as an integer (< 2^60 — portable via CONV on Spark and
    CAST('0x..' AS BIGINT) on DuckDB); per l_returnflag group: the
    exact row count and SUM(h) mod 1e9+7 (decimal(38) accumulation,
    so the reduction is exact integer arithmetic on both engines).
    Addition is commutative — the checksum is invariant to row
    order and partitioning, which is precisely what makes it usable
    across engines, layouts, and AQE re-plans; any single-cell
    change in a hashed column moves its group's sum with probability
    1 - 2^-60-ish (planted-mutation sensitivity is test-pinned).
    Complements x41 (row-level snapshot diff — the drill-down you
    run AFTER a checksum mismatch)."""
    li = load_table(spark, sf_dir, "lineitem")
    return x130_summary(li).select(
        "l_returnflag", F.col("n").alias("n_rows"),
        F.col("c").cast("bigint").alias("checksum"))


_X130_SQL_COLS = " || '|' || ".join(_netstring(b) for b in (
    "CAST(l_orderkey AS VARCHAR)",
    "CAST(l_linenumber AS VARCHAR)",
    "l_returnflag",
    "l_linestatus",
    "CAST(l_shipdate AS VARCHAR)",
    "CAST(CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS VARCHAR)",
    "CAST(CAST(FLOOR(l_quantity * 100) AS BIGINT) AS VARCHAR)",
    "CAST(CAST(FLOOR(l_discount * 1000) AS BIGINT) AS VARCHAR)",
))

X130_SQL = f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(CAST('0x' || SUBSTR(MD5({_X130_SQL_COLS}), 1, 15)
                AS BIGINT) AS DECIMAL(38,0))) % 1000000007 AS BIGINT)
         AS checksum
FROM lineitem GROUP BY l_returnflag
"""




def x131_incremental_checksum(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """X131 (r8): INCREMENTAL maintenance of the x130 checksum — the
    mergeable-statistics family's smallest member: per-group row
    counts add, and modular sums add mod p, so a delta batch updates
    the published checksum table with one delta-sized scan and a
    group-keyed merge of two tiny summaries; merge == recompute
    EXACTLY (modular addition is associative and commutative).  This
    is what makes the checksum usable as a CONTINUOUS integrity
    monitor over an append-only 100 TB corpus: the full-table scan
    happens once, every sync after that is delta-priced, and a
    divergence between the maintained value and a periodic
    from-scratch audit localizes corruption to a (group, window).

    Split: delta = l_orderkey % 11 == 7 (disjoint slices of
    lineitem).  Declared output: the MERGED per-group table,
    hash-gated by the full-table oracle (X130's SQL), plus a
    merge==recompute exceptAll parity boolean."""
    li = load_table(spark, sf_dir, "lineitem")
    is_delta = F.col("l_orderkey") % 11 == 7
    summarize = x130_summary

    merged = (summarize(li.filter(~is_delta))
              .withColumnRenamed("n", "n_b").withColumnRenamed("c", "c_b")
              .join(summarize(li.filter(is_delta))
                    .withColumnRenamed("n", "n_d")
                    .withColumnRenamed("c", "c_d"),
                    "l_returnflag", "full_outer")
              .select("l_returnflag",
                      (F.coalesce("n_b", F.lit(0))
                       + F.coalesce("n_d", F.lit(0))).alias("n_rows"),
                      ((F.coalesce("c_b", F.lit(0))
                        + F.coalesce("c_d", F.lit(0)))
                       % 1_000_000_007).cast("bigint")
                      .alias("checksum")))
    # r15 (guide §1.2): the exceptAll/count parity trio re-derived
    # BOTH full-table checksum subtrees per action (6 lineitem scans
    # for a 3-row compare); one null-safe grouped compare does it in
    # a single action (exprs.multiset_diff_and_count).
    from ..exprs import multiset_diff_and_count
    full = x130_table_checksum(spark, sf_dir)
    d, n = multiset_diff_and_count(merged, full)
    parity = d == 0 and n > 0
    return merged.withColumn("merge_parity", F.lit(parity))


X131_SQL = X130_SQL.replace(
    "AS checksum",
    "AS checksum, TRUE AS merge_parity")


QUERIES: dict[str, tuple] = {
    "x25_funnel": (x25_funnel, X25_SQL),
    "j11_interval_overlap": (j11_interval_overlap, _j11_sql()),
    "x47_kmeans_clusters": (x47_kmeans_clusters, _x47_sql()),
    "x49_ewma": (x49_ewma, _x49_sql()),
    "x71_debounce_trailing": (x71_debounce_trailing, _x71_sql()),
    "x53_cluster_balanced_sample": (x53_cluster_balanced_sample,
                                    _x53_sql()),
    "x57_embedding_outliers": (x57_embedding_outliers, _x57_sql()),
    "x59_label_centroid_matrix": (x59_label_centroid_matrix,
                                  _x59_sql()),
    "x26_retention": (x26_retention, X26_SQL),
    "x27_peak_concurrency": (x27_peak_concurrency, X27_SQL),
    "a14_regression": (a14_regression, A14_SQL),
    "x28_histogram": (x28_histogram, X28_SQL),
    "x29_pagerank": (x29_pagerank, X29_SQL),
    "x30_zscore_outliers": (x30_zscore_outliers, X30_SQL),
    "x31_decile_stats": (x31_decile_stats, X31_SQL),
    "x32_conversion_lag": (x32_conversion_lag, X32_SQL),
    "x37_join_skew_report": (x37_join_skew_report, X37_SQL),
    "x60_hll_union": (x60_hll_union, X60_SQL),
    "x69_weighted_median": (x69_weighted_median, _x69_sql()),
    "x70_mad_outliers": (x70_mad_outliers, X70_SQL),
    "x72_k_anonymity": (x72_k_anonymity, X72_SQL),
    "x75_rolling_active_users": (x75_rolling_active_users, X75_SQL),
    "x76_ab_test": (x76_ab_test, X76_SQL),
    "x77_embedding_diversity": (x77_embedding_diversity, X77_SQL),
    "x79_transition_matrix": (x79_transition_matrix, X79_SQL),
    "x83_waterfill_allocation": (x83_waterfill_allocation, _x83_sql()),
    "x84_bot_detection": (x84_bot_detection, X84_SQL),
    "x85_attribution": (x85_attribution, _x85_sql()),
    "x86_seasonal_outliers": (x86_seasonal_outliers, X86_SQL),
    "x93_winsorize": (x93_winsorize, _x93_sql()),
    "x94_path_pattern": (x94_path_pattern, X94_SQL),
    "x95_trigram_journeys": (x95_trigram_journeys, X95_SQL),
    "x96_market_basket": (x96_market_basket, X96_SQL),
    "x97_rfm": (x97_rfm, _x97_sql()),
    "x105_kmeans_elbow": (x105_kmeans_elbow, _x105_sql()),
    "x106_quality_dedup_interaction": (x106_quality_dedup_interaction,
                                       _x106_sql()),
    "x80_survival_table": (x80_survival_table, X80_SQL),
    "x73_table_profile": (x73_table_profile, X73_SQL),
    "x112_triangle_count": (x112_triangle_count, X112_SQL),
    "x113_dq_audit": (x113_dq_audit, X113_SQL),
    "x118_kcore": (x118_kcore, _x118_sql()),
    "x120_label_propagation": (x120_label_propagation, _x120_sql()),
    "x130_table_checksum": (x130_table_checksum, X130_SQL),
    "x131_incremental_checksum": (x131_incremental_checksum, X131_SQL),
}
