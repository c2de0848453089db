"""Streaming queries (SURVEY §2B S1-S8), each run to completion with
Trigger.AvailableNow so the driver can treat them like batch queries.

Oracle strategy: on a finite input, every streaming result below is a
deterministic function of the events table, so most rows get a REAL
DuckDB oracle (stronger than the survey's parity plan).  Window
starts are exported as epoch seconds (pure integer arithmetic on both
engines — no tz/format drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..exprs import DEC, dsum, local_df, sql_dsum
from ..streaming.jobs import _stage_root, events_stream, run_available_now

_HOUR_US = 3600 * 1_000_000
_HALF_US = 1800 * 1_000_000


def s1_stream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: micro-batch file source == batch scan of the same dir."""
    sdf = events_stream(spark, sf_dir)
    out = run_available_now(
        sdf.select("event_id", "user_id", "event_type", "value"))
    return out


S1_SQL = "SELECT event_id, user_id, event_type, value FROM events"


def s2_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: tumbling 1-hour event-time windows (complete mode)."""
    sdf = events_stream(spark, sf_dir)
    agg = (sdf.groupBy(F.window("ts", "1 hour"), "event_type")
           .agg(F.count(F.lit(1)).alias("n"), dsum("value", "value_sum")))
    out = run_available_now(agg, output_mode="complete")
    return out.select(
        (F.unix_micros(F.col("window.start")) / 1_000_000).cast("long")
        .alias("bucket_start"),
        "event_type", "n", "value_sum")


S2_SQL = f"""
SELECT (EPOCH_US(CAST(ts AS TIMESTAMP)) - EPOCH_US(CAST(ts AS TIMESTAMP)) % {_HOUR_US})
         // 1000000 AS bucket_start,
       event_type, COUNT(*) AS n, {sql_dsum('value')} AS value_sum
FROM events GROUP BY 1, 2
"""


def s2_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 batch twin (used by BENCH; also the parity anchor for the
    streaming form — identical output contract)."""
    from ..catalog import load_table
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.unix_micros(F.col("ts"))
              - F.unix_micros(F.col("ts")) % _HOUR_US)
    return (ev.groupBy((bucket / 1_000_000).cast("long")
                       .alias("bucket_start"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), dsum("value", "value_sum")))


def s3_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: sliding 1-hour windows every 30 minutes — each event lands
    in two windows."""
    sdf = events_stream(spark, sf_dir)
    agg = (sdf.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
           .agg(F.count(F.lit(1)).alias("n")))
    out = run_available_now(agg, output_mode="complete")
    return out.select(
        (F.unix_micros(F.col("window.start")) / 1_000_000).cast("long")
        .alias("bucket_start"),
        "event_type", "n")


S3_SQL = f"""
SELECT bucket_start, event_type, COUNT(*) AS n FROM (
  SELECT UNNEST([
           (EPOCH_US(CAST(ts AS TIMESTAMP)) - EPOCH_US(CAST(ts AS TIMESTAMP)) % {_HALF_US}) // 1000000,
           (EPOCH_US(CAST(ts AS TIMESTAMP)) - EPOCH_US(CAST(ts AS TIMESTAMP)) % {_HALF_US}) // 1000000 - 1800
         ]) AS bucket_start,
         event_type
  FROM events
) GROUP BY 1, 2
"""


def s4_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: 5-minute-gap session windows per user (complete mode).
    A new session starts when the gap since the previous event is
    >= 5 minutes (session windows merge on overlap)."""
    sdf = events_stream(spark, sf_dir)
    agg = (sdf.groupBy(F.session_window("ts", "5 minutes"), "user_id")
           .agg(F.count(F.lit(1)).alias("n_events"),
                dsum("value", "value_sum")))
    out = run_available_now(agg, output_mode="complete")
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        "n_events", "value_sum")


S4_SQL = f"""
WITH o AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR CAST(ts AS TIMESTAMP) - CAST(LAG(ts) OVER w AS TIMESTAMP)
                   >= INTERVAL 5 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, event_id, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM o
)
SELECT user_id, EPOCH_US(MIN(CAST(ts AS TIMESTAMP))) AS session_start_us,
       COUNT(*) AS n_events, {sql_dsum('value')} AS value_sum
FROM s GROUP BY user_id, sid
"""


def s4_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 batch twin: gap-sessionization operator
    (operators/sessionize.py) — same output contract and the SAME
    oracle as the streaming session windows."""
    from ..catalog import load_table
    from ..operators.sessionize import session_stats
    ev = load_table(spark, sf_dir, "events")
    return (session_stats(ev, gap_minutes=5)
            .select("user_id", "session_start_us", "n_events", "value_sum"))


def s5_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: watermarked tumbling windows in APPEND mode — only windows
    whose end <= final watermark (max ts - 10 min) are emitted.
    Deterministic on finite input -> oracle-checkable."""
    sdf = events_stream(spark, sf_dir)
    agg = (sdf.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 hour"), "event_type")
           .agg(F.count(F.lit(1)).alias("n")))
    out = run_available_now(agg, output_mode="append")
    return out.select(
        (F.unix_micros(F.col("window.start")) / 1_000_000).cast("long")
        .alias("bucket_start"),
        "event_type", "n")


S5_SQL = f"""
WITH m AS (SELECT MAX(EPOCH_US(CAST(ts AS TIMESTAMP))) AS max_us FROM events),
b AS (
  SELECT (EPOCH_US(CAST(ts AS TIMESTAMP)) - EPOCH_US(CAST(ts AS TIMESTAMP)) % {_HOUR_US})
           // 1000000 AS bucket_start,
         event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT bucket_start, event_type, n FROM b, m
WHERE (bucket_start + 3600) * 1000000 <= m.max_us - 600 * 1000000
"""


def s6_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: at-least-once -> effectively-once.  Input staged TWICE
    (simulated SQS redelivery, GetJobs.py:37-40); watermarked
    dropDuplicates on event_id restores exactly-once output."""
    sdf = events_stream(spark, sf_dir, copies=2, tag="dedup")
    dedup = (sdf.withWatermark("ts", "1 hour")
             .dropDuplicates(["event_id"])
             .select("event_id", "event_type", "value"))
    return run_available_now(dedup)


S6_SQL = "SELECT event_id, event_type, value FROM events"


def s7_stateful_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: stateful per-key aggregation, complete mode."""
    sdf = events_stream(spark, sf_dir)
    agg = (sdf.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n_events"),
                dsum("value", "value_sum"),
                F.max("event_type").alias("max_type")))
    return run_available_now(agg, output_mode="complete")


S7_SQL = f"""
SELECT user_id, COUNT(*) AS n_events, {sql_dsum('value')} AS value_sum,
       MAX(event_type) AS max_type
FROM events GROUP BY user_id
"""


def s9_custom_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: custom stateful operator (applyInPandasWithState) — the
    generalization of R7's arbitrary per-unit command to arbitrary
    per-KEY state machines.  Single staged file -> one micro-batch ->
    one final-state row per user; integer outputs get a full DuckDB
    oracle."""
    from ..streaming.jobs import stateful_user_sessions
    sdf = events_stream(spark, sf_dir, tag="stateful")
    return run_available_now(stateful_user_sessions(sdf))


S9_SQL = """
WITH t AS (
  SELECT user_id, EPOCH_US(CAST(ts AS TIMESTAMP)) AS t_us
  FROM events),
g AS (
  SELECT user_id, t_us,
         t_us - LAG(t_us) OVER (PARTITION BY user_id ORDER BY t_us)
           AS gap
  FROM t)
SELECT user_id, COUNT(*) AS n_events,
       1 + CAST(COALESCE(SUM(CASE WHEN gap > 1800000000
                               THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_sessions,
       COALESCE(MAX(gap), 0) AS max_gap_us
FROM g GROUP BY user_id
"""


def s10_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: stream-stream interval join — purchases matched to the
    same user's clicks in the preceding hour.  Watermarks on both
    sides bound the join state (Spark GCs rows older than the
    interval + watermark); the join condition carries the time bound,
    so state never grows with stream length."""
    p = (events_stream(spark, sf_dir, tag="ssj_p")
         .filter(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("p_id"),
                 F.col("user_id").alias("p_user"),
                 F.col("ts").alias("p_ts"))
         .withWatermark("p_ts", "1 hour"))
    c = (events_stream(spark, sf_dir, tag="ssj_c")
         .filter(F.col("event_type") == "click")
         .select(F.col("event_id").alias("c_id"),
                 F.col("user_id").alias("c_user"),
                 F.col("ts").alias("c_ts"))
         .withWatermark("c_ts", "1 hour"))
    j = p.join(c, (F.col("p_user") == F.col("c_user"))
               & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
               & (F.col("c_ts") <= F.col("p_ts")))
    return run_available_now(j.select("p_id", "c_id", "p_user"))


S10_SQL = """
SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id AS p_user
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


def s11_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: stream-static enrichment — the streaming fact joined to a
    broadcast dimension inside each micro-batch (the standard
    dimension-enrichment shape; the static side re-broadcasts per
    batch, no streaming state at all)."""
    from ..catalog import load_table
    sdf = events_stream(spark, sf_dir, tag="enrich")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    enriched = sdf.join(F.broadcast(cust), "user_id")
    agg = (enriched.groupBy("c_mktsegment", "event_type")
           .agg(F.count(F.lit(1)).alias("n"), dsum("value", "value_sum")))
    return run_available_now(agg, output_mode="complete")


S11_SQL = f"""
SELECT c_mktsegment, event_type, COUNT(*) AS n,
       {sql_dsum('value')} AS value_sum
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type
"""


def s8_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: foreachBatch + checkpoint — the reference's
    delete-on-success commit point made transactional.  Each
    micro-batch lands as parquet partitioned by batch id (idempotent
    overwrite per epoch); kill/restart recovery is exercised in
    tests/test_streaming.py.

    Oracle-paired (r6): availableNow drains the WHOLE fixture and the
    per-epoch overwrite makes every event land exactly once, so the
    sink's final state is deterministic — per-type count plus the
    exact event-id checksum equal a static aggregate of the source
    table.  Only the mid-stream kill/restart trajectory stays a local
    property (it depends on where the kill lands)."""
    import hashlib
    import os
    import shutil

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    sink = os.path.join(_stage_root(), f"s8_sink_{tag}")
    ckpt = os.path.join(_stage_root(), f"s8_ckpt_{tag}")
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    sdf = events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value")

    def write_batch(df: DataFrame, batch_id: int) -> None:
        (df.write.mode("overwrite")
         .parquet(os.path.join(sink, f"batch={batch_id}")))

    q = (sdf.writeStream.foreachBatch(write_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.read.parquet(f"{sink}/batch=*")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("event_id").alias("id_sum")))


S8_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM events GROUP BY event_type
"""


def s12_stream_weighted_sample(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """S12 (r4): the X39 weighted Bernoulli sampler applied UNCHANGED
    to a stream — the keep decision is row-local integer arithmetic
    (no state, no watermark, no shuffle), so the exact same operator
    serves batch curation and streaming ingest, and the streamed
    result equals the batch oracle bit-for-bit.  Keep probability ∝
    clamp(floor(value), 0, 100)/100 keyed on event_id."""
    from ..operators.sampling import weighted_bernoulli_sample
    sdf = events_stream(spark, sf_dir, tag="wsample")
    w = F.least(F.greatest(F.floor("value").cast("long"), F.lit(0)),
                F.lit(100))
    kept = weighted_bernoulli_sample(sdf, w, 100, id_col="event_id")
    agg = (kept.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("event_id").alias("id_sum")))
    return run_available_now(agg, output_mode="complete")


def _s12_sql() -> str:
    from ..operators.sampling import weighted_bernoulli_sql
    cond = weighted_bernoulli_sql(
        "LEAST(GREATEST(CAST(FLOOR(value) AS BIGINT), 0), 100)", 100,
        id_col="event_id")
    return f"""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM events WHERE {cond} GROUP BY event_type
"""


def s14_stream_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 (r5): streaming SEMANTIC dedup — the incremental-ingest
    half of X43.  The static corpus index is the even-vec_id half of
    the embeddings table, reduced to (bucket, embedding) once; the
    odd-id half ARRIVES AS A STREAM, and each micro-batch drops new
    vectors whose deterministic LSH bucket contains a corpus vector
    with cosine >= 0.3 (a stream-static LEFT ANTI join on the bucket
    key with the rounded-cosine predicate — per-batch broadcast of
    the by-contract-small index, NO streaming state).  At 100 TB the
    index side is the persisted bucket table and the anti join stays
    keyed on the bucket — the same discipline as the batch operator
    (`operators/dedup.py::semantic_dup_ids`).

    Deterministic on finite input -> REAL DuckDB oracle (correlated
    EXISTS over the same bucket + cosine), not just parity."""
    from ..catalog import load_table
    from ..operators.similarity import cosine_expr, lsh_bucket_expr
    from ..streaming.jobs import embeddings_stream

    bucket = lsh_bucket_expr()
    corpus = (load_table(spark, sf_dir, "embeddings")
              .filter(F.col("vec_id") % 2 == 0)
              .select(F.col("vec_id").alias("c_id"),
                      F.col("embedding").alias("c_emb"))
              .withColumn("bkt", bucket(F.col("c_emb"))))
    sdf = (embeddings_stream(spark, sf_dir, tag="semdedup")
           .filter(F.col("vec_id") % 2 == 1)
           .withColumn("bkt", bucket(F.col("embedding"))))
    cos = F.round(cosine_expr(F.col("embedding"), F.col("c_emb")), 6)
    kept = sdf.join(
        F.broadcast(corpus),
        (sdf["bkt"] == corpus["bkt"]) & (cos >= 0.3),
        "left_anti")
    agg = (kept.groupBy("label")
           .agg(F.count(F.lit(1)).alias("n_kept"),
                F.min("vec_id").alias("min_kept_id"),
                F.max("vec_id").alias("max_kept_id")))
    return run_available_now(agg, output_mode="complete")


def _s14_sql() -> str:
    from ..operators.similarity import cosine_sql_expr, lsh_bucket_sql
    cos = cosine_sql_expr("c.embedding", "n.embedding")
    return f"""
WITH c AS (SELECT vec_id, embedding, {lsh_bucket_sql('embedding')} AS bkt
           FROM embeddings WHERE vec_id % 2 = 0),
n AS (SELECT vec_id, label, embedding,
             {lsh_bucket_sql('embedding')} AS bkt
      FROM embeddings WHERE vec_id % 2 = 1)
SELECT n.label, COUNT(*) AS n_kept,
       MIN(n.vec_id) AS min_kept_id, MAX(n.vec_id) AS max_kept_id
FROM n
WHERE NOT EXISTS (SELECT 1 FROM c
                  WHERE c.bkt = n.bkt AND ROUND({cos}, 6) >= 0.3)
GROUP BY n.label
"""


def s13_stream_doc_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 (r4): streaming document quality scoring against the
    batch-trained X42 bigram model — the serving half of the
    train-once / score-forever discipline.  The model (vocab, unigram,
    bigram tables — all by-contract-small) trains on the static
    documents table; the document STREAM is scored with row-local
    array bigram extraction plus broadcast model joins (no lag window
    — streaming can't run one — and no streaming state beyond the
    final per-doc aggregate).  Output equals the batch X42 scorer
    row-for-row, so it shares the same DuckDB oracle."""
    from ..catalog import load_table
    from ..operators import text as T
    from ..streaming.jobs import documents_stream
    doc = load_table(spark, sf_dir, "documents")
    vocab, c1, _bg, cb = T.bigram_model_frames(doc, vocab_size=100)
    sdf = documents_stream(spark, sf_dir, tag="score")
    scored = T.bigram_score_against_model(sdf, vocab, c1, cb,
                                          vocab_size=100)
    return run_available_now(scored, output_mode="complete")


def _s13_sql() -> str:
    from ..operators.text import bigram_perplexity_sql
    return bigram_perplexity_sql(vocab_size=100)


def s15_stream_cluster_assign(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """S15 (r5): streaming cluster assignment against the
    batch-trained X47 k-means model — the serving half of
    train-once / assign-forever.  The model (k x dim integers) trains
    on the static embeddings table and folds into the streaming plan
    as literal centroids, so per-vector assignment is a row-local
    integer expression: no join, no state, no watermark — the only
    streaming state is the final (cluster, label) count matrix.
    Output equals the batch assignment bit-for-bit, so the oracle is
    X47's unrolled CTE chain with a contingency-matrix report."""
    from ..catalog import load_table
    from ..operators.clustering import (assign_best, kmeans_train,
                                        quantize_vec)
    from ..streaming.jobs import embeddings_stream
    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_train(emb, k=8, iters=3)
    sdf = (embeddings_stream(spark, sf_dir, tag="kmeans")
           .select("vec_id", "label",
                   quantize_vec("embedding").alias("qv"))
           .withColumn("best", assign_best(cents)))
    agg = (sdf.groupBy(F.col("best.cid").cast("int").alias("cid"),
                       "label")
           .agg(F.count(F.lit(1)).alias("n"),
                F.min("vec_id").alias("min_vec_id")))
    return run_available_now(agg, output_mode="complete")


def _s15_sql() -> str:
    from ..operators.clustering import kmeans_label_matrix_sql
    return kmeans_label_matrix_sql(k=8, iters=3)


def s17_stream_decontaminate(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """S17 (r5): streaming decontamination — X55's gate at ingest
    time.  The eval set's distinct 8-grams (by-contract small)
    collapse batch-side into ONE broadcast row, so each streamed
    training document is flagged with a row-local
    ``arrays_overlap(doc_shingles, eval_shingles)`` — no join
    explosion, no per-shingle state — and the only streaming state
    is the single per-source funnel aggregation.  Output equals the
    batch X55 funnel bit-for-bit (shares its oracle)."""
    from ..catalog import load_table
    from ..operators import text as T
    from ..streaming.jobs import documents_stream
    doc = load_table(spark, sf_dir, "documents")

    _SH = ("case when size(__toks) >= 8 then array_distinct("
           "transform(sequence(1, size(__toks) - 7), i -> "
           "concat_ws(' ', slice(__toks, i, 8)))) "
           "else array() end")
    ev = (doc.filter(F.col("source") == "src0")
          .withColumn("__toks", T.tokenize(F.col("text")))
          .select(F.explode(F.expr(_SH)).alias("sh"))
          .agg(F.collect_set("sh").alias("ev_shingles")))
    sdf = (documents_stream(spark, sf_dir, tag="decon")
           .filter(F.col("source") != "src0"))
    sdf = (sdf.withColumn("__toks", T.tokenize(F.col("text")))
           .withColumn("sh", F.expr(_SH))
           .crossJoin(F.broadcast(ev))
           .withColumn("hit", F.arrays_overlap("sh", "ev_shingles")))
    agg = (sdf.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_train"),
                F.sum(F.col("hit").cast("long")).alias("n_contaminated"),
                F.sum((~F.col("hit")).cast("long")).alias("n_kept"),
                F.coalesce(F.sum(F.when(~F.col("hit"),
                                        F.col("n_chars"))),
                           F.lit(0).cast("long")).alias("kept_chars")))
    return run_available_now(agg, output_mode="complete")


def _s17_sql() -> str:
    from .llm import X55_SQL
    return X55_SQL


def s16_stream_quality_gate(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """S16 (r5): the X50 Gopher quality audit applied UNCHANGED to a
    document stream — every rule is a row-local integer predicate
    (no state, no watermark), so the identical operator serves batch
    curation and streaming ingest and the streamed per-source pass
    counts equal the batch oracle bit-for-bit (shares X50's SQL
    twin)."""
    from ..operators.curation import gopher_rules
    from ..streaming.jobs import documents_stream
    sdf = documents_stream(spark, sf_dir, tag="gopher")
    return run_available_now(gopher_rules(sdf, min_stops=1),
                             output_mode="complete")


def _s16_sql() -> str:
    from ..operators.curation import gopher_rules_sql
    return gopher_rules_sql(min_stops=1)


def s18_stream_dsir_gate(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """S18 (r5): DSIR importance scoring at INGEST — the serving half
    of X65, following the S15 model-folding discipline: the 64-row
    fixed-point lambda table trains batch-side
    (``llm.dsir_lambda``, by-contract bounded) and folds into the
    streaming plan as a literal map, so each streamed document's
    importance weight is a ROW-LOCAL higher-order fold over its
    hashed grams — no join, no state, no watermark; the one streaming
    aggregation is the per-source rollup.  Because the weight is an
    exact integer dot product, the stream equals the batch scorer
    bit-for-bit and S18 shares X65's SQL twin.

    Streaming constraint this design removes: X65's per-doc
    weight-then-rollup is TWO aggregations, which Structured
    Streaming forbids; the literal-map fold collapses the per-doc
    stage to an expression."""
    from .llm import _DSIR_DIM, _dsir_grams, dsir_lambda
    from ..operators.text import tokenize
    from ..streaming.jobs import documents_stream
    lam_rows = dsir_lambda(spark, sf_dir).collect()   # 64 rows
    kv = []
    for r in lam_rows:
        kv += [F.lit(r["b"]), F.lit(r["lam"])]
    lam_map = F.create_map(*kv)
    sdf = documents_stream(spark, sf_dir, tag="dsir")
    scored = (sdf.select("doc_id", "source",
                         tokenize(F.col("text")).alias("__t"))
              .select("doc_id", "source",
                      _dsir_grams().alias("__g"))
              .select("doc_id", "source", F.aggregate(
                  F.transform(
                      F.col("__g"),
                      lambda g: F.coalesce(
                          F.element_at(
                              lam_map,
                              F.conv(F.substring(F.md5(g), 1, 15),
                                     16, 10).cast("long")
                              .__mod__(_DSIR_DIM).cast("int")),
                          F.lit(0).cast("long"))),
                  F.lit(0).cast("long"),
                  lambda acc, x: acc + x).alias("w")))
    out = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("w") > 0).cast("long")).alias("n_upweighted"),
        F.sum("w").cast("long").alias("sum_logw_x1e6"))
    return run_available_now(out, output_mode="complete")


def _s18_sql() -> str:
    from .llm import X65_SQL
    return X65_SQL


def s19_stream_bloom_gate(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """S19 (r5): Bloom-gated dedup screen at INGEST — the serving
    half of X68 under the S15/S18 model-folding discipline: the
    corpus' 4096-bit membership filter builds batch-side (one
    aggregate to <= 4096 set bits), folds into the streaming plan as
    a 64-word literal BITMAP, and each streamed document tests its 4
    probe bits ROW-LOCALLY (bit shifts on array literals — no join,
    no state); the single streaming aggregation is the per-source
    funnel of maybe-dup vs definitely-novel.  Zero false negatives
    by construction, so 'novel' documents can skip the exact
    verification entirely — at 100 TB that is the difference between
    anti-joining every ingest batch against the corpus hash set and
    anti-joining only the bloom-positive sliver.  The oracle derives
    the same funnel arithmetically (X68's bloom replayed per
    source)."""
    from ..catalog import load_table
    from ..streaming.jobs import documents_stream
    m, k = 4096, 4
    corpus = (load_table(spark, sf_dir, "documents")
              .select(F.md5("text").alias("h")))
    bit_rows = (corpus.select(F.explode(F.array(*[
        (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{j}:"), F.col("h"))), 1, 15),
            16, 10).cast("long") % m).cast("int")
        for j in range(k)])).alias("bit"))
        .distinct().collect())                     # <= 4096 rows
    words = [0] * (m // 64)
    for r in bit_rows:
        words[r["bit"] // 64] |= 1 << (r["bit"] % 64)
    # Signed-long literal array: Python ints >= 2^63 wrap to the JVM
    # long range explicitly so F.lit accepts them.
    bitmap = F.array(*[
        F.lit(w - (1 << 64) if w >= (1 << 63) else w).cast("long")
        for w in words])
    sdf = documents_stream(spark, sf_dir, tag="bloom")
    # Streamed "batch": same deterministic construction as X68 —
    # doc_id % 5 = 0 re-ingests corpus text, % 5 = 1 is novel.
    batch = (sdf.filter(F.col("doc_id") % 5 <= 1)
             .select("doc_id", "source",
                     F.when(F.col("doc_id") % 5 == 0, F.md5("text"))
                     .otherwise(F.md5(F.concat(
                         F.lit("novel-"),
                         F.col("doc_id").cast("string"),
                         F.lit(":"), F.col("text")))).alias("h")))

    masks = F.array(*[
        F.lit((1 << i) - (1 << 64) if i == 63 else (1 << i))
        .cast("long") for i in range(64)])

    def bit_set(j: int) -> F.Column:
        b = (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{j}:"), F.col("h"))), 1, 15),
            16, 10).cast("long") % m).cast("int")
        word = F.element_at(bitmap, F.floor(b / 64).cast("int") + 1)
        mask = F.element_at(masks, (b % 64) + 1)
        return word.bitwiseAND(mask) != 0
    pos = bit_set(0) & bit_set(1) & bit_set(2) & bit_set(3)
    out = (batch.withColumn("pos", pos)
           .groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_streamed"),
                F.sum(F.col("pos").cast("long")).alias("n_maybe_dup"),
                F.sum((~F.col("pos")).cast("long")).alias("n_novel")))
    return run_available_now(out, output_mode="complete")


S19_SQL = """
WITH corpus AS (SELECT MD5(text) AS h FROM documents),
bloom AS (
  SELECT DISTINCT
         CAST(('0x' || SUBSTRING(MD5(j || ':' || h), 1, 15))::BIGINT
              % 4096 AS INTEGER) AS bit
  FROM corpus, UNNEST([0, 1, 2, 3]) AS u(j)),
batch AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 5 = 0 THEN MD5(text)
              ELSE MD5('novel-' || CAST(doc_id AS VARCHAR) || ':'
                       || text) END AS h
  FROM documents WHERE doc_id % 5 <= 1),
pos AS (
  SELECT b.doc_id, b.source,
         SUM(CASE WHEN
               CAST(('0x' || SUBSTRING(MD5(u.j || ':' || b.h), 1, 15))
                    ::BIGINT % 4096 AS INTEGER)
               IN (SELECT bit FROM bloom)
             THEN 1 ELSE 0 END) = 4 AS p
  FROM batch b, UNNEST([0, 1, 2, 3]) AS u(j)
  GROUP BY b.doc_id, b.source)
SELECT source, COUNT(*) AS n_streamed,
       CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT)
         AS n_maybe_dup,
       CAST(SUM(CASE WHEN p THEN 0 ELSE 1 END) AS BIGINT)
         AS n_novel
FROM pos GROUP BY source
"""


def s21_stream_incremental_mv(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """S21 (r5): STREAMING incremental materialized-view maintenance
    — M6's delta merge running per micro-batch: the document stream
    is a CDC feed (every doc an insert; doc_id % 7 = 0 docs also
    emit a delete — the insert-then-delete lifecycle), and
    foreachBatch reduces each batch to signed per-source deltas
    landed as parquet keyed by BATCH ID (idempotent overwrite per
    epoch, the S8 commit discipline — a retried batch can never
    double-count), so the view is the sum of delta artifacts and a
    corpus re-scan never happens.  The final per-source (n_docs,
    chars_sum) equals the batch m6 semantics; the oracle derives it
    arithmetically."""
    import hashlib
    import os
    import shutil

    from ..streaming.jobs import documents_stream
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    sink = os.path.join(_stage_root(), f"s21_mv_{tag}")
    ckpt = os.path.join(_stage_root(), f"s21_ckpt_{tag}")
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    sdf = documents_stream(spark, sf_dir, tag="mv")
    cdc = (sdf.select("doc_id", "source", "n_chars", F.explode(
        F.when(F.col("doc_id") % 7 == 0,
               F.array(F.lit(1), F.lit(-1)))
        .otherwise(F.array(F.lit(1)))).alias("w")))

    def merge_batch(df: DataFrame, batch_id: int) -> None:
        delta = (df.groupBy("source")
                 .agg(F.sum("w").alias("dn"),
                      F.sum(F.col("w") * F.col("n_chars"))
                      .alias("dchars")))
        (delta.write.mode("overwrite")
         .parquet(os.path.join(sink, f"batch={batch_id}")))

    q = (cdc.writeStream.foreachBatch(merge_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.read.parquet(f"{sink}/batch=*")
            .groupBy("source")
            .agg(F.sum("dn").cast("long").alias("n_docs"),
                 F.sum("dchars").cast("long").alias("chars_sum"))
            .filter(F.col("n_docs") > 0))


S21_SQL = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum
FROM documents WHERE doc_id % 7 <> 0
GROUP BY source
"""


def s22_stream_seasonal_gate(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """S22 (r6): the X86 seasonal-anomaly profile SERVED on a stream
    — the S13/S15 train-once/score-forever discipline applied to ops
    monitoring: the per-(type, hour) traffic profile and its
    discrete-median flags train batch-side (a 24 x |types| frame),
    fold into the streaming plan as a broadcast stream-static join,
    and every arriving event is tagged row-locally as landing in a
    high/low/normal hour.  The only streaming state is the final
    per-type rollup.  Deterministic on the finite fixture -> the
    oracle derives the same rollup arithmetically (events joined to
    the replayed profile), not just a parity check.

    Scale: the profile side is bounded by |types| x 24 regardless of
    corpus size; the stream side never shuffles before the final
    aggregate."""
    from ..catalog import load_table
    from ..streaming.jobs import events_stream
    ev = load_table(spark, sf_dir, "events")
    prof = (ev.groupBy("event_type", F.hour("ts").alias("hour"))
            .agg(F.count(F.lit(1)).alias("c")))
    med = (prof.groupBy("event_type")
           .agg(F.expr("CAST(percentile_disc(0.5) WITHIN GROUP "
                       "(ORDER BY c) AS LONG)").alias("med")))
    flags = (prof.join(med, "event_type")
             .select("event_type", "hour",
                     (2 * F.col("c") > 3 * F.col("med"))
                     .alias("is_high"),
                     (2 * F.col("c") < F.col("med")).alias("is_low")))
    sdf = events_stream(spark, sf_dir, tag="seasonal")
    tagged = (sdf.select("event_type", F.hour("ts").alias("hour"))
              .join(F.broadcast(flags), ["event_type", "hour"]))
    agg = (tagged.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("is_high").cast("long")).alias("n_in_high"),
                F.sum(F.col("is_low").cast("long")).alias("n_in_low")))
    return run_available_now(agg, output_mode="complete")


S22_SQL = """
WITH prof AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hour, COUNT(*) AS c
  FROM events GROUP BY 1, 2),
med AS (
  SELECT event_type, CAST(QUANTILE_DISC(c, 0.5) AS BIGINT) AS med
  FROM prof GROUP BY event_type),
f AS (SELECT prof.event_type, hour,
             2 * c > 3 * med AS is_high, 2 * c < med AS is_low
      FROM prof JOIN med USING (event_type))
SELECT e.event_type, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN is_high THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_high,
       CAST(SUM(CASE WHEN is_low THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_low
FROM events e
JOIN f ON f.event_type = e.event_type
      AND f.hour = EXTRACT(hour FROM e.ts)
GROUP BY e.event_type
"""


def s23_stream_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S23 (r8): STREAMING ANN serving against the PERSISTED IVF
    index — the x109 lifecycle's query half as a micro-batch stream,
    closing the train-once/serve-forever loop for similarity search:
    the index builds batch-side (one partitioned write), then query
    vectors ARRIVE AS A STREAM, assign their own probe cells per
    micro-batch against broadcast centroids (the x114 distributed
    probe — ``ivf_probe_cells_distributed`` runs unchanged on a
    streaming DataFrame), stream-static-join the cell-partitioned
    index, and rescore with the exact cosine.

    Ranking windows are illegal on streams, so the stream-legal
    declared output is the per-query TOP-1 aggregate (max_by with the
    (cosine desc, vec_id asc) tie-break encoded as a struct ordering)
    plus the candidate count — full top-k stays the batch probe's
    contract.  Correctness is declared the l7_topk_numpy way: the
    batch ``ivf_index_probe`` (k=1) really runs too, and the output
    row carries booleans asserting the streamed top-1 ids and rounded
    cosines equal the batch path's exactly (full-outer join, coalesce
    False).

    Scale (100 TB): per micro-batch the work is one Arrow pass over
    the batch's queries + one cell equi-join against the static index
    + a per-query aggregate — no streaming state beyond the final
    complete-mode aggregate, no driver collect of queries anywhere
    (the cell-pruning list is the only driver materialization in the
    batch twin; the stream side joins the full index frame and lets
    the cell join prune).  The reference's closest shape is its
    long-poll consumer serving job results from the S3 output prefix
    (GetJobs.py:21-23, :57-60)."""
    from ..catalog import load_table
    from ..operators import similarity
    from ..streaming.jobs import embeddings_stream, run_available_now
    from .sources import _work_dir
    emb = load_table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") % 50 == 0
    idx = _work_dir(sf_dir, "s23_ivf")
    cmat = similarity.ivf_index_write(emb, idx, n_cells=16)

    sdf = embeddings_stream(spark, sf_dir, tag="annprobe").filter(pred)
    probe = similarity.ivf_probe_cells_distributed(sdf, cmat, n_probe=4)
    index = spark.read.parquet(idx)
    pairs = (probe.join(index, "cell")
             .filter(F.col("vec_id") != F.col("query_id")))
    cos = similarity.cosine_expr(F.col("q_emb"), F.col("embedding"))
    scored = (pairs.select("query_id", "vec_id", cos.alias("cosine"))
              .filter(F.col("cosine").isNotNull() & ~F.isnan("cosine")))
    tiebreak = F.struct(F.col("cosine"),
                        (-F.col("vec_id")).alias("nv"))
    agg = (scored.groupBy("query_id")
           .agg(F.count(F.lit(1)).alias("n_cands"),
                F.max_by(F.col("vec_id"), tiebreak).alias("s_vid"),
                F.round(F.max("cosine"), 6).alias("s_cos")))
    stream_top1 = run_available_now(agg, output_mode="complete")

    batch_top1 = (similarity.ivf_index_probe(
        spark, idx, cmat, emb, pred, k=1, n_probe=4)
        .select("query_id", F.col("vec_id").alias("b_vid"),
                F.col("cosine").alias("b_cos")))
    j = stream_top1.join(batch_top1, "query_id", "full")
    return j.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.bool_and(F.coalesce(F.col("s_vid") == F.col("b_vid"),
                              F.lit(False))).alias("top1_ids_match"),
        F.bool_and(F.coalesce(F.col("s_cos") == F.col("b_cos"),
                              F.lit(False))).alias("top1_cos_match"),
        F.bool_and(F.coalesce(F.col("n_cands") > 0,
                              F.lit(False))).alias("all_have_candidates"))


S23_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       TRUE AS top1_ids_match, TRUE AS top1_cos_match,
       TRUE AS all_have_candidates
FROM embeddings WHERE vec_id % 50 = 0
"""


def s24_stream_postings_merge(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """S24 (r8): STREAMING ingest into the x117 postings index — the
    x121 delta append as a micro-batch loop, closing the text-index
    lifecycle the way s23 closed the ANN one (build batch-side,
    ingest forever after).  The index builds from the base slice
    (doc_id % 7 != 3); the DELTA docs then ARRIVE AS A STREAM and
    each micro-batch's postings land via foreachBatch as an
    idempotent per-epoch overwrite (the s8 commit discipline:
    restart replays overwrite their own epoch directory, never
    duplicate postings — which is exactly what keeps the probe's
    COUNT(*)==n_terms AND semantics sound, since it relies on
    postings being distinct per (tok, doc)).

    Serving reads the LAYERED index — frozen base buckets unioned
    with the epoch-partitioned delta layer
    (``operators.text.postings_probe_and_df``); the declared output
    is the x117 conjunctive query served from that union, oracled
    against a DIRECT scan of the full corpus, so a dropped
    micro-batch, a bucket-hash drift in the streamed layer, or a
    replayed-epoch duplicate all hash-mismatch the gate.

    Scale (100 TB): per micro-batch cost is one tokenize pass + one
    delta-sized shuffle; the base index is never rewritten.  The
    delta layer accrues one directory per epoch — periodic
    compaction (the x121 batch merge / p11 discipline) folds it
    into the frozen buckets to restore the one-file-per-bucket
    serving layout.  The reference's closest shape is its long-poll
    consumer appending results to the output prefix
    (GetJobs.py:57-60)."""
    import hashlib
    import os
    import shutil

    from ..catalog import load_table
    from ..operators import text
    from ..streaming.jobs import documents_stream
    from .sources import _work_dir

    doc = load_table(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % 7 == 3
    idx = _work_dir(sf_dir, "s24_postings")
    text.postings_index_write(doc.filter(~is_delta), idx)

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    delta_dir = os.path.join(_stage_root(), f"s24_delta_{tag}")
    ckpt = os.path.join(_stage_root(), f"s24_ckpt_{tag}")
    shutil.rmtree(delta_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    sdf = (documents_stream(spark, sf_dir, tag="postings")
           .filter(is_delta))

    def append_batch(df: DataFrame, batch_id: int) -> None:
        (text._postings(df, "text", "doc_id", 32)
         .write.mode("overwrite")
         .parquet(os.path.join(delta_dir, f"epoch={batch_id}")))

    q = (sdf.writeStream.foreachBatch(append_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    cols = ["tok", "doc_id", "tf", "bucket"]
    layered = (spark.read.parquet(idx).select(cols)
               .unionByName(spark.read.parquet(f"{delta_dir}/epoch=*")
                            .select(cols)))
    from .llm import X117_TERMS
    return text.postings_probe_and_df(layered, list(X117_TERMS))


def _s24_sql() -> str:
    from .llm import _x117_sql
    return _x117_sql()




def s25_stream_incremental_pack(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """S25 (r8): STREAMING maintenance of the x122 packing manifest —
    the x125 frozen-prefix extension as a micro-batch loop.  Delta
    documents (the top eighth of the id range, x125's split) arrive
    as THREE ordered micro-batches (ascending id ranges, one file per
    trigger); each batch packs at ``base_off`` = the running token
    total carried in a tiny per-epoch STATE FILE (the manifest's
    entire maintenance state is one integer), writes its manifest
    slice as an idempotent per-epoch overwrite (the S8/S24 commit
    discipline — a restart replay re-reads epoch N-1's state and
    rewrites epoch N byte-identically), and advances the state.

    The declared output is the streamed manifest itself, oracled
    against the batch window twin (X125_SQL), plus ``batch_parity``:
    both exceptAll directions empty vs a one-shot
    ``pack_offsets(delta, base_off=total)`` — so a dropped batch, a
    stale base_off, or an out-of-order epoch all hash-mismatch.

    Scale (100 TB): per micro-batch cost is one delta-sized range
    shuffle; nothing ever re-reads packed history — the cross-batch
    coupling is the one integer in the state file.  The ordered-
    arrival requirement is real and declared: concat-and-chunk is
    order-defined, so the deployment contract is ordered ingest
    (snapshot directories, kafka partitions by id range) — unordered
    sources need the batch x125 pass per snapshot instead."""
    import os
    import shutil
    import time

    from ..catalog import load_table as _lt
    from ..operators import curation
    from ..operators import text as T
    from .llm import x125_pivot
    from .sources import _work_dir

    doc = _lt(spark, sf_dir, "documents")
    n = doc.select("doc_id",
                   F.size(T.tokenize(F.col("text")))
                   .cast("bigint").alias("n_tok"))
    pivot = x125_pivot(n)
    base, delta = (n.filter(F.col("doc_id") <= pivot),
                   n.filter(F.col("doc_id") > pivot))
    total = int(base.agg(F.sum("n_tok")).first()[0] or 0)

    # stage the delta as 3 ascending-id-range files, mtimes ascending
    stream_dir = _work_dir(sf_dir, "s25_stream")
    out_dir = _work_dir(sf_dir, "s25_manifest")
    state_dir = _work_dir(sf_dir, "s25_state")
    ckpt = _work_dir(sf_dir, "s25_ckpt")
    for d in (stream_dir, out_dir, state_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(stream_dir)
    ids = sorted(r["doc_id"] for r in delta.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    dd = doc.filter(F.col("doc_id") > pivot).select("doc_id", "text")
    slices = [dd.filter(F.col("doc_id") <= cuts[0]),
              dd.filter((F.col("doc_id") > cuts[0])
                        & (F.col("doc_id") <= cuts[1])),
              dd.filter(F.col("doc_id") > cuts[1])]
    now = time.time()
    for k, sl in enumerate(slices):
        tmp = os.path.join(stream_dir, f"_tmp{k}")
        sl.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp)
                    if f.endswith(".parquet"))
        dst = os.path.join(stream_dir, f"epoch_{k:02d}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (now + k, now + k))

    from ..streaming.jobs import pack_manifest_batch

    def pack_batch(df: DataFrame, batch_id: int) -> None:
        pack_manifest_batch(df, batch_id, out_dir, state_dir, total)

    raw_schema = spark.read.parquet(stream_dir).schema
    sdf = (spark.readStream.schema(raw_schema)
           .option("pathGlobFilter", "*.parquet")
           .option("maxFilesPerTrigger", 1)
           .parquet(stream_dir))
    q = (sdf.writeStream.foreachBatch(pack_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    streamed = spark.read.parquet(f"{out_dir}/epoch=*").select(
        "doc_id", "n_tok", "start_off", "first_seq", "last_seq",
        "n_seqs")
    oneshot = (curation.pack_offsets(delta, "n_tok", "doc_id",
                                     seq_len=128, base_off=total)
               .select("doc_id", "n_tok", "start_off", "first_seq",
                       "last_seq", "n_seqs"))
    from ..exprs import multiset_diff_and_count
    d_p, n_p = multiset_diff_and_count(streamed, oneshot)
    parity = d_p == 0 and n_p > 0
    return streamed.withColumn("batch_parity", F.lit(parity))


def _s25_sql() -> str:
    from .llm import X125_SQL
    return X125_SQL.replace("TRUE AS rebuild_parity",
                            "TRUE AS batch_parity")


def s26_stream_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S26 (r9): STREAMING near-dup candidate serving against the
    PERSISTED x132 LSH band index — the dedup lifecycle's query half
    as a micro-batch stream, completing the family's symmetry with
    s23 (ANN) and s24 (text): the index builds batch-side from the
    corpus, then crawl shards ARRIVE AS A STREAM and each micro-batch
    is probed via the REAL serving read path
    (``operators.dedup.lsh_index_probe`` runs unchanged inside
    foreachBatch — bucket-pruned scan, band-key equi-join, bounded
    bucket-list collect), writing its candidate pairs as an
    idempotent per-epoch overwrite (the s8/s24 commit discipline).

    The declared output carries ``stream_equals_batch``: the union
    of the streamed epochs' candidates must equal the one-shot batch
    probe of the full shard set (both exceptAll directions empty) —
    exact because a candidate pair depends only on the two docs'
    texts, never on micro-batch boundaries.  A dropped epoch, a
    replayed-epoch duplicate, or hash drift in the streamed banding
    all flip the boolean.

    Scale (100 TB): per micro-batch cost is one row-local banding
    pass over the shard + a bucket-pruned index join; the corpus is
    tokenized exactly once, at build.  The reference's closest shape
    is its long-poll consumer processing arrivals against persisted
    state (GetJobs.py:21-23)."""
    import hashlib
    import os
    import shutil

    from ..catalog import load_table
    from ..operators import dedup
    from ..streaming.jobs import documents_stream
    from .sources import _work_dir

    doc = load_table(spark, sf_dir, "documents")
    is_batch = F.col("source") == "src2"
    idx = _work_dir(sf_dir, "s26_lsh")
    dedup.lsh_index_write(doc.filter(~is_batch), idx)

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out_dir = os.path.join(_stage_root(), f"s26_cand_{tag}")
    ckpt = os.path.join(_stage_root(), f"s26_ckpt_{tag}")
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    sdf = (documents_stream(spark, sf_dir, tag="lshprobe")
           .filter(is_batch))

    def probe_batch(df: DataFrame, batch_id: int) -> None:
        (dedup.lsh_index_probe(spark, idx, df)
         .write.mode("overwrite")
         .parquet(os.path.join(out_dir, f"epoch={batch_id}")))

    q = (sdf.writeStream.foreachBatch(probe_batch)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    streamed = (spark.read.parquet(f"{out_dir}/epoch=*")
                .select("batch_id", "corpus_id"))
    oneshot = dedup.lsh_index_probe(spark, idx, doc.filter(is_batch))
    from ..exprs import multiset_diff_and_count
    d_p, n_p = multiset_diff_and_count(streamed, oneshot)
    parity = d_p == 0 and n_p > 0
    return (doc.filter(is_batch)
            .agg(F.count(F.lit(1)).alias("n_shard_docs"))
            .withColumn("stream_equals_batch", F.lit(parity)))


S26_SQL = """
SELECT CAST(SUM(CASE WHEN source = 'src2' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_shard_docs,
       TRUE AS stream_equals_batch
FROM documents
"""


def s27_stream_vocab_encode(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """S27 (r11): STREAMING ENCODE against the PUBLISHED BPE
    vocabulary — the x135 trained-artifact lifecycle's serving half
    as a long-running encoder that picks up a retrained vocabulary
    at epoch boundaries WITHOUT restart, completing the artifact
    story's quadrant symmetry with the index families (s23 ANN, s24
    postings, s26 LSH).  Every micro-batch resolves the m13 pointer
    inside ``foreachBatch`` (``artifacts.bpe_vocab_read`` — one
    O(n_merges) JSON read) and folds the LIVE merge table into that
    batch's encode plan, stamping the served version into the epoch
    output.

    Regime v1 (4 merges, trained on the even-doc half — x135's
    early-corpus vocabulary) serves phase 1, which streams the
    ``doc_id % 4 == 1`` shard slice; the full corpus then retrains 6
    merges, published as v2, and phase 2 streams the ``% 4 == 3``
    slice.  The publish lands strictly between the two AvailableNow
    runs, so the served-version columns are exact integers (1 and
    2), hash-gated — while WITHIN each phase the per-batch resolve
    is the real pickup mechanism (a mid-phase publish would simply
    split a phase across versions; epoch-boundary pickup under
    nondeterministic timing is the test suite's job, this row pins
    the deterministic contract).

    tokens_phase1/2 are the slice totals under each served
    vocabulary, re-derived by the oracle from scratch via the x44
    round-unrolled training chains — the streamed encode is checked
    against DuckDB's own training, not against Spark.

    Scale (100 TB): per-batch cost is the x46 encode (distinct-word
    collapse inside the batch + row-local rule cascade) plus one
    JSON pointer read; the retrain is x44's already-priced path,
    amortized over the vocabulary cadence."""
    import hashlib
    import os
    import shutil

    from ..catalog import load_table
    from ..operators import artifacts, publish, text
    from ..streaming.jobs import documents_stream
    from .sources import _work_dir

    doc = load_table(spark, sf_dir, "documents")
    root = _work_dir(sf_dir, "s27_vocab")
    if os.path.exists(root):            # idempotent across runs
        shutil.rmtree(root)
    os.makedirs(root)

    v1 = publish.new_layout_dir(root)
    artifacts.bpe_vocab_write(
        text.bpe_train_merges(doc.filter(F.col("doc_id") % 2 == 0),
                              n_merges=4), v1)
    publish.publish(root, v1)

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]

    def run_phase(phase: int, residue: int) -> DataFrame:
        out_dir = os.path.join(_stage_root(), f"s27_enc{phase}_{tag}")
        ckpt = os.path.join(_stage_root(), f"s27_ckpt{phase}_{tag}")
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        sdf = (documents_stream(spark, sf_dir, tag=f"vocabenc{phase}")
               .filter(F.col("doc_id") % 4 == residue))

        def encode_batch(df: DataFrame, batch_id: int) -> None:
            merges = artifacts.bpe_vocab_read(root)   # LIVE vocab
            ver = publish.current_version(root)
            (text.bpe_encode_stats(df, merges)
             .withColumn("vocab_version", F.lit(ver))
             .write.mode("overwrite")
             .parquet(os.path.join(out_dir, f"epoch={batch_id}")))

        q = (sdf.writeStream.foreachBatch(encode_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.read.parquet(f"{out_dir}/epoch=*")

    p1 = run_phase(1, 1)
    p1_row = p1.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_pieces").alias("tok"),
        F.min("vocab_version").alias("vlo"),
        F.max("vocab_version").alias("vhi")).first()

    v2 = publish.new_layout_dir(root)
    artifacts.bpe_vocab_write(text.bpe_train_merges(doc, n_merges=6),
                              v2)
    publish.publish(root, v2)

    p2 = run_phase(2, 3)
    p2_row = p2.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_pieces").alias("tok"),
        F.min("vocab_version").alias("vlo"),
        F.max("vocab_version").alias("vhi")).first()

    return local_df(
        spark,
        [(p1_row["n"], p2_row["n"], p1_row["tok"], p2_row["tok"],
          int(p1_row["vlo"]), int(p2_row["vhi"]),
          bool(p1_row["vlo"] == p1_row["vhi"]
               and p2_row["vlo"] == p2_row["vhi"]))],
        "n_phase1_docs long, n_phase2_docs long, tokens_phase1 long, "
        "tokens_phase2 long, served_v1 int, served_v2 int, "
        "single_version_per_phase boolean")


def _s27_sql() -> str:
    from .llm import _bpe_chain_cte
    from ..operators.text import tokenize_sql
    tk = tokenize_sql("text")
    enc1 = "c.s"
    for k in range(1, 5):
        enc1 = (f"replace({enc1}, '|' || (SELECT l FROM tm{k}) || '||' "
                f"|| (SELECT r FROM tm{k}) || '|', "
                f"'|' || (SELECT m FROM tm{k}) || '|')")
    pieces = "len(string_split(trim(s, '|'), '||'))"
    return f"""
WITH t0 AS MATERIALIZED (
  SELECT '|' || array_to_string(string_split(word, ''), '||') || '|'
           AS s,
         CAST(COUNT(*) AS BIGINT) AS wf
  FROM (SELECT UNNEST({tk}) AS word FROM documents
        WHERE doc_id % 2 = 0)
  GROUP BY 1){_bpe_chain_cte('t', 't0', 4)},
c0 AS MATERIALIZED (
  SELECT word,
         '|' || array_to_string(string_split(word, ''), '||') || '|'
           AS s,
         CAST(COUNT(*) AS BIGINT) AS wf
  FROM (SELECT UNNEST({tk}) AS word FROM documents)
  GROUP BY 1){_bpe_chain_cte('c', 'c0', 6, carry='word')},
enc1 AS (SELECT c.word, {enc1} AS s FROM c0 c),
occ1 AS (SELECT UNNEST({tk}) AS word FROM documents
         WHERE doc_id % 4 = 1),
occ2 AS (SELECT UNNEST({tk}) AS word FROM documents
         WHERE doc_id % 4 = 3)
SELECT (SELECT COUNT(*) FROM documents WHERE doc_id % 4 = 1)
         AS n_phase1_docs,
       (SELECT COUNT(*) FROM documents WHERE doc_id % 4 = 3)
         AS n_phase2_docs,
       (SELECT CAST(SUM({pieces}) AS BIGINT)
        FROM occ1 o JOIN enc1 e USING (word)) AS tokens_phase1,
       (SELECT CAST(SUM({pieces}) AS BIGINT)
        FROM occ2 o JOIN cw6 e USING (word)) AS tokens_phase2,
       CAST(1 AS INT) AS served_v1, CAST(2 AS INT) AS served_v2,
       TRUE AS single_version_per_phase
"""


QUERIES: dict[str, tuple] = {
    "s1_stream_scan": (s1_stream_scan, S1_SQL),
    "s2_tumbling_window": (s2_tumbling_window, S2_SQL),
    "s2_tumbling_batch": (s2_tumbling_batch, S2_SQL),
    "s3_sliding_window": (s3_sliding_window, S3_SQL),
    "s4_session_window": (s4_session_window, S4_SQL),
    "s4_session_batch": (s4_session_batch, S4_SQL),
    "s5_watermark_append": (s5_watermark_append, S5_SQL),
    "s6_stream_dedup": (s6_stream_dedup, S6_SQL),
    "s7_stateful_agg": (s7_stateful_agg, S7_SQL),
    "s8_foreach_batch_sink": (s8_foreach_batch_sink, S8_SQL),
    "s9_custom_stateful": (s9_custom_stateful, S9_SQL),
    "s10_stream_stream_join": (s10_stream_stream_join, S10_SQL),
    "s11_stream_static_join": (s11_stream_static_join, S11_SQL),
    "s12_stream_weighted_sample": (s12_stream_weighted_sample, _s12_sql()),
    "s13_stream_doc_scoring": (s13_stream_doc_scoring, _s13_sql()),
    "s14_stream_semantic_dedup": (s14_stream_semantic_dedup, _s14_sql()),
    "s15_stream_cluster_assign": (s15_stream_cluster_assign, _s15_sql()),
    "s16_stream_quality_gate": (s16_stream_quality_gate, _s16_sql()),
    "s17_stream_decontaminate": (s17_stream_decontaminate, _s17_sql()),
    "s18_stream_dsir_gate": (s18_stream_dsir_gate, _s18_sql()),
    "s19_stream_bloom_gate": (s19_stream_bloom_gate, S19_SQL),
    "s21_stream_incremental_mv": (s21_stream_incremental_mv, S21_SQL),
    "s22_stream_seasonal_gate": (s22_stream_seasonal_gate, S22_SQL),
    "s23_stream_ann_probe": (s23_stream_ann_probe, S23_SQL),
    "s24_stream_postings_merge": (s24_stream_postings_merge, _s24_sql()),
    "s26_stream_lsh_probe": (s26_stream_lsh_probe, S26_SQL),
    "s27_stream_vocab_encode": (s27_stream_vocab_encode, _s27_sql()),
    "s25_stream_incremental_pack": (s25_stream_incremental_pack,
                                    _s25_sql()),
}
