"""Physical-plan assertions (SURVEY §4B "verify via explain()").

Correct results with a wrong plan don't survive a 100x scale-up —
these tests pin the plan properties that matter at 100 TB: predicate
pushdown into parquet, column pruning, broadcast dims, partition
pruning on hive layouts, whole-stage codegen, and top-k via
TakeOrderedAndProject instead of a global sort.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from samplebatchprocessing_spark.catalog import load_table


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_pushdown_to_parquet(spark, sf_smoke):
    from samplebatchprocessing_spark.queries.sources import p1_parquet_scan
    plan = plan_str(p1_parquet_scan(spark, sf_smoke))
    assert "PushedFilters: [IsNotNull(p_size), GreaterThan(p_size,25)]" in plan


def test_column_pruning(spark, sf_smoke):
    from samplebatchprocessing_spark.queries.relational import q4_distinct
    plan = plan_str(q4_distinct(spark, sf_smoke))
    # scan schema carries only the two projected columns
    assert "c_mktsegment" in plan and "c_nationkey" in plan
    assert "c_acctbal" not in plan and "c_name" not in plan


def test_star_join_broadcasts_dims(spark, sf_smoke):
    from samplebatchprocessing_spark.queries.relational import j9_star_join
    plan = plan_str(j9_star_join(spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 3


def test_small_dim_join_is_broadcast_not_shuffle(spark, sf_smoke):
    from samplebatchprocessing_spark.queries.relational import (
        j5_broadcast_join)
    plan = plan_str(j5_broadcast_join(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    # the fact table must not shuffle for the join itself
    assert "SortMergeJoin" not in plan


def test_partition_pruning_on_hive_layout(spark, sf_smoke, tmp_path):
    """P7: a filter on the partition column must prune directories at
    planning time (PartitionFilters), not scan-and-filter."""
    out = str(tmp_path / "p7_part")
    li = load_table(spark, sf_smoke, "lineitem")
    (li.write.mode("overwrite")
     .partitionBy("l_returnflag", "l_linestatus").parquet(out))
    back = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    plan = plan_str(back)
    assert "PartitionFilters" in plan and "l_returnflag" in plan
    n_files = back.select(F.input_file_name()).distinct().count()
    all_files = (spark.read.parquet(out)
                 .select(F.input_file_name()).distinct().count())
    assert n_files < all_files


def test_whole_stage_codegen_covers_pipeline(spark, sf_smoke):
    from samplebatchprocessing_spark.queries.relational import (
        a1_pricing_summary)
    plan = plan_str(a1_pricing_summary(spark, sf_smoke), mode="codegen")
    assert "WholeStageCodegen" in plan and "Found" in plan


def test_two_phase_aggregation(spark, sf_smoke):
    """A12: map-side partial agg before the exchange, final after."""
    from samplebatchprocessing_spark.queries.relational import (
        a1_pricing_summary)
    plan = plan_str(a1_pricing_summary(spark, sf_smoke))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_global_topk_avoids_full_sort(spark, sf_smoke):
    from samplebatchprocessing_spark.queries.relational import t3_global_topk
    plan = plan_str(t3_global_topk(spark, sf_smoke), mode="simple")
    assert "TakeOrderedAndProject" in plan


def _mm4_phash_pairs(spark, sf_smoke):
    from samplebatchprocessing_spark.operators import multimodal as mm
    media = mm.media_table_from_fixture(spark, sf_smoke, "image")
    return mm.phash_neardup_pairs(mm.image_features(media))


def test_no_cartesian_in_blocked_similarity(spark, sf_smoke):
    """L5/L8 contract: blocking keys make these equi-joins — a
    cartesian product in the plan would mean the blocking broke."""
    from samplebatchprocessing_spark.operators import dedup, similarity
    doc = load_table(spark, sf_smoke, "documents")
    emb = load_table(spark, sf_smoke, "embeddings")
    from pyspark.sql import functions as F
    batch = doc.filter(F.col("source") != "src0")
    corpus = doc.filter(F.col("source") == "src0")
    for df in (dedup.jaccard_pairs(doc, threshold=0.8),
               similarity.sim_join(emb, threshold=0.3),
               dedup.embedding_neardup_pairs(emb, threshold=0.4),
               dedup.incremental_fuzzy_dedup(batch, corpus),
               dedup.semantic_dup_ids(emb, threshold=0.3),
               _mm4_phash_pairs(spark, sf_smoke)):
        plan = plan_str(df, mode="simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_lsh_path_is_banded_equi_join(spark, sf_smoke):
    """r4 l5_ngram_lsh headline contract: candidate generation is an
    equi-join on (band_idx, band_hash) and the exact verification
    joins are id-keyed — no cartesian/NLJ anywhere, and no
    length-band self-join (the O(band^2) shape the LSH path exists
    to avoid)."""
    from samplebatchprocessing_spark.operators import dedup
    doc = load_table(spark, sf_smoke, "documents")
    df = dedup.ngram_jaccard_pairs(doc, n=2, threshold=0.6, method="lsh")
    plan = plan_str(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_hash" in plan        # LSH band equi-join present
    assert "_iub" not in plan         # signature band path absent


def test_ivf_probe_is_broadcast_equi_join(spark, sf_smoke):
    """IVF contract: candidate restriction is a broadcast equi-join
    on the cell id — no shuffle of the candidate side, no cartesian."""
    from samplebatchprocessing_spark.operators import similarity
    emb = load_table(spark, sf_smoke, "embeddings")
    df = similarity.ivf_topk(emb, F.col("vec_id") % 50 == 0, k=5)
    plan = plan_str(df, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_edit_distance_join_no_cartesian(spark, sf_smoke):
    """X116: candidate generation is a gram-keyed equi-join over the
    rarest-first prefixes — never a cartesian; the Levenshtein DP
    appears only above the candidate join, not in a nested loop."""
    from samplebatchprocessing_spark.operators.dedup import (
        qgram_edit_pairs)
    doc = load_table(spark, sf_smoke, "documents")
    plan = plan_str(qgram_edit_pairs(doc), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_nb_quality_eval_model_join_is_broadcast(spark, sf_smoke):
    """X115: the trained (tok, weight) model is a vocabulary-sized
    broadcast artifact — the test-token scoring join must plan as a
    BroadcastHashJoin on tok, and nothing in the plan may be a
    cartesian (the 1-row consts/prior combines are broadcast
    nested-loop by construction, which is the allowed two-tiny-frame
    shape)."""
    from samplebatchprocessing_spark.queries.llm import (
        x115_nb_quality_eval)
    df = x115_nb_quality_eval(spark, sf_smoke)
    plan = plan_str(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the per-doc score join (test docs x doc-keyed sums) is
    # data-scale on BOTH sides — a doc_id-keyed SortMergeJoin is the
    # correct 100 TB plan there, so no no-SMJ assertion here.


def test_ivf_batch_topk_no_cartesian_no_query_collect_shape(spark, sf_smoke):
    """X114: the distributed-query IVF plan is a cell equi-join over
    two mapInPandas stages — never a cartesian/nested-loop, and the
    probe side is a FlatMapsInPandas subtree (the query DataFrame),
    not a LocalTableScan of driver-collected rows (which is exactly
    what the ivf_topk collect path plans as)."""
    from samplebatchprocessing_spark.operators import similarity
    emb = load_table(spark, sf_smoke, "embeddings")
    df = similarity.ivf_batch_topk(emb, F.col("vec_id") % 50 == 0, k=5)
    plan = plan_str(df, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LocalTableScan" not in plan


def test_bucketed_join_has_no_exchange(spark, sf_smoke):
    """Bucketed layout contract: a fact-fact join on the bucket key
    plans with NO shuffle on either side — the co-location survives
    any number of downstream queries (the 100 TB upgrade path for
    orders x lineitem, SCALE.md)."""
    from samplebatchprocessing_spark.operators import bucketing
    ord_ = load_table(spark, sf_smoke, "orders")
    li = load_table(spark, sf_smoke, "lineitem")
    bucketing.write_bucketed(ord_, "t_orders_b", "o_orderkey", 4)
    bucketing.write_bucketed(li, "t_lineitem_b", "l_orderkey", 4)
    # at fixture scale Spark rightly broadcasts instead; force the
    # 100 TB regime (both sides too big to broadcast) to expose the
    # bucketed-join property
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketing.cogrouped_join(
            spark, "t_orders_b", "t_lineitem_b",
            "o_orderkey", "l_orderkey")
        plan = plan_str(joined, mode="simple")
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # and the result is right
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_aqe_splits_skewed_join(spark, sf_smoke):
    """AQE contract (SCALE.md): a pathologically skewed join key is
    split at runtime — the executed final plan carries the
    SortMergeJoin(skew=true) marker.  This is the mechanism that
    absorbs moderate key skew at 100 TB without manual salting."""
    restore = {k: spark.conf.get(k) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # shrink thresholds so local data sizes count as "skewed"
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
                       "1")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                       "8KB")
        left = spark.range(300000).withColumn(
            "k", F.when(F.col("id") % 100 < 99, F.lit(7))
                  .otherwise(F.col("id")))
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        j = left.join(right, "k")
        assert len(j.collect()) == 297010
        executed = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed, executed[:2000]
    finally:
        for k, v in restore.items():
            spark.conf.set(k, v)


def test_bpe_counts_two_phase(spark, sf_smoke):
    """BPE token counting must partial-aggregate before the exchange
    (shuffle volume = vocabulary, not token stream)."""
    from samplebatchprocessing_spark.operators.text import bpe_token_counts
    doc = load_table(spark, sf_smoke, "documents")
    plan = plan_str(bpe_token_counts(doc))
    assert plan.count("HashAggregate") >= 2


def test_tfidf_single_tokenize_pass(spark, sf_smoke):
    """TF-IDF must tokenize the corpus exactly once: doc-frequency
    comes from a window over the tf rows, not a rejoined recompute of
    the explode+count subtree (which Spark does NOT reuse — it ran
    the heaviest stage twice and scanned the corpus three times)."""
    from samplebatchprocessing_spark.operators.text import tfidf
    doc = load_table(spark, sf_smoke, "documents")
    df = tfidf(doc)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one scan for the token stream + one doc_id-only scan for n_docs
    assert plan.count("FileScan parquet") == 2, plan[:1500]


def test_paragraph_dedup_single_scan_two_exchanges(spark, sf_smoke):
    """L13 must tokenize/chunk in ONE pass: one parquet scan of
    documents, one exchange keyed by chunk text (keep-first window),
    one keyed by doc id (reassembly) — no rejoin that would rescan."""
    import re

    from samplebatchprocessing_spark.operators import dedup
    doc = load_table(spark, sf_smoke, "documents")
    plan = plan_str(dedup.paragraph_dedup(doc, chunk=5))
    # count detail headers "(N) Op" — the tree section repeats names
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_corpus_freq_score_single_scan(spark, sf_smoke):
    """X16 must not recompute the explode: one scan, one
    vocabulary-keyed exchange (COUNT window), one doc-keyed exchange
    (final agg)."""
    import re

    from samplebatchprocessing_spark.operators import text as text_ops
    doc = load_table(spark, sf_smoke, "documents")
    plan = plan_str(text_ops.corpus_freq_score(doc))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_smoke):
    """At 100 TB a shuffle join's probe side should be pre-filtered by
    a runtime Bloom filter built from the selective build side. Spark
    injects might_contain(...) into the probe scan when the size
    thresholds allow (enabled by default in Spark 4) — pin the
    behavior and the conf knobs that gate it, so the scale story is
    load-bearing rather than folklore.  Thresholds are shrunk here
    because the fixtures are tiny; at real scale the defaults
    (10 MB creation side / 10 GB application side) do the right
    thing."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_smoke, "lineitem")
        ords = (load_table(spark, sf_smoke, "orders")
                .filter(F.col("o_totalprice") > 500000)
                .select("o_orderkey"))
        j = (li.join(ords, li.l_orderkey == ords.o_orderkey)
             .groupBy().count())
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_substring_dedup_single_scan_two_exchanges(spark, sf_smoke):
    """X21: window explode + occurrence count + doc rollup must be
    one scan and exactly two key-chained exchanges (window text,
    then doc id) — no join, no recomputed explode branch."""
    import re

    from samplebatchprocessing_spark.operators import dedup
    doc = load_table(spark, sf_smoke, "documents")
    plan = plan_str(dedup.dup_window_stats(doc, window=10))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_source_overlap_no_self_join_single_scan(spark, sf_smoke):
    """X24 combines per-window source counts ROW-LOCALLY — the plan
    must contain no join at all and read documents exactly once."""
    import re

    from samplebatchprocessing_spark.operators import curation
    doc = load_table(spark, sf_smoke, "documents")
    plan = plan_str(curation.source_overlap_matrix(doc, window=10))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 4


def test_deterministic_shuffle_no_global_sort(spark, sf_smoke):
    """X23's only window runs per bucket — the plan must show a
    hash-partitioned exchange on the bucket, never a single-partition
    (global) sort/window."""
    from samplebatchprocessing_spark.operators import sampling
    doc = load_table(spark, sf_smoke, "documents")
    plan = plan_str(sampling.deterministic_shuffle(doc))
    assert "hashpartitioning(shuffle_bucket" in plan
    assert "SinglePartition" not in plan


def test_fuzzy_join_is_blocked_equi_join(spark, sf_smoke):
    """J10 must candidate-generate via the prefix block — the plan is
    a hash/sort-merge equi-join on the block key, never a cartesian
    product with a distance filter."""
    from samplebatchprocessing_spark.queries.relational import j10_fuzzy_join
    plan = plan_str(j10_fuzzy_join(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gapfill_no_single_partition_window(spark, sf_smoke):
    """W6's forward-fill window is keyed by user — no global
    single-partition window, and the grid join stays an equi-join."""
    from samplebatchprocessing_spark.queries.relational import w6_gapfill
    plan = plan_str(w6_gapfill(spark, sf_smoke))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_peak_concurrency_day_partitioned_window(spark, sf_smoke):
    """X27's sweep-line running sum is windowed per calendar day —
    never the textbook global ORDER BY t single-partition window."""
    from samplebatchprocessing_spark.queries.analytics import (
        x27_peak_concurrency)
    plan = plan_str(x27_peak_concurrency(spark, sf_smoke))
    assert "hashpartitioning(day" in plan
    assert "SinglePartition" not in plan


def test_pagerank_edge_layout_pinned(spark, sf_smoke):
    """X29: each PageRank iteration joins ranks against the pinned
    src-partitioned edge layout (InMemoryTableScan), instead of
    re-deriving the 4-table edge build per iteration."""
    from samplebatchprocessing_spark.queries.analytics import x29_pagerank
    plan = plan_str(x29_pagerank(spark, sf_smoke), mode="simple")
    assert "InMemoryTableScan" in plan


def test_tpch_q5_dims_broadcast_and_filters_pushed(spark, sf_smoke):
    """V9: region/nation/supplier/customer must broadcast onto the
    lineitem-orders shuffle, and the o_orderdate range must reach the
    orders scan (at 100 TB that pushdown is most of the query)."""
    from samplebatchprocessing_spark.queries.sqlapi import v9_tpch_q5
    plan = plan_str(v9_tpch_q5(spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "PushedFilters" in plan and "o_orderdate" in plan


def test_tpch_q18_having_subquery_is_semi_join(spark, sf_smoke):
    """V11 contract: the IN (SELECT ... GROUP BY ... HAVING) subquery
    plans as a semi join of the fact against its own aggregate — no
    cartesian, no nested-loop fallback."""
    from samplebatchprocessing_spark.queries.sqlapi import v11_tpch_q18
    plan = plan_str(v11_tpch_q18(spark, sf_smoke), mode="simple")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q20_scalar_thresholds_evaluate_once(spark, sf_smoke):
    """V14 contract: the uncorrelated scalar-aggregate subqueries
    (MIN brand, the quantity threshold) appear as Subquery/scalar
    nodes evaluated once — not re-planned as joins per row — and the
    outer IN is a semi join."""
    from samplebatchprocessing_spark.queries.sqlapi import v14_tpch_q20
    plan = plan_str(v14_tpch_q20(spark, sf_smoke), mode="simple")
    assert "LeftSemi" in plan
    assert "Subquery" in plan or "scalar-subquery" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q17_correlated_avg_decorrelates(spark, sf_smoke):
    """V15 contract: the correlated AVG subquery decorrelates into an
    aggregate joined back on the correlation key — one equi-join, no
    per-row re-execution (which would plan as a nested loop)."""
    from samplebatchprocessing_spark.queries.sqlapi import v15_tpch_q17
    plan = plan_str(v15_tpch_q17(spark, sf_smoke), mode="simple")
    assert "avg(l_quantity" in plan          # the decorrelated aggregate
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q3_topk_no_global_sort(spark, sf_smoke):
    """V8: ORDER BY + LIMIT must plan TakeOrderedAndProject."""
    from samplebatchprocessing_spark.queries.sqlapi import v8_tpch_q3
    plan = plan_str(v8_tpch_q3(spark, sf_smoke))
    assert "TakeOrderedAndProject" in plan


def test_tpch_q13_residual_filters_build_side_before_outer_join(spark, sf_smoke):
    """V17 contract: the NOT LIKE residual references only orders
    columns, so Catalyst may (and does) push it BELOW the left outer
    join onto the build side — the broadcast ships only non-urgent
    orders.  The join stays LeftOuter (customers with zero surviving
    orders still count), and the count-of-counts stack plans as two
    partial+final aggregates, custkey exchange shared with the
    join."""
    from samplebatchprocessing_spark.queries.sqlapi import v17_tpch_q13
    plan = plan_str(v17_tpch_q13(spark, sf_smoke), mode="simple")
    assert "LeftOuter" in plan
    # the residual applied on the orders side, pre-join
    assert "URGENT" in plan
    assert plan.count("HashAggregate") >= 4   # partial+final x 2 levels
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q19_disjunction_prunes_both_scans(spark, sf_smoke):
    """V18 contract: Catalyst must extract the per-side common
    factors of the OR-of-conjunctions so BOTH parquet scans carry
    pushed data filters (quantity envelope on lineitem, brand/size
    union on part), with part broadcast.  Losing that extraction
    means full scans at 100 TB."""
    from samplebatchprocessing_spark.queries.sqlapi import v18_tpch_q19
    plan = plan_str(v18_tpch_q19(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    # lineitem scan: the quantity-range union reached PushedFilters
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "LessThanOrEqual(l_quantity,30.0)" in plan
    # part scan: the brand/size disjunction reached PushedFilters
    assert "EqualTo(p_brand,Brand#12)" in plan
    assert "LessThanOrEqual(p_size,15)" in plan


def test_tpch_q22_anti_join_and_single_scalar(spark, sf_smoke):
    """V19 contract: NOT EXISTS plans as LeftAnti with the URGENT
    filter pushed to the build side, and the AVG threshold is a
    once-evaluated scalar subquery."""
    from samplebatchprocessing_spark.queries.sqlapi import v19_tpch_q22
    plan = plan_str(v19_tpch_q22(spark, sf_smoke), mode="simple")
    assert "LeftAnti" in plan
    assert "Subquery" in plan or "scalar-subquery" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q8_dims_broadcast_single_fact_shuffle(spark, sf_smoke):
    """V20 contract: all seven dimension sides broadcast (part,
    customer, supplier, both nation roles, region) so the only
    exchange-feeding join is lineitem-orders; the type filter reaches
    the part scan."""
    from samplebatchprocessing_spark.queries.sqlapi import v20_tpch_q8
    plan = plan_str(v20_tpch_q8(spark, sf_smoke))
    assert plan.count("BroadcastHashJoin") >= 5
    assert "EqualTo(p_type,PROMO)" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q14_pushed_dates_one_aggregate_pass(spark, sf_smoke):
    """V21 contract: the ship-date range reaches the lineitem scan as
    pushed filters, and both conditional decimal sums compute in a
    single aggregate pass — the lineitem file is scanned exactly
    once."""
    from samplebatchprocessing_spark.queries.sqlapi import v21_tpch_q14
    plan = plan_str(v21_tpch_q14(spark, sf_smoke))
    assert "PushedFilters" in plan and "l_shipdate" in plan
    assert plan.count("lineitem.parquet") == 1
    assert "BroadcastHashJoin" in plan


def test_tpch_q4_cross_correlation_rides_semi_join(spark, sf_smoke):
    """V22 contract: the EXISTS with a cross-table comparison
    (l_shipdate > o_orderdate) plans as a LeftSemi join carrying that
    comparison as a join condition — no nested loop, no cartesian —
    and the order-date range still reaches the orders scan."""
    from samplebatchprocessing_spark.queries.sqlapi import v22_tpch_q4
    plan = plan_str(v22_tpch_q4(spark, sf_smoke))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "o_orderdate" in plan and "PushedFilters" in plan


def test_tpch_q6_all_predicates_pushed_two_phase_agg(spark, sf_smoke):
    """V23 contract: the pure-scan query must push ALL four
    predicates into the parquet scan and aggregate in two phases
    (partial before the single exchange) — the plan shape whose cost
    at 100 TB is the scan and nothing else."""
    from samplebatchprocessing_spark.queries.sqlapi import v23_tpch_q6
    plan = plan_str(v23_tpch_q6(spark, sf_smoke))
    for pushed in ("GreaterThanOrEqual(l_shipdate",
                   "LessThan(l_shipdate",
                   "GreaterThanOrEqual(l_discount,0.03)",
                   "LessThanOrEqual(l_discount,0.05)",
                   "LessThan(l_quantity,24.0)"):
        assert pushed in plan, pushed
    assert "partial_sum" in plan        # map-side partial before the exchange
    assert "Join" not in plan


def test_python_datasource_plans_requested_partitions(spark):
    """P14: the custom Python Data Source must fan out into exactly
    the requested number of independent input partitions — that
    planning is what makes it a parallel source rather than a
    driver-side generator."""
    from samplebatchprocessing_spark.operators import pysource
    pysource.register(spark)
    df = (spark.read.format("synth_events")
          .option("n_rows", 1000).option("n_parts", 5).load())
    assert df.rdd.getNumPartitions() == 5
    assert df.count() == 1000


def test_kmeans_assignment_is_join_free(spark, sf_smoke):
    """x47: the k-means model is folded into the plan as literal
    centroids, so the final-round assignment + report must contain NO
    join of any kind — one row-local expression over the checkpointed
    points, then the single per-cluster aggregate exchange."""
    from samplebatchprocessing_spark.queries.analytics import (
        x47_kmeans_clusters)
    plan = plan_str(x47_kmeans_clusters(spark, sf_smoke))
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan


def test_shard_pack_two_pass_cumsum(spark, sf_smoke):
    """x51: the big window must run per (source, bucket) — hash
    partitioning on both keys, never a single-partition window; the
    per-source offsets frame joins back via broadcast."""
    from samplebatchprocessing_spark.queries.llm import x51_shard_pack
    plan = plan_str(x51_shard_pack(spark, sf_smoke))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q2_correlated_min_decorrelates(spark, sf_smoke):
    """V26 contract: the correlated MIN over the second partsupp join
    tree decorrelates into an aggregate joined back on ps_partkey —
    no per-row nested-loop re-execution, no cartesian."""
    from samplebatchprocessing_spark.queries.sqlapi import (
        v26_tpch_q2_shape)
    plan = plan_str(v26_tpch_q2_shape(spark, sf_smoke), mode="simple")
    assert "min(ps_supplycost" in plan       # the decorrelated aggregate
    assert "CartesianProduct" not in plan


def test_tpch_q11_global_scalar_evaluates_once(spark, sf_smoke):
    """V27 contract: the fraction-of-global threshold is a scalar
    subquery evaluated once, not a re-planned join per group."""
    from samplebatchprocessing_spark.queries.sqlapi import (
        v27_tpch_q11_shape)
    plan = plan_str(v27_tpch_q11_shape(spark, sf_smoke), mode="simple")
    assert "Subquery" in plan or "scalar-subquery" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q16_not_in_is_anti_join(spark, sf_smoke):
    """V28 contract: the NOT IN excluded-supplier subquery plans as a
    null-aware anti join, never a nested loop over the rollup."""
    from samplebatchprocessing_spark.queries.sqlapi import (
        v28_tpch_q16_shape)
    plan = plan_str(v28_tpch_q16_shape(spark, sf_smoke), mode="simple")
    assert "LeftAnti" in plan or "NAAJ" in plan
    assert "CartesianProduct" not in plan


def test_nested_field_pruning(spark, sf_smoke):
    """q5: the parquet scan must prune INSIDE the struct — ReadSchema
    carries payload.t and payload.k but not the untouched payload.v."""
    from samplebatchprocessing_spark.queries.sources import (
        q5_nested_pruning)
    plan = plan_str(q5_nested_pruning(spark, sf_smoke))
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m, plan
    rs = m[0]
    assert "t:" in rs and "k:" in rs
    assert "v:" not in rs, rs


def test_interval_overlap_is_blocked_equi_join(spark, sf_smoke):
    """j11: the overlap self-join must ride the (day, hour) blocking
    key as a hash equi-join — never a cartesian/nested-loop pair
    blow-up."""
    from samplebatchprocessing_spark.queries.analytics import (
        j11_interval_overlap)
    plan = plan_str(j11_interval_overlap(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_pairs_no_cartesian(spark, sf_smoke):
    """x66: the rare-gram inverted index must make candidate
    generation an equi-join on the gram key — a cartesian/nested-loop
    pair blow-up means the blocking broke."""
    from samplebatchprocessing_spark.operators.dedup import (
        containment_pairs)
    doc = load_table(spark, sf_smoke, "documents")
    plan = plan_str(containment_pairs(doc), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_span_removal_no_cartesian(spark, sf_smoke):
    """x64: keep-first ranking rides a window-hash shuffle and the
    deletion set anti-joins back on (doc, pos) — all equi plans."""
    from samplebatchprocessing_spark.operators.dedup import (
        dup_span_removal)
    doc = load_table(spark, sf_smoke, "documents")
    plan = plan_str(dup_span_removal(doc), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_temporal_join_is_keyed_equi_join(spark, sf_smoke):
    """j13: the point-in-time join must ride the custkey hash join
    with the validity interval as a residual — a nested-loop over
    (order, version) pairs would melt at fact-table scale."""
    from samplebatchprocessing_spark.queries.sqlapi import (
        j13_temporal_join)
    plan = plan_str(j13_temporal_join(spark, sf_smoke), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hard_negatives_broadcasts_queries(spark, sf_smoke):
    """X88 must follow L7's shape: the query side is broadcast (the
    corpus side never shuffles for the scoring pass) and the label
    filter lives in the pair stage, not a post-hoc join."""
    from samplebatchprocessing_spark.operators.similarity import (
        hard_negative_topk)
    emb = load_table(spark, sf_smoke, "embeddings")
    plan = plan_str(hard_negative_topk(emb, F.col("vec_id") % 50 == 0))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # one rank window over the k-bounded frame (WindowGroupLimit
    # rows are the pushed-down limit, not extra windows)
    assert plan.count("+- Window ") == 1


def test_attribution_join_is_user_keyed(spark, sf_smoke):
    """X85's purchase-x-touch join must shuffle on user_id (the
    natural partition key), never build a cartesian."""
    from samplebatchprocessing_spark.queries.analytics import (
        x85_attribution)
    plan = plan_str(x85_attribution(spark, sf_smoke))
    assert "CartesianProduct" not in plan
    assert "user_id" in plan


def test_power_iteration_gram_is_single_scan(spark, sf_smoke):
    """X92's only data-scale pass is the partial-Gram mapInPandas
    scan, consumed exactly once: the returned report must contain
    ZERO parquet scans (the r5 bug re-executed the corpus scan per
    Gram reference — measured 89 scans at iters=3; since r14 the
    iteration runs driver-side on the collected Gram, so the report
    is a LocalTableScan and the no-rescan property is structural)."""
    from samplebatchprocessing_spark.queries.llm import (
        x92_dominant_direction)
    plan = plan_str(x92_dominant_direction(spark, sf_smoke), "simple")
    n_scans = plan.count("Scan parquet")
    assert n_scans == 0, f"Gram lineage leaked into the plan: {n_scans}"
    assert "LocalTableScan" in plan


def test_skipping_report_truth_is_pushed_down(spark, sf_smoke):
    """M9's truth aggregate must push the key-band predicate into the
    lineitem scan."""
    from samplebatchprocessing_spark.catalog import load_table as lt
    li = lt(spark, sf_smoke, "lineitem")
    plan = plan_str(li.filter((F.col("l_orderkey") >= 100)
                              & (F.col("l_orderkey") <= 200))
                    .agg(F.count(F.lit(1))))
    assert "GreaterThanOrEqual(l_orderkey,100)" in plan


def test_prefix_filter_join_no_cartesian(spark, sf_smoke):
    """X103's candidate generation must be the prefix-token equi-join
    — never a cartesian; the verify joins back on the pair ids."""
    from samplebatchprocessing_spark.operators.dedup import (
        prefix_filter_pairs)
    doc = load_table(spark, sf_smoke, "documents")
    plan = plan_str(prefix_filter_pairs(doc))
    assert "CartesianProduct" not in plan
    assert "ptok" in plan


def test_multi_asof_single_shuffle_single_window(spark, sf_smoke):
    """J15 contract: N right tables, ONE hash exchange on the key and
    ONE window operator carrying every payload column — the reason
    the operator exists instead of N separate as-of joins."""
    from samplebatchprocessing_spark.queries.relational import (
        j15_multi_asof)
    plan = plan_str(j15_multi_asof(spark, sf_smoke), "simple")
    assert plan.count("+- Window ") == 1, plan
    n_hash_ex = plan.count("Exchange hashpartitioning")
    assert n_hash_ex == 1, f"expected 1 key exchange, saw {n_hash_ex}"


def single_partition_parents(df) -> list[str]:
    """Operator lines that directly consume an
    ``Exchange SinglePartition`` in the simple-mode plan.

    A SinglePartition exchange is legitimate ONLY as the final pass
    of a scalar (no-grouping-key) aggregate, where the rows moved
    are per-partition partial-agg rows.  One feeding a Window or
    Sort is the unbounded-frame scale-killer the r7 rewrites
    removed."""
    import re
    lines = plan_str(df, "simple").splitlines()

    def indent(ln: str) -> int:
        m = re.search(r"[A-Za-z*]", ln)
        return m.start() if m else len(ln)

    out = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        ind = indent(ln)
        for j in range(i - 1, -1, -1):
            if lines[j].strip() and indent(lines[j]) < ind:
                out.append(lines[j].strip())
                break
    return out


def assert_single_partition_only_under_scalar_agg(df):
    bad = [p for p in single_partition_parents(df)
           if "Aggregate" not in p]
    assert not bad, f"SinglePartition exchange feeding {bad}"


def test_revenue_concentration_topk_not_global_window(spark, sf_smoke):
    """X110 (r7 fix): the top-100 selection is TakeOrderedAndProject
    over the customer frame; the rank window runs only over the 100
    survivors under a non-foldable constant partition key.  The only
    SinglePartition exchange left is the 1-row total-revenue scalar
    agg's final pass."""
    from samplebatchprocessing_spark.queries.relational import (
        x110_revenue_concentration)
    df = x110_revenue_concentration(spark, sf_smoke)
    plan = plan_str(df)
    assert "TakeOrderedAndProject" in plan
    assert_single_partition_only_under_scalar_agg(df)


def test_collocations_topk_not_global_window(spark, sf_smoke):
    """X102 (r7 fix): the top-20 over the unbounded bigram-pair frame
    is TakeOrderedAndProject; the rank window sees only 20 rows.  The
    only SinglePartition exchange left is the corpus-token-total
    scalar agg's final pass."""
    from samplebatchprocessing_spark.queries.llm import x102_collocations
    df = x102_collocations(spark, sf_smoke)
    plan = plan_str(df)
    assert "TakeOrderedAndProject" in plan
    assert_single_partition_only_under_scalar_agg(df)


def test_market_basket_topk_not_global_window(spark, sf_smoke):
    """X96 (r7 fix): the top-10 over the part-pair frame is
    TakeOrderedAndProject, the 10 winners broadcast back onto the
    frequency dim — no single-partition exchange at all, no
    cartesian."""
    from samplebatchprocessing_spark.queries.analytics import (
        x96_market_basket)
    df = x96_market_basket(spark, sf_smoke)
    plan = plan_str(df)
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_rfm_codes_broadcast_boundaries_no_window(spark, sf_smoke):
    """X97 (r7 fix): quintile codes come from broadcast percentile
    boundaries + comparison counts (the X31 idiom) — no window
    operator at all; the only SinglePartition exchange is the 1-row
    boundary agg's final pass."""
    from samplebatchprocessing_spark.queries.analytics import x97_rfm
    df = x97_rfm(spark, sf_smoke)
    assert "Window" not in plan_str(df, "simple")
    assert_single_partition_only_under_scalar_agg(df)


def test_ivf_index_probe_prunes_cell_partitions(spark, sf_smoke,
                                                tmp_path):
    """X109: probing a PERSISTED cell-partitioned IVF index must
    prune at planning time — the probe-cell filter lands in the index
    scan's PartitionFilters, and the probe physically reads fewer
    index files than exist (the whole point of persisting the
    assignment: each query batch reads ~n_probe/n_cells of the
    bytes)."""
    from samplebatchprocessing_spark.operators import similarity
    emb = load_table(spark, sf_smoke, "embeddings")
    idx = str(tmp_path / "x109_plan")
    cmat = similarity.ivf_index_write(emb, idx, n_cells=16)
    probe = similarity.ivf_index_probe(
        spark, idx, cmat, emb, F.col("vec_id") % 250 == 0,
        k=5, n_probe=2)
    plan = plan_str(probe)
    assert "PartitionFilters" in plan and "cell" in plan
    touched = (spark.read.parquet(idx)
               .filter(F.col("cell").isin(
                   [r["cell"] for r in similarity.ivf_probe_df(
                       emb, F.col("vec_id") % 250 == 0, cmat, 2)
                    .select("cell").distinct().collect()]))
               .select(F.input_file_name()).distinct().count())
    total = (spark.read.parquet(idx)
             .select(F.input_file_name()).distinct().count())
    assert 0 < touched < total


def test_triangle_count_no_cartesian_keyed_joins(spark, sf_smoke):
    """X112: wedge generation and closure are keyed equi-joins under
    the degree orientation — never a cartesian; the only join-like
    nested loop allowed is the final two-1-row-frame combine."""
    from samplebatchprocessing_spark.queries.analytics import (
        x112_triangle_count)
    plan = plan_str(x112_triangle_count(spark, sf_smoke))
    assert "CartesianProduct" not in plan


def test_triangle_rawid_and_auto_no_cartesian(spark):
    """r10 (VERDICT r9 #4): the raw-id kernel and the auto chooser
    close wedges with keyed equi-joins exactly like the
    degree-oriented kernel — never a cartesian (the only nested loop
    allowed is the final two-1-row-frame census combine)."""
    from samplebatchprocessing_spark.operators.graph import (
        triangle_count_auto, triangle_count_rawid)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "a long, b long")
    for fn in (triangle_count_rawid, triangle_count_auto):
        plan = plan_str(fn(edges))
        assert "CartesianProduct" not in plan, fn.__name__


def test_dq_audit_ri_scan_is_key_only(spark, sf_smoke):
    """X113: after the single full-scan aggregate (checkpointed), the
    only remaining lineitem scan is the referential-integrity LEFT
    ANTI probe, pruned to just the key column."""
    from samplebatchprocessing_spark.queries.analytics import x113_dq_audit
    plan = plan_str(x113_dq_audit(spark, sf_smoke))
    assert "LeftAnti" in plan
    li_schemas = [ln.strip() for ln in plan.splitlines()
                  if "ReadSchema" in ln and "l_orderkey" in ln]
    assert li_schemas == ["ReadSchema: struct<l_orderkey:bigint>"]


def test_postings_probe_prunes_bucket_partitions(spark, sf_smoke,
                                                  tmp_path):
    """X117: serving a conjunctive query from the PERSISTED postings
    index must prune at planning time — the query terms' bucket ids
    land in the index scan's PartitionFilters, and the probe
    physically reads fewer bucket files than exist (queries price by
    the df of their terms, not the corpus)."""
    from samplebatchprocessing_spark.operators import text as T
    doc = load_table(spark, sf_smoke, "documents")
    idx = str(tmp_path / "x117_plan")
    T.postings_index_write(doc, idx)
    probe = T.postings_probe_and(spark, idx, ["dup", "query"])
    plan = plan_str(probe)
    assert "PartitionFilters" in plan and "bucket" in plan
    buckets = [r["b"] for r in spark.createDataFrame(
        [("dup",), ("query",)], "tok string")
        .select(F.pmod(F.xxhash64("tok"), F.lit(32))
                .cast("int").alias("b")).collect()]
    touched = (spark.read.parquet(idx)
               .filter(F.col("bucket").isin(buckets))
               .select(F.input_file_name()).distinct().count())
    total = (spark.read.parquet(idx)
             .select(F.input_file_name()).distinct().count())
    assert 0 < touched < total


def test_kcore_peel_round_is_keyed_semi_joins(spark):
    """X118: one peel round is a degree aggregate plus two keyed
    LeftSemi joins — no cartesian ever, independent of round count
    (the loop only restacks this same plan on checkpointed input)."""
    from samplebatchprocessing_spark.operators.graph import _peel_once
    sym = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)],
        "u long, v long")
    plan = plan_str(_peel_once(sym, 2), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("LeftSemi") == 2


def test_label_propagation_round_no_cartesian(spark):
    """X120: the whole fixed-round LPA plan is keyed equi-joins +
    windows on checkpointed inputs — no cartesian/NLJ regardless of
    round count."""
    from samplebatchprocessing_spark.operators.graph import (
        label_propagation)
    sym = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "a long, b long")
    plan = plan_str(label_propagation(sym, rounds=2), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sequence_pack_no_global_window(spark, sf_smoke):
    """x122: the global token prefix sum must run as the two-phase
    split — a pid-keyed window after the range exchange plus a
    broadcast of the n_parts-row offsets frame — never the textbook
    single-partition ORDER BY doc_id window."""
    from samplebatchprocessing_spark.queries.llm import x122_sequence_pack
    plan = plan_str(x122_sequence_pack(spark, sf_smoke))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(_pid" in plan
    assert "BroadcastHashJoin" in plan


def test_sequence_census_and_incremental_pack_no_global_window(
        spark, sf_smoke):
    """x124/x125 compose pack_offsets — the two-phase split must
    survive the composition (explode/groupBy on top, delta
    restriction + parity join on the side): no SinglePartition
    window, no cartesian, anywhere in either plan."""
    from samplebatchprocessing_spark.queries.llm import (
        x124_sequence_census, x125_incremental_pack)
    for fn in (x124_sequence_census, x125_incremental_pack):
        plan = plan_str(fn(spark, sf_smoke))
        assert "SinglePartition" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__


def test_ivf_distributed_probe_prunes_and_never_collects_queries(
        spark, sf_smoke, tmp_path):
    """l7_topk_ivf_dist (r9, VERDICT r8 #3): the distributed-query
    probe against the PERSISTED index keeps the x109 pruning property
    — the probed-cell filter lands in the index scan's
    PartitionFilters with n_probe < n_cells — while the query side
    shows the distributed shape (FlatMapGroupsInPandas/mapInPandas
    probe, no LocalTableScan of collected query vectors)."""
    from samplebatchprocessing_spark.operators import similarity
    emb = load_table(spark, sf_smoke, "embeddings")
    idx = str(tmp_path / "l7d_plan")
    cmat = similarity.ivf_index_write(emb, idx, n_cells=16)
    probe = similarity.ivf_index_probe_distributed(
        spark, idx, cmat, emb.filter(F.col("vec_id") % 250 == 0),
        k=5, n_probe=2)
    plan = plan_str(probe)
    assert "PartitionFilters" in plan and "cell" in plan
    assert "CartesianProduct" not in plan
    # the query relation reaches the join as a real distributed scan
    # (checkpointed probe RDD), never a driver-collected literal table
    assert "LocalTableScan" not in plan


def test_cogrouped_pandas_is_two_shuffles_no_join(spark, sf_smoke):
    """D10: cogroup shuffles BOTH inputs once on the key and streams
    the aligned pair groups through one Arrow stage — the plan must
    show the cogrouped-map node and NO relational join (the pre-join
    blowup cogroup exists to avoid)."""
    from samplebatchprocessing_spark.queries.udf import (
        d10_cogrouped_pandas)
    plan = plan_str(d10_cogrouped_pandas(spark, sf_smoke))
    assert "FlatMapCoGroupsInPandas" in plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                "CartesianProduct"):
        assert bad not in plan


def test_lsh_index_probe_prunes_bucket_partitions(spark, sf_smoke,
                                                   tmp_path):
    """X132: probing the persisted LSH band index with a SMALL batch
    must prune at planning time — the batch's band-key buckets land
    in the index scan's PartitionFilters and the probe physically
    reads fewer bucket files than exist (the crawl-shard-vs-corpus
    serving shape)."""
    from samplebatchprocessing_spark.operators import dedup as D
    doc = load_table(spark, sf_smoke, "documents")
    idx = str(tmp_path / "x132_plan")
    D.lsh_index_write(doc.filter(F.col("doc_id") >= 10), idx)
    small = doc.filter(F.col("doc_id") < 2)      # 2-doc probe shard
    probe = D.lsh_index_probe(spark, idx, small)
    plan = plan_str(probe)
    assert "PartitionFilters" in plan and "bucket" in plan
    assert "CartesianProduct" not in plan
    buckets = [r["bucket"] for r in D.lsh_band_relation(small)
               .select("bucket").distinct().collect()]
    touched = (spark.read.parquet(idx)
               .filter(F.col("bucket").isin(buckets))
               .select(F.input_file_name()).distinct().count())
    total = (spark.read.parquet(idx)
             .select(F.input_file_name()).distinct().count())
    assert 0 < touched < total


def test_lateral_topk_decorrelates_to_ranked_join(spark, sf_smoke):
    """J16: Catalyst must decorrelate the lateral ORDER BY/LIMIT
    subquery into a rank-pushed window (WindowGroupLimit) + an
    equi-join — never a per-outer-row rescan of the inner (no
    cartesian, exactly one orders scan)."""
    from samplebatchprocessing_spark.queries.relational import (
        j16_lateral_topk)
    plan = plan_str(j16_lateral_topk(spark, sf_smoke))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("orders.parquet") == 1


def test_observed_metrics_piggyback_single_scan(spark, sf_smoke):
    """M12: the DQ metrics ride the SAME pass as the aggregate — the
    plan carries a CollectMetrics node and exactly ONE orders scan
    (a second scan would mean the metrics are a separate DQ job,
    the double-billing observe exists to avoid)."""
    from pyspark.sql import Observation
    from samplebatchprocessing_spark.exprs import dsum
    ord_ = load_table(spark, sf_smoke, "orders")
    obs = Observation("dq_plan")
    observed = ord_.observe(obs, F.count(F.lit(1)).alias("n_rows"),
                            dsum("o_totalprice", "total"))
    res = (observed.groupBy("o_orderstatus")
           .agg(F.count(F.lit(1)).alias("n")))
    plan = plan_str(res)
    assert "CollectMetrics" in plan
    assert plan.count("orders.parquet") == 1


def test_lsh_probe_through_pointer_keeps_partition_pruning(
        spark, sf_smoke, tmp_path):
    """r11 (m13): resolving the versioned pointer happens BEFORE plan
    construction, so routing through an index root changes nothing in
    the physical plan — the bucket PartitionFilters pruning of the
    direct-path gate above must hold identically."""
    import os

    from samplebatchprocessing_spark.operators import dedup as D
    from samplebatchprocessing_spark.operators import publish as P
    doc = load_table(spark, sf_smoke, "documents")
    root = str(tmp_path / "root")
    v1 = os.path.join(root, "layout-v00001")
    os.makedirs(root)
    D.lsh_index_write(doc.filter(F.col("doc_id") >= 10), v1)
    P.publish(root, v1)
    small = doc.filter(F.col("doc_id") < 2)
    plan = plan_str(D.lsh_index_probe(spark, root, small))
    assert "PartitionFilters" in plan and "bucket" in plan
    assert "CartesianProduct" not in plan


def test_w11_spark_lacks_groups_frames(spark):
    """Pins the premise of w11_groups_frame's existence: Spark's
    parser rejects the ANSI GROUPS frame mode (only ROWS and RANGE),
    so the operator must be a composition.  If a future Spark ships
    native GROUPS, this fails loudly and w11 should be re-planned
    (and likely re-benched) against the built-in."""
    import pytest
    from pyspark.errors import ParseException
    with pytest.raises(ParseException):
        spark.sql(
            "SELECT sum(id) OVER (ORDER BY id GROUPS BETWEEN 1 "
            "PRECEDING AND 1 FOLLOWING) FROM range(10)").collect()


def test_w11_window_runs_on_group_relation_not_corpus(spark, sf_smoke):
    """w11's scale claim: the window sorts the peer-GROUP relation
    (post-aggregate), never the corpus, and the framed groups come
    back to the rows via broadcast — no corpus-side sort-merge join,
    exactly one Window over exactly one pre-aggregation."""
    from samplebatchprocessing_spark.queries.relational import (
        w11_groups_frame)
    plan = plan_str(w11_groups_frame(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly one Window node, fed by the two-phase aggregate ("simple"
    # mode prints each node once; "formatted" repeats them in details)
    simple = plan_str(w11_groups_frame(spark, sf_smoke), "simple")
    assert simple.count("Window") == 1
    assert simple.count("HashAggregate") == 2


def test_copurchase_edges_single_pre_join_exchange(spark, sf_smoke):
    """r14: the co-purchase edge construction (x96/x112/x118/x120)
    hash-partitions the (orderkey, partkey) pairs by l_orderkey
    BEFORE the distinct, so that ONE exchange satisfies both the
    distinct and the orderkey self-join — no second per-side
    orderkey exchange.  The plan must show exactly one partitioning
    exchange on l_orderkey and no (l_orderkey, l_partkey) exchange."""
    from pyspark.sql import functions as F
    from samplebatchprocessing_spark.catalog import load_table
    li = (load_table(spark, sf_smoke, "lineitem")
          .select("l_orderkey", "l_partkey")
          .repartition("l_orderkey").distinct())
    edges = (li.alias("x").join(li.alias("y"), "l_orderkey")
             .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
             .groupBy(F.col("x.l_partkey").alias("pa"),
                      F.col("y.l_partkey").alias("pb"))
             .agg(F.count(F.lit(1)).alias("n_orders")))
    plan = plan_str(edges)
    import re
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    pre_join = [p for p in parts if "l_orderkey" in p]
    # all orderkey-side exchanges key on l_orderkey ALONE (the reused
    # repartition), never on the (l_orderkey, l_partkey) pair
    assert pre_join, plan
    assert all("l_partkey" not in p for p in pre_join), plan


def test_power_iteration_result_is_local_scan(spark, sf_smoke):
    """r14: x92's fixed-point iteration runs driver-side over the
    collected dim^2 Gram (bounded metadata); the returned report must
    plan as a LocalTableScan — no joins, no exchanges, no windows."""
    from samplebatchprocessing_spark.catalog import load_table
    from samplebatchprocessing_spark.operators.spectral import (
        power_iteration_top5)
    emb = load_table(spark, sf_smoke, "embeddings")
    plan = plan_str(power_iteration_top5(emb, iters=3), "simple")
    assert "LocalTableScan" in plan
    for node in ("Join", "Exchange", "Window"):
        assert node not in plan, plan
