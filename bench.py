#!/usr/bin/env python
"""BENCH harness (BASELINE.md contract).

Runs the headline query set — one representative per SURVEY §2B
category — at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], and prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <dir>}

Timing = wall-clock of the full action (plan + execute + collect-ish
materialization via count on the final DataFrame).

Contention instrumentation (VERDICT r11 #1 — the r11 official record
read 8x on unchanged code from box load while stamping itself clean):
- per-query PROCESS-TREE CPU seconds (driver + local[*] JVM + Python
  workers, summed from /proc/<pid>/stat over live descendants, which
  also carries reaped workers via cutime/cstime) are recorded in
  "cpu_queries" alongside the wall medians.  Wall time inflates under
  external load; the tree's CPU time does not — a query whose wall
  breaches its basis while its CPU holds is load, mechanically.
- the contamination sentinel now also samples the fixed control
  BETWEEN suite sections (every 6 queries), not only before/after,
  so a load burst confined to the middle of the suite is visible.

Stdout contract (VERDICT r12 #1 — BENCH_r12 was unparseable because
the one stdout line grew past the driver's tail-capture window and
lost its HEAD): stdout carries exactly ONE compact JSON line, kept
under COMPACT_LINE_BUDGET bytes (gate essentials: suite wall/CPU
totals, per-query wall medians, contamination flag, verdict counts).
The FULL record — cpu_queries, sentinel series, per-query basis
ratios and verdicts — goes to a sidecar file (bench_full.json next
to this script, override $SBP_BENCH_SIDECAR) and to stderr.

Breach adjudication is mechanized (VERDICT r12 #3): each benched
query is compared against the r12 UNIFIED basis (BASELINE.md) on
BOTH axes and stamped with a verdict — see ``adjudicate``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per category (SURVEY §6 / BASELINE.md query list).
BENCH_QUERIES: tuple[str, ...] = (
    "a1_pricing_summary",    # scan+filter+2-phase agg (TPC-H Q1)
    "j9_star_join",          # 6-way star join
    "t4_topk_per_group",     # window top-k
    "a6_rollup",             # rollup + grouping sets
    "w3_running_frames",     # running-total window frames
    "u1_union",              # set ops
    "f7_json",               # JSON extraction + agg
    "s2_tumbling_batch",     # tumbling-window event agg (batch form)
    "l1_exact_dedup",        # exact dedup
    "l4_tfidf",              # TF-IDF
    "l7_cosine_topk",        # cosine top-k (exact expression path)
    "l7_topk_numpy",         # cosine top-k (Arrow/numpy scale path)
    "l5_jaccard_pairs",      # blocked near-dup pairs
    "l5_ngram_lsh",          # shingle near-dup, LSH + exact verify (round 4)
    "l13_paragraph_dedup",   # chunk-level keep-first dedup (round 3)
    "x16_corpus_freq_score", # corpus-frequency quality score (round 3)
    "x21_substring_dedup",   # duplicated token-window stats (round 3)
    "v9_tpch_q5",            # 6-table TPC-H Q5 join tree (round 3)
    "p8_manifest_pipeline",  # reference-semantics identity pipeline
    "x44_bpe_train",         # iterative BPE vocab training (round 5)
    "x47_kmeans_clusters",   # integer fixed-point k-means (round 5)
    "x64_span_dedup",        # duplicated-span removal (round 5, wave 2)
    "x65_dsir_weights",      # DSIR importance weighting (round 5, wave 2)
    "x88_hard_negatives",    # different-label cosine top-k miner (round 6)
    "x92_dominant_direction",  # power-iteration PCA-1 over the Gram (round 6)
    "m9_skipping_report",    # two layout writes + per-file min/max stats (round 6)
    "x103_prefix_filter_join",  # lossless AllPairs/PPJoin dedup path (round 7)
    "j15_multi_asof",        # one-shuffle multi-table as-of read (round 7)
    "x112_triangle_count",   # degree-oriented triangle census (round 7)
    "x113_dq_audit",         # single-scan DQ constraint audit (round 7)
    "x109_ann_index_probe",  # persisted-IVF probe, read path only (round 8)
    "p10_watch_drain",       # streaming drain throughput, fresh backlog (round 8)
    "x116_edit_distance_join",  # lossless q-gram edit join, bitmap count filter (round 8)
    "x117_postings_probe",   # persisted inverted-index AND probe, read path only (round 8)
    "x119_bnl_topk",         # tiled block nested-loop exact top-k, both sides distributed (round 8)
    "x120_label_propagation",  # fixed-round synchronous LPA communities (round 8)
    "x122_sequence_pack",    # global two-phase prefix-sum packing manifest (round 8)
    "l7_ivf_dist_probe",     # persisted IVF x DataFrame queries, probe only (round 9)
    "x132_lsh_probe",        # persisted LSH dedup index, shard probe only (round 9)
    "x130_table_checksum",   # full-table checksum rebuild — the x131 pricing baseline (round 9)
    "x131_delta_merge",      # delta-sized checksum maintenance, merge path only (round 9)
    "s26_epoch_probe",       # steady-state per-epoch streamed LSH probe latency (round 10)
    "w11_groups_frame",      # GROUPS-frame composition: group-relation window + broadcast-back (round 11)
    "x88b_hard_negatives_bnl",  # hard negatives on the tiled dgemm path (round 13; compare x88)
)

# The r12 UNIFIED basis (BASELINE.md "Round-12 UNIFIED baseline"):
# per-query (wall sec, process-tree CPU sec), median of the 5
# sentinel-clean runs of the two r12 basis sessions.  CPU is the
# contention-immune anchor; wall is the 2x gate axis.  A test
# (tests/test_bench_contract.py) parses BASELINE.md's table and
# asserts this dict matches it, so the two can't drift.
BASIS_NAME = "r12-unified"
BASIS: dict[str, tuple[float, float]] = {
    "a1_pricing_summary": (0.511, 0.88),
    "j9_star_join": (1.496, 4.18),
    "t4_topk_per_group": (0.487, 1.32),
    "a6_rollup": (0.47, 1.31),
    "w3_running_frames": (0.25, 0.63),
    "u1_union": (0.5, 1.5),
    "f7_json": (0.263, 0.52),
    "s2_tumbling_batch": (0.355, 0.91),
    "l1_exact_dedup": (0.26, 0.82),
    "l4_tfidf": (0.823, 2.36),
    "l7_cosine_topk": (1.337, 2.68),
    "l7_topk_numpy": (0.546, 1.02),
    "l5_jaccard_pairs": (1.24, 2.22),
    "l5_ngram_lsh": (2.875, 4.95),
    "l13_paragraph_dedup": (0.994, 1.62),
    "x16_corpus_freq_score": (0.536, 0.74),
    "x21_substring_dedup": (1.068, 1.49),
    "v9_tpch_q5": (1.456, 2.84),
    "p8_manifest_pipeline": (0.606, 1.61),
    "x44_bpe_train": (2.931, 11.23),
    "x47_kmeans_clusters": (2.559, 4.08),
    "x64_span_dedup": (1.033, 1.44),
    "x65_dsir_weights": (2.682, 17.77),
    "x88_hard_negatives": (1.546, 2.68),
    "x92_dominant_direction": (2.233, 3.79),
    "m9_skipping_report": (2.547, 9.87),
    "x103_prefix_filter_join": (6.162, 6.98),
    "j15_multi_asof": (0.394, 0.57),
    "x112_triangle_count": (2.557, 8.81),
    "x113_dq_audit": (1.434, 2.97),
    "x109_ann_index_probe": (1.448, 18.6),
    "p10_watch_drain": (1.357, 5.38),
    "x116_edit_distance_join": (5.472, 14.41),
    "x117_postings_probe": (0.597, 8.13),
    "x119_bnl_topk": (0.751, 1.61),
    "x120_label_propagation": (3.295, 10.79),
    "x122_sequence_pack": (1.251, 9.33),
    "l7_ivf_dist_probe": (1.973, 2.92),
    "x132_lsh_probe": (1.76, 9.25),
    "x130_table_checksum": (0.251, 0.48),
    "x131_delta_merge": (0.275, 0.54),
    "s26_epoch_probe": (1.93, 11.61),
    "w11_groups_frame": (0.467, 1.01),
    # r13 debut; basis FIRMED r14 (VERDICT r13 #4) as the PAIRED
    # median (sorted by wall, middle pair kept whole — the ADVICE
    # r12 #3 rule; mixing one run's wall with another's CPU is
    # exactly what paired_median exists to prevent) of its three
    # sentinel-clean observations: 0.832/1.53 (r13 mini-session),
    # 0.849/1.60 (r13 final-tree), 0.925/1.29 (r14 quiet run 2)
    "x88b_hard_negatives_bnl": (0.849, 1.60),
}

# r15 re-anchor (guide §1.4, VERDICT r14 #2): count() as the timed
# action lets the optimizer prune whatever the row count does not
# need — measured r14: x130 times 0.25 s under count vs 11.08 s noop
# (count keeps the grouping but prunes the md5 checksum column),
# x64 2.65 vs 7.55 (uniquely-keyed left-join branches dropped), and
# a1/a6/w3/l13/p8 lose their output aggregates.  The timed action is
# now the NOOP SINK (computes every column of every row, guide
# §1.4); the count action stays selectable ($SBP_BENCH_ACTION=count)
# so the legacy r12-unified basis remains reproducible, and
# $SBP_BENCH_ACTION=both records the count/noop bridge in one
# session.  Each action adjudicates only against ITS OWN basis.
ACTION_DEFAULT = "noop"
BASIS_NOOP_NAME = "r15-noop-unified"
# Paired (wall, cpu) per-query medians-of-medians of the three
# sentinel-clean r15 noop-basis sessions (2026-08-18, quiet box,
# round-start tree f577144; BASELINE.md "Round-15 UNIFIED noop
# baseline"); tests/test_bench_contract.py asserts this dict matches
# that table so instrument and human canon cannot drift.
BASIS_NOOP: dict[str, tuple[float, float]] = {
    "a1_pricing_summary": (1.526, 2.72),
    "j9_star_join": (1.166, 3.79),
    "t4_topk_per_group": (0.243, 0.94),
    "a6_rollup": (1.096, 2.79),
    "w3_running_frames": (0.517, 2.17),
    "u1_union": (0.536, 2.32),
    "f7_json": (0.46, 0.97),
    "s2_tumbling_batch": (0.344, 0.45),
    "l1_exact_dedup": (0.219, 0.88),
    "l4_tfidf": (0.911, 3.01),
    "l7_cosine_topk": (1.326, 2.32),
    "l7_topk_numpy": (0.501, 0.93),
    "l5_jaccard_pairs": (1.456, 2.23),
    "l5_ngram_lsh": (2.22, 4.9),
    "l13_paragraph_dedup": (1.459, 3.76),
    "x16_corpus_freq_score": (0.724, 1.37),
    "x21_substring_dedup": (1.304, 2.31),
    "v9_tpch_q5": (1.669, 4.25),
    "p8_manifest_pipeline": (0.603, 1.98),
    "x44_bpe_train": (2.391, 3.93),
    "x47_kmeans_clusters": (2.275, 3.35),
    "x64_span_dedup": (2.459, 8.81),
    "x65_dsir_weights": (2.418, 21.92),
    "x88_hard_negatives": (1.209, 2.6),
    "x92_dominant_direction": (0.461, 1.16),
    "m9_skipping_report": (2.232, 10.09),
    "x103_prefix_filter_join": (1.894, 8.25),
    "j15_multi_asof": (0.597, 0.9),
    "x112_triangle_count": (2.225, 9.03),
    "x113_dq_audit": (1.25, 2.81),
    "x109_ann_index_probe": (0.643, 2.75),
    "p10_watch_drain": (0.9, 4.1),
    "x116_edit_distance_join": (8.331, 13.23),
    "x117_postings_probe": (0.298, 0.78),
    "x119_bnl_topk": (0.843, 1.89),
    "x120_label_propagation": (3.116, 10.05),
    "x122_sequence_pack": (0.67, 1.33),
    "l7_ivf_dist_probe": (1.905, 2.43),
    "x132_lsh_probe": (1.983, 9.5),
    "x130_table_checksum": (6.226, 8.85),
    "x131_delta_merge": (0.944, 2.24),
    "s26_epoch_probe": (2.405, 6.89),
    "w11_groups_frame": (0.598, 1.33),
    "x88b_hard_negatives_bnl": (0.852, 1.61),
}

# The driver's tail capture clipped BENCH_r12's single 5 KB stdout
# line; the observed surviving window was ~3 KB, so the compact line
# budgets well under that with headroom for future suite growth.
COMPACT_LINE_BUDGET = 2048


def run_action(df, action: str) -> int:
    """The timed materialization.  ``noop`` (guide §1.4) eagerly
    computes EVERY column of every row and discards the result;
    ``count`` is the legacy action (kept for basis bridging — the
    optimizer may prune columns or whole cardinality-preserving
    subtrees under it).  Returns the row count under ``count``,
    -1 under ``noop`` (the sink reports no count)."""
    if action == "count":
        return df.count()
    df.write.format("noop").mode("overwrite").save()
    return -1


def paired_median(samples: list[float],
                  cpu_samples: list[float]) -> tuple[float, float]:
    """The (wall, cpu) pair of the wall-median SAMPLE (ADVICE r12 #3):
    sorting the two series independently could report a CPU median
    taken from a different run than the wall median it is adjudicated
    against, weakening the 'wall breaches while CPU holds' pairing —
    so sort paired tuples by wall and take the middle pair."""
    pairs = sorted(zip(samples, cpu_samples))
    wall, cpu = pairs[len(pairs) // 2]
    return round(wall, 3), round(cpu, 3)


def adjudicate(wall: float, cpu: float,
               basis: tuple[float, float] | None,
               unstable: bool = False,
               cpu_untrusted: bool = False) -> dict:
    """Mechanized dual-basis breach verdict (VERDICT r12 #3 — the
    rule previously lived only in BASELINE.md prose):

    - ``new``       no basis recorded yet (debut row).
    - ``ok``        wall within the 2x gate.
    - ``unstable``  wall breaches but the CPU median is UNTRUSTED
                    (``cpu_untrusted``: a clamped-to-zero tree-CPU
                    anomaly — the delta is incomplete, so "CPU holds"
                    is unknowable and box_load/real are both
                    unjustifiable; VERDICT r13 #2 — the r13 record
                    stamped x103 box_load on a 0.0 cpu_ratio), OR
                    wall and CPU both breach but the query
                    self-flagged an intra-run spread > 2x: the median
                    itself is untrustworthy, re-measure before
                    treating it as real (the r12 m9 precedent).
    - ``box_load``  wall breaches 2x but a TRUSTED CPU holds inside
                    1.5x — external load inflates wall, not tree CPU.
    - ``watch``     wall breaches, CPU in (1.5x, 2x] — above the
                    hold but below its own 2x; hold for a quiet
                    re-run (the r12 j15 precedent).
    - ``real``      wall breaches 2x AND CPU breaches 2x on a stable
                    median — a genuine regression.
    """
    if basis is None:
        return {"verdict": "new"}
    bw, bc = basis
    wr = round(wall / bw, 2)
    cr = round(cpu / bc, 2)
    if wr <= 2.0:
        v = "ok"
    elif cpu_untrusted:
        # BEFORE the cr <= 1.5 branch: an anomalous CPU median is
        # distrusted exactly like an unstable wall median
        v = "unstable"
    elif cr <= 1.5:
        v = "box_load"
    elif unstable:
        v = "unstable"
    elif cr <= 2.0:
        v = "watch"
    else:
        v = "real"
    return {"wall_ratio": wr, "cpu_ratio": cr, "verdict": v}


def tree_cpu_sec() -> float:
    """Cumulative CPU seconds (user+sys) of this process and every
    LIVE descendant — on local[*] that is the driver, the JVM with
    its 32 executor threads, and the Python worker daemons — plus
    each one's already-reaped children via cutime/cstime (a worker
    that died mid-query hands its time to the daemon that reaped it,
    never double-counted because a reaped pid has no /proc entry).

    getrusage(RUSAGE_CHILDREN) would miss the still-running JVM
    entirely (it only counts waited-for children), so this reads
    /proc/<pid>/stat directly.  Monotone non-decreasing across calls
    modulo sub-tick rounding, so deltas are per-query CPU cost —
    immune to external box load, which inflates wall but not this."""
    hz = os.sysconf("SC_CLK_TCK")
    procs: dict[int, tuple[int, int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                data = f.read()
        except OSError:  # raced a process exit
            continue
        # comm (field 2) may contain spaces/parens — split after the
        # LAST ')'; post-comm index i holds 1-based stat field i+3.
        fields = data[data.rindex(")") + 2:].split()
        ppid = int(fields[1])                    # field 4
        ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))
        procs[int(pid)] = (ppid, ticks)          # fields 14-17
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack, seen = 0, [os.getpid()], set()
    while stack:
        p = stack.pop()
        if p in seen or p not in procs:
            continue
        seen.add(p)
        total += procs[p][1]
        stack.extend(kids.get(p, ()))
    return total / hz


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from samplebatchprocessing_spark.session import get_spark
    spark = get_spark("sbp-bench", master=f"local[{cpus}]", extra_conf={
        "spark.sql.shuffle.partitions": str(max(int(cpus), 8)),
        "spark.driver.memory": os.environ.get("SBP_DRIVER_MEM", "32g"),
    })

    from samplebatchprocessing_spark.queries import registry
    reg = registry()

    # Bench the raw OPERATOR for entries whose registry callable now
    # wraps the operator in an oracle-comparison aggregate (the
    # l7_topk_numpy registry entry runs exact + numpy + join to emit
    # its property booleans — BASELINE.md's number is the numpy
    # kernel alone).
    def _l7_numpy_raw(spark, sf_dir):
        from pyspark.sql import functions as F
        from samplebatchprocessing_spark.catalog import load_table
        from samplebatchprocessing_spark.operators.similarity import (
            brute_force_topk_numpy)
        emb = load_table(spark, sf_dir, "embeddings")
        return brute_force_topk_numpy(emb, F.col("vec_id") % 50 == 0, k=5)

    # l5_ngram_lsh's registry entry runs LSH *and* the exact signature
    # path to emit its recall property — the headline number is the
    # LSH pipeline alone (the 100 TB scale path; VERDICT r3 item #5).
    def _l5_ngram_lsh_raw(spark, sf_dir):
        from samplebatchprocessing_spark.catalog import load_table
        from samplebatchprocessing_spark.operators import dedup
        doc = load_table(spark, sf_dir, "documents")
        return dedup.ngram_jaccard_pairs(doc, n=2, threshold=0.6,
                                         method="lsh")

    # x109 bench = the PROBE (serving read path) alone: the index is
    # built once outside the timed samples (at 100 TB the build runs
    # at ingest; serving latency is the number deployments watch).
    # The first timed sample still pays the one-time build via the
    # lazy cache, but median-of-3 discards it.
    _x109 = {}

    def _x109_probe_raw(spark, sf_dir):
        from pyspark.sql import functions as F
        from samplebatchprocessing_spark.catalog import load_table
        from samplebatchprocessing_spark.operators import similarity
        emb = load_table(spark, sf_dir, "embeddings")
        if "cmat" not in _x109:
            import hashlib
            idx = ("/tmp/sbp_bench_x109_"
                   + hashlib.md5(sf_dir.encode()).hexdigest()[:8])
            _x109["idx"] = idx
            _x109["cmat"] = similarity.ivf_index_write(
                emb, idx, n_cells=16)
        return similarity.ivf_index_probe(
            spark, _x109["idx"], _x109["cmat"], emb,
            F.col("vec_id") % 50 == 0, k=5, n_probe=4)

    # p10 bench = one FULL watch_prefix drain of a fresh backlog
    # (fresh bucket + checkpoint per sample — the registry entry's
    # repeat call is deliberately a no-op drain, which would time the
    # no-work path).  Covers the listing, the Arrow transform/commit
    # worker, the parquet log append, and the dedup read-back.
    _p10_dirs: list[str] = []

    def _p10_watch_raw(spark, sf_dir):
        import glob as _glob
        import shutil
        import uuid
        from samplebatchprocessing_spark.pipeline.manifest import (
            watch_prefix)
        bucket = f"/tmp/sbp_bench_p10_{uuid.uuid4().hex[:8]}"
        _p10_dirs.append(bucket)
        in_dir = os.path.join(bucket, "input")
        os.makedirs(in_dir)
        for src in sorted(_glob.glob(f"{sf_dir.rstrip('/')}/*.parquet")):
            shutil.copy(src, in_dir)
        return watch_prefix(spark, bucket)

    # x117 bench = the postings PROBE (text-serving read path) alone,
    # the x109 discipline verbatim: the index is built once outside
    # the timed samples via the lazy cache; median-of-3 discards the
    # build-bearing first sample.
    _x117 = {}

    def _x117_probe_raw(spark, sf_dir):
        from samplebatchprocessing_spark.catalog import load_table
        from samplebatchprocessing_spark.operators import text as T
        from samplebatchprocessing_spark.queries.llm import X117_TERMS
        if "idx" not in _x117:
            import hashlib
            idx = ("/tmp/sbp_bench_x117_"
                   + hashlib.md5(sf_dir.encode()).hexdigest()[:8])
            T.postings_index_write(
                load_table(spark, sf_dir, "documents"), idx)
            _x117["idx"] = idx
        return T.postings_probe_and(spark, _x117["idx"],
                                    list(X117_TERMS))

    # x119's registry row deliberately times the collect-path kernel
    # PLUS the tiled operator PLUS a full-outer parity join (~2x the
    # operator under test — VERDICT r8 noted the BENCH row measured
    # the harness).  The headline number is the tiled operator alone.
    def _x119_bnl_raw(spark, sf_dir):
        from pyspark.sql import functions as F
        from samplebatchprocessing_spark.catalog import load_table
        from samplebatchprocessing_spark.operators import similarity
        emb = load_table(spark, sf_dir, "embeddings")
        return similarity.bnl_topk(emb, F.col("vec_id") % 50 == 0,
                                   k=5, q_block=16, c_block=256)

    # l7_ivf_dist bench = the DISTRIBUTED-QUERY probe against the
    # persisted index (the true 100 TB serving read path, VERDICT r8
    # #3), x109 discipline: build once outside the timed samples via
    # the lazy cache; median-of-3 discards the build-bearing sample.
    _l7d = {}

    def _l7d_probe_raw(spark, sf_dir):
        from pyspark.sql import functions as F
        from samplebatchprocessing_spark.catalog import load_table
        from samplebatchprocessing_spark.operators import similarity
        emb = load_table(spark, sf_dir, "embeddings")
        if "cmat" not in _l7d:
            import hashlib
            idx = ("/tmp/sbp_bench_l7d_"
                   + hashlib.md5(sf_dir.encode()).hexdigest()[:8])
            _l7d["idx"] = idx
            _l7d["cmat"] = similarity.ivf_index_write(
                emb, idx, n_cells=16)
        return similarity.ivf_index_probe_distributed(
            spark, _l7d["idx"], _l7d["cmat"],
            emb.filter(F.col("vec_id") % 50 == 0), k=5, n_probe=4)

    # x132 bench = the incremental-dedup PROBE (serving read path)
    # alone, the x109/x117 discipline: the corpus band index builds
    # once outside the timed samples via the lazy cache; each sample
    # bands the src2 shard row-locally and joins its bucket subset.
    _x132 = {}

    def _x132_probe_raw(spark, sf_dir):
        from pyspark.sql import functions as F
        from samplebatchprocessing_spark.catalog import load_table
        from samplebatchprocessing_spark.operators import dedup
        doc = load_table(spark, sf_dir, "documents")
        if "idx" not in _x132:
            import hashlib
            idx = ("/tmp/sbp_bench_x132_"
                   + hashlib.md5(sf_dir.encode()).hexdigest()[:8])
            dedup.lsh_index_write(
                doc.filter(F.col("source") != "src2"), idx)
            _x132["idx"] = idx
        return dedup.lsh_index_probe(
            spark, _x132["idx"], doc.filter(F.col("source") == "src2"))

    # x131 bench = the MAINTENANCE path alone (VERDICT r8 #8): one
    # delta-sized scan + a group-keyed merge of two tiny summaries.
    # The published base summary is computed once outside the timed
    # samples (lazy cache + eager localCheckpoint); compare with the
    # x130_table_checksum row — the from-scratch rebuild — for the
    # recorded delta-vs-rebuild pricing.
    _x131 = {}

    def _x131_delta_raw(spark, sf_dir):
        from pyspark.sql import functions as F
        from samplebatchprocessing_spark.catalog import load_table
        from samplebatchprocessing_spark.queries.analytics import (
            x130_summary)
        li = load_table(spark, sf_dir, "lineitem")
        is_delta = F.col("l_orderkey") % 11 == 7
        if "base" not in _x131:
            _x131["base"] = (
                x130_summary(li.filter(~is_delta))
                .withColumnRenamed("n", "n_b")
                .withColumnRenamed("c", "c_b")
                .localCheckpoint(eager=True))
        delta = (x130_summary(li.filter(is_delta))
                 .withColumnRenamed("n", "n_d")
                 .withColumnRenamed("c", "c_d"))
        return (_x131["base"].join(delta, "l_returnflag", "full_outer")
                .select("l_returnflag",
                        (F.coalesce("n_b", F.lit(0))
                         + F.coalesce("n_d", F.lit(0))).alias("n_rows"),
                        ((F.coalesce("c_b", F.lit(0))
                          + F.coalesce("c_d", F.lit(0)))
                         % 1_000_000_007).cast("bigint")
                        .alias("checksum")))

    # s26 bench = STEADY-STATE per-epoch probe latency (VERDICT r9
    # stretch #8 — completes the serving-latency story x109/x117/
    # x132 already have): the marginal cost of ONE micro-batch
    # through the s26 loop — band the epoch's shard row-locally,
    # bucket-pruned index join, idempotent epoch-overwrite parquet
    # write, count the epoch's candidates — i.e. exactly the body
    # foreachBatch runs per epoch at steady state.  Stream STARTUP
    # (checkpoint init, source listing) is excluded: it amortizes
    # over the daemon's lifetime.  The corpus index builds once
    # outside the timed samples (lazy cache); compare with
    # x132_lsh_probe — the same probe without the epoch write —
    # for the write's marginal price.
    _s26 = {}

    def _s26_epoch_probe_raw(spark, sf_dir):
        import hashlib
        import os

        from pyspark.sql import functions as F
        from samplebatchprocessing_spark.catalog import load_table
        from samplebatchprocessing_spark.operators import dedup
        doc = load_table(spark, sf_dir, "documents")
        if "idx" not in _s26:
            tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
            _s26["idx"] = f"/tmp/sbp_bench_s26_{tag}"
            _s26["out"] = f"/tmp/sbp_bench_s26out_{tag}"
            _s26["epoch"] = 0
            dedup.lsh_index_write(
                doc.filter(F.col("source") != "src2"), _s26["idx"])
        _s26["epoch"] += 1
        out = os.path.join(_s26["out"], f"epoch={_s26['epoch']}")
        (dedup.lsh_index_probe(spark, _s26["idx"],
                               doc.filter(F.col("source") == "src2"))
         .write.mode("overwrite").parquet(out))
        return spark.read.parquet(out).select("batch_id", "corpus_id")

    # x88b bench = the RAW tiled hard-negative miner (the registry
    # entry deliberately runs the expression path TOO plus a parity
    # join — the x119 lesson: that would time the harness).  Same
    # tile sizes as the registry row; compare with the x88 row —
    # same semantics on the expression path — for the measured
    # expression-vs-dgemm price.
    def _x88b_bnl_raw(spark, sf_dir):
        from pyspark.sql import functions as F
        from samplebatchprocessing_spark.catalog import load_table
        from samplebatchprocessing_spark.operators import similarity
        emb = load_table(spark, sf_dir, "embeddings")
        return similarity.bnl_hard_negatives(
            emb, F.col("vec_id") % 50 == 0, k=3,
            q_block=16, c_block=256)

    overrides = {"l7_topk_numpy": _l7_numpy_raw,
                 "x88b_hard_negatives_bnl": _x88b_bnl_raw,
                 "l5_ngram_lsh": _l5_ngram_lsh_raw,
                 "x109_ann_index_probe": _x109_probe_raw,
                 "p10_watch_drain": _p10_watch_raw,
                 "x117_postings_probe": _x117_probe_raw,
                 "x119_bnl_topk": _x119_bnl_raw,
                 "l7_ivf_dist_probe": _l7d_probe_raw,
                 "x132_lsh_probe": _x132_probe_raw,
                 "x131_delta_merge": _x131_delta_raw,
                 "s26_epoch_probe": _s26_epoch_probe_raw}

    # Warm-up (not timed): JVM/codegen on a cheap query, plus the
    # Python worker pool + numpy/pandas import for the Arrow paths —
    # on a real cluster those workers are long-lived; without this
    # the first mapInPandas query is charged ~2 s of interpreter
    # startup that is not query cost.
    reg["a1_pricing_summary"][0](spark, sf_dir).count()

    def _noop(batches):
        for pdf in batches:
            import numpy  # noqa: F401
            yield pdf

    (spark.range(int(cpus) * 4).repartition(int(cpus))
     .mapInPandas(_noop, "id long").count())

    # CONTAMINATION SENTINEL (VERDICT r8 #2): BENCH_r07/r08 both
    # recorded multi-x breaches that quiet-box reruns proved were
    # concurrent box load, not code (x88 read 9.05x from load alone).
    # Time a fixed control (the warmed a1 scan+agg) immediately
    # before and after the suite; if the pair disagrees >1.5x, the
    # box was loaded mid-run and the JSON says so, so the perf gate
    # reads honestly instead of grading noise.
    def _control_once() -> float:
        t0 = time.monotonic()
        reg["a1_pricing_summary"][0](spark, sf_dir).count()
        return time.monotonic() - t0

    # min-of-3: load inflates every sample including the min, while
    # one scheduler blip inflates only the max — min detects load
    # without false-flagging blips.
    def _sentinel() -> float:
        return round(min(_control_once() for _ in range(3)), 3)

    # The control must sit at its JIT PLATEAU before the pre reading,
    # or the suite's own C2-tier warmup reads as a 1.5-2x pre/post
    # drift (the false positive measured when this sentinel landed —
    # a consecutive-pair 15% check was NOT enough, the drift is
    # gradual): keep running the control until the best-seen time
    # stops improving for 3 straight runs (cap 15).
    best, stale = _control_once(), 0
    for _ in range(15):
        cur = _control_once()
        if cur < best * 0.95:
            best, stale = cur, 0
        else:
            stale += 1
            if stale >= 3:
                break

    bw_sample = make_bandwidth_control()
    disk_sample, disk_cleanup = make_disk_control()

    def _bw_min3() -> float:
        return round(min(bw_sample() for _ in range(3)), 4)

    def _disk_min3() -> float:
        return round(min(disk_sample() for _ in range(3)), 4)

    sentinel_pre = _sentinel()
    bw_pre = _bw_min3()
    disk_pre = _disk_min3()

    # Median of 3 full plan+execute runs per query (BASELINE.md
    # protocol) — this box carries variable background load and a
    # single sample is too noisy to grade against.
    # Per-query error isolation (VERDICT r3 item #2): one raising query
    # must not zero the whole round's perf signal — record {"err": ...}
    # for it, keep timing the rest, ALWAYS print the final JSON line.
    timings: dict[str, object] = {}
    cpu_timings: dict[str, float] = {}
    count_timings: dict[str, float] = {}
    count_cpu_timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    unstable: dict[str, float] = {}
    cpu_anomalies: list[str] = []
    controls_mid: list[float] = []
    bw_mid: list[float] = []
    disk_mid: list[float] = []

    action = os.environ.get("SBP_BENCH_ACTION", ACTION_DEFAULT)
    if action not in ("count", "noop", "both"):
        action = ACTION_DEFAULT

    def _time_query(fn, name: str, act: str):
        """3 timed (wall, tree-CPU) samples of fn under ``act``."""
        samples: list[float] = []
        cpu_samples: list[float] = []
        n = -1
        for _ in range(3):
            c0 = tree_cpu_sec()
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            n = run_action(df, act)
            samples.append(time.monotonic() - t0)
            d_cpu = tree_cpu_sec() - c0
            if d_cpu < 0:
                # a descendant re-parented away mid-query (its
                # parent died; init adopted it) and took its
                # accumulated ticks out of the tree — the delta
                # is incomplete, not negative work.  Clamp and
                # flag: the query's CPU median can't be trusted
                # this run (observed live on a loaded box, r13).
                if name not in cpu_anomalies:
                    cpu_anomalies.append(name)
                d_cpu = 0.0
            cpu_samples.append(d_cpu)
        return samples, cpu_samples, n

    for qi, name in enumerate(BENCH_QUERIES):
        if name not in reg and name not in overrides:
            continue
        # interleaved sentinel: one control sample between suite
        # sections — pre/post alone cannot see a load burst confined
        # to the middle of a multi-minute suite (VERDICT r11 #1b)
        if qi and qi % 6 == 0:
            controls_mid.append(round(_control_once(), 3))
            # min-of-3 (unlike the warm mid singles): a bandwidth
            # sample costs ~40 ms, and a single sample taken right
            # after a query reads the JVM's own trailing activity
            # (GC, async cleanup) as pressure — measured 2-10x false
            # positives on a quiet box when this landed
            bw_mid.append(_bw_min3())
            disk_mid.append(_disk_min3())
        fn = overrides.get(name) or reg[name][0]
        try:
            if action == "both":
                # bridge order: count FIRST so the noop medians stay
                # comparable to a plain noop run (the count pass also
                # absorbs any lazy-cache index build either way)
                c_samples, c_cpu, _ = _time_query(fn, name, "count")
                count_timings[name], count_cpu_timings[name] = (
                    paired_median(c_samples, c_cpu))
            samples, cpu_samples, n = _time_query(
                fn, name, "count" if action == "count" else "noop")
        except Exception as e:  # noqa: BLE001 — isolate, report, continue
            msg = f"{type(e).__name__}: {e}"
            errors[name] = msg[:500]
            timings[name] = {"err": msg[:200]}
            print(f"# {name}: ERROR {msg[:200]}", file=sys.stderr)
            continue
        timings[name], cpu_timings[name] = paired_median(samples,
                                                         cpu_samples)
        # informational per-query instability: spread over the LAST
        # TWO samples (the first may carry a lazy-cache index build,
        # which the median already discards).  NOT a contamination
        # gate — clean-box spreads (1.5x) and load spreads (1.6x+)
        # overlap — but a 2x+ entry tells the grader which specific
        # medians to distrust.
        tail = samples[1:]
        spread = round(max(tail) / max(min(tail), 1e-9), 2)
        if spread > 2.0:
            unstable[name] = spread
        print(f"# {name}: {timings[name]:.3f}s median of "
              f"{[round(s, 3) for s in samples]} "
              f"(cpu {cpu_timings[name]:.3f}s, {n} rows)",
              file=sys.stderr)

    sentinel_post = _sentinel()
    bw_post = _bw_min3()
    disk_post = _disk_min3()
    disk_cleanup()

    import shutil
    for d in (_p10_dirs + list(_x109.values()) + list(_x117.values())
              + list(_l7d.values()) + list(_x132.values())
              + list(_s26.values())):
        if isinstance(d, str) and d.startswith("/tmp/sbp_bench_"):
            shutil.rmtree(d, ignore_errors=True)

    out = summarize(timings, errors, sf_dir)
    out["action"] = "count" if action == "count" else "noop"
    out["cpu_queries"] = cpu_timings
    out["cpu_total_sec"] = round(sum(cpu_timings.values()), 3)
    if action == "both":
        out["queries_count"] = count_timings
        out["cpu_queries_count"] = count_cpu_timings
        out["count_total_sec"] = round(sum(count_timings.values()), 3)
    out.update(sentinel_verdict(sentinel_pre, sentinel_post,
                                controls_mid))
    bw = bandwidth_verdict(bw_pre, bw_post, bw_mid)
    out.update(bw)
    # memory pressure contaminates the record exactly like CPU load:
    # it adds REAL CPU to the big queries (the r12 session-A1
    # mechanism), so neither axis of the dual-basis rule is safe
    out["contaminated"] = out["contaminated"] or bw["mem_pressure"]
    # io_slow is ADVISORY (wall-only inflation; CPU axis stays sound)
    out.update(disk_verdict(disk_pre, disk_post, disk_mid))
    if getattr(disk_sample, "inert", False):
        # tmpfs-backed control file: DONTNEED can't evict the pages,
        # so the series measured RAM — record that nothing was
        # actually checked rather than implying storage read clean
        out["disk"]["inert"] = True
        out["io_slow"] = None
    if unstable:
        out["unstable_queries"] = unstable
    if cpu_anomalies:
        out["cpu_anomalies"] = cpu_anomalies
    # The basis is recorded at sf0.1 — adjudicating another scale
    # factor against it would stamp junk verdicts on every row.
    # Each ACTION adjudicates only against its own basis: count
    # medians vs the legacy r12-unified table, noop medians vs the
    # r15 noop table (mixing them would stamp junk on every row the
    # optimizer prunes under count — x130 is 44x apart).
    if os.path.basename(sf_dir.rstrip("/")) == "sf0.1":
        if action == "count":
            basis_name, basis_table = BASIS_NAME, BASIS
        else:
            basis_name, basis_table = BASIS_NOOP_NAME, BASIS_NOOP
        out["basis"] = basis_name
        out["verdicts"] = {
            name: adjudicate(
                wall, cpu_timings.get(name, 0.0),
                basis_table.get(name),
                unstable=name in unstable,
                # a CPU anomaly means the CPU median is incomplete —
                # it must never ground a box_load/real call
                cpu_untrusted=name in cpu_anomalies)
            for name, wall in timings.items()
            if isinstance(wall, (int, float))
        }
    else:
        out["basis"] = None
        out["verdicts"] = {}
    emit(out)


def emit(full: dict) -> None:
    """Stdout = exactly ONE compact JSON line (the driver's record);
    the full record goes to the sidecar file and to stderr."""
    sidecar = os.environ.get(
        "SBP_BENCH_SIDECAR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_full.json"))
    try:
        with open(sidecar, "w") as f:
            json.dump(full, f, indent=1)
        full["full_record"] = sidecar
    except OSError as e:  # read-only checkout: compact line still out
        full["full_record"] = f"unwritable: {e}"
    print("# FULL " + json.dumps(full), file=sys.stderr)
    print(compact_line(full))


def compact_line(full: dict) -> str:
    """The driver-facing stdout line, kept <= COMPACT_LINE_BUDGET
    bytes (VERDICT r12 #1: the r12 record's 5 KB line lost its head
    to the driver's tail capture — 'the improved instrument made the
    official artifact worse').  Keeps the driver contract fields
    (metric/value/unit/queries/sf) plus the gate essentials:
    cpu_total_sec, contaminated, verdict counts, and the non-ok
    queries with their ratio pairs.  Detail drops in fixed stages
    until the line fits; the per-query wall medians are the contract
    and always survive."""
    verdicts = full.get("verdicts", {})
    counts: dict[str, int] = {}
    for v in verdicts.values():
        counts[v["verdict"]] = counts.get(v["verdict"], 0) + 1
    breaches = {n: [v["verdict"], v.get("wall_ratio"),
                    v.get("cpu_ratio")]
                for n, v in verdicts.items()
                if v["verdict"] not in ("ok", "new")}
    line = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "queries": full["queries"],
        "sf": full["sf"],
        "action": full.get("action"),
        "cpu_total_sec": full.get("cpu_total_sec"),
        "contaminated": full.get("contaminated"),
        "io_slow": full.get("io_slow"),
        "basis": full.get("basis"),
        "verdict_counts": counts,
        "breaches": breaches,
        "full_record": full.get("full_record"),
    }
    if "n_errored" in full:
        line["n_errored"] = full["n_errored"]
        line["partial_sum_sec"] = full["partial_sum_sec"]
    # fixed shrink stages; each stage's result is tried in order
    def render(d: dict) -> str:
        return json.dumps(d, separators=(",", ":"))

    s = render(line)
    if len(s.encode()) <= COMPACT_LINE_BUDGET:
        return s
    line["breaches"] = {n: v[0] for n, v in breaches.items()}
    s = render(line)
    if len(s.encode()) <= COMPACT_LINE_BUDGET:
        return s
    line.pop("breaches")
    line.pop("full_record", None)
    s = render(line)
    if len(s.encode()) <= COMPACT_LINE_BUDGET:
        return s
    # last resort: error-dict timing values (rare) truncate hard
    line["queries"] = {
        n: (t if isinstance(t, (int, float)) else {"err": "see sidecar"})
        for n, t in line["queries"].items()}
    return render(line)


def make_disk_control():
    """The THIRD control (r14): UNCACHED-disk-read latency.  The r14
    quiet session exposed the remaining blind spot: a cold-page-cache
    / slow-storage epoch (the 01:30 container restart left
    buff/cache at 2 GB of 125) inflated every disk-working-set row —
    the persisted-index probes x109/x117/x132, the file-backlog
    drains p10/m9 — 2-8x on WALL at basis CPU, while both existing
    controls read clean (the warmed scan is cache-resident, the
    bandwidth reduction never leaves RAM).  This control reads a
    32 MB file whose pages are dropped (posix_fadvise DONTNEED)
    before every sample, so it measures STORAGE latency — the
    resource those rows actually wait on.

    ADVISORY, not contaminating: wall-only inflation leaves the CPU
    axis sound, so the dual-basis rule already adjudicates the
    affected rows as box_load; ``io_slow`` exists to EXPLAIN a burst
    of box_load verdicts on probe rows, not to void the record.

    Returns (sample, cleanup)."""
    import contextlib
    import glob
    import uuid
    # The control file must live on DISK-backed storage: on a tmpfs
    # /tmp (Fedora/Arch defaults) POSIX_FADV_DONTNEED cannot evict
    # the pages, every sample reads RAM, and the control silently
    # measures nothing.  Pick the first non-tmpfs candidate; if none
    # exists the control still runs but is flagged inert so the
    # record never implies storage latency was checked when it
    # wasn't.
    def _is_tmpfs(d: str) -> bool:
        try:
            mounts = open("/proc/mounts").read().splitlines()
        except OSError:
            return False
        best, fstype = "", ""
        rd = os.path.realpath(d)
        for line in mounts:
            parts = line.split()
            if len(parts) >= 3 and (rd == parts[1] or
                                    rd.startswith(parts[1].rstrip("/")
                                                  + "/")):
                if len(parts[1]) >= len(best):
                    best, fstype = parts[1], parts[2]
        return fstype in ("tmpfs", "ramfs")

    base = next((d for d in ("/tmp", "/var/tmp", ".")
                 if os.access(d, os.W_OK) and not _is_tmpfs(d)), "/tmp")
    inert = _is_tmpfs(base)
    # orphan sweep: a SIGTERM'd run never reaches cleanup(), leaving
    # its 32 MB file behind.  Anything older than an hour cannot
    # belong to a live run — sample() refreshes its own file's mtime,
    # so even a marathon suite's control file stays young; files
    # younger than the threshold are left alone for concurrent runs.
    for old in glob.glob(os.path.join(base, "sbp_bench_disk_*")):
        with contextlib.suppress(OSError):
            if time.time() - os.path.getmtime(old) > 3600:
                os.remove(old)
    path = os.path.join(base, f"sbp_bench_disk_{uuid.uuid4().hex[:8]}")
    blob = os.urandom(1 << 20) * 32            # 32 MB, incompressible
    with open(path, "wb") as f:
        f.write(blob)
        f.flush()
        os.fsync(f.fileno())

    def sample() -> float:
        fd = os.open(path, os.O_RDONLY)
        try:
            os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
            t0 = time.monotonic()
            while os.read(fd, 1 << 20):
                pass
            return round(time.monotonic() - t0, 4)
        finally:
            os.close(fd)
            # keep the file YOUNG so another run's orphan sweep
            # (>1h mtime) can never reap it out from under a live
            # marathon suite
            with __import__("contextlib").suppress(OSError):
                os.utime(path)

    sample.inert = inert

    def cleanup() -> None:
        import contextlib
        with contextlib.suppress(OSError):
            os.remove(path)

    return sample, cleanup


def disk_verdict(pre: float, post: float,
                 mid: list[float] | None = None) -> dict:
    """Storage-latency verdict from the disk-control series — the
    sentinel_verdict shape: post slower than 1.5x pre flags, one mid
    blip tolerated, two or more above 1.5x the pre floor read as a
    sustained slow-storage epoch.  ``io_slow`` is ADVISORY (see
    :func:`make_disk_control`): it does not fold into
    ``contaminated`` because wall-only inflation leaves the CPU axis
    of the dual-basis rule sound."""
    ratio = round(post / pre, 3) if pre > 0 else None
    mid = mid or []
    n_hot = sum(1 for m in mid if pre > 0 and m / pre > 1.5)
    return {
        "disk": {"pre_sec": pre, "post_sec": post,
                 "post_over_pre": ratio,
                 "mid_sec": mid, "mid_hot": n_hot},
        "io_slow": bool(ratio is not None and ratio > 1.5)
        or n_hot >= 2,
    }


def make_bandwidth_control():
    """The SECOND control (r13, BASELINE.md addendum 2): a fixed
    256 MB float64 reduction — memory-BANDWIDTH-bound, ~tens of ms
    quiet.  The warmed a1 control has a cache-resident working set,
    so a memory-pressure/bandwidth load (which evicts the big
    queries' pages and inflates their REAL CPU — the r12 session-A1
    mechanism, seen again in the r13 addendum-2 session with
    mid_hot = 0) sails past it; this control contends for the same
    resource that load consumes.  The array is touched once untimed
    at creation so the first timed sample isn't page-in."""
    import numpy as np
    arr = np.ones(32 * 1024 * 1024, dtype=np.float64)   # 256 MB
    float(arr.sum())                                    # page-in

    def sample() -> float:
        t0 = time.monotonic()
        float(arr.sum())
        return round(time.monotonic() - t0, 4)

    return sample


def bandwidth_verdict(pre: float, post: float,
                      mid: list[float] | None = None) -> dict:
    """Memory-pressure verdict from the bandwidth-control series —
    same shape as :func:`sentinel_verdict`: post slower than 1.5x
    pre flags (the reduction has no JIT warmup to speak of, but the
    direction-aware rule costs nothing and keeps the two sentinels
    symmetric); one mid blip tolerated, two or more above 1.5x the
    pre floor read as sustained pressure."""
    ratio = round(post / pre, 3) if pre > 0 else None
    mid = mid or []
    n_hot = sum(1 for m in mid if pre > 0 and m / pre > 1.5)
    return {
        "bandwidth": {"pre_sec": pre, "post_sec": post,
                      "post_over_pre": ratio,
                      "mid_sec": mid, "mid_hot": n_hot},
        "mem_pressure": bool(ratio is not None and ratio > 1.5)
        or n_hot >= 2,
    }


def sentinel_verdict(pre: float, post: float,
                     mid: list[float] | None = None) -> dict:
    """Contamination verdict from the control series.

    Direction-aware pre/post rule (r9): residual C2-tier JIT warmup
    keeps making the control FASTER through the whole suite
    (post/pre measured 0.51-0.86 on every quiet run), so only a post
    SLOWER than pre — load ramping during the suite — reads as
    contamination; a magnitude-only |ratio| > 1.5 rule
    false-positived on the warmup drift three times in development.

    Interleaved rule (r12, VERDICT r11 #1b): pre/post alone is blind
    to a burst confined to the middle of the suite.  Each mid sample
    is a SINGLE control run (min-of-3 between every section would
    cost more than it tells), so one blip is tolerated; TWO OR MORE
    mid samples above 1.5x the pre floor read as sustained load.
    Mid samples only ever get faster than pre on a quiet box (more
    JIT warmup), so the same direction-aware logic applies."""
    ratio = round(post / pre, 3) if pre > 0 else None
    mid = mid or []
    n_hot = sum(1 for m in mid if pre > 0 and m / pre > 1.5)
    return {
        "sentinel": {"pre_sec": pre, "post_sec": post,
                     "post_over_pre": ratio,
                     "mid_sec": mid, "mid_hot": n_hot},
        "contaminated": bool(ratio is not None and ratio > 1.5)
        or n_hot >= 2,
    }


def summarize(timings: dict, errors: dict, sf_dir: str) -> dict:
    """The one JSON line. A sum over a partial suite is not comparable
    round-to-round (a crashing heavy query would *improve* the
    headline), so the headline is null whenever any query errored; the
    partial sum stays available separately for debugging."""
    total = round(sum(v for v in timings.values()
                      if isinstance(v, (int, float))), 3)
    out = {
        "metric": "bench_suite_wall_sec",
        "value": None if errors else total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
    }
    if errors:
        out["errors"] = errors
        out["partial_sum_sec"] = total
        out["n_errored"] = len(errors)
    return out


if __name__ == "__main__":
    main()
