"""The two workloads.  Each drives the engine's public API the way a
user does, one operation at a time from a single client (a closed
loop): ``before(i)`` makes the inputs of operation ``i`` (untimed),
``op(i, tr)`` runs it (timed by the caller), ``after(i)`` checks its
outputs (untimed).  ``finish()`` runs the end-of-run checks.

Operations come in kinds that repeat in a fixed ``PATTERN``; the kind
``PRIMARY`` is the one whose median latency is ``op_p50_s``.  An
operation's *items* are what the throughput counts; ``ITEMS`` names
them per kind (files, docs or requests).
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from . import gen


class Workload:
    PATTERN: tuple[str, ...] = ("op",)
    PRIMARY = "op"
    ITEMS = {"op": "items"}
    item = "items"     # what items_per_s counts, over every kind

    def __init__(self, eng, work: str, seed: int, size: str):
        self.eng, self.spark = eng, eng.spark
        self.work, self.seed = work, seed
        self.p = self.SIZES[size]
        self.errors: list[str] = []      # failed output checks
        self.info: dict = {}              # generated sizes, parameters
        self.extra: dict = {}             # workload-specific metrics
        self.counts: dict = {}            # per-layer counts (traced ops)
        os.makedirs(work, exist_ok=True)

    @property
    def cycle(self) -> int:
        return len(self.PATTERN)

    def kind(self, i: int) -> str:
        return self.PATTERN[i % len(self.PATTERN)]

    def primary(self, i: int) -> bool:
        """Whether op ``i`` counts toward ``op_p50_s``."""
        return self.kind(i) == self.PRIMARY

    def prepare(self, tr) -> None:
        pass

    def before(self, i: int) -> None:
        pass

    def after(self, i: int) -> None:
        pass

    def finish(self, tr) -> None:
        pass

    def fail(self, msg: str) -> None:
        self.errors.append(msg)

    def add(self, key: str, n: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + n


# -- file_batch ------------------------------------------------------------

class FileBatch(Workload):
    """The paper's pipeline.  Each op drains two fresh backlogs of
    log-normal-sized files with the default command ``cp``: backlog A
    through ``Engine.process_prefix`` (batch), backlog B through
    ``manifest.watch_prefix`` (AvailableNow stream) -- two dispatch
    paths over the same per-file worker.  A part of ``Batch``."""

    SIZES = {"full": {"files": 30, "bytes": 3 << 20},
             "tiny": {"files": 12, "bytes": 64 << 10}}

    def bucket(self, i: int, kind: str) -> str:
        return os.path.join(self.work, f"op{i}{kind}")

    def before(self, i: int) -> None:
        self.backlogs = {
            kind: gen.file_backlog(self.seed, f"{i}{kind}",
                                   self.bucket(i, kind), self.p["files"],
                                   self.p["bytes"])
            for kind in ("A", "B")}
        self.info.setdefault("backlogs", []).extend(
            {k: v for k, v in b.items() if k != "md5"}
            for b in self.backlogs.values())

    def op(self, i: int, tr) -> int:
        from samplebatchprocessing_spark import engine
        from samplebatchprocessing_spark.pipeline import manifest
        with tr.span("manifest.run_pipeline"), \
                tr.wrap(engine, "build_manifest", "manifest.build_manifest"):
            rows_a = self.eng.process_prefix(self.bucket(i, "A"),
                                             command="cp").collect()
        with tr.span("manifest.watch_prefix"):
            log = manifest.watch_prefix(self.spark, self.bucket(i, "B"),
                                        command="cp")
        with tr.span("manifest.commit_log"):
            rows_b = log.collect()
        self.rows = {"A": rows_a, "B": rows_b}
        rows = rows_a + rows_b
        n_ok = sum(bool(r["ok"]) for r in rows)
        if tr.enabled:
            self.add("manifest.files_in", len(rows))
            self.add("manifest.bytes_in", sum(r["in_bytes"] for r in rows))
            self.add("manifest.bytes_out", sum(r["out_bytes"] for r in rows))
            self.add("_ok", n_ok)
        return n_ok

    def after(self, i: int) -> None:
        for kind, backlog in self.backlogs.items():
            self._check(f"op {i} backlog {kind}", self.bucket(i, kind),
                        backlog["md5"], self.rows[kind])

    def _check(self, what: str, bucket: str, md5: dict, rows: list) -> None:
        """One ok commit-log row per file, every output's md5 equal to
        its input's, no ``.inprogress`` file left."""
        names = [r["file_name"] for r in rows]
        if sorted(names) != sorted(md5):
            self.fail(f"{what}: commit log has {len(names)} rows for "
                      f"{len(md5)} files")
        if not all(r["ok"] for r in rows):
            self.fail(f"{what}: not every commit-log row is ok")
        out_dir = os.path.join(bucket, "output")
        for name, digest in md5.items():
            try:
                with open(os.path.join(out_dir, name + ".out"), "rb") as f:
                    got = hashlib.md5(f.read()).hexdigest()
            except OSError:
                got = None
            if got != digest:
                self.fail(f"{what}: {name} output md5 differs from input")
                break
        left = glob.glob(os.path.join(bucket, "**", "*.inprogress"),
                         recursive=True)
        if left:
            self.fail(f"{what}: {len(left)} .inprogress files left")
        shutil.rmtree(bucket, ignore_errors=True)

    def finish(self, tr) -> None:
        if tr.enabled and self.counts.get("manifest.files_in"):
            self.counts["manifest.ok_ratio"] = (
                self.counts.pop("_ok") / self.counts["manifest.files_in"])


# -- corpus_curation -------------------------------------------------------

JACCARD_THRESHOLD = 0.6      # ngram_jaccard_pairs default
NEAR_RECALL_FLOOR = 0.9      # planted near-dup recall: 1.0 on every seed tried


class CorpusCuration(Workload):
    """LLM-data curation as one batch job per op, each stage written to
    parquet: exact dedup -> shingle MinHash-LSH near-dup pairs ->
    clusters -> keep one per cluster -> Gopher quality filter (with the
    Gopher and C4 rule audits) -> TF-IDF of the survivors.  A part of
    ``Batch``."""

    traced = False
    SIZES = {"full": {"docs": 500}, "tiny": {"docs": 200}}

    def dirs(self, i: int) -> dict[str, str]:
        base = os.path.join(self.work, f"job{i}")
        return {k: os.path.join(base, k) for k in
                ("input", "exact", "pairs", "deduped", "curated", "tfidf")}

    def before(self, i: int) -> None:
        d = self.dirs(i)
        os.makedirs(os.path.dirname(d["input"]), exist_ok=True)
        self.truth = gen.corpus(self.seed, i, d["input"] + ".parquet",
                                self.p["docs"])
        self.info.setdefault("corpora", []).append(
            {k: v for k, v in self.truth.items()
             if k not in ("exact_ids", "near_pairs")})

    def op(self, i: int, tr) -> int:
        from pyspark.sql import functions as F
        from samplebatchprocessing_spark.operators import curation, dedup, text
        d, read = self.dirs(i), self.spark.read.parquet
        docs = read(d["input"] + ".parquet")
        with tr.span("dedup.exact_dedup"):
            keep = dedup.exact_dedup(docs).select(
                F.col("keep_id").alias("doc_id"))
            docs.join(keep, "doc_id", "left_semi").write.parquet(d["exact"])
        exact = read(d["exact"])
        with tr.span("dedup.near_dup_pairs"):
            dedup.ngram_jaccard_pairs(exact, method="lsh").write.parquet(
                d["pairs"])
        pairs = read(d["pairs"])
        with tr.span("dedup.clusters"):
            clusters = dedup.dedup_clusters(pairs)
            dedup.apply_dedup_clusters(exact, clusters).write.parquet(
                d["deduped"])
        deduped = read(d["deduped"])
        with tr.span("curation.quality_rules"):
            flags = curation.gopher_row_flags(deduped)
            good = deduped.join(flags.filter("passes_all").select("doc_id"),
                                "doc_id", "left_semi")
            good.write.parquet(d["curated"])
            audit = curation.gopher_rules(deduped).collect()
            curation.c4_rules(read(d["curated"])).collect()
        with tr.span("text.tfidf"):
            text.tfidf(read(d["curated"])).write.parquet(d["tfidf"])
        self.traced = tr.enabled
        if tr.enabled:
            self.add("_kept", sum(r["n_pass_all"] for r in audit))
            self.add("_deduped", sum(r["n_docs"] for r in audit))
        return self.truth["docs"]

    def after(self, i: int) -> None:
        d, t = self.dirs(i), self.truth
        if self.traced:
            # Candidates before verification, untimed: the same LSH
            # relation with the Jaccard cut at 0.
            from samplebatchprocessing_spark.operators import dedup
            self.add("dedup.candidate_pairs", dedup.ngram_jaccard_pairs(
                self.spark.read.parquet(d["exact"]), threshold=0.0,
                method="lsh").count())
            self.add("dedup.verified_pairs",
                      pq.read_table(d["pairs"]).num_rows)
        ids = set(pq.read_table(d["exact"], columns=["doc_id"])
                  .column("doc_id").to_pylist())
        want = set(range(t["docs"])) - set(t["exact_ids"])
        if ids != want:
            self.fail(f"job {i}: exact dedup kept {len(ids)} docs, "
                      f"planted truth keeps {len(want)}")
        texts = dict(zip(*pq.read_table(d["input"] + ".parquet",
                                        columns=["doc_id", "text"])
                         .to_pydict().values()))
        pairs = pq.read_table(d["pairs"]).to_pydict()
        found = set(zip(pairs["doc_a"], pairs["doc_b"]))
        recall = (sum((a, b) in found for a, b in t["near_pairs"])
                  / max(len(t["near_pairs"]), 1))
        self.extra["near_dup_recall"] = min(
            recall, self.extra.get("near_dup_recall", 1.0))
        if recall < NEAR_RECALL_FLOOR:
            self.fail(f"job {i}: near-dup recall {recall:.3f} "
                      f"< {NEAR_RECALL_FLOOR}")
        for a, b in found:
            sa, sb = gen.shingles(texts[a]), gen.shingles(texts[b])
            if len(sa & sb) / len(sa | sb) < JACCARD_THRESHOLD:
                self.fail(f"job {i}: pair ({a}, {b}) below threshold")
                break
        shutil.rmtree(os.path.dirname(d["input"]), ignore_errors=True)

    def finish(self, tr) -> None:
        c = self.counts
        if tr.enabled and c.get("dedup.candidate_pairs"):
            c["dedup.verify_yield"] = (c["dedup.verified_pairs"]
                                       / c["dedup.candidate_pairs"])
        if tr.enabled and c.get("_deduped"):
            c["curation.kept_ratio"] = c.pop("_kept") / c.pop("_deduped")


class Batch(Workload):
    """The batch side in one closed loop: two file drains (the paper's
    pipeline, the primary op) then one corpus curation job, a pattern
    that repeats.  A batch job runs in a fresh session, so a run times
    its cold start, as its user waits for it.  Both parts share the
    output checks and the counts; each keeps its own inputs under
    ``work``."""

    PATTERN = ("drain", "drain", "curate")
    PRIMARY = "drain"
    ITEMS = {"drain": "files", "curate": "docs"}
    item = "records"
    SIZES = {"full": "full", "tiny": "tiny"}

    def __init__(self, eng, work: str, seed: int, size: str):
        super().__init__(eng, work, seed, size)
        self.parts = {"drain": FileBatch(eng, os.path.join(work, "files"),
                                         seed, size),
                      "curate": CorpusCuration(
                          eng, os.path.join(work, "corpus"), seed, size)}
        for part in self.parts.values():
            part.errors, part.info = self.errors, self.info
            part.extra, part.counts = self.extra, self.counts

    def before(self, i: int) -> None:
        self.parts[self.kind(i)].before(i)

    def op(self, i: int, tr) -> int:
        return self.parts[self.kind(i)].op(i, tr)

    def after(self, i: int) -> None:
        self.parts[self.kind(i)].after(i)

    def finish(self, tr) -> None:
        for part in self.parts.values():
            part.finish(tr)


# -- serving: IVF probes and appends beside SQL queries -----------------

def _day(offset: int) -> str:
    return (gen.EPOCH + dt.timedelta(days=int(offset))).isoformat()


_REVENUE = ("SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
            "* (1 - CAST(l_discount AS DECIMAL(4,2))))")


def q1_pricing(rng) -> str:
    cutoff = dt.date(1998, 12, 1) - dt.timedelta(
        days=int(rng.integers(60, 121)))
    return f"""
SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
       SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_base_price,
       {_REVENUE} AS sum_disc_price, COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= DATE '{cutoff.isoformat()}'
GROUP BY l_returnflag, l_linestatus"""


def q5_local_supplier(rng) -> str:
    region = gen.REGIONS[int(rng.integers(5))]
    year = int(rng.integers(1993, 1998))
    return f"""
SELECT n_name, {_REVENUE} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = '{region}'
  AND o_orderdate >= DATE '{year}-01-01' AND o_orderdate < DATE '{year + 1}-01-01'
GROUP BY n_name"""


def star_join(rng) -> str:
    nation = f"NATION{int(rng.integers(25)):02d}"
    lo = int(rng.integers(1, 31))
    return f"""
SELECT c_mktsegment, p_brand, COUNT(*) AS n_lines,
       SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS gross
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_size BETWEEN {lo} AND {lo + 20} AND n_name = '{nation}'
GROUP BY c_mktsegment, p_brand"""


def rollup(rng) -> str:
    since = _day(rng.integers(0, gen.DAYS - 400))
    return f"""
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
FROM orders WHERE o_orderdate >= DATE '{since}'
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)"""


def window_topk(rng) -> str:
    start = int(rng.integers(0, gen.DAYS - 200))
    k = int(rng.integers(3, 8))
    return f"""
WITH rev AS (
  SELECT s_nationkey, l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE l_shipdate >= DATE '{_day(start)}' AND l_shipdate < DATE '{_day(start + 180)}'
  GROUP BY s_nationkey, l_suppkey)
SELECT s_nationkey, l_suppkey, revenue, rk FROM (
  SELECT s_nationkey, l_suppkey, revenue, ROW_NUMBER() OVER (
    PARTITION BY s_nationkey ORDER BY revenue DESC, l_suppkey) AS rk
  FROM rev) t
WHERE rk <= {k}"""


TEMPLATES = {f.__name__: f for f in
             (q1_pricing, q5_local_supplier, star_join, rollup, window_topk)}


def sql_query(seed: int, cycle: int, slot: int) -> tuple[str, str]:
    """(template, SQL) of the ``slot``-th query of ``cycle``: each cycle
    runs every template once, in a seeded order; parameters are seeded
    per query."""
    names = sorted(TEMPLATES)
    order = gen.rng_for(seed, "sql-order", cycle).permutation(len(names))
    name = names[int(order[slot])]
    return name, TEMPLATES[name](gen.rng_for(seed, "sql-params", cycle,
                                             slot))


class Serving(Workload):
    """One client issuing interactive requests in rounds of ten: four
    top-k probes of a persisted IVF index (a small query batch each),
    one append of new vectors under the frozen centroids, and five
    TPC-H-shaped SQL queries through ``Engine.sql`` (each template once
    per round, seeded order and parameters) over tables registered with
    ``Engine.attach``.  A cycle is two rounds, timed from a fresh
    session: the first round pays the cold start of every request kind,
    the second runs warm.  Probes are the primary op.  Reads beside
    writes on one index show a layout change that helps one and hurts
    the other; the SQL share keeps the catalog and query layers
    measured.

    Checks: probe recall@k against an exact numpy top-k over the live
    vector set, the index row count against the vectors written, and
    every SQL result against DuckDB over the same parquet files."""

    ROUND = ("query", "probe", "query", "probe", "query", "probe",
             "query", "probe", "query", "append")
    PATTERN = ROUND * 2
    PRIMARY = "probe"
    ITEMS = dict.fromkeys(PATTERN, "requests")
    item = "requests"
    SIZES = {"full": {"base": 4_000, "queries": 8, "append": 250,
                      "cells": 16, "probe": 4, "k": 10, "orders": 15_000},
             "tiny": {"base": 2_000, "queries": 2, "append": 50,
                      "cells": 4, "probe": 2, "k": 5, "orders": 600}}
    RECALL_FLOOR = 0.9

    def prepare(self, tr) -> None:
        from samplebatchprocessing_spark.operators import similarity
        p = self.p
        self.tables = os.path.join(self.work, "tables")
        self.info["tables"] = gen.tpch_tables(self.seed, self.tables,
                                              p["orders"])
        t0 = time.perf_counter()
        with tr.span("catalog.register_views"):
            self.eng.attach(self.tables)
        self.extra["attach_s"] = time.perf_counter() - t0

        self.src = gen.VectorSource(self.seed)
        self.live = [self.src.draw(p["base"], "base")]
        base_path = os.path.join(self.work, "base.parquet")
        gen.vectors_parquet(self.live[0], 0, base_path)
        self.index = os.path.join(self.work, "index")
        self.info["vectors"] = {
            "base": p["base"], "dim": self.src.dim,
            "clusters": self.src.n_clusters, "cells": p["cells"],
            "n_probe": p["probe"], "k": p["k"],
            "queries_per_probe": p["queries"],
            "vectors_per_append": p["append"]}
        emb = self.spark.read.parquet(base_path)
        t0 = time.perf_counter()
        with tr.span("similarity.ivf_index_write"):
            self.cmat = similarity.ivf_index_write(emb, self.index,
                                                   n_cells=p["cells"])
        self.extra["index_build_s"] = time.perf_counter() - t0
        self.probes: list[tuple[np.ndarray, int, list]] = []
        self.queries: list[tuple[str, str, list, list]] = []

    def before(self, i: int) -> None:
        if self.kind(i) == "append":
            self.delta_path = os.path.join(self.work, f"append{i}.parquet")
            self.delta = self.src.draw(self.p["append"], "append", i)
            gen.vectors_parquet(self.delta, sum(map(len, self.live)),
                                self.delta_path)

    def op(self, i: int, tr) -> int:
        getattr(self, f"_{self.kind(i)}")(i, tr)
        return 1

    def _append(self, i: int, tr) -> None:
        from samplebatchprocessing_spark.operators import similarity
        delta = self.spark.read.parquet(self.delta_path)
        with tr.span("similarity.ivf_append"):
            (similarity.ivf_assign(delta, self.cmat).write.mode("append")
             .partitionBy("cell").parquet(self.index))

    def _probe(self, i: int, tr) -> None:
        from pyspark.sql import functions as F
        from samplebatchprocessing_spark.exprs import local_df
        from samplebatchprocessing_spark.operators import similarity
        p = self.p
        q = self.src.draw(p["queries"], "query", i)
        qdf = local_df(self.spark, [(-(j + 1), q[j].tolist())
                                    for j in range(len(q))],
                       "vec_id long, embedding array<float>")
        with tr.span("similarity.ivf_index_probe"):
            rows = similarity.ivf_index_probe(
                self.spark, self.index, self.cmat, qdf, F.lit(True),
                k=p["k"], n_probe=p["probe"]).collect()
        self.probes.append((q, len(self.live), rows))

    def _query(self, i: int, tr) -> None:
        cycle, slot = divmod(i, len(self.ROUND))
        name, sql = sql_query(self.seed, cycle, slot // 2)
        with tr.span(f"engine.sql.{name}"):
            df = self.eng.sql(sql)
            rows = df.collect()
        self.queries.append((name, sql, df.columns, [tuple(r) for r in rows]))

    def after(self, i: int) -> None:
        if self.kind(i) == "append":
            self.live.append(self.delta)

    def finish(self, tr) -> None:
        self._check_probes()
        self._check_sql()
        if tr.enabled:
            self._layout_counts()

    def _check_probes(self) -> None:
        k, recalls = self.p["k"], []
        for q, n_live, rows in self.probes:
            live = np.concatenate(self.live[:n_live]).astype(np.float64)
            exact = np.argsort(-(q.astype(np.float64) @ live.T), axis=1,
                               kind="stable")[:, :k]
            got: dict[int, set] = {}
            for r in rows:
                got.setdefault(-r["query_id"] - 1, set()).add(r["vec_id"])
            for j in range(len(q)):
                if len(got.get(j, ())) != k:
                    self.fail(f"probe returned {len(got.get(j, ()))} rows "
                              f"for a query, want {k}")
                recalls.append(len(got.get(j, set()) & set(exact[j])) / k)
        recall = float(np.mean(recalls)) if recalls else 0.0
        self.extra["recall_at_k"] = recall
        if recall < self.RECALL_FLOOR:
            self.fail(f"mean recall@{k} {recall:.3f} < {self.RECALL_FLOOR}")
        n_rows = self.spark.read.parquet(self.index).count()
        live = sum(map(len, self.live))
        if n_rows != live:
            self.fail(f"index holds {n_rows} vectors, {live} were written")

    def _check_sql(self) -> None:
        from samplebatchprocessing_spark import oracle
        con = oracle.duck_conn(self.tables)
        try:
            for name, sql, cols, rows in self.queries:
                cur = con.execute(sql)
                d_cols = [c[0] for c in cur.description]
                want = oracle.rows_to_multiset(d_cols, cur.fetchall())
                if (sorted(cols) != sorted(d_cols)
                        or oracle.rows_to_multiset(cols, rows) != want):
                    self.fail(f"{name}: result differs from DuckDB")
        finally:
            con.close()
        self.info["queries"] = [(n, " ".join(s.split()))
                                for n, s, _, _ in self.queries]

    def _layout_counts(self) -> None:
        """Rows scored per result row (each probe's cells, sized from
        the vectors live at that probe under the frozen centroids) and
        data files per cell."""
        live = np.concatenate(self.live).astype(np.float64)
        cell_of = (live @ self.cmat.T).argmax(axis=1)
        scored = returned = 0
        for q, n_live, rows in self.probes:
            n_rows = sum(map(len, self.live[:n_live]))
            cell_rows = np.bincount(cell_of[:n_rows], minlength=len(self.cmat))
            cells = np.argsort(-(q.astype(np.float64) @ self.cmat.T),
                               axis=1)[:, :self.p["probe"]]
            scored += int(cell_rows[cells].sum())
            returned += len(rows)
        self.counts["similarity.candidates_per_result"] = scored / returned
        files = glob.glob(os.path.join(self.index, "cell=*", "*.parquet"))
        cells = glob.glob(os.path.join(self.index, "cell=*"))
        self.counts["similarity.files_per_cell"] = len(files) / len(cells)


WORKLOADS = {"batch": Batch, "serving": Serving}
