"""Streaming building blocks.

Mapping from the reference (SURVEY §3A):
- SQS long-poll loop (GetJobs.py:21-23)  -> file-source micro-batches;
  new-file discovery == message arrival (R3/R4)
- visibility timeout + delete-on-success (GetJobs.py:37-40,
  README.md:44-47) -> checkpointing + idempotent sinks (S8)
- drain-the-queue batch run               -> Trigger.AvailableNow

All jobs here run against a staged copy of the events fixture (the
file source wants a directory it can watch), with the same ns->µs
timestamp handling as the batch catalog.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import private_tmpdir


def _stage_root() -> str:
    """Where streaming scratch lives (staged sources, sinks,
    checkpoints): ``sbp_stream_<uid>`` in the per-user 0700 tempdir,
    resolved per call."""
    return private_tmpdir("sbp_stream")


def stage_table_dir(spark: SparkSession, sf_dir: str, table: str,
                    copies: int = 1, tag: str = "") -> str:
    """Stage ``<table>.parquet`` into a watchable directory (n copies
    — >1 simulates at-least-once redelivery for S6)."""
    src = f"{sf_dir.rstrip('/')}/{table}.parquet"
    # The source's (mtime, size) is part of the cache key: the driver
    # regenerates fixtures between rounds (observed 2026-08), and a
    # stale staged copy would silently feed every streaming query old
    # data while the oracle reads the new file.
    st = os.stat(src)
    # Two-part key: the VARIANT (sf_dir, copies, tag) identifies a
    # logically distinct staged dataset — several variants of one
    # table are concurrently live (S1 watches copies=1 while S6
    # watches copies=2) and must never GC each other; the SOURCE hash
    # (mtime, size) identifies the fixture generation, so a regen
    # changes only the suffix and the stale twin is unambiguous.
    vh = hashlib.md5(f"{sf_dir}|{copies}|{tag}".encode()).hexdigest()[:8]
    sh = hashlib.md5(f"{st.st_mtime_ns}|{st.st_size}"
                     .encode()).hexdigest()[:8]
    root = _stage_root()
    d = os.path.join(root, f"{table}_{vh}_{sh}")
    marker = os.path.join(d, "_STAGED")
    if not os.path.exists(marker):
        # GC superseded generations of THIS variant (ADVICE r4: a
        # fixture regen used to leave the previous generation's full
        # parquet copy behind, unbounded across rounds).
        for sib in os.listdir(root):
            if (sib.startswith(f"{table}_{vh}_")
                    and sib != f"{table}_{vh}_{sh}"):
                shutil.rmtree(os.path.join(root, sib), ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for i in range(copies):
            shutil.copy(src, os.path.join(d, f"{table}_{i}.parquet"))
        open(marker, "w").write("ok")
    return d


def stage_events_dir(spark: SparkSession, sf_dir: str,
                     copies: int = 1, tag: str = "") -> str:
    """Stage events.parquet into a watchable directory."""
    return stage_table_dir(spark, sf_dir, "events", copies, tag)


def events_stream(spark: SparkSession, sf_dir: str,
                  copies: int = 1, tag: str = "") -> DataFrame:
    """S1 source: micro-batch file stream of events with µs ts."""
    from ..session import ship_package
    ship_package(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # AQE cannot re-plan stateful streaming stages, so the static
    # shuffle-partition count is load-bearing here; replace the
    # (pathological for local) 200-partition default only.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    stage = stage_events_dir(spark, sf_dir, copies, tag)
    raw_schema = spark.read.parquet(
        f"{stage}/events_0.parquet").schema
    sdf = (spark.readStream.schema(raw_schema)
           .option("pathGlobFilter", "*.parquet")
           .parquet(stage))
    # Same lossless ts normalization + dtype-contract gate as the batch
    # catalog (nanos-as-long legacy shape OR the naive-µs TIMESTAMP_NTZ
    # regen shape -> TIMESTAMP; anything else fails loudly as ONE
    # SchemaDriftError instead of scattered streaming-query errors).
    from ..catalog import conform, normalize_events_ts
    return conform("events", normalize_events_ts(sdf))


def documents_stream(spark: SparkSession, sf_dir: str,
                     tag: str = "") -> DataFrame:
    """Micro-batch file stream of the documents table (for streaming
    curation/scoring shapes — S13).  Same conf hardening and
    dtype-contract gate as :func:`events_stream`; documents need no
    timestamp normalization."""
    from ..catalog import conform
    from ..session import ship_package
    ship_package(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    stage = stage_table_dir(spark, sf_dir, "documents", tag=tag)
    raw_schema = spark.read.parquet(
        f"{stage}/documents_0.parquet").schema
    sdf = (spark.readStream.schema(raw_schema)
           .option("pathGlobFilter", "*.parquet")
           .parquet(stage))
    return conform("documents", sdf)


def embeddings_stream(spark: SparkSession, sf_dir: str,
                      tag: str = "") -> DataFrame:
    """Micro-batch file stream of the embeddings table (streaming
    ANN/dedup shapes — S14).  Same conf hardening and dtype-contract
    gate as :func:`documents_stream`."""
    from ..catalog import conform
    from ..session import ship_package
    ship_package(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    stage = stage_table_dir(spark, sf_dir, "embeddings", tag=tag)
    raw_schema = spark.read.parquet(
        f"{stage}/embeddings_0.parquet").schema
    sdf = (spark.readStream.schema(raw_schema)
           .option("pathGlobFilter", "*.parquet")
           .parquet(stage))
    return conform("embeddings", sdf)


SESSION_GAP_US = 1800 * 1_000_000  # 30 min


def stateful_user_sessions(sdf: DataFrame) -> DataFrame:
    """Custom stateful operator (north-star mandate): per-user
    session statistics via ``applyInPandasWithState`` — logic a
    built-in streaming agg can't express (order-dependent gap
    scanning with carried state across micro-batches).

    State per user: (n_events, n_sessions, max_gap_us, last_ts_us).
    A new session starts when the gap to the previous event exceeds
    30 minutes.  All outputs are integers (µs arithmetic) — exact
    cross-engine oracle, no float drift.  State is bounded: 4 longs
    per user, independent of event volume."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ("user_id long, n_events long, n_sessions long, "
                  "max_gap_us long")
    state_schema = "n long, s long, g long, last long"

    def fn(key, pdfs, state):
        import pandas as pd
        n, s, g, last = state.get if state.exists else (0, 0, 0, -1)
        ts = pd.concat([pdf["ts_us"] for pdf in pdfs]).sort_values()
        for t in ts:
            t = int(t)
            if last < 0:
                s += 1
            else:
                gap = t - last
                if gap > g:
                    g = gap
                if gap > SESSION_GAP_US:
                    s += 1
            n += 1
            last = t
        state.update((n, s, g, last))
        yield pd.DataFrame([{"user_id": key[0], "n_events": n,
                             "n_sessions": s, "max_gap_us": g}])

    return (sdf.withColumn("ts_us", F.unix_micros("ts"))
            .select("user_id", "ts_us")
            .groupBy("user_id")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


_MEMO = {"n": 0}


def run_available_now(sdf_writer_input: DataFrame, *,
                      output_mode: str = "append") -> DataFrame:
    """Run a finite streaming query to completion (AvailableNow) into
    a memory sink; return the materialized result table."""
    _MEMO["n"] += 1
    name = f"sbp_stream_out_{_MEMO['n']}"
    q = (sdf_writer_input.writeStream
         .outputMode(output_mode)
         .format("memory")
         .queryName(name)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return sdf_writer_input.sparkSession.table(name)


def tws_user_totals(sdf: DataFrame) -> DataFrame:
    """Per-user exact running totals via the Spark 4
    ``transformWithStateInPandas`` API — the successor surface to
    ``applyInPandasWithState`` (S9): typed state handles
    (``getValueState``) owned by a ``StatefulProcessor`` object
    instead of a bare (key, pdfs, state) closure, with declared
    state schemas the engine can evolve/inspect.  State per user is
    two longs; values are fixed-point floor(value * 100) so the
    emitted totals are exact integers with a straight SQL oracle.

    ENVIRONMENT GATE (documented contract, like the multimodal
    decode stub): executing the query requires ``google.protobuf`` —
    the transformWithState Python state server speaks protobuf to
    the JVM, and this container does not ship it (installs are out
    of contract), so the operator has no registry row; the API
    surface is exercised by a pytest that SKIPS unless protobuf
    imports and otherwise asserts parity with the plain aggregate."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    class Totals(StatefulProcessor):
        def init(self, handle):
            self._st = handle.getValueState("totals", "n long, s long")

        def handleInputRows(self, key, rows, timerValues):
            n, s = (self._st.get() or (0, 0)) if self._st.exists() \
                else (0, 0)
            for pdf in rows:
                n += len(pdf)
                s += int(pdf["v100"].sum())
            self._st.update((n, s))
            yield pd.DataFrame([{"user_id": key[0], "n_events": n,
                                 "value_sum_x100": s}])

        def close(self):
            pass

    out_schema = "user_id long, n_events long, value_sum_x100 long"
    return (sdf.select("user_id",
                       F.floor(F.col("value") * 100).cast("long")
                       .alias("v100"))
            .groupBy("user_id")
            .transformWithStateInPandas(Totals(),
                                        outputStructType=out_schema,
                                        outputMode="Update",
                                        timeMode="None"))


def pack_manifest_batch(df, batch_id: int, out_dir: str,
                        state_dir: str, start_total: int,
                        seq_len: int = 128) -> None:
    """S25's per-micro-batch packing step, module-level so the
    restart-replay semantics are testable in isolation: pack the
    batch's docs at ``base_off`` = the latest prior epoch's recorded
    end total (``start_total`` when none exists), write the manifest
    slice as an idempotent per-epoch overwrite, then atomically
    record this epoch's end total.  Replaying a batch after a crash
    re-reads the SAME prior-epoch state (its own state write is
    keyed by epoch and simply overwritten), so the rewrite is
    byte-identical — the S8 commit discipline with one integer of
    cross-batch state."""
    import json
    import os

    from pyspark.sql import functions as F

    from ..operators import curation
    from ..operators.text import tokenize

    best = (-1, start_total)
    if os.path.isdir(state_dir):
        for f in os.listdir(state_dir):
            if not f.endswith(".json"):
                continue
            ep = int(f.split("=")[1].split(".")[0])
            if best[0] < ep < batch_id:
                with open(os.path.join(state_dir, f)) as fh:
                    best = ep, json.load(fh)["end_total"]
    base_off = best[1]
    n = df.select("doc_id",
                  F.size(tokenize(F.col("text")))
                  .cast("bigint").alias("n_tok"))
    m = curation.pack_offsets(n, "n_tok", "doc_id",
                              seq_len=seq_len, base_off=base_off)
    (m.select("doc_id", "n_tok", "start_off", "first_seq",
              "last_seq", "n_seqs")
     .write.mode("overwrite")
     .parquet(os.path.join(out_dir, f"epoch={batch_id}")))
    end = base_off + int(
        n.agg(F.sum("n_tok")).first()[0] or 0)
    os.makedirs(state_dir, exist_ok=True)
    tmp = os.path.join(state_dir, f".epoch={batch_id}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"end_total": end}, fh)
    os.replace(tmp, os.path.join(state_dir, f"epoch={batch_id}.json"))
