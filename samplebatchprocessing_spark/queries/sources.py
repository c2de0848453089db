"""Sources & sinks (SURVEY §2B P1-P8): format scans, roundtrips
through CSV/JSON/parquet sinks, partitioned writes, and the
reference-semantics manifest pipeline.

Roundtrip queries materialize under ``sbp_work_<uid>/<name>_<sf hash>/``
in the per-user 0700 tempdir (``session.private_tmpdir``), then
aggregate the re-read data; the oracle aggregates the original views
— equality proves the sink+source preserved values.  Double columns
survive text roundtrips because Spark writes shortest-repr doubles
(guaranteed re-parse identity).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..exprs import bounded_part, sql_dsum, dsum
from ..session import private_tmpdir


def _work_dir(sf_dir: str, name: str) -> str:
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(private_tmpdir("sbp_work"), f"{name}_{tag}")


def _copy_if_changed(src: str, dst: str) -> None:
    """Stage ``src`` at ``dst`` unless an up-to-date copy exists.
    (mtime, size) is the freshness key — the driver regenerates
    fixtures between rounds, and an exists-only check would silently
    keep feeding the pipeline stale bytes while the DuckDB oracle
    reads the new files."""
    import shutil
    st = os.stat(src)
    if os.path.exists(dst):
        dt = os.stat(dst)
        if dt.st_size == st.st_size and dt.st_mtime >= st.st_mtime:
            return
    shutil.copy2(src, dst)


def p1_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: parquet scan with projection + pushed filter (verified
    pushed in tests/test_plans.py)."""
    part = load_table(spark, sf_dir, "part")
    return (part.filter(F.col("p_size") > 25)
            .select("p_partkey", "p_brand", "p_size", "p_retailprice"))


P1_SQL = """
SELECT p_partkey, p_brand, p_size, p_retailprice
FROM part WHERE p_size > 25
"""


def p2_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: CSV sink + declared-schema scan; aggregate must equal the
    original (oracle aggregates the parquet view directly)."""
    out = _work_dir(sf_dir, "p2_csv")
    ord_ = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    ord_.write.mode("overwrite").option("header", True).csv(out)
    schema = T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ])
    back = spark.read.schema(schema).option("header", True).csv(out)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_orderkey").alias("key_sum"),
                 dsum("o_totalprice", "price_sum")))


P2_SQL = f"""
SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       {sql_dsum('o_totalprice')} AS price_sum
FROM orders GROUP BY o_orderstatus
"""


def p3_csv_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: schema-inferred CSV scan, oracle-paired: the group counts
    prove every row parsed, and the inferred schema is emitted as a
    literal column the oracle pins — if Spark's inference ever
    changes type for these columns, the hash flips."""
    out = _work_dir(sf_dir, "p2_csv")
    # Always re-materialize (overwrite-mode write, so idempotent): an
    # exists-only check would read a stale CSV after a fixture regen
    # while the oracle aggregates the new parquet.
    p2_csv_roundtrip(spark, sf_dir).count()
    back = spark.read.option("header", True).option(
        "inferSchema", True).csv(out)
    schema_str = ",".join(f"{f.name}:{f.dataType.simpleString()}"
                          for f in back.schema.fields)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("inferred_schema", F.lit(schema_str)))


P3_SQL = """
SELECT o_orderstatus, COUNT(*) AS n,
       'o_orderkey:int,o_custkey:int,o_orderstatus:string,o_totalprice:double'
         AS inferred_schema
FROM orders GROUP BY o_orderstatus
"""


def p4_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: JSON-lines sink + declared-schema scan."""
    out = _work_dir(sf_dir, "p4_json")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "props")
    ev.write.mode("overwrite").json(out)
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])
    back = spark.read.schema(schema).json(out)
    return (back.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("value", "value_sum"),
                 F.sum(F.get_json_object("props", "$.k").cast("long"))
                 .alias("k_sum")))


P4_SQL = f"""
SELECT event_type, COUNT(*) AS n, {sql_dsum('value')} AS value_sum,
       CAST(SUM(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT))
            AS BIGINT) AS k_sum
FROM events GROUP BY event_type
"""


def p6_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: parquet sink roundtrip (overwrite mode = the reference's
    deterministic-output-key idempotence, GetJobs.py:57-60)."""
    out = _work_dir(sf_dir, "p6_parquet")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") >= 25)
    li.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return (back.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("l_extendedprice", "price_sum")))


P6_SQL = f"""
SELECT l_returnflag, COUNT(*) AS n, {sql_dsum('l_extendedprice')} AS price_sum
FROM lineitem WHERE l_quantity >= 25 GROUP BY l_returnflag
"""


def p9_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: ORC sink + scan (Spark's other first-class columnar
    format).  Same aggregate-equality oracle pattern as P6: the
    oracle aggregates the original parquet view, so a match proves
    the ORC sink+source preserved every value."""
    out = _work_dir(sf_dir, "p9_orc")
    ord_ = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 50000)
    ord_.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("o_totalprice", "spend"),
                 F.min("o_orderdate").alias("first_date"),
                 F.max("o_orderkey").alias("max_key")))


P9_SQL = f"""
SELECT o_orderstatus, COUNT(*) AS n, {sql_dsum('o_totalprice')} AS spend,
       MIN(o_orderdate) AS first_date, MAX(o_orderkey) AS max_key
FROM orders WHERE o_totalprice >= 50000 GROUP BY o_orderstatus
"""


def p15_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15 (r5): line-oriented TEXT sink + scan — the remaining
    first-class Spark file format (parquet P6, ORC P9, CSV P2/P3,
    JSON P4, binaryFile P5).  One record per line: the documents
    table serialized as ``doc_id<TAB>n_chars<TAB>md5(text)``, written
    with the text sink, read back with ``spark.read.text`` and
    re-parsed.  The oracle derives the same aggregate directly from
    the documents view, so a match proves the sink+scan+parse chain
    preserved every field.  Roundtrip is row-local both ways — at
    scale this is the cheapest interchange format there is."""
    out = _work_dir(sf_dir, "p15_text")
    doc = load_table(spark, sf_dir, "documents")
    line = F.concat_ws("\t", F.col("doc_id").cast("string"),
                       F.col("n_chars").cast("string"),
                       F.md5(F.col("text")))
    doc.select(line.alias("value")).write.mode("overwrite").text(out)
    back = spark.read.text(out)
    parts = F.split(F.col("value"), "\t")
    parsed = back.select(
        parts.getItem(0).cast("long").alias("doc_id"),
        parts.getItem(1).cast("long").alias("n_chars"),
        parts.getItem(2).alias("text_md5"))
    return (parsed.groupBy((F.col("doc_id") % 10).alias("id_mod"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_chars").alias("chars"),
                 F.count_distinct("text_md5").alias("n_distinct_md5"),
                 F.max("doc_id").alias("max_id")))


P15_SQL = """
SELECT doc_id % 10 AS id_mod, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars,
       COUNT(DISTINCT MD5(text)) AS n_distinct_md5,
       MAX(doc_id) AS max_id
FROM documents GROUP BY doc_id % 10
"""


def p7_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: hive-style partitioned sink + partition-pruned re-read.
    The pruning (only 2 of 6 partition dirs scanned) is asserted in
    tests/test_plans.py; values here prove integrity."""
    out = _work_dir(sf_dir, "p7_part")
    li = load_table(spark, sf_dir, "lineitem")
    (li.write.mode("overwrite")
     .partitionBy("l_returnflag", "l_linestatus").parquet(out))
    back = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    return (back.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("l_quantity", "qty_sum")))


P7_SQL = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {sql_dsum('l_quantity')} AS qty_sum
FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_returnflag, l_linestatus
"""


def p8_manifest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: the reference's pipeline end-to-end with the identity
    transform (user-data.sh:4 `COMMAND="cp"`): stage fixture files as
    input objects, build the job manifest, process, and report the
    commit log with an input==output md5 check per file.  Rows-only
    driver check; byte-exactness asserted in tests/test_pipeline.py.
    """
    import glob

    from ..pipeline.manifest import build_manifest, run_pipeline

    bucket = _work_dir(sf_dir, "p8_bucket")
    in_dir = os.path.join(bucket, "input")
    os.makedirs(in_dir, exist_ok=True)
    for src in sorted(glob.glob(f"{sf_dir.rstrip('/')}/*.parquet")):
        _copy_if_changed(src, os.path.join(in_dir, os.path.basename(src)))

    manifest = build_manifest(spark, bucket)
    log = run_pipeline(spark, manifest, transform=None, ext=".out")
    # materialize: executors write output files as a side effect, and
    # the binaryFile read below needs them on disk at plan time
    log = log.cache()
    log.count()

    inputs = (spark.read.format("binaryFile").load(in_dir)
              .select(F.regexp_extract("path", r"([^/]+)$", 1)
                      .alias("file_name"),
                      F.md5("content").alias("in_md5")))
    outputs = (spark.read.format("binaryFile")
               .load(os.path.join(bucket, "output"))
               .select(F.regexp_replace(
                   F.regexp_extract("path", r"([^/]+)$", 1),
                   r"\.out$", "").alias("file_name"),
                   F.md5("content").alias("out_md5")))
    return (log.join(inputs, "file_name").join(outputs, "file_name")
            .select("file_name", "in_bytes", "out_bytes", "ok",
                    (F.col("in_md5") == F.col("out_md5"))
                    .alias("bytes_identical")))


# The identity pipeline's commit log IS oracle-checkable: the input
# objects are copies of the fixture files, so names and byte sizes
# come straight from read_blob, and identity implies out == in.
P8_SQL = """
SELECT parse_filename(filename) AS file_name,
       size AS in_bytes, size AS out_bytes,
       TRUE AS ok, TRUE AS bytes_identical
FROM read_blob('/root/testdata/sf0.01/*.parquet')
"""


def p10_watch_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: the reference's long-poll consumer as a CHECKPOINTED
    batch drain (R4 made rigorous) — stage the fixture files as input
    objects, drain with ``watch_prefix``, return the distinct commit
    log.  Re-running is a no-op drain (a file logged under the
    checkpoint == SQS delete-on-success), so the log is stable across
    repeats and oracle-checkable against the blob listing."""
    import glob

    from ..pipeline.manifest import watch_prefix

    bucket = _work_dir(sf_dir, "p10_watch")
    in_dir = os.path.join(bucket, "input")
    os.makedirs(in_dir, exist_ok=True)
    for src in sorted(glob.glob(f"{sf_dir.rstrip('/')}/*.parquet")):
        _copy_if_changed(src, os.path.join(in_dir, os.path.basename(src)))
    log = watch_prefix(spark, bucket)
    return log.select("file_name", "in_bytes", "out_bytes", "ok").distinct()


P10_SQL = """
SELECT parse_filename(filename) AS file_name,
       size AS in_bytes, size AS out_bytes, TRUE AS ok
FROM read_blob('/root/testdata/sf0.01/*.parquet')
"""


def p20_poison_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P20 (r9, VERDICT r8 #5): POISON-MESSAGE QUARANTINE — the one
    delivery semantics the reference lacks (GetJobs.py:54-56 loops a
    permanently-failing job forever via visibility-timeout
    redelivery; README.md:44-47, no dead-letter queue), completed
    here: after ``max_attempts`` failed deliveries, the watch path's
    :func:`pipeline.manifest.quarantine_sweep` moves the input out of
    the watched prefix and records it in an append-only ledger.

    The scenario really runs end to end: stage the fixture parquet
    files plus one literal poison object, drain three times under
    FRESH checkpoints (fresh checkpoint == redelivery of everything;
    good files recommit idempotently, the poison file fails each
    time, so its attempt count IS its commit-log failure history),
    sweep, then drain a fourth time to PROVE the loop is broken (the
    poison input is gone, so the post-sweep drain adds zero new
    failure rows) and sweep again to prove idempotence (second sweep
    appends no ledger rows).

    Declared per-file output: newest commit status, failure count,
    ledger membership, plus the two table-level proof booleans."""
    import glob
    import shutil

    from ..pipeline.manifest import (_read_log, commit_log,
                                     quarantine_sweep, watch_prefix)

    bucket = _work_dir(sf_dir, "p20_poison")
    if os.path.exists(bucket):          # deterministic re-run
        shutil.rmtree(bucket)
    in_dir = os.path.join(bucket, "input")
    os.makedirs(in_dir)
    for src in sorted(glob.glob(f"{sf_dir.rstrip('/')}/*.parquet")):
        _copy_if_changed(src, os.path.join(in_dir, os.path.basename(src)))
    with open(os.path.join(in_dir, "poison.bin"), "wb") as f:
        f.write(b"POISON")

    def guard(raw: bytes) -> bytes:
        if raw[:6] == b"POISON":
            raise ValueError("poison input")
        return raw

    for attempt in (1, 2, 3):
        watch_prefix(spark, bucket, transform=guard,
                     checkpoint=os.path.join(bucket, f"_ckpt{attempt}"))
    ledger = quarantine_sweep(spark, bucket, max_attempts=3)
    n_ledger = ledger.count()
    log_dir = os.path.join(bucket, "_commit_log")
    fails_before = _read_log(spark, log_dir).filter(~F.col("ok")).count()
    watch_prefix(spark, bucket, transform=guard,
                 checkpoint=os.path.join(bucket, "_ckpt4"))
    fails_after = _read_log(spark, log_dir).filter(~F.col("ok")).count()
    n_ledger2 = quarantine_sweep(spark, bucket, max_attempts=3).count()

    history = _read_log(spark, log_dir)
    n_fail = (history.groupBy("file_name")
              .agg(F.sum(F.when(~F.col("ok"), 1).otherwise(0))
                   .alias("n_failures")))
    in_ledger = ledger.select(
        "file_name", F.lit(True).alias("quarantined"))
    return (commit_log(spark, bucket)
            .select("file_name", "in_bytes", "ok")
            .join(n_fail, "file_name")
            .join(in_ledger, "file_name", "left")
            .select("file_name", "in_bytes", "ok", "n_failures",
                    F.coalesce("quarantined", F.lit(False))
                    .alias("quarantined"),
                    F.lit(fails_after == fails_before)
                    .alias("loop_broken"),
                    F.lit(n_ledger2 == n_ledger == 1)
                    .alias("sweep_idempotent")))


P20_SQL = """
SELECT parse_filename(filename) AS file_name, size AS in_bytes,
       TRUE AS ok, CAST(0 AS BIGINT) AS n_failures,
       FALSE AS quarantined, TRUE AS loop_broken,
       TRUE AS sweep_idempotent
FROM read_blob('/root/testdata/sf0.01/*.parquet')
UNION ALL
SELECT 'poison.bin', 6, FALSE, CAST(3 AS BIGINT), TRUE, TRUE, TRUE
"""


def p21_object_store_quarantine(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """P21 (r10, VERDICT r9 #3): the p20 poison quarantine on the
    reference's REAL deployment surface — an OBJECT-STORE bucket
    driven end to end through the :class:`ObjectStoreClient` verbs
    (put/get/copy/delete/list), never a POSIX path.  The
    reference's flow is S3-native (GetJobs.py:48-60 downloads from
    s3InputBucket, uploads via key put); the sandbox has no network
    store, so the scheme-faithful ``LocalObjectStoreClient`` double
    stands in while every object byte still moves through the verb
    contract.

    Scenario: stage the fixture files plus one poison object INTO
    the store with ``put`` before any Spark job (SendJobs.py:26-28);
    deliver one job row per object three times through
    :func:`run_pipeline` (one-PUT commit, returncode gate — the
    worker GETs each input object by its job row, the poison object
    fails each delivery, and each run's log rows append
    run_seq-tagged exactly like a watch drain); sweep through the
    store verbs; then PROVE via
    ``store.list`` that the poison object left ``input/`` and landed
    in ``quarantine/`` (``moved_in_store``), that a fourth delivery
    over the SURVIVING input listing adds zero failure rows
    (``loop_broken``), and that a second sweep appends nothing
    (``sweep_idempotent``).  Control tables (commit log, ledger)
    stay on a Spark-readable filesystem via the log_dir/ledger_dir
    seam — on a real deployment they live in the bucket itself (s3a
    is a Hadoop filesystem; the listing verbs only govern DATA
    objects)."""
    import glob
    import shutil

    from ..exprs import local_df
    from ..pipeline.manifest import (MANIFEST_SCHEMA,
                                     LocalObjectStoreClient, _read_log,
                                     commit_log, quarantine_sweep,
                                     run_pipeline)
    from ..session import ship_package
    ship_package(spark)   # store class unpickles in the Python worker

    root = _work_dir(sf_dir, "p21_store")
    ctrl = _work_dir(sf_dir, "p21_ctrl")
    for d in (root, ctrl):              # deterministic re-run
        if os.path.exists(d):
            shutil.rmtree(d)
    log_dir = os.path.join(ctrl, "commit_log")
    ledger_dir = os.path.join(ctrl, "ledger")
    store = LocalObjectStoreClient(root)
    bucket = "mock://p21-bucket"

    names = [os.path.basename(p) for p in
             sorted(glob.glob(f"{sf_dir.rstrip('/')}/*.parquet"))]
    for name in names:
        with open(os.path.join(sf_dir, name), "rb") as f:
            store.put(f"p21-bucket/input/{name}", f.read())
    store.put("p21-bucket/input/poison.bin", b"POISON")
    names.append("poison.bin")

    def guard(raw: bytes) -> bytes:
        if raw[:6] == b"POISON":
            raise ValueError("poison input")
        return raw

    jobs = local_df(spark, [("process", bucket, "input/", "output/", n)
                            for n in names], MANIFEST_SCHEMA)

    def deliver(frame: DataFrame, run_seq: float) -> None:
        (run_pipeline(spark, frame, transform=guard, ext=".out",
                      store=store)
         .withColumn("run_seq", F.lit(run_seq))
         .withColumn("batch_id", F.lit(0))
         .write.mode("append").parquet(log_dir))

    for attempt in (1, 2, 3):
        deliver(jobs, float(attempt))

    ledger = quarantine_sweep(spark, bucket, store=store,
                              log_dir=log_dir, ledger_dir=ledger_dir,
                              max_attempts=3)
    n_ledger = ledger.count()
    in_keys = store.list("p21-bucket/input/")
    q_keys = store.list("p21-bucket/quarantine/")
    moved_in_store = ("p21-bucket/input/poison.bin" not in in_keys
                      and "p21-bucket/quarantine/poison.bin" in q_keys
                      and len(in_keys) == len(names) - 1)

    # 4th delivery over what the STORE says is still in input/
    alive = sorted(k.rsplit("/", 1)[-1] for k in in_keys)
    fails_before = _read_log(spark, log_dir).filter(~F.col("ok")).count()
    deliver(jobs.filter(F.col("file_name").isin(alive)), 4.0)
    fails_after = _read_log(spark, log_dir).filter(~F.col("ok")).count()
    n_ledger2 = quarantine_sweep(spark, bucket, store=store,
                                 log_dir=log_dir, ledger_dir=ledger_dir,
                                 max_attempts=3).count()

    history = _read_log(spark, log_dir)
    n_fail = (history.groupBy("file_name")
              .agg(F.sum(F.when(~F.col("ok"), 1).otherwise(0))
                   .alias("n_failures")))
    in_ledger = ledger.select(
        "file_name", F.lit(True).alias("quarantined"))
    return (commit_log(spark, bucket, log_dir=log_dir)
            .select("file_name", "in_bytes", "ok")
            .join(n_fail, "file_name")
            .join(in_ledger, "file_name", "left")
            .select("file_name", "in_bytes", "ok", "n_failures",
                    F.coalesce("quarantined", F.lit(False))
                    .alias("quarantined"),
                    F.lit(bool(moved_in_store)).alias("moved_in_store"),
                    F.lit(fails_after == fails_before)
                    .alias("loop_broken"),
                    F.lit(n_ledger2 == n_ledger == 1)
                    .alias("sweep_idempotent")))


P21_SQL = """
SELECT parse_filename(filename) AS file_name, size AS in_bytes,
       TRUE AS ok, CAST(0 AS BIGINT) AS n_failures,
       FALSE AS quarantined, TRUE AS moved_in_store,
       TRUE AS loop_broken, TRUE AS sweep_idempotent
FROM read_blob('/root/testdata/sf0.01/*.parquet')
UNION ALL
SELECT 'poison.bin', 6, FALSE, CAST(3 AS BIGINT), TRUE, TRUE, TRUE,
       TRUE
"""


def p11_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: small-file compaction — the 100 TB housekeeping op.
    Stage orders as 64 tiny parquet files (the pathological layout a
    per-trigger streaming sink leaves behind), compact to 4 with a
    single repartition write, and prove the compacted copy preserves
    values (aggregate equality vs the original) while actually
    shrinking the file count (driver-side listing -> boolean)."""
    out_small = _work_dir(sf_dir, "p11_small")
    out_big = _work_dir(sf_dir, "p11_compact")
    ord_ = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    ord_.repartition(64).write.mode("overwrite").parquet(out_small)
    small = spark.read.parquet(out_small)
    small.repartition(4).write.mode("overwrite").parquet(out_big)
    n_small = len([f for f in os.listdir(out_small)
                   if f.endswith(".parquet")])
    n_big = len([f for f in os.listdir(out_big)
                 if f.endswith(".parquet")])
    back = spark.read.parquet(out_big)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("o_totalprice", "total"))
            .withColumn("compacted", F.lit(n_small > n_big)))


P11_SQL = f"""
SELECT o_orderstatus, COUNT(*) AS n, {sql_dsum('o_totalprice')} AS total,
       TRUE AS compacted
FROM orders GROUP BY o_orderstatus
"""


def p12_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12: schema-evolution read — two parquet batches written with
    DIFFERENT column sets (the old snapshot lacks o_custkey, the new
    one lacks o_totalprice), read as one dataset with mergeSchema;
    missing columns surface as NULLs.  The oracle derives every
    aggregate arithmetically from the single orders view (each batch
    is one full copy), so no staged paths leak into the SQL."""
    base = _work_dir(sf_dir, "p12_evolve")
    ord_ = load_table(spark, sf_dir, "orders")
    ord_.select("o_orderkey", "o_totalprice").write.mode(
        "overwrite").parquet(os.path.join(base, "b1"))
    ord_.select("o_orderkey", "o_custkey").write.mode(
        "overwrite").parquet(os.path.join(base, "b2"))
    back = (spark.read.option("mergeSchema", True)
            .parquet(os.path.join(base, "b1"), os.path.join(base, "b2")))
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("n_cust"),
        F.count("o_totalprice").alias("n_price"),
        F.sum("o_orderkey").alias("key_sum"))


P12_SQL = """
SELECT 2 * COUNT(*) AS n_rows,
       COUNT(*) AS n_cust,
       COUNT(*) AS n_price,
       CAST(2 * SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
"""


def p13_corrupt_tolerant_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13: corrupt-record-tolerant ingestion — a malformed-row CSV
    read under PERMISSIVE mode with a corrupt-record column, so bad
    rows are quarantined instead of failing the job (the production
    posture for 100 TB of scraped input; at scale add
    ``badRecordsPath`` for a quarantine sink).  Every 10th key's line
    is staged malformed, so the oracle derives clean/corrupt counts
    arithmetically from the orders view."""
    out = _work_dir(sf_dir, "p13_corrupt")
    os.makedirs(out, exist_ok=True)
    rows = (load_table(spark, sf_dir, "orders")
            .select("o_orderkey")
            .filter(F.col("o_orderkey") <= 1000)
            .orderBy("o_orderkey").collect())
    path = os.path.join(out, "data.csv")
    with open(path, "w") as fh:
        for r in rows:
            k = r["o_orderkey"]
            if k % 10 == 0:
                fh.write("garbage,not-a-number,unexpected,extra\n")
            else:
                fh.write(f"{k},{k * 2}\n")
    schema = T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("doubled", T.LongType()),
        T.StructField("_corrupt", T.StringType()),
    ])
    back = (spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(path))
    return back.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_clean"),
        F.count("_corrupt").alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("o_orderkey")))
         .alias("clean_key_sum"))


P13_SQL = """
SELECT COUNT(*) FILTER (o_orderkey % 10 <> 0) AS n_clean,
       COUNT(*) FILTER (o_orderkey % 10 = 0) AS n_corrupt,
       CAST(SUM(o_orderkey) FILTER (o_orderkey % 10 <> 0) AS BIGINT)
         AS clean_key_sum
FROM orders WHERE o_orderkey <= 1000
"""


def p14_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14: custom Python Data Source (Spark 4
    ``pyspark.sql.datasource``) — register, plan 8 explicit input
    partitions, stream 10k deterministic rows, aggregate per bucket.
    The payload arithmetic (id*MULT % MOD) is replayed exactly by the
    DuckDB twin over RANGE(10000), so the oracle audits the entire
    custom-source read path (schema, options, partition planning,
    per-partition readers), not a sample."""
    from ..operators import pysource
    pysource.register(spark)
    df = (spark.read.format("synth_events")
          .option("n_rows", 10000).option("n_parts", 8).load())
    return (df.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("value").alias("sum_value"),
                 F.min("id").alias("min_id"),
                 F.max("id").alias("max_id")))


P14_SQL = """
WITH g AS (
  SELECT i AS id,
         CAST((i * 2654435761) % 1000003 % 16 AS INT) AS bucket,
         (i * 2654435761) % 1000003 AS value
  FROM (SELECT UNNEST(RANGE(0, 10000)) AS i))
SELECT bucket, COUNT(*) AS n, CAST(SUM(value) AS BIGINT) AS sum_value,
       MIN(id) AS min_id, MAX(id) AS max_id
FROM g GROUP BY bucket
"""


def p17_python_stream_source(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """P17 (r5): the STREAMING half of the Python Data Source API —
    the same registered source read with ``spark.readStream``
    through its ``SimpleDataSourceStreamReader``: position offsets,
    128-row micro-batches (10k rows = ~79 batches), exact replay via
    ``readBetweenOffsets``.  The finite stream drains with
    ``processAllAvailable`` (AvailableNow snapshots only the simple
    reader's FIRST prefetched chunk — measured: 1 batch of 128 rows)
    into the same per-bucket aggregate as P14, so the twin audits
    the whole streaming read path — offset management included: a
    skipped or double-read batch changes the counts."""
    from ..exprs import local_df
    from ..operators import pysource
    pysource.register(spark)
    # r15 (guide §2.2): the stateful aggregate's key space is the
    # synth source's 16 buckets, but the stream's state partitioning
    # is locked at start to spark.sql.shuffle.partitions — with the
    # bench session's 32 that is 79 micro-batches x 32 state-store
    # partitions of commit machinery for 16 keys (measured at
    # sf-independent 10k rows: 67-80 s wall / ~700 s tree CPU ->
    # 26 s / 126 s pinned).  Pin the stream's shuffle width to the
    # key-space bound — correct at ANY scale because the state never
    # has more than 16 rows; batch-side parallelism is unaffected
    # (the source's range partitions are planned independently).
    # Output identical (oracle + equality-checked when this landed).
    # The pin lives on a CLONE of the caller's session, so the
    # caller's conf never changes, not even while the stream runs.
    # cloneSession (Spark's own session fork, reached through py4j)
    # carries the caller's conf and registered data sources, where
    # newSession() starts from neither and cannot re-register a
    # source name the caller already holds.
    stream_spark = SparkSession(spark.sparkContext,
                                spark._jsparkSession.cloneSession())
    stream_spark.conf.set("spark.sql.shuffle.partitions", "16")
    sdf = (stream_spark.readStream.format("synth_events")
           .option("n_rows", 10000).option("chunk", 128).load())
    agg = (sdf.groupBy("bucket")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("sum_value"),
                F.min("id").alias("min_id"),
                F.max("id").alias("max_id")))
    name = "p17_stream_out"
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName(name).trigger(processingTime="0 seconds")
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the memory sink's view lives in the clone; hand the caller its
    # 16 result rows on the caller's own session
    out = stream_spark.table(name)
    return local_df(spark, out.collect(), out.schema)



def p19_arrow_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P19 (r5): the COLUMNAR fast path of the Python Data Source —
    the same source with ``arrow=true``, where each partition reader
    yields one numpy-built pyarrow RecordBatch instead of per-row
    tuples (the form that keeps a custom Python source viable at
    scale: vectorized construction, zero per-row pickling).  Shares
    P14's arithmetic oracle, so row-path and Arrow-path must agree
    bit-for-bit."""
    from ..operators import pysource
    pysource.register(spark)
    df = (spark.read.format("synth_events")
          .option("n_rows", 10000).option("n_parts", 8)
          .option("arrow", "true").load())
    return (df.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("value").alias("sum_value"),
                 F.min("id").alias("min_id"),
                 F.max("id").alias("max_id")))


def p18_python_stream_sink(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """P18 (r5): custom Python streaming SINK
    (``DataSourceStreamWriter``) — the write-side completion of the
    Python Data Source API (P14 batch read, P17 streaming read): the
    synthetic stream writes through executor-side Python tasks into
    JSON-lines files with per-batch commit journals (the P8
    manifest-commit discipline), then the files are READ BACK and
    aggregated.  Commit journals must account for every written file
    and row — the audit joins the journal totals against the re-read
    totals as declared booleans the oracle states TRUE, plus the
    exact per-bucket aggregate shared with P14."""
    import glob
    import json
    import shutil
    from ..operators import pysource
    pysource.register(spark)
    out = _work_dir(sf_dir, "p18_pysink")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    sdf = (spark.readStream.format("synth_events")
           .option("n_rows", 10000).option("chunk", 1024).load())
    q = (sdf.writeStream.format("synth_events")
         .option("path", out)
         .option("checkpointLocation", os.path.join(out, "_ckpt"))
         .outputMode("append")
         .trigger(processingTime="0 seconds").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    journal_rows = 0
    journal_files = 0
    for log in glob.glob(os.path.join(out, "_commit_*.json")):
        with open(log) as fh:
            for entry in json.load(fh):
                journal_files += 1
                journal_rows += entry["n"]
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("value", T.LongType()),
    ])
    back = (spark.read.schema(schema)
            .option("pathGlobFilter", "*.jsonl").json(out))
    n_files = len(glob.glob(os.path.join(out, "*.jsonl")))
    agg = (back.groupBy("bucket")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("sum_value")))
    tot = (back.agg(F.count(F.lit(1)).alias("_n")).collect()[0]["_n"])
    return agg.withColumn(
        "journal_matches",
        F.lit(journal_rows == tot and journal_files == n_files))


P18_SQL = """
WITH g AS (
  SELECT i AS id,
         CAST((i * 2654435761) % 1000003 % 16 AS INT) AS bucket,
         (i * 2654435761) % 1000003 AS value
  FROM (SELECT UNNEST(RANGE(0, 10000)) AS i))
SELECT bucket, COUNT(*) AS n, CAST(SUM(value) AS BIGINT) AS sum_value,
       TRUE AS journal_matches
FROM g GROUP BY bucket
"""


def p16_corrupt_tolerant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P16 (r5): corrupt-record-tolerant JSON-lines ingestion — the
    p13 posture on the other wire format scraped corpora actually
    arrive in.  Every 10th key's line is staged as invalid JSON and a
    further every-10th-offset-5 line as type-mismatched JSON (valid
    syntax, wrong type — PERMISSIVE nulls the field and quarantines
    the raw line), so both failure classes are exercised; the oracle
    derives the three-way split arithmetically from the orders view."""
    out = _work_dir(sf_dir, "p16_corrupt_json")
    os.makedirs(out, exist_ok=True)
    rows = (load_table(spark, sf_dir, "orders")
            .select("o_orderkey")
            .filter(F.col("o_orderkey") <= 1000)
            .orderBy("o_orderkey").collect())
    path = os.path.join(out, "data.jsonl")
    with open(path, "w") as fh:
        for r in rows:
            k = r["o_orderkey"]
            if k % 10 == 0:
                fh.write('{"o_orderkey": ' + str(k) + ", broken\n")
            elif k % 10 == 5:
                fh.write('{"o_orderkey": "' + "k" + str(k)
                         + '", "doubled": ' + str(k * 2) + "}\n")
            else:
                fh.write('{"o_orderkey": ' + str(k)
                         + ', "doubled": ' + str(k * 2) + "}\n")
    schema = T.StructType([
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("doubled", T.LongType()),
        T.StructField("_corrupt", T.StringType()),
    ])
    back = (spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .json(path))
    clean = F.col("_corrupt").isNull() & F.col("o_orderkey").isNotNull()
    return back.agg(
        F.count(F.when(clean, 1)).alias("n_clean"),
        F.count(F.when(F.col("_corrupt").isNotNull()
                       & F.col("doubled").isNotNull(), 1))
         .alias("n_type_mismatch"),
        F.count(F.when(F.col("_corrupt").isNotNull()
                       & F.col("doubled").isNull(), 1))
         .alias("n_malformed"),
        F.sum(F.when(clean, F.col("o_orderkey"))).alias("clean_key_sum"))


P16_SQL = """
SELECT COUNT(*) FILTER (o_orderkey % 10 NOT IN (0, 5)) AS n_clean,
       COUNT(*) FILTER (o_orderkey % 10 = 5) AS n_type_mismatch,
       COUNT(*) FILTER (o_orderkey % 10 = 0) AS n_malformed,
       CAST(SUM(o_orderkey) FILTER (o_orderkey % 10 NOT IN (0, 5))
            AS BIGINT) AS clean_key_sum
FROM orders WHERE o_orderkey <= 1000
"""


def t5_range_sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 (r5): range-partitioned globally-sorted LAYOUT — the
    scale-correct form of "write the table sorted": repartitionByRange
    samples split points so each of the 8 output files owns a disjoint
    (o_totalprice, o_orderkey) range, and sortWithinPartitions orders
    rows inside each file — a distributed external sort with no
    single-partition stage.  Verification reads the files back with
    input_file_name and PROVES the layout: per-file [min, max] ranges,
    ordered by min, must be non-overlapping (touching allowed at
    boundary ties) — plus value preservation.  The oracle states the
    structural booleans TRUE (a10-style) and derives the aggregates
    from the orders view."""
    out = _work_dir(sf_dir, "t5_sorted")
    ord_ = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    (ord_.repartitionByRange(8, "o_totalprice", "o_orderkey")
     .sortWithinPartitions("o_totalprice", "o_orderkey")
     .write.mode("overwrite").parquet(out))
    back = (spark.read.parquet(out)
            .withColumn("f", F.input_file_name()))
    from pyspark.sql import Window as W
    stats = (back.groupBy("f")
             .agg(F.min("o_totalprice").alias("mn"),
                  F.max("o_totalprice").alias("mx"),
                  F.count(F.lit(1)).alias("c")))
    # files-sized frame (bounded); r7 bounded_part keeps it off the
    # no-partition WindowExec warning path
    w = W.partitionBy(bounded_part("c")).orderBy("mn", "f")
    chk = (stats.withColumn("prev_mx", F.lag("mx").over(w))
           .agg(F.count(F.lit(1)).alias("n_files"),
                F.min(F.coalesce(F.col("prev_mx") <= F.col("mn"),
                                 F.lit(True))).alias("ranges_ordered"),
                F.sum("c").alias("n_rows")))
    total = back.agg(dsum("o_totalprice", "price_sum"))
    return (chk.crossJoin(total)
            .select((F.col("n_files") <= 8).alias("files_le_8"),
                    "ranges_ordered", "n_rows", "price_sum"))


T5_SQL = f"""
SELECT TRUE AS files_le_8, TRUE AS ranges_ordered,
       COUNT(*) AS n_rows, {sql_dsum('o_totalprice')} AS price_sum
FROM orders
"""


def m7_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 (r5): Z-ORDER (Morton-curve) layout — T5 sorts one key;
    Z-ordering interleaves the bits of TWO normalized keys
    (l_partkey, l_suppkey -> 8 bits each) so range-partitioning on
    the curve clusters files in BOTH dimensions at once — the
    data-skipping layout for multi-dimensional predicates (the
    OPTIMIZE ZORDER idea, public).  Verification reads the files
    back and measures the per-file min/max EXTENT of each dimension:
    Z-ordered files average 0.58 of the partkey range and 0.34 of
    the suppkey range (an unclustered layout scores ~1.0 on both) —
    declared as <= 0.75 booleans the oracle states TRUE, plus value
    preservation.  Pitfall pinned in code: Spark SQL shift operators
    bind LOOSER than '+', so every interleave term needs its own
    parentheses — without them the whole expression silently
    collapses to garbage (measured: z = 0 for every row).

    Scale: the morton code is row-local integer arithmetic; the
    write is the same sampled range partition as T5."""
    out = _work_dir(sf_dir, "m7_zorder")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    # Normalizers derive from the ACTUAL key ranges (ADVICE r5: the
    # old hardcoded /2000 and /100 divisors only mapped to 8 bits at
    # sf0.01 — at any other SF the scaled value exceeded 255 and the
    # interleave wrapped mod 256).  One bounded 2-scalar aggregate to
    # the driver; `* 256 div (max+1)` lands every key in [0, 255] at
    # every scale factor.
    pmax, smax = li.agg(F.max("l_partkey"), F.max("l_suppkey")).first()
    terms = []
    for i in range(8):
        terms.append(
            f"((((l_partkey * 256 div {pmax + 1}) >> {i}) & 1)"
            f" << {2 * i})")
        terms.append(
            f"((((l_suppkey * 256 div {smax + 1}) >> {i}) & 1)"
            f" << {2 * i + 1})")
    z = F.expr(" + ".join(terms))
    (li.withColumn("z", z)
     .repartitionByRange(8, "z", "l_orderkey", "l_linenumber")
     .sortWithinPartitions("z")
     .write.mode("overwrite").parquet(out))
    back = (spark.read.parquet(out)
            .withColumn("f", F.input_file_name()))
    stats = (back.groupBy("f")
             .agg(F.min("l_partkey").alias("pmn"),
                  F.max("l_partkey").alias("pmx"),
                  F.min("l_suppkey").alias("smn"),
                  F.max("l_suppkey").alias("smx"),
                  F.count(F.lit(1)).alias("c")))
    chk = stats.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("c").alias("n_rows"),
        (F.avg((F.col("pmx") - F.col("pmn")) / float(pmax)) <= 0.75)
        .alias("partkey_clustered"),
        (F.avg((F.col("smx") - F.col("smn")) / float(smax)) <= 0.75)
        .alias("suppkey_clustered"))
    keys = back.agg(F.sum("l_partkey").alias("partkey_sum"),
                    F.sum("l_suppkey").alias("suppkey_sum"))
    return (chk.crossJoin(keys)
            .select((F.col("n_files") <= 8).alias("files_le_8"),
                    "n_rows", "partkey_clustered", "suppkey_clustered",
                    F.col("partkey_sum").cast("long")
                    .alias("partkey_sum"),
                    F.col("suppkey_sum").cast("long")
                    .alias("suppkey_sum")))


M7_SQL = """
SELECT TRUE AS files_le_8, COUNT(*) AS n_rows,
       TRUE AS partkey_clustered, TRUE AS suppkey_clustered,
       CAST(SUM(l_partkey) AS BIGINT) AS partkey_sum,
       CAST(SUM(l_suppkey) AS BIGINT) AS suppkey_sum
FROM lineitem
"""


def q5_nested_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 (r5): NESTED-field projection pruning — events re-written
    with a struct payload (type, value, k), then an aggregate that
    touches only ``payload.t`` and ``payload.k``.  The point is the
    scan: Spark's nested schema pruning must read just those two
    subfields (ReadSchema shows struct<t,k>, no v — plan-gated), the
    columnar analog of column pruning one level down.  The oracle
    derives the same aggregate from the flat events view."""
    out = _work_dir(sf_dir, "q5_nested")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.struct(F.col("event_type").alias("t"),
                 F.col("value").alias("v"),
                 F.get_json_object("props", "$.k").cast("long")
                 .alias("k")).alias("payload"))
    ev.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return (back.groupBy(F.col("payload.t").alias("event_type"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("payload.k").alias("k_sum")))


Q5_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT))
            AS BIGINT) AS k_sum
FROM events GROUP BY event_type
"""

QUERIES: dict[str, tuple] = {
    "p1_parquet_scan": (p1_parquet_scan, P1_SQL),
    "p2_csv_roundtrip": (p2_csv_roundtrip, P2_SQL),
    "p3_csv_infer": (p3_csv_infer, P3_SQL),
    "p4_json_roundtrip": (p4_json_roundtrip, P4_SQL),
    "p6_parquet_sink": (p6_parquet_sink, P6_SQL),
    "p7_partitioned_sink": (p7_partitioned_sink, P7_SQL),
    "p8_manifest_pipeline": (p8_manifest_pipeline, P8_SQL),
    "p9_orc_roundtrip": (p9_orc_roundtrip, P9_SQL),
    "p15_text_roundtrip": (p15_text_roundtrip, P15_SQL),
    "p10_watch_prefix": (p10_watch_prefix, P10_SQL),
    "p11_compaction": (p11_compaction, P11_SQL),
    "p12_schema_merge": (p12_schema_merge, P12_SQL),
    "p13_corrupt_csv": (p13_corrupt_tolerant_csv, P13_SQL),
    "p16_corrupt_json": (p16_corrupt_tolerant_json, P16_SQL),
    "t5_range_sorted_layout": (t5_range_sorted_layout, T5_SQL),
    "m7_zorder_layout": (m7_zorder_layout, M7_SQL),
    "q5_nested_pruning": (q5_nested_pruning, Q5_SQL),
    "p14_python_datasource": (p14_python_datasource, P14_SQL),
    "p17_python_stream_source": (p17_python_stream_source, P14_SQL),
    "p18_python_stream_sink": (p18_python_stream_sink, P18_SQL),
    "p19_arrow_datasource": (p19_arrow_datasource, P14_SQL),
    "p20_poison_quarantine": (p20_poison_quarantine, P20_SQL),
    "p21_object_store_quarantine": (p21_object_store_quarantine,
                                    P21_SQL),
}
