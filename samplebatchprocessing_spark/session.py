"""SparkSession builder for the engine.

Defaults tuned for correctness-first local runs but designed for
cluster scale: AQE handles runtime partition coalescing and skew
joins, session timezone is pinned to UTC (the #1 oracle-mismatch
risk), and Arrow is enabled for every Python<->JVM data crossing.

On a real cluster the same builder is used; only master/memory come
from the environment (spark-submit / cluster manager), never from
code here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Engine-level defaults.  Everything here is also correct on a
# 1000-executor cluster: AQE picks shuffle partition counts at
# runtime from map-output statistics, so the static
# spark.sql.shuffle.partitions is only the pre-AQE upper bound.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst stays at its default (true): the r14 A/B
    # (OPTIMIZATION_r14.md) measured false — Spark's documented
    # production lean — doubling x120's wall (its per-round
    # join/window stages are small-BYTES but real CPU, and advisory-
    # size coalescing serializes them) for no suite CPU win.  Local
    # partition-count problems are fixed per-operator (spread(),
    # size-derived repartition) where measurement shows them.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    "spark.sql.shuffle.partitions": "32",
    # Bound the bytes a single scan task handles (media/binary rows
    # are large) and the rows per Arrow batch crossing into Python —
    # the two knobs that keep per-task memory flat as data grows.
    "spark.sql.files.maxPartitionBytes": "128MB",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.ui.enabled": "false",
    # Timestamps in fixtures are ns-precision; Spark truncates to µs.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def get_spark(app_name: str = "samplebatchprocessing_spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or
    ``local[*]``) when no cluster master is configured — i.e. tests
    and bench run single-JVM, production runs whatever the cluster
    manager provides.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def private_tmpdir(name: str) -> str:
    """``<tempdir>/<name>_<uid>``, created with mode 0700.  In a
    world-writable tempdir another user could pre-create the path (or
    a symlink to theirs) and plant files in it, so a directory that
    is not ours alone (not a real directory, another owner, any group
    or other access) raises :class:`PermissionError`."""
    import stat
    import tempfile
    d = os.path.join(tempfile.gettempdir(), f"{name}_{os.getuid()}")
    os.makedirs(d, mode=0o700, exist_ok=True)
    st = os.lstat(d)
    if (not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid()
            or st.st_mode & 0o077):
        raise PermissionError(
            f"{d} must be a directory owned by uid {os.getuid()} "
            f"with mode 0700")
    return d


_SHIPPED: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers regardless of
    the driver process's cwd/sys.path.

    Worker-side closures (mapInPandas/applyInPandas/UDFs) that
    reference module-level functions are pickled BY REFERENCE; the
    worker then imports the module.  When the hosting process didn't
    launch from the repo root (e.g. an external driver harness), that
    import fails — so we zip the package once and addPyFile it, the
    standard 'ship your code to the cluster' mechanism (works on real
    clusters identically)."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    import hashlib
    import os
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # Tag = hash of every .py file's bytes, not the directory path:
    # a path-keyed cache keeps shipping a STALE zip after source
    # edits, and the worker's sys.path puts shipped files ahead of
    # the repo — silently executing outdated code.
    digest = hashlib.md5()
    for root, _dirs, files in sorted(os.walk(pkg_dir)):
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                digest.update(os.path.relpath(full, pkg_dir).encode())
                with open(full, "rb") as fh:
                    digest.update(fh.read())
    tag = digest.hexdigest()[:12]
    # not a fixed shared /tmp name: another user could plant the zip
    # the workers import
    zip_path = os.path.join(private_tmpdir("sbp_pkg"),
                            f"sbp_pkg_{tag}.zip")
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "samplebatchprocessing_spark",
                            os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(key)


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally provided
    session (the driver hands us one in ``__spark_entry__.entry``).

    Only runtime-mutable keys are set; static ones (master, memory)
    are the caller's business.
    """
    for k, v in ENGINE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — keep caller's value
    return spark
