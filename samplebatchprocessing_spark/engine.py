"""User-facing engine façade.

A user of the reference repo drives it as:
  `SendJobs.py bucket input/ output/ queue dir` (upload + enqueue)
  `GetJobs.py bucket queue workdir [command [ext]]` (process)

The equivalent surface here:

    from samplebatchprocessing_spark.engine import Engine

    eng = Engine.local()                      # or Engine(spark)
    eng.attach("/root/testdata/sf0.01")       # register tables

    eng.table("lineitem").groupBy(...)        # DataFrame entry point
    eng.sql("SELECT ... FROM lineitem")       # SQL entry point

    # the reference's pipeline, verbatim semantics (P8):
    log = eng.process_prefix("/data/bucket", transform=my_bytes_fn)

Everything else (operators, streaming, dedup/similarity/text) hangs
off the returned DataFrames — stock PySpark, by design.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import catalog
from .pipeline.manifest import build_manifest, run_pipeline
from .session import apply_engine_conf, get_spark


class Engine:
    """Thin session wrapper: catalog + SQL + reference pipeline."""

    def __init__(self, spark: SparkSession):
        self.spark = apply_engine_conf(spark)
        self._sf_dir: str | None = None

    @classmethod
    def local(cls, app_name: str = "sbp-engine") -> "Engine":
        return cls(get_spark(app_name))

    # -- catalog ----------------------------------------------------
    def attach(self, sf_dir: str) -> "Engine":
        """Register every fixture table under its name (P1)."""
        self._sf_dir = sf_dir
        catalog.register_views(self.spark, sf_dir)
        return self

    def table(self, name: str) -> DataFrame:
        if self._sf_dir is None:
            raise RuntimeError("call attach(<sf_dir>) first")
        return catalog.load_table(self.spark, self._sf_dir, name)

    # -- query entry points ----------------------------------------
    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- reference pipeline (P8) -----------------------------------
    def process_prefix(self, bucket_dir: str,
                       in_prefix: str = "input/",
                       out_prefix: str = "output/",
                       transform: Callable[[bytes], bytes] | None = None,
                       command: str | None = None,
                       ext: str = ".out") -> DataFrame:
        """SendJobs+GetJobs in one call: manifest every file under
        ``bucket_dir/in_prefix``, apply ``transform`` (a Python
        ``bytes -> bytes``) or ``command`` (the reference's external
        program, run as ``[command, in, out]``; default: identity,
        the reference's `cp`), write results to
        ``bucket_dir/out_prefix`` with the deterministic key
        ``file_name + ext``. Returns the commit log."""
        manifest = build_manifest(self.spark, bucket_dir,
                                  in_prefix, out_prefix)
        return run_pipeline(self.spark, manifest,
                            transform=transform, command=command,
                            ext=ext)
