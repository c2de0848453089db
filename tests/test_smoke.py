"""t1 smoke: session boots, every table scans with expected row
counts, the driver contract works end-to-end."""

from __future__ import annotations

import pytest

from samplebatchprocessing_spark.catalog import TABLES, load_table, register_views

EXPECTED_SF0001 = {
    "region": 5, "nation": 25, "customer": 150, "supplier": 10,
    "part": 200, "orders": 1500, "lineitem": 6000, "events": 1000,
    "documents": 500, "embeddings": 500,
}


def test_scan_all_tables(spark, sf_smoke):
    for t in TABLES:
        assert load_table(spark, sf_smoke, t).count() == EXPECTED_SF0001[t]


def test_register_views(spark, sf_smoke):
    views = register_views(spark, sf_smoke)
    assert set(views) == set(TABLES)
    assert spark.sql("SELECT COUNT(*) AS n FROM lineitem").first()["n"] == 6000


def test_driver_contract(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 40


def test_events_ts_is_microsecond_timestamp(spark, sf_smoke):
    ev = load_table(spark, sf_smoke, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_engine_facade(spark, sf_smoke, tmp_path):
    import glob
    import shutil

    from samplebatchprocessing_spark.engine import Engine

    eng = Engine(spark).attach(sf_smoke)
    assert eng.table("nation").count() == 25
    assert eng.sql("SELECT COUNT(*) AS n FROM orders").first()["n"] == 1500

    bucket = str(tmp_path / "bucket")
    import os
    os.makedirs(f"{bucket}/input")
    for f in sorted(glob.glob(f"{sf_smoke}/*.parquet"))[:2]:
        shutil.copy(f, f"{bucket}/input/")
    log = eng.process_prefix(bucket).collect()
    assert len(log) == 2 and all(r["ok"] for r in log)


def test_ship_package_zip_in_private_tempdir(spark, sf_smoke, tmp_path,
                                            monkeypatch):
    """The shipped package zip goes to a per-user 0700 directory under
    the tempdir, never a fixed shared /tmp path; a directory another
    user could write to is refused.  The object-store lock files, the
    registry rows' work dirs and the staged stream sources use the
    same helper, resolved at call time."""
    import os
    import stat
    import tempfile

    from samplebatchprocessing_spark import session
    shipped = []
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_SHIPPED", set())
    monkeypatch.setattr(spark.sparkContext, "addPyFile", shipped.append)
    session.ship_package(spark)
    pkg_root = tmp_path / f"sbp_pkg_{os.getuid()}"
    assert len(shipped) == 1
    assert os.path.dirname(shipped[0]) == str(pkg_root)
    assert os.path.isfile(shipped[0])
    assert stat.S_IMODE(os.stat(pkg_root).st_mode) == 0o700

    os.chmod(pkg_root, 0o777)
    monkeypatch.setattr(session, "_SHIPPED", set())
    with pytest.raises(PermissionError, match="0700"):
        session.ship_package(spark)

    from samplebatchprocessing_spark.pipeline.manifest import (
        LocalObjectStoreClient)
    lock = LocalObjectStoreClient(str(tmp_path / "store"))._lock_path("k")
    assert os.path.dirname(lock) == str(
        tmp_path / f"sbp_object_locks_{os.getuid()}")

    from samplebatchprocessing_spark.queries.sources import _work_dir
    from samplebatchprocessing_spark.streaming.jobs import stage_table_dir
    assert os.path.dirname(_work_dir(sf_smoke, "p10_watch")) == str(
        tmp_path / f"sbp_work_{os.getuid()}")
    staged = stage_table_dir(spark, sf_smoke, "region")
    assert os.path.dirname(staged) == str(
        tmp_path / f"sbp_stream_{os.getuid()}")
    assert os.path.isfile(os.path.join(staged, "region_0.parquet"))


def test_no_fixed_tmp_path_in_package():
    """No string constant in the package starts with ``/tmp``: a fixed
    path there is shared by every user and every concurrent run, so
    scratch goes through ``session.private_tmpdir``."""
    import ast
    import pathlib

    import samplebatchprocessing_spark
    root = pathlib.Path(samplebatchprocessing_spark.__file__).parent
    found = [f"{path.relative_to(root)}:{node.lineno}"
             for path in sorted(root.rglob("*.py"))
             for node in ast.walk(ast.parse(path.read_text()))
             if isinstance(node, ast.Constant)
             and isinstance(node.value, str)
             and node.value.startswith("/tmp")]
    assert not found, found
