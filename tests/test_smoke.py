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


def test_ship_package_zip_in_private_tempdir(spark, tmp_path, monkeypatch):
    """The shipped package zip goes to a per-user 0700 directory under
    the tempdir, never a fixed shared /tmp path; a directory another
    user could write to is refused.  The object-store lock files use
    the same helper."""
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
