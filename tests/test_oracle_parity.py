"""t2 gate, run locally: every registry query with an oracle twin
must match DuckDB exactly (rows, columns, values) on the fixtures.

Default scale: sf0.001 (fast). Set SBP_SF_ORACLE=/root/testdata/sf0.01
to replicate the driver's exact gate scale.
"""

from __future__ import annotations

import pytest

from samplebatchprocessing_spark.oracle import compare
from samplebatchprocessing_spark.queries import registry

REG = registry()
ORACLE_QUERIES = sorted(n for n, (_, sql) in REG.items() if sql is not None)
NO_ORACLE = sorted(n for n, (_, sql) in REG.items() if sql is None)
# name -> output schema of the frame test_oracle_parity built, so
# test_driver_canonicalizable reads it instead of running the builder
# again (eager rows execute on build).  Schemas only: some frames pin
# localCheckpoints, so no DataFrame is kept alive.
_SCHEMAS = {}


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_oracle, name):
    fn, sql = REG[name]
    df = fn(spark, sf_oracle)
    _SCHEMAS[name] = df.schema
    report = compare(df, sql, sf_oracle)
    assert report["ok"], f"{name}: {report}"


def test_no_rows_only_entries_remain():
    """Since r10 (x44's round-unrolled twin) EVERY registry entry
    carries a DuckDB oracle — the rows-only class is a closed, empty
    set.  If a future genuinely non-SQL-expressible op re-opens it,
    restore the per-entry rows-only harness this assertion replaced
    (fn(spark, sf).count() >= 0 and a nonempty column list)."""
    assert NO_ORACLE == []


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_driver_canonicalizable(spark, sf_oracle, name):
    """The driver canonicalizes via pandas sort_values over raw cells
    and crashes on list/dict cells (CORRECTNESS_r01: a8/f5/f6/l2).
    Per SURVEY §2B, every oracle-paired output column must therefore
    be scalar — arrays/maps/structs must be to_json'd."""
    from pyspark.sql import types as T
    fn, _ = REG[name]
    schema = _SCHEMAS.get(name) or fn(spark, sf_oracle).schema
    bad = [f.name for f in schema.fields
           if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))]
    assert not bad, f"{name}: non-scalar output columns {bad}"
