"""Registry-wide guard for the driver's Arrow coercion path.

The driver fetches every DuckDB twin through Arrow: DuckDB widens an
uncast integer SUM to HUGEINT (decimal128(38,0)), which the driver's
pandas path coerces to float64 and formats as ``123.000000`` — a red
``hash_match`` against Spark's BIGINT ``123`` even when every value is
identical (VERDICT r5 root cause; 6 driver rows red, 22 latent).  The
repo's own parity harness (`oracle.py` fetchall -> Python int) is
structurally blind to it, so this test replays the driver's path:
every twin runs through ``fetch_arrow_table()`` and no output column
may be decimal128 (or any decimal the twin didn't ask for via the
exact-dsum discipline, which lands as float64 after the declared
ROUND/CAST).

Runs at sf0.001 for speed; type widening does not depend on SF.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pytest

from samplebatchprocessing_spark.oracle import duck_conn
from samplebatchprocessing_spark.queries import registry

REG = registry()
TWINS = sorted(n for n, (_, sql) in REG.items() if sql is not None)


@pytest.fixture(scope="module")
def twin_schemas(sf_oracle):
    """One connection pass over all twins (schema-only would be nice,
    but DuckDB's Arrow schema is only authoritative post-execution)."""
    out: dict[str, pa.Schema] = {}
    for name in TWINS:
        sql = re.sub(r"/root/testdata/sf[0-9.]+",
                     sf_oracle.rstrip("/"), REG[name][1])
        conn = duck_conn(sf_oracle)
        try:
            out[name] = conn.execute(sql).fetch_arrow_table().schema
        finally:
            conn.close()
    return out


@pytest.mark.parametrize("name", TWINS)
def test_no_hugeint_columns(twin_schemas, name):
    bad = [f.name for f in twin_schemas[name]
           if pa.types.is_decimal(f.type)]
    assert not bad, (
        f"{name}: twin emits decimal/HUGEINT columns {bad} — the driver "
        f"formats these as floats and the hash gate goes red; wrap the "
        f"aggregate in CAST(... AS BIGINT)")


def test_dsum_split_bigint_equals_direct_decimal_sum(spark):
    """r15: dsum/davg accumulate as split-bigint partials (exprs.
    _dec_sum) instead of a BigDecimal sum — the recombined
    decimal(38,6) must be VALUE-IDENTICAL to the direct
    SUM(CAST(x AS DECIMAL(30,6))) on adversarial inputs: negatives,
    NULLs, 6-fraction-digit values, +-1e9 magnitudes, and an
    all-NULL group (sum must stay NULL, not 0)."""
    import random

    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.exprs import DEC, davg, dsum

    random.seed(7)
    rows = []
    for i in range(5000):
        r = random.random()
        if r < 0.02:
            v = None
        elif r < 0.2:
            v = -round(random.uniform(0, 1e6), 6)
        elif r < 0.5:
            v = round(random.uniform(0, 110000), 2)
        elif r < 0.8:
            v = random.uniform(-1e9, 1e9)
        else:
            v = round(random.uniform(0, 1), 6)
        rows.append((i % 7, v))
    rows += [(99, None), (99, None)]          # all-NULL group
    df = spark.createDataFrame(rows, "g int, x double")
    old = df.groupBy("g").agg(
        F.sum(F.col("x").cast(DEC)).cast("double").alias("s"),
        (F.sum(F.col("x").cast(DEC)).cast("double")
         / F.count("x")).alias("a"))
    new = df.groupBy("g").agg(dsum("x", "s"), davg("x", "a"))
    o = {r["g"]: (r["s"], r["a"]) for r in old.collect()}
    n = {r["g"]: (r["s"], r["a"]) for r in new.collect()}
    assert o == n
    assert n[99] == (None, None)


def test_dsum_joint_envelope_boundary(spark):
    """exprs._dec_sum is exact while N · (|x|·1e6 >> 20) < 2^63 — a
    JOINT rows × magnitude envelope.  At |x| = 2^43 the hi half of
    every row is 2^23·1e6, so 1,099,511 rows are the last count that
    fits: just inside, the sum is exact; one row more, the bigint
    partial overflows and must fail loudly (ANSI), never wrap."""
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F

    from samplebatchprocessing_spark.exprs import dsum

    x = float(2 ** 43)
    n_max = (2 ** 63 - 1) // ((int(x) * 10 ** 6) >> 20)
    assert n_max == 1_099_511

    def total(n):
        return (spark.range(n).select(F.lit(x).alias("x"))
                .agg(dsum("x", "s")).first()["s"])

    assert total(n_max) == n_max * 2 ** 43
    with pytest.raises(ArithmeticException, match="OVERFLOW"):
        total(n_max + 1)
