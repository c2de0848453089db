"""Determinism helpers shared by every declared oracle query.

Cross-engine float reproducibility: ``sum(double)`` is
order-dependent, and Spark / DuckDB will aggregate rows in different
orders, so any hash gate on raw double sums is flaky.  The fix is
exact arithmetic: cast to decimal (exact for fixture data with <=6
fractional digits), sum in decimal (exact, order-independent in both
engines), then a single deterministic decimal->double cast at the
end.  ``dsum``/``davg`` encapsulate that; the SQL twins in
``queries/*`` use the identical CAST(SUM(CAST(..)))) shape.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# precision 30 leaves Spark's sum headroom (sum of decimal(30,6) ->
# decimal(38,6)) while staying inside both engines' 38-digit max.
DEC = "decimal(30,6)"


#: dsum's split-bigint accumulation (r15, guide §1.2): summing
#: decimal(30,6) runs BigDecimal adds in every partial-aggregate
#: buffer update — measured as ~2x the whole of a1 under the noop
#: action.  The exact value x rendered at scale 6 is an integer
#: u = unscaled(x) of millionths; u splits as
#: u = (u >> 20) * 2^20 + pmod(u, 2^20), both halves sum in bigints,
#: and the two totals recombine into the identical decimal(38,6) on
#: the final (group-count-sized) rows, where BigDecimal cost is
#: irrelevant.  The envelope is JOINT in the group's row count N and
#: its largest magnitude |x|: the sum is exact while
#:     N · (|x|·1e6 >> 20) < 2^63
#: (with each lo half < 2^20 adding N < 2^43 ≈ 8.8e12, and u itself
#: needing |x| < 9.2e12).  Rows and magnitude trade against each
#: other: at |x| = 2^43 ≈ 8.8e12 only 1,099,511 rows fit, at 8.8e12
#: rows only |x| < ~1.1e6.  Outside the envelope a bigint partial
#: overflows, which ANSI mode (Spark 4's default) raises as
#: ARITHMETIC_OVERFLOW instead of wrapping (test-pinned in
#: tests/test_twin_types.py).  Every caller sums monetary/quantity/
#: score columns far inside it.
_DSUM_SHIFT = 20
_DSUM_LO = 1 << _DSUM_SHIFT
_DSUM_SCALE = 1_000_000


def _dec_sum(c: Column) -> Column:
    """Exact decimal(38,6)-valued SUM(CAST(c AS DECIMAL(30,6))) via
    split-bigint partials (value-identical to the direct decimal sum;
    test-pinned in tests/test_twin_types.py)."""
    u = (c.cast(DEC) * _DSUM_SCALE).cast("bigint")
    shi = F.sum(F.shiftright(u, _DSUM_SHIFT)).cast("decimal(38,0)")
    slo = F.sum(F.pmod(u, F.lit(_DSUM_LO))).cast("decimal(38,0)")
    return ((shi * _DSUM_LO + slo)
            * F.lit("0.000001").cast("decimal(7,6)"))


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent sum of a double column via exact decimals,
    exact on the joint domain of a group's row count N and largest
    magnitude |x|: ``N·(|x|·1e6 >> 20) < 2^63`` and ``|x| < ~9.2e12``.
    Outside it, ANSI mode raises ``CAST_OVERFLOW`` (|x| too large) or
    ``ARITHMETIC_OVERFLOW`` (the sum)."""
    c = F.col(col) if isinstance(col, str) else col
    out = _dec_sum(c).cast("double")
    return out.alias(alias) if alias else out


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent mean: exact decimal sum / count, one double
    div.  The sum is :func:`dsum`'s, exact on the same joint domain
    (``N·(|x|·1e6 >> 20) < 2^63`` and ``|x| < ~9.2e12``; outside it,
    ANSI mode raises ``CAST_OVERFLOW`` or ``ARITHMETIC_OVERFLOW``)."""
    c = F.col(col) if isinstance(col, str) else col
    out = _dec_sum(c).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def sql_dsum(expr: str) -> str:
    """DuckDB twin of dsum for use inside oracle SQL strings."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    """DuckDB twin of davg."""
    return (f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,6))) AS DOUBLE)"
            f" / COUNT({expr})")


def bounded_part(col: Column | str) -> Column:
    """Partition key for a window over a frame BOUNDED by an upstream
    ``limit(k)`` / tiny-vocabulary construction: a constant-zero
    expression that is NOT foldable (``pmod(key, 1)``), so Catalyst
    keeps it as a real partition spec.  ``partitionBy(F.lit(0))``
    constant-folds to an empty spec and the plan degrades to the
    warn-logging no-partition WindowExec; this keeps the bounded
    window an ordinary hash-partitioned one (one tiny exchange) and
    keeps "No Partition Defined" warnings out of bench stderr, where
    they would mask real single-partition regressions (r6 verdict
    item 6)."""
    c = F.col(col) if isinstance(col, str) else col
    # coalesce: a NULL key must not split the frame into a second
    # (null-keyed) partition — that would restart row_numbers.
    return F.coalesce(F.pmod(c.cast("long"), F.lit(1)), F.lit(0))


def spread(df, n_parts: int | None = None, force: bool = False):
    """Raise a frame's partition count to the session default BEFORE
    an expensive downstream stage (r14 optimization round, guide §2).

    Two mechanisms leave hot frames at 1 partition locally: a small
    parquet fixture scans as a single split, and AQE's partition
    coalescing (advisory 64 MB) collapses any small-BYTES shuffle
    output — correct for data-sized stages, wrong when the few-MB
    frame feeds a candidate join that fans out 1000x (x103's prefix
    self-join ran 1 task on 32 cores: wall ~= tree-CPU, measured).
    Spark sizes stages by input bytes; only we know the fan-out.

    Scale-adaptive by construction: the repartition targets
    ``defaultParallelism`` (executor-count-derived on a real
    cluster) and is SKIPPED when the frame is already at least that
    wide — at 100 TB the scan/shuffle already provides the
    parallelism and this is a no-op, so nothing here is tuned to
    local[32].  The explicit numPartitions keeps AQE from
    re-coalescing the exchange.

    ``force=True`` skips the width guard: on a LAZY frame downstream
    of a shuffle, ``getNumPartitions`` reports the pre-AQE static
    count (spark.sql.shuffle.partitions), not the runtime-coalesced
    one, so the guard would wrongly conclude the frame is wide.  Use
    force at staging points right after an aggregation/window whose
    output is small in bytes but fans out downstream; the guarded
    form everywhere else (scans, checkpointed frames — their counts
    are truthful)."""
    n = n_parts or df.sparkSession.sparkContext.defaultParallelism
    if not force and df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def local_df(spark, rows, schema):
    """Small driver-local relation via the pandas/Arrow path (r14,
    guide §4): ``createDataFrame(list_of_tuples)`` plans as
    ``Scan ExistingRDD`` over PICKLED rows, so every consuming stage
    deserializes through a Python worker round-trip — measured on
    x109's 800-row probe frame as ~0.3 s of blocked runtime per task
    across TWO 32-task stages (distinct + broadcast build) while the
    actual join work was 1.35 s.  Routing the same rows through a
    pandas frame plans a ``LocalTableScan``: pure JVM, no tasks to
    read it, broadcast builds driver-side.  Schema (names, types,
    nullability) and row values are identical on both paths
    (asserted when this landed).  Use for metadata-sized frames
    (probe relations, offset tables, lifecycle summaries) — data-
    scale frames never come from driver lists.

    Constraint: rows must be NULL-free in numeric columns — pandas
    stores a numeric None as NaN, which Arrow would surface as NaN,
    not SQL NULL (the pickle path keeps it NULL).  Every converted
    call site builds its rows from non-null Python ints/floats."""
    import pandas as pd
    st = schema if not isinstance(schema, str) \
        else spark.createDataFrame([], schema).schema
    pdf = pd.DataFrame.from_records(list(rows), columns=st.names)
    return spark.createDataFrame(pdf, schema=st)


def multiset_diff_and_count(a, b) -> tuple[int, int]:
    """(symmetric multiset difference size, |a|) in ONE Spark action
    (r15, guide §1.2): the parity idiom
    ``a.exceptAll(b).count() + b.exceptAll(a).count() + a.count()``
    runs THREE actions, each re-executing both inputs' whole lazy
    subtrees — measured on x133's probe-parity check as ~5
    re-executions of the IVF probes (28 s tree CPU for a 1000-row
    compare).  exceptAll keeps max(na-nb, 0) copies per key, so the
    two-way count equals sum(|na - nb|) over distinct rows — computed
    here with one groupBy per side and one null-safe full-outer join
    (NULL keys compare equal, matching exceptAll).  Returns
    (0, n > 0) iff the multisets are equal and non-empty."""
    from functools import reduce

    cols = a.columns
    # aliased sides: when a and b share lineage (b = a.filter(...)),
    # ta[c] == tb[c] would name one attribute twice — Spark warns
    # "trivially true" and leans on plan-id self-join resolution
    ta = a.groupBy(*cols).agg(F.count(F.lit(1)).alias("__na")).alias("__l")
    tb = b.groupBy(*cols).agg(F.count(F.lit(1)).alias("__nb")).alias("__r")
    cond = reduce(lambda x, y: x & y,
                  [F.col(f"__l.`{c}`").eqNullSafe(F.col(f"__r.`{c}`"))
                   for c in cols])
    j = ta.join(tb, cond, "full_outer").select(
        F.abs(F.coalesce("__na", F.lit(0))
              - F.coalesce("__nb", F.lit(0))).alias("__d"),
        F.coalesce("__na", F.lit(0)).alias("__a"))
    row = j.agg(F.coalesce(F.sum("__d"), F.lit(0)).alias("d"),
                F.coalesce(F.sum("__a"), F.lit(0)).alias("n")) \
        .collect()[0]
    return int(row["d"]), int(row["n"])


def r6(col: Column, alias: str | None = None) -> Column:
    """Round to 6 dp — for aggregates that cannot be made exact
    (stddev/percentile); relative FP error ~1e-12 makes a 6-dp
    boundary flip vanishingly unlikely."""
    out = F.round(col, 6)
    return out.alias(alias) if alias else out
