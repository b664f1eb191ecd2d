"""Order-independent ("exact") floating aggregations.

Plain ``SUM(double)`` is order-dependent in the last ulps — a
distributed sum over 32 partitions and a single-threaded oracle sum can
legitimately disagree, which breaks value-hash correctness gates and
makes results non-reproducible across cluster sizes. The fix: round
each addend to a fixed decimal scale (a deterministic, engine-identical
operation on IEEE doubles) and sum **as decimal**, which is exact and
associative, then cast back to double.

This is the engine-wide discipline for every aggregate the correctness
gate hashes; it costs one cast per row and keeps plans fully
whole-stage-codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# decimal(38-8, 8): 8 decimal places keeps addend rounding far below
# any data-meaningful digit; 30 integer digits cannot overflow at any
# realistic scale (1e30).
_DEC = "decimal(38,8)"


def dsum(col: Column) -> Column:
    """Exact (order-independent) sum of a double expression → double."""
    return F.sum(col.cast(_DEC)).cast("double")


def davg(col: Column) -> Column:
    """Exact mean: exact sum divided by count, in double."""
    return (F.sum(col.cast(_DEC)).cast("double") / F.count(col)).alias("avg")


def exact_corr(x: Column, y: Column) -> Column:
    """Pearson correlation from exact moment sums (order-independent).

    corr = (n·Σxy − Σx·Σy) / (√(n·Σxx − Σx²) · √(n·Σyy − Σy²))

    The five moment sums are decimal-exact; the final combination is a
    fixed sequence of double ops — bit-identical on any engine. Used for
    ChAS (reference chaser::chas, see SURVEY.md G11) and any corr() the
    oracle checks. A constant side (zero denominator) gives null, as
    R's ``cor`` gives NA, instead of an ANSI divide-by-zero error.
    """
    n = F.count(F.when(x.isNotNull() & y.isNotNull(), 1)).cast("double")
    sx = F.sum(F.when(y.isNotNull(), x).cast(_DEC)).cast("double")
    sy = F.sum(F.when(x.isNotNull(), y).cast(_DEC)).cast("double")
    sxx = F.sum(F.when(y.isNotNull(), x * x).cast(_DEC)).cast("double")
    syy = F.sum(F.when(x.isNotNull(), y * y).cast(_DEC)).cast("double")
    sxy = F.sum((x * y).cast(_DEC)).cast("double")
    num = n * sxy - sx * sy
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    return F.try_divide(num, den)


def oracle_dsum(expr: str) -> str:
    """DuckDB SQL equivalent of :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,8))) AS DOUBLE)"


def oracle_davg(expr: str) -> str:
    """DuckDB SQL equivalent of :func:`davg`."""
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(38,8))) AS DOUBLE) / COUNT({expr})"
    )


def oracle_corr(x: str, y: str) -> str:
    """DuckDB SQL equivalent of :func:`exact_corr`."""
    n = f"CAST(COUNT(CASE WHEN ({x}) IS NOT NULL AND ({y}) IS NOT NULL THEN 1 END) AS DOUBLE)"
    sx = f"CAST(SUM(CAST(CASE WHEN ({y}) IS NOT NULL THEN ({x}) END AS DECIMAL(38,8))) AS DOUBLE)"
    sy = f"CAST(SUM(CAST(CASE WHEN ({x}) IS NOT NULL THEN ({y}) END AS DECIMAL(38,8))) AS DOUBLE)"
    sxx = f"CAST(SUM(CAST(CASE WHEN ({y}) IS NOT NULL THEN ({x})*({x}) END AS DECIMAL(38,8))) AS DOUBLE)"
    syy = f"CAST(SUM(CAST(CASE WHEN ({x}) IS NOT NULL THEN ({y})*({y}) END AS DECIMAL(38,8))) AS DOUBLE)"
    sxy = f"CAST(SUM(CAST(({x})*({y}) AS DECIMAL(38,8))) AS DOUBLE)"
    return (
        f"(({n})*({sxy}) - ({sx})*({sy})) / "
        f"(SQRT(({n})*({sxx}) - ({sx})*({sx})) * SQRT(({n})*({syy}) - ({sy})*({sy})))"
    )
