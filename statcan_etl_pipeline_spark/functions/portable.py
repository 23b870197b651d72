"""Cross-engine-portable numeric helpers.

Spark's ``round`` (BigDecimal HALF_UP on the exact binary expansion)
and DuckDB's ``round`` (scale-multiply then half-away-from-zero) can
disagree by one ulp-of-the-last-decimal when ``x * 10^n`` lands exactly
on ``.5`` (common for data with few decimal places, e.g. price
midpoints in percentiles). ``pround``/``sql_round`` implement the SAME
rounding with only IEEE-754 primitive ops (multiply, add, floor,
divide), so both engines produce bit-identical doubles — this is what
keeps the driver's value-hash comparison stable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def pround(col: Column | str, n: int = 2) -> Column:
    """Round half-away-from-zero via floor(x*10^n + 0.5)/10^n (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    scale = F.lit(float(10**n))
    pos = F.floor(c * scale + F.lit(0.5)) / scale
    neg = -(F.floor((-c) * scale + F.lit(0.5)) / scale)
    return F.when(c >= 0, pos).otherwise(neg)


def sql_round(expr: str, n: int = 2) -> str:
    """The same rounding as ``pround`` as an ANSI-SQL string (oracle side)."""
    s = repr(float(10**n))
    return (
        f"(CASE WHEN ({expr}) >= 0 THEN floor(({expr}) * {s} + 0.5) / CAST({s} AS DOUBLE) "
        f"ELSE -(floor((-({expr})) * {s} + 0.5) / CAST({s} AS DOUBLE)) END)"
    )


# --- shared SQL type and expression strings ---------------------------------
# The exact integer type that moment and cent sums widen to before any
# division, on both engines: a Spark `Column.cast` type string and a
# DuckDB SQL type (DECIMAL(38,0) holds what an int64 sum can overflow).
SQL_EXACT_INT = "decimal(38,0)"
# TPC-H line revenue in SQL, the oracle twin of
# F.col("l_extendedprice") * (1 - F.col("l_discount")).
REV_SQL = "l_extendedprice * (1 - l_discount)"


# --- exact fixed-point aggregation -----------------------------------------
# Rounding alone can't make a float SUM portable: the accumulation ORDER
# differs between engines (Spark partial aggregates vs DuckDB's), so the
# pre-round double already differs by ~n·ε·magnitude, which flips the last
# rounded digit with non-trivial probability. Fix: round each ROW to
# integer fixed-point (cents), sum exactly in int64 (order-independent),
# divide once at the end. Both engines then produce bit-identical doubles.


def cents(col: Column | str, n: int = 2) -> Column:
    """Per-row half-away-from-zero rounding to integer 10^-n units (BIGINT)."""
    c = F.col(col) if isinstance(col, str) else col
    scale = F.lit(float(10**n))
    return F.when(c >= 0, F.floor(c * scale + F.lit(0.5))).otherwise(
        -F.floor((-c) * scale + F.lit(0.5))
    )


def money_sum(col: Column | str, n: int = 2) -> Column:
    """Order-independent SUM: exact int64 sum of per-row fixed-point units."""
    return F.sum(cents(col, n)) / F.lit(float(10**n))


def money_avg(col: Column | str, n: int = 2) -> Column:
    """Order-independent AVG over non-null-free columns: exact sum / count."""
    return (F.sum(cents(col, n)) / F.lit(float(10**n))) / F.count(F.lit(1))


def sql_cents(expr: str, n: int = 2) -> str:
    s = repr(float(10**n))
    return (
        f"(CASE WHEN ({expr}) >= 0 THEN CAST(floor(({expr}) * {s} + 0.5) AS BIGINT) "
        f"ELSE -CAST(floor((-({expr})) * {s} + 0.5) AS BIGINT) END)"
    )


def sql_money_sum(expr: str, n: int = 2) -> str:
    s = repr(float(10**n))
    return f"(CAST(sum({sql_cents(expr, n)}) AS BIGINT) / CAST({s} AS DOUBLE))"


def sql_money_avg(expr: str, n: int = 2) -> str:
    return f"({sql_money_sum(expr, n)} / count(*))"
