"""Temporal benchmarking and forecasting: Denton-style pro-rata
benchmark adjustment, the X-11 opening 2×12 centered moving-average
trend, Holt linear (level+trend) exponential smoothing, and a
seasonal-naive forecast backtest — the seasonal-adjustment /
nowcasting toolchain of a statistics agency.

House rules: monthly/daily series are aggregated FIRST (bounded by
the calendar), so every window/self-join/fold runs over hundreds of
rows regardless of fact-table size; all numerators are exact integer
cents/counts; sequential recurrences run the SAME left fold in the
SAME order in both engines (the EWMA precedent) so unrounded doubles
are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import cents, pround, sql_cents, sql_round as R
from ..registry import query


# ---------------------------------------------------------------------------
# Denton-style pro-rata benchmarking: the monthly order-revenue
# indicator is rescaled so each year's months sum to the annual
# "benchmark" total measured from lineitem invoices — the simplest
# temporal-benchmarking rule (uniform within-year ratio). Exact cents
# on all three aggregates; ONE double product+division per month.
# ---------------------------------------------------------------------------


@query(
    "statcan_denton_prorata",
    oracle=f"""
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(sum({sql_cents("o_totalprice")}) AS BIGINT) AS mc
  FROM orders GROUP BY 1, 2
), yo AS (
  SELECT yr, CAST(sum(mc) AS BIGINT) AS yoc FROM monthly GROUP BY yr
), yl AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
         CAST(sum({sql_cents("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS ylc
  FROM lineitem GROUP BY 1
)
SELECT m.month,
       {R("CAST(m.mc AS DOUBLE) / 100.0", 2)} AS indicator,
       {R("CAST(yl.ylc AS DOUBLE) / CAST(yo.yoc AS DOUBLE)", 6)} AS bench_factor,
       {R("CAST(m.mc AS DOUBLE) * CAST(yl.ylc AS DOUBLE) / CAST(yo.yoc AS DOUBLE) / 100.0", 2)} AS benchmarked
FROM monthly m JOIN yo ON m.yr = yo.yr JOIN yl ON m.yr = yl.yr
ORDER BY m.month
""",
)
def statcan_denton_prorata(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.year("o_orderdate").cast("long").alias("yr"),
    ).agg(F.sum(cents("o_totalprice")).cast("long").alias("mc"))
    yo = monthly.groupBy("yr").agg(F.sum("mc").cast("long").alias("yoc"))
    yl = li.groupBy(F.year("l_shipdate").cast("long").alias("yr")).agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .cast("long")
        .alias("ylc")
    )
    mc_d = F.col("mc").cast("double")
    ylc_d = F.col("ylc").cast("double")
    yoc_d = F.col("yoc").cast("double")
    return (
        monthly.join(F.broadcast(yo), "yr")
        .join(F.broadcast(yl), "yr")
        .select(
            "month",
            pround(mc_d / F.lit(100.0), 2).alias("indicator"),
            pround(ylc_d / yoc_d, 6).alias("bench_factor"),
            pround(mc_d * ylc_d / yoc_d / F.lit(100.0), 2).alias("benchmarked"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# X-11 step 1: the 2×12 centered moving average trend of monthly
# revenue per order priority — (x_{t-6} + 2·Σ_{t-5..t+5} + x_{t+6})/24
# with an exact integer numerator, emitted only where the full
# 13-month window exists. Implemented as a ±6 offset fan-out
# equi-join over the bounded monthly aggregate (calendar-aligned —
# a missing month disqualifies the window rather than shifting it).
# ---------------------------------------------------------------------------


@query(
    "statcan_x11_trend",
    oracle=f"""
WITH monthly AS (
  SELECT o_orderpriority AS priority,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS ord,
         strftime(o_orderdate, '%Y-%m') AS month,
         CAST(sum({sql_cents("o_totalprice")}) AS BIGINT) AS mc
  FROM orders GROUP BY 1, 2, 3
), fan AS (
  SELECT m.priority, m.ord, m.month, m.mc,
         CASE WHEN abs(t.k) = 6 THEN 1 ELSE 2 END * o.mc AS contrib
  FROM monthly m
  JOIN unnest(range(-6, 7)) AS t(k) ON TRUE
  JOIN monthly o ON o.priority = m.priority AND o.ord = m.ord + t.k
)
SELECT priority, month,
       {R("CAST(max(mc) AS DOUBLE) / 100.0", 2)} AS revenue,
       {R("CAST(sum(contrib) AS DOUBLE) / 24.0 / 100.0", 2)} AS trend_2x12
FROM fan
GROUP BY priority, ord, month
HAVING count(*) = 13
ORDER BY priority, month
""",
)
def statcan_x11_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("ord"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(F.sum(cents("o_totalprice")).cast("long").alias("mc"))
    other = monthly.select(
        F.col("priority").alias("p2"), F.col("ord").alias("ord2"), F.col("mc").alias("mc2")
    )
    fan = (
        monthly.select(
            "priority", "ord", "month", "mc", F.explode(F.sequence(F.lit(-6), F.lit(6))).alias("k")
        )
        .join(
            other,
            (F.col("p2") == F.col("priority")) & (F.col("ord2") == F.col("ord") + F.col("k")),
        )
        .select(
            "priority",
            "ord",
            "month",
            "mc",
            (F.when(F.abs("k") == 6, 1).otherwise(2) * F.col("mc2")).alias("contrib"),
        )
    )
    return (
        fan.groupBy("priority", "ord", "month")
        .agg(
            F.max("mc").alias("mc"),
            F.sum("contrib").alias("num"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .filter(F.col("n_terms") == 13)
        .select(
            "priority",
            "month",
            pround(F.col("mc").cast("double") / F.lit(100.0), 2).alias("revenue"),
            pround(
                F.col("num").cast("double") / F.lit(24.0) / F.lit(100.0), 2
            ).alias("trend_2x12"),
        )
        .orderBy("priority", "month")
    )


# ---------------------------------------------------------------------------
# Holt linear exponential smoothing (α = β = 0.5) of daily event
# counts per type: level and trend evolve by the inherently sequential
# recurrence, so both engines run the SAME left fold in the SAME
# order — Spark as an `aggregate` HOF over the array_sort'ed daily
# series, DuckDB as a day-stepping recursive CTE — with ×0.5 exact in
# IEEE-754 and identically-placed additions, making the unrounded
# doubles bit-identical. `forecast` is the one-step-ahead l+b.
# ---------------------------------------------------------------------------

_HOLT_SPARK = """
aggregate(
  a,
  named_struct('l', CAST(0.0 AS DOUBLE), 'b', CAST(0.0 AS DOUBLE),
               'out', CAST(array() AS ARRAY<STRUCT<day: DATE, n: BIGINT,
                                                   l: DOUBLE, b: DOUBLE, f: DOUBLE>>)),
  (acc, x) -> CASE WHEN size(acc.out) = 0 THEN named_struct(
      'l', CAST(x.n AS DOUBLE), 'b', CAST(0.0 AS DOUBLE),
      'out', array(named_struct('day', x.day, 'n', x.n,
                                'l', CAST(x.n AS DOUBLE), 'b', CAST(0.0 AS DOUBLE),
                                'f', CAST(NULL AS DOUBLE))))
    ELSE named_struct(
      'l', CAST(x.n AS DOUBLE) * 0.5 + (acc.l + acc.b) * 0.5,
      'b', ((CAST(x.n AS DOUBLE) * 0.5 + (acc.l + acc.b) * 0.5) - acc.l) * 0.5
           + acc.b * 0.5,
      'out', array_append(acc.out, named_struct('day', x.day, 'n', x.n,
          'l', CAST(x.n AS DOUBLE) * 0.5 + (acc.l + acc.b) * 0.5,
          'b', ((CAST(x.n AS DOUBLE) * 0.5 + (acc.l + acc.b) * 0.5) - acc.l) * 0.5
               + acc.b * 0.5,
          'f', acc.l + acc.b)))
    END,
  acc -> acc.out)
"""


@query(
    "holt_linear_daily",
    oracle=f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), idx AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
), hw AS (
  SELECT event_type, day, n, rn,
         CAST(n AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b,
         CAST(NULL AS DOUBLE) AS f
  FROM idx WHERE rn = 1
  UNION ALL
  SELECT i.event_type, i.day, i.n, i.rn,
         CAST(i.n AS DOUBLE) * 0.5 + (w.l + w.b) * 0.5,
         ((CAST(i.n AS DOUBLE) * 0.5 + (w.l + w.b) * 0.5) - w.l) * 0.5 + w.b * 0.5,
         w.l + w.b
  FROM hw w JOIN idx i ON i.event_type = w.event_type AND i.rn = w.rn + 1
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n AS daily_n,
       {R("l", 6)} AS level, {R("b", 6)} AS trend, {R("f", 6)} AS forecast
FROM hw
ORDER BY event_type, day
""",
)
def holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    per_type = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "n"))).alias("a")
    )
    return (
        per_type.select("event_type", F.explode(F.expr(_HOLT_SPARK)).alias("s"))
        .select(
            "event_type",
            F.date_format(F.col("s.day"), "yyyy-MM-dd").alias("day"),
            F.col("s.n").alias("daily_n"),
            pround(F.col("s.l"), 6).alias("level"),
            pround(F.col("s.b"), 6).alias("trend"),
            pround(F.col("s.f"), 6).alias("forecast"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Seasonal-naive backtest: forecast(day) = count(day − 7), scored per
# event type with MAE, weighted MAPE (Σ|err| / Σ actual — exact
# integer sums, no per-row double ratios), and mean bias. The lag is
# a CALENDAR equi-join on day−7 over the bounded daily aggregate, so
# missing days drop the pair instead of silently shifting the lag.
# ---------------------------------------------------------------------------


@query(
    "seasonal_naive_backtest",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT c.event_type, c.n AS actual, p.n AS fc
  FROM daily c JOIN daily p
    ON p.event_type = c.event_type AND c.day = p.day + 7
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       {R("CAST(sum(abs(actual - fc)) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)} AS mae,
       {R("CAST(sum(abs(actual - fc)) AS DOUBLE) / CAST(sum(actual) AS DOUBLE)", 6)} AS wmape,
       {R("CAST(sum(actual - fc) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)} AS bias
FROM pairs
GROUP BY event_type
""",
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    prev = daily.select(
        F.col("event_type").alias("e2"),
        F.date_add("day", 7).alias("day2"),
        F.col("n").alias("fc"),
    )
    pairs = daily.join(
        prev, (F.col("e2") == F.col("event_type")) & (F.col("day2") == F.col("day"))
    ).select("event_type", F.col("n").alias("actual"), "fc")
    err = F.col("actual") - F.col("fc")
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        pround(
            F.sum(F.abs(err)).cast("double") / F.count(F.lit(1)).cast("double"), 4
        ).alias("mae"),
        pround(
            F.sum(F.abs(err)).cast("double") / F.sum("actual").cast("double"), 6
        ).alias("wmape"),
        pround(F.sum(err).cast("double") / F.count(F.lit(1)).cast("double"), 4).alias(
            "bias"
        ),
    )
