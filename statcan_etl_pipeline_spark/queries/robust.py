"""Robust / chained estimators: Theil–Sen median-slope regression
(the robust companion to price_qty_regression_by_type's OLS) and the
monthly chain-linked Fisher price index (the link-and-chain
construction real CPI programs publish, vs the fixed-base
price_index_fisher).

Cross-engine exactness: every pairwise slope and every monthly link
ratio is a double computed from exact integer inputs — identical in
both engines — and medians use percentile_disc (an ACTUAL element, so
bit-exact); the chain is an order-pinned sequential product fold
(Spark aggregate HOF / DuckDB recursive CTE), multiplications
identically placed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import SQL_EXACT_INT as _DEC, cents, pround, sql_cents, sql_round as R
from ..registry import query


# ---------------------------------------------------------------------------
# Theil–Sen: median of pairwise slopes (demand qty vs retail price per
# part type). Pairwise work is quadratic in GROUP size, so each type
# is capped to its first 100 parts by key order — a deterministic
# subsample that bounds the self-join to C(100,2) pairs per type at
# ANY corpus size (the documented Theil-Sen scale trade; the windows
# partition by type and the cap survives data growth unchanged).
# Slopes are doubles from exact integer (x, y); the median slope and
# median intercept are percentile_disc picks — bit-exact.
# ---------------------------------------------------------------------------

_TS_CAP = 100


@query(
    "theil_sen_price_qty_by_type",
    oracle=f"""
WITH pts0 AS (
  SELECT p.p_type, p.p_partkey,
         CAST({sql_cents("p.p_retailprice")} AS BIGINT) AS x,
         CAST(sum({sql_cents("l.l_quantity", 0)}) AS BIGINT) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_type, p.p_partkey, p.p_retailprice
), pts AS (
  SELECT p_type, p_partkey, x, y FROM (
    SELECT *, row_number() OVER (PARTITION BY p_type ORDER BY p_partkey) AS rk
    FROM pts0)
  WHERE rk <= {_TS_CAP}
), slopes AS (
  SELECT a.p_type,
         CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS s
  FROM pts a JOIN pts b
    ON a.p_type = b.p_type AND a.p_partkey < b.p_partkey AND a.x <> b.x
), med AS (
  SELECT p_type, CAST(count(*) AS BIGINT) AS n_pairs,
         quantile_disc(s, 0.50) AS ts_slope
  FROM slopes GROUP BY p_type
), icept AS (
  SELECT p.p_type,
         quantile_disc(CAST(p.y AS DOUBLE) - m.ts_slope * CAST(p.x AS DOUBLE), 0.50)
           AS ts_icept
  FROM pts p JOIN med m ON p.p_type = m.p_type
  GROUP BY p.p_type
), np AS (
  SELECT p_type, CAST(count(*) AS BIGINT) AS n_parts_used FROM pts GROUP BY p_type
)
SELECT m.p_type, n.n_parts_used, m.n_pairs,
       {R("m.ts_slope", 6)} AS ts_slope,
       {R("i.ts_icept / 100.0", 4)} AS ts_icept
FROM med m JOIN icept i ON m.p_type = i.p_type JOIN np n ON m.p_type = n.p_type
ORDER BY m.p_type
""",
)
def theil_sen_price_qty_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_type", "p_retailprice"
    )
    pts0 = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_type", "p_partkey", "p_retailprice")
        .agg(F.sum(cents("l_quantity", 0)).cast("long").alias("y"))
        .select("p_type", "p_partkey", cents("p_retailprice").alias("x"), "y")
    )
    wcap = W.partitionBy("p_type").orderBy("p_partkey")
    pts = (
        pts0.withColumn("rk", F.row_number().over(wcap))
        .filter(F.col("rk") <= _TS_CAP)
        .drop("rk")
    )
    a = pts.select(
        "p_type", F.col("p_partkey").alias("ka"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = pts.select(
        F.col("p_type").alias("t2"),
        F.col("p_partkey").alias("kb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
    )
    slopes = (
        a.join(
            b,
            (F.col("p_type") == F.col("t2"))
            & (F.col("ka") < F.col("kb"))
            & (F.col("xa") != F.col("xb")),
        )
        .select(
            "p_type",
            (
                (F.col("yb") - F.col("ya")).cast("double")
                / (F.col("xb") - F.col("xa")).cast("double")
            ).alias("s"),
        )
    )
    med = slopes.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY s)").alias("ts_slope"),
    )
    icept = (
        pts.join(F.broadcast(med.select("p_type", "ts_slope")), "p_type")
        .select(
            "p_type",
            (
                F.col("y").cast("double") - F.col("ts_slope") * F.col("x").cast("double")
            ).alias("r"),
        )
        .groupBy("p_type")
        .agg(
            F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY r)").alias("ts_icept")
        )
    )
    np_ = pts.groupBy("p_type").agg(F.count(F.lit(1)).cast("long").alias("n_parts_used"))
    return (
        med.join(icept, "p_type")
        .join(np_, "p_type")
        .select(
            "p_type",
            "n_parts_used",
            "n_pairs",
            pround(F.col("ts_slope"), 6).alias("ts_slope"),
            pround(F.col("ts_icept") / F.lit(100.0), 4).alias("ts_icept"),
        )
        .orderBy("p_type")
    )


# ---------------------------------------------------------------------------
# Monthly chain-linked Fisher index: per-month matched-part links
# L_m, P_m over consecutive months, F_m = sqrt(L_m·P_m), chained by a
# sequential product fold (I_m = 100·Π F_k). The month-to-month join
# is an equi-join on (part, month−1) — linear; month-level link
# aggregates are DECIMAL-exact; the fold multiplies identically in
# both engines (Spark aggregate HOF over the sorted link array,
# DuckDB recursive CTE stepping by month rank).
# ---------------------------------------------------------------------------

_CHF_SPARK = """
aggregate(
  a,
  named_struct('idx', CAST(100.0 AS DOUBLE),
               'out', CAST(array() AS ARRAY<STRUCT<ord: BIGINT, month: STRING,
                                                   f: DOUBLE, idx: DOUBLE>>)),
  (acc, x) -> named_struct(
      'idx', acc.idx * x.f,
      'out', array_append(acc.out, named_struct(
          'ord', x.ord, 'month', x.month, 'f', x.f, 'idx', acc.idx * x.f))),
  acc -> acc.out)
"""


@query(
    "price_index_chained_fisher",
    oracle=f"""
WITH RECURSIVE pm AS (
  SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT) AS ord,
         strftime(l_shipdate, '%Y-%m') AS month, l_partkey,
         sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS extc,
         sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS qty
  FROM lineitem GROUP BY 1, 2, l_partkey
), up AS (
  SELECT ord, month, l_partkey, qty,
         CAST(floor(CAST(extc AS DOUBLE) / qty + 0.5) AS BIGINT) AS upc
  FROM pm WHERE qty > 0
), links AS (
  SELECT c.ord, c.month,
         CAST(sum(CAST(c.upc AS HUGEINT) * p.qty) AS HUGEINT) AS num_l,
         CAST(sum(CAST(p.upc AS HUGEINT) * p.qty) AS HUGEINT) AS den_l,
         CAST(sum(CAST(c.upc AS HUGEINT) * c.qty) AS HUGEINT) AS num_p,
         CAST(sum(CAST(p.upc AS HUGEINT) * c.qty) AS HUGEINT) AS den_p
  FROM up c JOIN up p ON c.l_partkey = p.l_partkey AND p.ord = c.ord - 1
  GROUP BY c.ord, c.month
), fm AS (
  SELECT ord, month,
         sqrt((CAST(num_l AS DOUBLE) / CAST(den_l AS DOUBLE))
              * (CAST(num_p AS DOUBLE) / CAST(den_p AS DOUBLE))) AS f,
         row_number() OVER (ORDER BY ord) AS rn
  FROM links
), chain AS (
  SELECT ord, month, f, rn, 100.0 * f AS idx FROM fm WHERE rn = 1
  UNION ALL
  SELECT i.ord, i.month, i.f, i.rn, w.idx * i.f
  FROM chain w JOIN fm i ON i.rn = w.rn + 1
)
SELECT month, {R("f", 6)} AS link_fisher, {R("idx", 4)} AS chained_index
FROM chain
ORDER BY month
""",
)
def price_index_chained_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1)
        .cast("long")
        .alias("ord"),
        F.date_format("l_shipdate", "yyyy-MM").alias("month"),
        "l_partkey",
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")).alias(
            "extc"
        ),
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long")).alias("qty"),
    )
    up = pm.filter(F.col("qty") > 0).select(
        "ord",
        "month",
        "l_partkey",
        "qty",
        F.floor(F.col("extc").cast("double") / F.col("qty") + 0.5)
        .cast("long")
        .alias("upc"),
    )
    prev = up.select(
        F.col("l_partkey").alias("pk"),
        (F.col("ord") + 1).alias("ord_next"),
        F.col("qty").alias("qty_p"),
        F.col("upc").alias("upc_p"),
    )
    dec = lambda c: c.cast(_DEC)  # noqa: E731
    links = (
        up.join(
            prev,
            (F.col("l_partkey") == F.col("pk")) & (F.col("ord") == F.col("ord_next")),
        )
        .groupBy("ord", "month")
        .agg(
            F.sum(dec(F.col("upc") * F.col("qty_p"))).alias("num_l"),
            F.sum(dec(F.col("upc_p") * F.col("qty_p"))).alias("den_l"),
            F.sum(dec(F.col("upc") * F.col("qty"))).alias("num_p"),
            F.sum(dec(F.col("upc_p") * F.col("qty"))).alias("den_p"),
        )
    )
    fm = links.select(
        "ord",
        "month",
        F.sqrt(
            (F.col("num_l").cast("double") / F.col("den_l").cast("double"))
            * (F.col("num_p").cast("double") / F.col("den_p").cast("double"))
        ).alias("f"),
    )
    folded = fm.agg(
        F.array_sort(F.collect_list(F.struct("ord", "month", "f"))).alias("a")
    ).select(F.explode(F.expr(_CHF_SPARK)).alias("s"))
    return folded.select(
        F.col("s.month").alias("month"),
        pround(F.col("s.f"), 6).alias("link_fisher"),
        pround(F.col("s.idx"), 4).alias("chained_index"),
    ).orderBy("month")
