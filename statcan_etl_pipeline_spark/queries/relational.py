"""Relational core: TPC-H-shaped analytics adapted to the testdata
columns, plus the SQL-surface coverage queries (JSON extraction, window
navigation and distribution functions, string and fuzzy matching, array
higher-order functions, GROUPING SETS, date arithmetic, NULL semantics,
safe casts, percentile_disc, full outer joins, hash-bucket sampling and
a portable Pearson correlation).

Spark side is pure DataFrame API (Catalyst sees the whole plan: filter
pushdown, column pruning, broadcast dim joins). Oracles are ANSI SQL for
DuckDB with identical output column names and identical (portable,
floor-based) rounding — see functions/portable.py.

Parity notes:
- Ratio-of-sums queries divide two fixed-point money sums — both engines
  produce identical numerators/denominators, so the quotient double is
  bit-identical (IEEE division is correctly rounded).
- Q21 "late" is a timestamp + INTERVAL comparison — exact on both
  engines (no float involved).
- Q11 compares integer cent sums cross-multiplied by the fraction
  denominator, so the HAVING is exact integer arithmetic on both sides.
- Correlation moments are integer fixed-point sums (the
  `variance_order_value` pattern); the final double expression is
  computed from identical integers on both engines, so IEEE ops make it
  bit-identical. Σp² is stored in units²/100 to keep per-group sums
  below 2^63 through sf≈1000 (6e9 rows × 1.1e8 ≈ 6.6e17).
- Sampling uses md5 hex-prefix bucketing (substr(md5(key),1,1) = '0',
  a deterministic 1/16 sample) — the same md5-as-string trick the
  minhash operator uses, so no hex→int conversion is needed.

Scale notes (100 TB): every query here aggregates before any ordering;
top-k is agg → orderBy → limit (partial-agg + TakeOrdered, no global
sort of the fact table); dimension joins are broadcast; windows
partition by bounded keys except the explicitly-small post-aggregate
daily series in `window_running_revenue`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import (
    REV_SQL,
    cents,
    money_avg,
    money_sum,
    pround,
    sql_cents as C,
    sql_money_avg as MA,
    sql_money_sum as MS,
    sql_round as R,
)
from ..registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _revenue() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# Q1: pricing summary — scan + filter + wide aggregate
# ---------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {MS("l_quantity")}                                  AS sum_qty,
       {MS("l_extendedprice")}                             AS sum_base_price,
       {MS(REV_SQL)}                                       AS sum_disc_price,
       {MS(f"{REV_SQL} * (1 + l_tax)")}                    AS sum_charge,
       {MA("l_quantity")}                                  AS avg_qty,
       {MA("l_extendedprice")}                             AS avg_price,
       {MA("l_discount", 4)}                               AS avg_disc,
       count(*)                                            AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum("l_quantity").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            money_sum(_revenue()).alias("sum_disc_price"),
            money_sum(_revenue() * (1 + F.col("l_tax"))).alias("sum_charge"),
            money_avg("l_quantity").alias("avg_qty"),
            money_avg("l_extendedprice").alias("avg_price"),
            money_avg("l_discount", 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Q3: top unshipped orders — 3-way join + top-k
# ---------------------------------------------------------------------------
@query(
    "q3_top_unshipped",
    oracle=f"""
SELECT l_orderkey,
       {MS(REV_SQL)}                     AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01'
  AND l_shipdate  > TIMESTAMP '1997-06-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q3_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(money_sum(_revenue()).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q5: local supplier volume — snowflake join (region→nation→cust/supp)
# ---------------------------------------------------------------------------
@query(
    "q5_local_supplier_volume",
    oracle=f"""
SELECT n_name,
       {MS(REV_SQL)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(money_sum(_revenue()).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# Q6: forecast revenue change — tight scan filter, single aggregate
# ---------------------------------------------------------------------------
@query(
    "q6_forecast_revenue",
    oracle=f"""
SELECT {MS("l_extendedprice * l_discount")} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


# ---------------------------------------------------------------------------
# Q7: volume shipping between two nations
# ---------------------------------------------------------------------------
@query(
    "q7_volume_shipping",
    oracle=f"""
SELECT n1.n_name                        AS supp_nation,
       n2.n_name                        AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       {MS(REV_SQL)}                    AS revenue
FROM supplier
JOIN lineitem  ON s_suppkey = l_suppkey
JOIN orders    ON o_orderkey = l_orderkey
JOIN customer  ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(money_sum(_revenue()).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Q9: product-type profit (pseudo supply cost: 50% of retail price)
# ---------------------------------------------------------------------------
@query(
    "q9_product_profit",
    oracle=f"""
SELECT n_name                            AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       {MS(f"{REV_SQL} - 0.5 * p_retailprice * l_quantity")} AS sum_profit
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
ORDER BY n_name, o_year
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    profit = _revenue() - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            profit.alias("profit"),
        )
        .groupBy("nation", "o_year")
        .agg(money_sum("profit").alias("sum_profit"))
        .orderBy("nation", "o_year")
    )


# ---------------------------------------------------------------------------
# Q10: returned-items revenue by customer — top-k
# ---------------------------------------------------------------------------
@query(
    "q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name,
       {MS(REV_SQL)}  AS revenue,
       {R("any_value(c_acctbal)")} AS acctbal,
       n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            money_sum(_revenue()).alias("revenue"),
            pround(F.first("c_acctbal")).alias("acctbal"),
        )
        .select("c_custkey", "c_name", "revenue", "acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q12-shaped: order-priority class counts by return flag (conditional agg)
# ---------------------------------------------------------------------------
@query(
    "q12_priority_class",
    oracle="""
SELECT l_returnflag,
       count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_count,
       count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(is_high, 1)).alias("high_count"),
            F.count(F.when(~is_high, 1)).alias("low_count"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Q18: large-volume orders — groupBy-HAVING then join back
# ---------------------------------------------------------------------------
@query(
    "q18_large_orders",
    oracle=f"""
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       {R("any_value(o_totalprice)")}    AS totalprice,
       {MS("l_quantity")}                AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
)
GROUP BY c_name, c_custkey, o_orderkey, orderdate
ORDER BY totalprice DESC, o_orderkey
LIMIT 100
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 300)
        .select(F.col("l_orderkey").alias("_bk"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        li.join(big, li.l_orderkey == F.col("_bk"), "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .agg(
            pround(F.first("o_totalprice")).alias("totalprice"),
            money_sum("l_quantity").alias("sum_qty"),
        )
        .select("c_name", "c_custkey", "o_orderkey", "orderdate", "totalprice", "sum_qty")
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Set ops / semi / anti
# ---------------------------------------------------------------------------
@query(
    "distinct_mktsegments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
)
def distinct_mktsegments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment")


@query(
    "anti_join_customers_without_orders",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
""",
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "semi_join_suppliers_with_returns",
    oracle="""
SELECT s_suppkey, s_name FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_returnflag = 'R')
ORDER BY s_suppkey
""",
)
def semi_join_suppliers_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        supp.join(li, supp.s_suppkey == li.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Grouping sets: rollup & cube
# ---------------------------------------------------------------------------
@query(
    "agg_rollup_sales",
    oracle=f"""
SELECT n_name,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       {MS(REV_SQL)}                     AS revenue,
       count(DISTINCT o_orderkey)        AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, o_year)
ORDER BY n_name NULLS FIRST, o_year NULLS FIRST
""",
)
def agg_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    # Pre-aggregate at the (nation, year) leaf, then roll up plain sums:
    # every order maps to exactly ONE leaf (one customer → one nation;
    # one orderdate → one year), so distinct counts are additive and the
    # rollup's Expand runs over ~|nations×years| rows instead of the raw
    # join (measured 2.7× at sf0.1). Revenue stays exact integer cents
    # until the final division.
    # r14 (guide §2.3 — partial aggregation before the join): lineitem
    # first collapses to one exact integer-cent revenue row PER ORDER,
    # so the order/customer join moves ~4× fewer rows and the leaf's
    # countDistinct(o_orderkey) becomes a plain count(*) (each order
    # contributes exactly one row). Revenue is identical — integer
    # cents are associative — and the order set is unchanged (orders
    # without lineitems appear in neither shape). Interleaved A/B
    # min-of-3 won all three pairs: 2.16/1.41/1.33 → 1.14/0.92/0.86 s.
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(cents(_revenue())).alias("rev_c")
    )
    leaf = (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("n_name", "o_year")
        .agg(
            F.sum("rev_c").alias("rev_c"),
            F.count(F.lit(1)).alias("n_o"),
        )
    )
    return (
        leaf.rollup("n_name", "o_year")
        .agg(
            (F.sum("rev_c") / F.lit(100.0)).alias("revenue"),
            F.sum("n_o").alias("n_orders"),
        )
        .orderBy(F.asc_nulls_first("n_name"), F.asc_nulls_first("o_year"))
    )


@query(
    "agg_cube_flags",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {MS("l_quantity")} AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def agg_cube_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(money_sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus"))
    )


# ---------------------------------------------------------------------------
# Pivot / unpivot
# ---------------------------------------------------------------------------
@query(
    "pivot_status_by_segment",
    oracle="""
SELECT c_mktsegment,
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
       count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    piv = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return piv.select(
        "c_mktsegment",
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_p"),
    ).orderBy("c_mktsegment")


@query(
    "unpivot_part_measures",
    oracle=f"""
SELECT p_partkey, 'p_retailprice' AS measure, {R("p_retailprice")} AS value FROM part
UNION ALL
SELECT p_partkey, 'p_size' AS measure, {R("CAST(p_size AS DOUBLE)")} AS value FROM part
ORDER BY p_partkey, measure
""",
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        pround("p_retailprice").alias("p_retailprice"),
        pround(F.col("p_size").cast("double")).alias("p_size"),
    )
    return part.unpivot(
        ids=["p_partkey"],
        values=["p_retailprice", "p_size"],
        variableColumnName="measure",
        valueColumnName="value",
    ).orderBy("p_partkey", "measure")


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------
@query(
    "window_top3_parts_per_supplier",
    oracle=f"""
WITH sp AS (
  SELECT l_suppkey, l_partkey, {MS("l_quantity")} AS sum_qty
  FROM lineitem GROUP BY l_suppkey, l_partkey
), r AS (
  SELECT l_suppkey, l_partkey, sum_qty,
         CAST(row_number() OVER (PARTITION BY l_suppkey ORDER BY sum_qty DESC, l_partkey) AS BIGINT) AS rn
  FROM sp
)
SELECT l_suppkey, l_partkey, sum_qty, rn FROM r WHERE rn <= 3
ORDER BY l_suppkey, rn
""",
)
def window_top3_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    sp = li.groupBy("l_suppkey", "l_partkey").agg(money_sum("l_quantity").alias("sum_qty"))
    w = W.partitionBy("l_suppkey").orderBy(F.desc("sum_qty"), F.asc("l_partkey"))
    return (
        sp.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .orderBy("l_suppkey", "rn")
    )


@query(
    "window_running_revenue",
    oracle=f"""
WITH daily AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS d,
         {MS("o_totalprice")} AS revenue
  FROM orders GROUP BY d
)
SELECT d, revenue,
       (CAST(sum({C("revenue")}) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0) AS running,
       ((CAST(sum({C("revenue")}) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0)
        / count(*) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS mov7
FROM daily
ORDER BY d
""",
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The window is over the POST-AGGREGATE daily series (~2.5k rows at
    # any SF — bounded by calendar days), so a single-partition ordered
    # window is safe here; the fact-table scan itself never sorts globally.
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("d")).agg(
        money_sum("o_totalprice").alias("revenue")
    )
    w = W.orderBy("d")
    wcum = w.rowsBetween(W.unboundedPreceding, 0)
    w7 = w.rowsBetween(-6, 0)
    return (
        daily.withColumn("running", F.sum(cents("revenue")).over(wcum) / F.lit(100.0))
        .withColumn(
            "mov7",
            (F.sum(cents("revenue")).over(w7) / F.lit(100.0)) / F.count(F.lit(1)).over(w7),
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# Percentiles / top-k
# ---------------------------------------------------------------------------
@query(
    "percentiles_order_value",
    oracle=f"""
SELECT c_mktsegment,
       {R("quantile_cont(o_totalprice, 0.5)")} AS p50,
       {R("quantile_cont(o_totalprice, 0.9)")} AS p90,
       count(*) AS n
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def percentiles_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            pround(F.expr("percentile(o_totalprice, 0.5)")).alias("p50"),
            pround(F.expr("percentile(o_totalprice, 0.9)")).alias("p90"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "topk_customers_by_revenue",
    oracle=f"""
SELECT c_custkey, c_name, {MS("o_totalprice")} AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey
LIMIT 25
""",
)
def topk_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(money_sum("o_totalprice").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Q4-shaped: late-shipped orders by priority (EXISTS with range condition)
# ---------------------------------------------------------------------------
@query(
    "q4_late_shipment_priority",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q4_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q8-shaped: market share of one nation per order year
# ---------------------------------------------------------------------------
@query(
    "q8_market_share",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       ({MS(f"CASE WHEN n_name = 'NATION_3' THEN {REV_SQL} ELSE 0.0 END")}
        / {MS(REV_SQL)}) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY o_year
ORDER BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    nation_rev = F.when(F.col("n_name") == "NATION_3", _revenue()).otherwise(F.lit(0.0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((money_sum(nation_rev) / money_sum(_revenue())).alias("mkt_share"))
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Q13-shaped: customer order-count distribution (left join incl. zeros)
# ---------------------------------------------------------------------------
@query(
    "q13_customer_distribution",
    oracle="""
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# Q14-shaped: promo revenue share
# ---------------------------------------------------------------------------
@query(
    "q14_promo_revenue_share",
    oracle=f"""
SELECT (100.0 * {MS(f"CASE WHEN p_type = 'PROMO' THEN {REV_SQL} ELSE 0.0 END")}
        / {MS(REV_SQL)}) AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-06-01'
  AND l_shipdate <  TIMESTAMP '1996-07-01'
""",
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    promo_rev = F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(F.lit(0.0))
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey).agg(
        (F.lit(100.0) * money_sum(promo_rev) / money_sum(_revenue())).alias("promo_share")
    )


# ---------------------------------------------------------------------------
# Q15-shaped: top supplier(s) by period revenue (ties kept)
# ---------------------------------------------------------------------------
@query(
    "q15_top_supplier",
    oracle=f"""
WITH srev AS (
  SELECT l_suppkey AS supplier_no, {MS(REV_SQL)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN srev ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM srev)
ORDER BY s_suppkey
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    srev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        money_sum(_revenue()).alias("total_revenue")
    )
    mx = srev.agg(F.max("total_revenue").alias("mx"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        srev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q16-shaped: supplier counts by part attributes
# ---------------------------------------------------------------------------
@query(
    "q16_parts_supplier_counts",
    oracle="""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'BRAND_1' AND p_size IN (1, 5, 9, 13, 17)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def q16_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "BRAND_1") & F.col("p_size").isin(1, 5, 9, 13, 17)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# Q17-shaped: small-quantity orders vs per-part average (self-agg join)
# ---------------------------------------------------------------------------
@query(
    "q17_small_quantity_revenue",
    oracle=f"""
WITH pa AS (
  SELECT l_partkey AS pk, {MA("l_quantity")} AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT ({MS("l_extendedprice")} / 7.0) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pa   ON pk = l_partkey
WHERE p_brand = 'BRAND_1' AND l_quantity < 0.5 * avg_qty
""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "BRAND_1")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(money_avg("l_quantity").alias("avg_qty"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(pa, li.l_partkey == pa.pk)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg((money_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# Q19-shaped: disjunctive predicate revenue
# ---------------------------------------------------------------------------
@query(
    "q19_disjunctive_revenue",
    oracle=f"""
SELECT {MS(REV_SQL)} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'BRAND_1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'BRAND_2' AND p_size BETWEEN 5 AND 20 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'BRAND_3' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 20 AND 50)
""",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "BRAND_1") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(1, 15))
        | ((F.col("p_brand") == "BRAND_2") & F.col("p_size").between(5, 20) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "BRAND_3") & F.col("p_size").between(10, 40) & F.col("l_quantity").between(20, 50))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(money_sum(_revenue()).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q20-shaped: suppliers whose shipped quantity of matching parts exceeds
# half that part's total shipped quantity (nested aggregate + semijoin)
# ---------------------------------------------------------------------------
@query(
    "q20_dominant_suppliers",
    oracle=f"""
WITH per_ps AS (
  SELECT l_partkey, l_suppkey, {MS("l_quantity")} AS qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%red%'
  GROUP BY l_partkey, l_suppkey
), per_p AS (
  SELECT l_partkey AS pk, {MS("l_quantity")} AS total_qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%red%'
  GROUP BY pk
)
SELECT s_suppkey, s_name, count(*) AS n_dominated_parts
FROM per_ps
JOIN per_p ON pk = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE qty > 0.5 * total_qty
GROUP BY s_suppkey, s_name
ORDER BY n_dominated_parts DESC, s_suppkey
""",
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = _t(spark, sf_dir, "supplier")
    red = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    per_ps = red.groupBy("l_partkey", "l_suppkey").agg(money_sum("l_quantity").alias("qty"))
    per_p = red.groupBy(F.col("l_partkey").alias("pk")).agg(
        money_sum("l_quantity").alias("total_qty")
    )
    return (
        per_ps.join(per_p, per_ps.l_partkey == per_p.pk)
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
        .orderBy(F.desc("n_dominated_parts"), "s_suppkey")
    )


# ---------------------------------------------------------------------------
# Cohort retention: users active in the first week still active in week 4
# ---------------------------------------------------------------------------
@query(
    "events_week4_retention",
    oracle="""
WITH w1 AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts < TIMESTAMP '2024-01-08'
), w4 AS (
  SELECT DISTINCT user_id FROM events
  WHERE ts >= TIMESTAMP '2024-01-22' AND ts < TIMESTAMP '2024-01-29'
)
SELECT (SELECT count(*) FROM w1) AS cohort,
       (SELECT count(*) FROM w1 WHERE user_id IN (SELECT user_id FROM w4)) AS retained
""",
)
def events_week4_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w1 = ev.filter(F.col("ts") < F.lit("2024-01-08").cast("timestamp")).select(
        "user_id"
    ).distinct()
    w4 = ev.filter(
        (F.col("ts") >= F.lit("2024-01-22").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-29").cast("timestamp"))
    ).select("user_id").distinct()
    retained = w1.join(w4, "user_id", "left_semi")
    return w1.agg(F.count(F.lit(1)).alias("cohort")).crossJoin(
        retained.agg(F.count(F.lit(1)).alias("retained"))
    )


# ---------------------------------------------------------------------------
# Q22-shaped: wealthy inactive customers by pseudo country code
# ---------------------------------------------------------------------------
@query(
    "q22_wealthy_inactive",
    oracle=f"""
WITH avg_bal AS (
  SELECT {MA("c_acctbal", 4)} AS ab FROM customer WHERE c_acctbal > 0.0
)
SELECT CAST(c_nationkey % 10 AS BIGINT) AS cntrycode,
       count(*) AS numcust,
       {MS("c_acctbal")} AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY cntrycode
ORDER BY cntrycode
""",
)
def q22_wealthy_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        money_avg("c_acctbal", 4).alias("ab")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 10).cast("long").alias("cntrycode"))
        .agg(F.count(F.lit(1)).alias("numcust"), money_sum("c_acctbal").alias("totacctbal"))
        .orderBy("cntrycode")
    )


# ---------------------------------------------------------------------------
# Q2-shaped: argmax per group — dominant supplier per part in one region
# ---------------------------------------------------------------------------
@query(
    "q2_top_supplier_per_part",
    oracle=f"""
WITH vol AS (
  SELECT l_partkey, l_suppkey, {MS("l_quantity")} AS qty
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
  GROUP BY l_partkey, l_suppkey
), ranked AS (
  SELECT l_partkey, l_suppkey, qty,
         row_number() OVER (PARTITION BY l_partkey ORDER BY qty DESC, l_suppkey) AS rn
  FROM vol
)
SELECT l_partkey, l_suppkey AS top_suppkey, qty
FROM ranked WHERE rn = 1
ORDER BY l_partkey
""",
)
def q2_top_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(money_sum("l_quantity").alias("qty"))
    )
    w = W.partitionBy("l_partkey").orderBy(F.desc("qty"), F.asc("l_suppkey"))
    return (
        vol.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_partkey", F.col("l_suppkey").alias("top_suppkey"), "qty")
        .orderBy("l_partkey")
    )


# ---------------------------------------------------------------------------
# JSON extraction from the events props column
# ---------------------------------------------------------------------------
@query(
    "events_json_extract",
    oracle=f"""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       count(*) AS n,
       {MS("value")} AS total_value
FROM events
GROUP BY k
ORDER BY k
""",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.get_json_object("props", "$.k").cast("long").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"), money_sum("value").alias("total_value"))
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Window navigation: lead/lag/rank family over per-user event sequences
# ---------------------------------------------------------------------------
@query(
    "window_navigation_events",
    oracle=f"""
SELECT event_id, user_id,
       lag(event_type)  OVER w AS prev_type,
       lead(event_type) OVER w AS next_type,
       CAST(rank()       OVER wv AS BIGINT) AS value_rank,
       CAST(dense_rank() OVER wv AS BIGINT) AS value_dense_rank,
       CAST(ntile(4)     OVER wv AS BIGINT) AS quartile
FROM events
WINDOW w  AS (PARTITION BY user_id ORDER BY ts, event_id),
       wv AS (PARTITION BY user_id ORDER BY value DESC, event_id)
ORDER BY user_id, event_id
""",
)
def window_navigation_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wv = W.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.rank().over(wv).cast("long").alias("value_rank"),
        F.dense_rank().over(wv).cast("long").alias("value_dense_rank"),
        F.ntile(4).over(wv).cast("long").alias("quartile"),
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# Scalar string-function coverage (portable subset)
# ---------------------------------------------------------------------------
@query(
    "string_functions_demo",
    oracle="""
SELECT p_partkey,
       upper(p_name)                          AS uname,
       reverse(p_name)                        AS rname,
       lpad(p_brand, 12, '.')                 AS padded,
       replace(p_name, ' ', '_')              AS snake,
       split_part(p_name, ' ', 1)             AS first_word,
       CAST(length(p_name) AS BIGINT)         AS name_len,
       substr(p_name, 2, 3)                   AS mid,
       concat(p_brand, '/', p_type)           AS brand_type
FROM part
ORDER BY p_partkey
LIMIT 500
""",
)
def string_functions_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.upper("p_name").alias("uname"),
            F.reverse(F.col("p_name")).alias("rname"),
            F.lpad("p_brand", 12, ".").alias("padded"),
            F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake"),
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
            F.length("p_name").cast("long").alias("name_len"),
            F.substring("p_name", 2, 3).alias("mid"),
            F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
        )
        .orderBy("p_partkey")
        .limit(500)
    )


# ---------------------------------------------------------------------------
# Date-part extraction (portable subset: year/quarter/month/day)
# ---------------------------------------------------------------------------
@query(
    "orders_by_quarter",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS BIGINT)    AS y,
       CAST(quarter(o_orderdate) AS BIGINT) AS q,
       count(*) AS n,
       {MS("o_totalprice")} AS revenue
FROM orders
GROUP BY y, q
ORDER BY y, q
""",
)
def orders_by_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("long").alias("y"),
            F.quarter("o_orderdate").cast("long").alias("q"),
        )
        .agg(F.count(F.lit(1)).alias("n"), money_sum("o_totalprice").alias("revenue"))
        .orderBy("y", "q")
    )


# ---------------------------------------------------------------------------
# Fuzzy string match: levenshtein distance to a probe name
# ---------------------------------------------------------------------------
@query(
    "string_fuzzy_part_match",
    oracle="""
SELECT p_partkey, p_name, CAST(levenshtein(p_name, 'red widget') AS BIGINT) AS dist
FROM part
WHERE levenshtein(p_name, 'red widget') <= 5
ORDER BY dist, p_partkey
""",
)
def string_fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    dist = F.levenshtein(F.col("p_name"), F.lit("red widget"))
    return (
        part.select("p_partkey", "p_name", dist.cast("long").alias("dist"))
        .filter(F.col("dist") <= 5)
        .orderBy("dist", "p_partkey")
    )


# ---------------------------------------------------------------------------
# Array higher-order functions: per-user sorted type digests
# ---------------------------------------------------------------------------
@query(
    "array_hof_user_digest",
    oracle="""
SELECT user_id,
       array_to_string(list(DISTINCT event_type ORDER BY event_type), ',') AS types_sorted,
       CAST(len(list(DISTINCT event_type ORDER BY event_type)) AS BIGINT)  AS n_types
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def array_hof_user_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    types = F.array_sort(F.collect_set("event_type"))
    return (
        ev.groupBy("user_id")
        .agg(
            F.concat_ws(",", types).alias("types_sorted"),
            F.size(types).cast("long").alias("n_types"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# RANGE window frame: trailing 7 CALENDAR days (not 7 rows) of revenue
# ---------------------------------------------------------------------------
@query(
    "window_range_7day_revenue",
    oracle=f"""
WITH daily AS (
  SELECT CAST(floor(epoch(o_orderdate) / 86400.0) AS BIGINT) AS day_num,
         strftime(o_orderdate, '%Y-%m-%d') AS d,
         {MS("o_totalprice")} AS revenue
  FROM orders GROUP BY day_num, d
)
SELECT d, revenue,
       (CAST(sum({C("revenue")}) OVER (
          ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0)
         AS trailing_7d
FROM daily
ORDER BY d
""",
)
def window_range_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RANGE frame over day numbers: calendar-aware trailing sum that is
    # correct across gaps in the date series (a ROWS frame is not).
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.floor(F.unix_timestamp("o_orderdate") / F.lit(86400.0))
        .cast("long")
        .alias("day_num"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
    ).agg(money_sum("o_totalprice").alias("revenue"))
    w = W.orderBy("day_num").rangeBetween(-6, 0)
    return (
        daily.withColumn(
            "trailing_7d", F.sum(cents("revenue")).over(w) / F.lit(100.0)
        )
        .select("d", "revenue", "trailing_7d")
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# Portable variance/stddev: engines' stddev_samp implementations
# (Welford vs sum-of-squares) produce different float noise, so compute
# variance from EXACT integer fixed-point sums: n·Σx² − (Σx)² over
# n(n−1). Σx in cents (<2^63 to sf~1e4); Σx² in whole units² so the
# per-segment sum stays ~9e16 at sf1 — two orders of magnitude of
# headroom below 2^63 (cents²·1e-2 would hit 2^63 near sf1). Both
# engines sum the SAME integers, so the parity is exact by construction.
# ---------------------------------------------------------------------------
@query(
    "variance_order_value",
    oracle=f"""
WITH c AS (
  SELECT c_mktsegment, {R("o_totalprice")} AS v
  FROM orders JOIN customer ON o_custkey = c_custkey
), s AS (
  SELECT c_mktsegment,
         count(*) AS n,
         CAST(sum(CAST(floor(v * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(floor(v * v + 0.5) AS BIGINT)) AS BIGINT) AS sxx
  FROM c GROUP BY c_mktsegment
)
SELECT c_mktsegment, n,
       {R("((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE) / 100.0) * (CAST(sx AS DOUBLE) / 100.0)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))", 2)} AS variance,
       {R("sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE) / 100.0) * (CAST(sx AS DOUBLE) / 100.0)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))", 2)} AS stddev
FROM s
ORDER BY c_mktsegment
""",
)
def variance_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    v = pround("o_totalprice")
    sx_term = F.floor(v * F.lit(100.0) + F.lit(0.5)).cast("long")
    sxx_term = F.floor(v * v + F.lit(0.5)).cast("long")
    s = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(sx_term).cast("long").alias("sx"),
            F.sum(sxx_term).cast("long").alias("sxx"),
        )
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double") / F.lit(100.0)
    sxxd = F.col("sxx").cast("double")
    var = (nd * sxxd - sxd * sxd) / (nd * (nd - F.lit(1.0)))
    return s.select(
        "c_mktsegment",
        "n",
        pround(var, 2).alias("variance"),
        pround(F.sqrt(var), 2).alias("stddev"),
    ).orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# GROUPING SETS via the SQL API — the fragment is engine-portable, so the
# Spark query text IS the oracle text.
# ---------------------------------------------------------------------------
_GROUPING_SETS_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {MS("l_quantity")} AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@query("grouping_sets_flags", oracle=_GROUPING_SETS_SQL)
def grouping_sets_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_GROUPING_SETS_SQL)


# ---------------------------------------------------------------------------
# Q21-shaped: suppliers who were the sole late shipper of a
# multi-supplier order. The testdata has no commit/receipt dates, so
# "late" is l_shipdate > o_orderdate + 60 days. Two-level aggregation:
# per-order distinct-supplier / distinct-late-supplier counts, then the
# late lineitem rows of qualifying orders rolled up per supplier.
# ---------------------------------------------------------------------------
@query(
    "q21_waiting_suppliers",
    oracle="""
WITH ol AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
  FROM ol GROUP BY l_orderkey
), sole_late AS (
  SELECT DISTINCT ol.l_orderkey, ol.l_suppkey
  FROM ol JOIN per_order USING (l_orderkey)
  WHERE ol.late AND per_order.n_supp > 1 AND per_order.n_late = 1
)
SELECT s_name, n_name, CAST(count(*) AS BIGINT) AS numwait
FROM sole_late
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY s_name, n_name
ORDER BY numwait DESC, s_name
LIMIT 25
""",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    ol = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias(
            "late"
        ),
    )
    per_order = ol.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
    )
    sole_late = (
        ol.filter("late")
        .join(
            per_order.filter("n_supp > 1 AND n_late = 1").select("l_orderkey"),
            "l_orderkey",
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        sole_late.join(F.broadcast(supp), sole_late.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Q11-shaped: "important stock" — (nation, part) groups whose revenue
# exceeds 1/20000 of the GLOBAL total (the testdata has no partsupp, so
# lineitem revenue through the supplier's nation stands in for stock
# value). The HAVING cross-multiplies integer cent sums — exact.
# ---------------------------------------------------------------------------
_Q11_FRAC = 20000


@query(
    "q11_important_stock",
    oracle=f"""
WITH v AS (
  SELECT n_name, l_partkey,
         CAST(sum(CAST(floor(({REV_SQL}) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS val_c
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, l_partkey
), g AS (SELECT CAST(sum(val_c) AS BIGINT) AS tot FROM v)
SELECT n_name, l_partkey, (CAST(val_c AS BIGINT) / 100.0) AS stock_value
FROM v, g
WHERE val_c * {_Q11_FRAC} > tot
ORDER BY stock_value DESC, n_name, l_partkey
LIMIT 100
""",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    v = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "l_partkey")
        .agg(
            F.sum(F.floor(rev * F.lit(100.0) + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("val_c")
        )
    )
    # scalar global total — one row, broadcast into the filter
    g = v.agg(F.sum("val_c").cast("long").alias("tot"))
    return (
        v.crossJoin(F.broadcast(g))
        .filter(F.col("val_c") * F.lit(_Q11_FRAC) > F.col("tot"))
        .select(
            "n_name",
            "l_partkey",
            (F.col("val_c") / F.lit(100.0)).alias("stock_value"),
        )
        .orderBy(F.desc("stock_value"), "n_name", "l_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Portable Pearson correlation (quantity vs extended price per
# returnflag) from exact integer moment sums. corr()/covar_samp()
# accumulate doubles in engine-specific order, so they are NOT
# hash-stable across engines; this is.
# Scales: Σq in centi-units, Σq² in units²·100, Σp in cents,
# Σp² in units²/100 (headroom to sf≈1000), Σpq in units.
# ---------------------------------------------------------------------------
@query(
    "corr_price_quantity",
    oracle=f"""
WITH m AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
         CAST(sum(CAST(floor(l_quantity * l_quantity * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sqq,
         CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sp,
         CAST(sum(CAST(floor(l_extendedprice * l_extendedprice / 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS spp,
         CAST(sum(CAST(floor(l_extendedprice * l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS spq
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       {R("((CAST(n AS DOUBLE) * CAST(spq AS DOUBLE) - (CAST(sp AS DOUBLE) / 100.0) * (CAST(sq AS DOUBLE) / 100.0)) / sqrt((CAST(n AS DOUBLE) * (CAST(sqq AS DOUBLE) / 100.0) - (CAST(sq AS DOUBLE) / 100.0) * (CAST(sq AS DOUBLE) / 100.0)) * (CAST(n AS DOUBLE) * (CAST(spp AS DOUBLE) * 100.0) - (CAST(sp AS DOUBLE) / 100.0) * (CAST(sp AS DOUBLE) / 100.0))))", 6)} AS corr_qty_price
FROM m
ORDER BY l_returnflag
""",
)
def corr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(q * F.lit(100.0) + F.lit(0.5)).cast("long")).cast("long").alias("sq"),
        F.sum(F.floor(q * q * F.lit(100.0) + F.lit(0.5)).cast("long")).cast("long").alias("sqq"),
        F.sum(F.floor(p * F.lit(100.0) + F.lit(0.5)).cast("long")).cast("long").alias("sp"),
        F.sum(F.floor(p * p / F.lit(100.0) + F.lit(0.5)).cast("long")).cast("long").alias("spp"),
        F.sum(F.floor(p * q + F.lit(0.5)).cast("long")).cast("long").alias("spq"),
    )
    nd = F.col("n").cast("double")
    sqd = F.col("sq").cast("double") / F.lit(100.0)
    sqqd = F.col("sqq").cast("double") / F.lit(100.0)
    spd = F.col("sp").cast("double") / F.lit(100.0)
    sppd = F.col("spp").cast("double") * F.lit(100.0)
    spqd = F.col("spq").cast("double")
    r = (nd * spqd - spd * sqd) / F.sqrt(
        (nd * sqqd - sqd * sqd) * (nd * sppd - spd * spd)
    )
    return m.select(
        "l_returnflag", "n", pround(r, 6).alias("corr_qty_price")
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Deterministic hash-bucket sampling: a 1/16 sample of orders selected
# by md5 hex prefix — reproducible across engines AND across cluster
# sizes (unlike TABLESAMPLE / rand(seed), which are partition-count
# dependent). Estimator column scales the sampled sum back up.
# ---------------------------------------------------------------------------
@query(
    "sample_hash_bucket",
    oracle=f"""
WITH s AS (
  SELECT * FROM orders
  WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_sampled,
       {MS("o_totalprice")} AS sampled_value,
       {R(f"({MS('o_totalprice')} * 16.0)")} AS est_total_value
FROM s
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def sample_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    s = orders.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0"
    )
    return (
        s.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            money_sum("o_totalprice").alias("sampled_value"),
            pround(money_sum("o_totalprice") * F.lit(16.0)).alias("est_total_value"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Distribution window functions: percent_rank / cume_dist produce exact
# rationals (k/n — IEEE-division-portable), ranked within each segment.
# ---------------------------------------------------------------------------
@query(
    "window_distribution_functions",
    oracle=f"""
WITH c AS (
  SELECT c_mktsegment, c_custkey, c_acctbal FROM customer WHERE c_custkey <= 200
)
SELECT c_mktsegment, c_custkey,
       {R("percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)", 6)} AS pct_rank,
       {R("cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)", 6)} AS cume,
       first_value(c_custkey) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS poorest,
       last_value(c_custkey)  OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS richest
FROM c
ORDER BY c_mktsegment, c_custkey
""",
)
def window_distribution_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        pround(F.percent_rank().over(w), 6).alias("pct_rank"),
        pround(F.cume_dist().over(w), 6).alias("cume"),
        F.first("c_custkey").over(wfull).alias("poorest"),
        F.last("c_custkey").over(wfull).alias("richest"),
    ).orderBy("c_mktsegment", "c_custkey")


# ---------------------------------------------------------------------------
# Date/interval arithmetic coverage: all-integer or ISO-string outputs
# (no float date math), so cross-engine parity is structural.
# ---------------------------------------------------------------------------
@query(
    "date_arithmetic_demo",
    oracle="""
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
       CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since_epoch_start,
       CAST(isodow(o_orderdate) AS BIGINT) AS iso_weekday,
       CAST(week(o_orderdate) AS BIGINT) AS iso_week
FROM orders
WHERE o_orderkey <= 100
ORDER BY o_orderkey
""",
)
def date_arithmetic_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 100)
    return orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.date_format(
            F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd"
        ).alias("due_date"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        ).cast("long").alias("days_since_epoch_start"),
        # ISO weekday (Mon=1..Sun=7): Spark dayofweek is Sun=1-based
        ((F.dayofweek("o_orderdate") + 5) % 7 + 1).cast("long").alias("iso_weekday"),
        F.weekofyear("o_orderdate").cast("long").alias("iso_week"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Null-handling semantics: coalesce / nullif / null-safe grouping —
# nulls grouped as their own key on both engines, plus null-safe
# equality in a join-ish CASE.
# ---------------------------------------------------------------------------
@query(
    "null_semantics_demo",
    oracle="""
WITH t AS (
  SELECT o_orderkey,
         nullif(o_orderpriority, '3-MEDIUM') AS prio_or_null,
         CASE WHEN o_totalprice > 200000 THEN NULL ELSE o_orderstatus END AS status_or_null
  FROM orders
)
SELECT coalesce(prio_or_null, '(defaulted)') AS prio,
       status_or_null,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(status_or_null) AS BIGINT) AS n_nonnull_status
FROM t
GROUP BY prio, status_or_null
ORDER BY prio, status_or_null NULLS FIRST
""",
)
def null_semantics_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    t = orders.select(
        F.nullif("o_orderpriority", F.lit("3-MEDIUM")).alias("prio_or_null"),
        F.when(F.col("o_totalprice") > 200000, F.lit(None)).otherwise(
            F.col("o_orderstatus")
        ).alias("status_or_null"),
    )
    return (
        t.select(
            F.coalesce("prio_or_null", F.lit("(defaulted)")).alias("prio"),
            "status_or_null",
        )
        .groupBy("prio", "status_or_null")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("status_or_null").cast("long").alias("n_nonnull_status"),
        )
        .orderBy("prio", F.asc_nulls_first("status_or_null"))
    )


# ---------------------------------------------------------------------------
# Safe-cast / safe-division semantics: try_cast returns NULL instead of
# failing the job on dirty input — at pipeline scale one bad row must
# not kill a 100 TB load. Sums stay fixed-point (cents) so the doubles
# divide identically on both engines.
# ---------------------------------------------------------------------------
@query(
    "safe_cast_demo",
    oracle=f"""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER)) AS BIGINT) AS n_numeric_prio,
       CAST(count(TRY_CAST(o_orderstatus AS INTEGER)) AS BIGINT) AS n_numeric_status,
       {MS("(o_totalprice / nullif(o_custkey % 5, 0))")} AS safe_div_sum
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def safe_cast_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count(
                F.substring("o_orderpriority", 1, 1).try_cast("int")
            ).cast("long").alias("n_numeric_prio"),
            F.count(F.col("o_orderstatus").try_cast("int")).cast("long").alias(
                "n_numeric_status"
            ),
            money_sum(
                F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 5)
            ).alias("safe_div_sum"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Discrete percentiles: percentile_disc returns an ACTUAL data value
# (no interpolation), so the raw stored double round-trips bit-exactly
# on both engines — no rounding needed at all.
# ---------------------------------------------------------------------------
@query(
    "percentile_disc_order_value",
    oracle="""
SELECT c_mktsegment,
       quantile_disc(o_totalprice, 0.25) AS p25_disc,
       quantile_disc(o_totalprice, 0.50) AS p50_disc,
       quantile_disc(o_totalprice, 0.75) AS p75_disc,
       CAST(count(*) AS BIGINT) AS n
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def percentile_disc_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.expr(
                "percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)"
            ).alias("p25_disc"),
            F.expr(
                "percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice)"
            ).alias("p50_disc"),
            F.expr(
                "percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)"
            ).alias("p75_disc"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# FULL OUTER join coverage: per-nation customer counts vs supplier
# counts — nations missing from either side survive with zeros.
# ---------------------------------------------------------------------------
@query(
    "full_outer_nation_coverage",
    oracle="""
WITH c AS (
  SELECT n_name, count(*) AS n_cust
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE c_acctbal > 9000 GROUP BY n_name
), s AS (
  SELECT n_name, count(*) AS n_supp
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE s_suppkey % 3 = 0 GROUP BY n_name
)
SELECT coalesce(c.n_name, s.n_name) AS n_name,
       CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
       CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
FROM c FULL OUTER JOIN s ON c.n_name = s.n_name
ORDER BY n_name
""",
)
def full_outer_nation_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    supp = _t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") % 3 == 0)
    nation = _t(spark, sf_dir, "nation")
    c = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"))
        .alias("c")
    )
    s = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_supp"))
        .alias("s")
    )
    return (
        c.join(s, F.col("c.n_name") == F.col("s.n_name"), "full_outer")
        .select(
            F.coalesce(F.col("c.n_name"), F.col("s.n_name")).alias("n_name"),
            F.coalesce("n_cust", F.lit(0)).cast("long").alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).cast("long").alias("n_supp"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Grid densification: cross-join the full (region × status) dimension
# grid, left-join facts, zero-fill — the standard dense-report pattern
# (missing combinations must APPEAR with 0, not vanish).
# ---------------------------------------------------------------------------
@query(
    "dense_region_status_grid",
    oracle="""
WITH grid AS (
  SELECT r_name, s FROM region
  CROSS JOIN (SELECT DISTINCT o_orderstatus AS s FROM orders)
), facts AS (
  SELECT r_name, o_orderstatus AS s, count(*) AS n
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE o_totalprice > 450000
  GROUP BY r_name, s
)
SELECT grid.r_name AS r_name, grid.s AS status,
       CAST(coalesce(n, 0) AS BIGINT) AS n
FROM grid LEFT JOIN facts ON grid.r_name = facts.r_name AND grid.s = facts.s
ORDER BY grid.r_name, status
""",
)
def dense_region_status_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    statuses = orders.select(F.col("o_orderstatus").alias("s")).distinct()
    grid = region.select("r_name").crossJoin(statuses)
    facts = (
        orders.filter(F.col("o_totalprice") > 450000)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", F.col("o_orderstatus").alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        grid.join(facts, ["r_name", "s"], "left")
        .select(
            "r_name",
            F.col("s").alias("status"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
        .orderBy("r_name", "status")
    )
