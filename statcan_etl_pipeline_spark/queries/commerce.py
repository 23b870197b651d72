"""Customer, order, supplier and part analytics — the reporting queries
an ETL pipeline feeds, expressed Spark-first: RFM segmentation, ABC
classification, basket affinity, lifetime-value cohorts, value
migration and repurchase cycles; supplier concentration (HHI, CR4,
share of nation) and revealed comparative advantage; price bands,
brand price ladders and the part Pareto frontier (a distributed
skyline); order SLA, backlog aging, open-interval concurrency (a
sweep line), business-day latency, fiscal-year summaries,
contribution-to-growth and priority mix shift; and nation trade
balance.

House rules: exact integer cents / count arithmetic before any
division (cross-multiplied DECIMAL comparisons where a ratio is
compared), pround/sql_round twins for doubles, deterministic
tie-breaks (ntile() is deterministic once the window ordering is
total), and broadcast dimension joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import (
    REV_SQL as _REV,
    REV_SQL as _REV_SQL,
    SQL_EXACT_INT as _DEC,
    cents,
    money_sum,
    pround,
    sql_cents,
    sql_money_sum as MS,
    sql_round as R,
)
from ..registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# RFM segmentation: per-customer recency/frequency/monetary, quartiled
# with ntile over a TOTAL order (tie-break on custkey makes the quartile
# assignment deterministic and engine-portable), then segment counts.
# ---------------------------------------------------------------------------
@query(
    "rfm_segments",
    oracle=f"""
WITH rfm AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS frequency,
         {MS("o_totalprice")} AS monetary
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey,
         ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_q,
         ntile(4) OVER (ORDER BY frequency DESC, o_custkey)  AS f_q,
         ntile(4) OVER (ORDER BY monetary DESC, o_custkey)   AS m_q
  FROM rfm
)
SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS n_customers
FROM scored
GROUP BY r_q, f_q, m_q
ORDER BY r_q, f_q, m_q
""",
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        money_sum("o_totalprice").alias("monetary"),
    )
    # NB: three global ntiles on the POST-AGGREGATE table (one row per
    # customer — 10^2 smaller than orders; at warehouse scale swap for
    # approx quantile cutpoints to avoid the single-partition sort).
    scored = rfm.select(
        "o_custkey",
        F.ntile(4).over(W.orderBy(F.desc("last_order"), "o_custkey")).alias("r_q"),
        F.ntile(4).over(W.orderBy(F.desc("frequency"), "o_custkey")).alias("f_q"),
        F.ntile(4).over(W.orderBy(F.desc("monetary"), "o_custkey")).alias("m_q"),
    )
    return (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("r_q", "f_q", "m_q")
    )


# ---------------------------------------------------------------------------
# Market-basket affinity: part pairs co-occurring in the same order,
# with lift = P(a,b) / (P(a)·P(b)) from exact integer counts. The pair
# generation is an orderkey-bucketed self-join (the shingle-join
# pattern) — never a cross join; per-order fanout is C(items, 2).
# ---------------------------------------------------------------------------
@query(
    "basket_part_affinity",
    oracle=f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM op),
part_n AS (SELECT l_partkey, count(*) AS n_p FROM op GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY part_a, part_b
)
SELECT part_a, part_b, CAST(n_ab AS BIGINT) AS n_ab,
       {R("(CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE) / (CAST(pa.n_p AS DOUBLE) * CAST(pb.n_p AS DOUBLE)))", 4)} AS lift
FROM pairs
JOIN part_n pa ON pa.l_partkey = part_a
JOIN part_n pb ON pb.l_partkey = part_b
CROSS JOIN n_orders
WHERE n_ab >= 3
ORDER BY n_ab DESC, part_a, part_b
LIMIT 50
""",
)
def basket_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = op.agg(F.countDistinct("l_orderkey").alias("n"))
    part_n = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_p"))
    a = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey").alias("ok_b"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, (a.l_orderkey == b.ok_b) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    pa = part_n.select(F.col("l_partkey").alias("part_a"), F.col("n_p").alias("n_pa"))
    pb = part_n.select(F.col("l_partkey").alias("part_b"), F.col("n_p").alias("n_pb"))
    return (
        pairs.join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            pround(
                F.col("n_ab").cast("double")
                * F.col("n").cast("double")
                / (F.col("n_pa").cast("double") * F.col("n_pb").cast("double")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_ab"), "part_a", "part_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# ABC (Pareto) classification: parts ranked by revenue; class A = first
# 80% of cumulative revenue, B = to 95%, C = rest. Cumulative sums run
# over exact integer cents; the class boundaries cross-multiply
# integers so the comparison is exact on both engines.
# ---------------------------------------------------------------------------
@query(
    "abc_part_classification",
    oracle=f"""
WITH pr AS (
  SELECT l_partkey,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_c
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, rev_c,
         CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey) AS BIGINT) AS cum_c,
         CAST(sum(rev_c) OVER () AS BIGINT) AS tot_c
  FROM pr
), classed AS (
  SELECT l_partkey, rev_c,
         CASE WHEN cum_c * 100 <= tot_c * 80 THEN 'A'
              WHEN cum_c * 100 <= tot_c * 95 THEN 'B'
              ELSE 'C' END AS abc
  FROM ranked
)
SELECT abc,
       CAST(count(*) AS BIGINT) AS n_parts,
       (CAST(sum(rev_c) AS BIGINT) / 100.0) AS revenue
FROM classed
GROUP BY abc
ORDER BY abc
""",
)
def abc_part_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pr = li.groupBy("l_partkey").agg(
        F.sum(F.floor(rev * F.lit(100.0) + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("rev_c")
    )
    # Distributed cumulative sum (round 5): a bare W.orderBy(...) window
    # would drag every part through ONE task (|parts| can be 10⁸ at
    # warehouse scale). Two-pass prefix sum instead: range-partition by
    # the sort key so partition i globally precedes partition i+1, cumsum
    # WITHIN each range shard (parallel), then offset each shard by the
    # exclusive prefix sum of shard totals (a tiny K-row aggregate,
    # broadcast back). Shard boundaries come from range sampling and may
    # vary run-to-run, but cum_c is order-determined, so the values —
    # and the final 3-row classification — are identical regardless.
    n_shards = max(spark.sparkContext.defaultParallelism, 2)
    # localCheckpoint pins ONE materialization of the range exchange:
    # the local-cumsum branch and the shard-totals branch must see the
    # SAME shard boundaries (range sampling re-run per exchange could
    # disagree), and it cuts the second lineitem scan.
    pr_sharded = (
        pr.repartitionByRange(n_shards, F.desc("rev_c"), F.asc("l_partkey"))
        .withColumn("shard", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_local = (
        W.partitionBy("shard")
        .orderBy(F.desc("rev_c"), "l_partkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    local = pr_sharded.withColumn(
        "local_cum", F.sum("rev_c").over(w_local).cast("long")
    )
    shard_totals = pr_sharded.groupBy("shard").agg(
        F.sum("rev_c").cast("long").alias("shard_rev")
    )
    # K rows total — this window runs over the tiny aggregate, not parts
    w_off = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
    offsets = shard_totals.select(
        "shard",
        F.coalesce(F.sum("shard_rev").over(w_off), F.lit(0))
        .cast("long")
        .alias("shard_offset"),
        F.sum("shard_rev").over(
            W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        )
        .cast("long")
        .alias("tot_c"),
    )
    ranked = local.join(F.broadcast(offsets), ["shard"]).select(
        "l_partkey",
        "rev_c",
        (F.col("shard_offset") + F.col("local_cum")).cast("long").alias("cum_c"),
        "tot_c",
    )
    abc = (
        F.when(F.col("cum_c") * 100 <= F.col("tot_c") * 80, "A")
        .when(F.col("cum_c") * 100 <= F.col("tot_c") * 95, "B")
        .otherwise("C")
    )
    return (
        ranked.select("rev_c", abc.alias("abc"))
        .groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            (F.sum("rev_c").cast("long") / F.lit(100.0)).alias("revenue"),
        )
        .orderBy("abc")
    )


def _rev() -> F.Column:
    # built lazily: Column arithmetic needs an active SparkContext
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# Herfindahl–Hirschman index of supplier revenue concentration per
# nation. HHI = Σ (share_i)² = Σ rev_i² / (Σ rev_i)² — computed from
# exact per-supplier fixed-point revenue sums; the squares accumulate in
# DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so the per-nation reduction
# is order-independent and overflow-free. One wide shuffle (supplier
# revenue), then nation-level aggregation of an already-small table.
# ---------------------------------------------------------------------------


@query(
    "supplier_hhi_by_nation",
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey, CAST(sum({sql_cents(_REV_SQL)}) AS BIGINT) AS rev_c
  FROM lineitem GROUP BY l_suppkey
), bynation AS (
  SELECT n_name,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(CAST(rev_c AS HUGEINT)) AS HUGEINT) AS s,
         CAST(sum(CAST(rev_c AS HUGEINT) * CAST(rev_c AS HUGEINT)) AS HUGEINT) AS sq
  FROM rev
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, n_suppliers,
       {R("(CAST(s AS DOUBLE) / 100.0)", 2)} AS nation_rev,
       {R("(CAST(sq AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)))", 6)} AS hhi
FROM bynation
ORDER BY n_name
""",
)
def supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = li.groupBy("l_suppkey").agg(F.sum(cents(_rev())).cast("long").alias("rev_c"))
    dec = "decimal(38,0)"
    bynation = (
        rev.join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum(F.col("rev_c").cast(dec)).alias("s"),
            F.sum(F.col("rev_c").cast(dec) * F.col("rev_c").cast(dec)).alias("sq"),
        )
    )
    s_d = F.col("s").cast("double")
    return bynation.select(
        "n_name",
        "n_suppliers",
        pround(s_d / F.lit(100.0), 2).alias("nation_rev"),
        pround(F.col("sq").cast("double") / (s_d * s_d), 6).alias("hhi"),
    ).orderBy("n_name")


# ---------------------------------------------------------------------------
# Pareto frontier (skyline): parts not dominated on (min price, max
# size). p is dominated iff some q has price ≤ p.price, size ≥ p.size,
# with at least one strict. A naive skyline is an O(n²) self-join; the
# scale path is the house two-pass prefix pattern over ordered
# value-range buckets (same as gini_customer_revenue): per-bucket
# strict-predecessor max via a bucket-partitioned RANGE window on the
# fixed-point price (so equal prices are excluded exactly), plus an
# exclusive cross-bucket prefix max over the 256-row bucket summary.
# Equal-price domination uses the RANGE(0,0) frame. All comparisons are
# integer (price in cents), hence bit-stable across engines.
# ---------------------------------------------------------------------------


@query(
    "pareto_frontier_parts",
    oracle=f"""
WITH px AS (
  SELECT p_partkey, p_size, {sql_cents("p_retailprice")} AS price_c
  FROM part
)
SELECT p.p_partkey, {R("(CAST(p.price_c AS DOUBLE) / 100.0)", 2)} AS price,
       p.p_size
FROM px p
WHERE NOT EXISTS (
  SELECT 1 FROM px q
  WHERE q.price_c <= p.price_c AND q.p_size >= p.p_size
    AND (q.price_c < p.price_c OR q.p_size > p.p_size)
)
ORDER BY p.p_partkey
""",
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_size", cents("p_retailprice").cast("long").alias("price_c")
    )
    # 256 ordered value-range buckets from the max price (singleton agg).
    # Bucket id is monotone in price, so bucket b strictly precedes b+1.
    mx = part.agg(F.max("price_c").alias("mx"))
    bucketed = part.crossJoin(F.broadcast(mx)).select(
        "p_partkey",
        "p_size",
        "price_c",
        (F.col("price_c") * 256 / (F.col("mx") + 1)).cast("long").alias("bucket"),
    )
    # cross-bucket exclusive prefix max of size (256-row summary window)
    bmax = bucketed.groupBy("bucket").agg(F.max("p_size").alias("bsize"))
    woff = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    offsets = bmax.select(
        "bucket", F.max("bsize").over(woff).alias("prev_bucket_max")
    )
    # within-bucket: RANGE frames on the integer price key — strict
    # predecessors via (unboundedPreceding, -1), equal-price peers via
    # (0, 0). Bucket partitions are value-bounded (~n/256 each).
    wlt = W.partitionBy("bucket").orderBy("price_c").rangeBetween(
        W.unboundedPreceding, -1
    )
    weq = W.partitionBy("bucket").orderBy("price_c").rangeBetween(0, 0)
    flagged = bucketed.join(F.broadcast(offsets), "bucket").select(
        "p_partkey",
        "price_c",
        "p_size",
        F.greatest(
            F.coalesce(F.max("p_size").over(wlt), F.lit(-1)),
            F.coalesce(F.col("prev_bucket_max"), F.lit(-1)),
        ).alias("lt_max"),
        F.max("p_size").over(weq).alias("eq_max"),
    )
    return (
        flagged.filter(
            ~((F.col("lt_max") >= F.col("p_size")) | (F.col("eq_max") > F.col("p_size")))
        )
        .select(
            "p_partkey",
            pround(F.col("price_c").cast("double") / F.lit(100.0), 2).alias("price"),
            "p_size",
        )
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Interval concurrency by sweep line: how many order→ship intervals are
# "open" on each calendar day. Each lineitem contributes +1 at its
# order date and −1 the day after its ship date; the per-day net is one
# map-combinable shuffle, and the running sum runs over the POST-
# AGGREGATE daily series (calendar-bounded — same single-small-window
# precedent as events_moving_corr_7d). Day arithmetic is integer
# (days since epoch), so the cumulative count is exact.
# ---------------------------------------------------------------------------


@query(
    "orders_open_intervals_daily",
    oracle="""
WITH li AS (
  SELECT CAST(floor(epoch(o.o_orderdate) / 86400.0) AS BIGINT) AS d0,
         CAST(floor(epoch(l.l_shipdate) / 86400.0) AS BIGINT) AS d1
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate >= o.o_orderdate
), deltas AS (
  SELECT d0 AS day_num, CAST(1 AS BIGINT) AS delta FROM li
  UNION ALL
  SELECT d1 + 1, CAST(-1 AS BIGINT) FROM li
), daily AS (
  SELECT day_num, CAST(sum(delta) AS BIGINT) AS net
  FROM deltas GROUP BY day_num
)
SELECT day_num,
       CAST(sum(net) OVER (ORDER BY day_num
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_cnt
FROM daily
ORDER BY day_num
""",
)
def orders_open_intervals_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    day = lambda c: F.floor(F.unix_timestamp(F.col(c)) / F.lit(86400.0)).cast("long")
    iv = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(day("o_orderdate").alias("d0"), day("l_shipdate").alias("d1"))
    )
    deltas = iv.select(F.col("d0").alias("day_num"), F.lit(1).cast("long").alias("delta")).unionAll(
        iv.select((F.col("d1") + 1).alias("day_num"), F.lit(-1).cast("long").alias("delta"))
    )
    daily = deltas.groupBy("day_num").agg(F.sum("delta").cast("long").alias("net"))
    # post-aggregate series is calendar-bounded (~thousands of rows at
    # any SF) — the single window here is over that summary, not facts
    wcum = W.orderBy("day_num").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        "day_num", F.sum("net").over(wcum).cast("long").alias("open_cnt")
    ).orderBy("day_num")


# ---------------------------------------------------------------------------
# Customer-LTV cohort triangle: customers grouped by first-order month,
# revenue tracked by months-since-acquisition. Month arithmetic is the
# integer ordinal year·12+month (identical in both engines); revenue is
# the exact-cents sum. Per-customer first-order pre-aggregation and the
# cohort join shuffle on the same key (custkey), so the join is
# co-partitioned — one effective wide exchange.
# ---------------------------------------------------------------------------


@query(
    "customer_ltv_cohort",
    oracle=f"""
WITH first_order AS (
  SELECT o_custkey,
         CAST(min(year(o_orderdate) * 12 + month(o_orderdate)) AS BIGINT) AS m0
  FROM orders GROUP BY o_custkey
)
SELECT f.m0 AS cohort_month,
       CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT) - f.m0
         AS months_since,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
       (CAST(sum({sql_cents("o.o_totalprice")}) AS BIGINT) / 100.0) AS revenue
FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def customer_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    mo = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    first = orders.groupBy("o_custkey").agg(F.min(mo).alias("m0"))
    return (
        orders.join(first, "o_custkey")
        .groupBy(
            F.col("m0").alias("cohort_month"),
            (mo - F.col("m0")).alias("months_since"),
        )
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_active"),
            (F.sum(cents("o_totalprice")).cast("long") / F.lit(100.0)).alias("revenue"),
        )
        .orderBy("cohort_month", "months_since")
    )


# ---------------------------------------------------------------------------
# Top-5 suppliers by revenue share within each nation: per-supplier
# exact-cents revenue (one wide shuffle), nation totals as a broadcast
# aggregate of THAT table, rank via a nation-partitioned window
# (bounded partitions — supplier count per nation).
# ---------------------------------------------------------------------------


@query(
    "supplier_share_of_nation",
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey, CAST(sum({sql_cents(_REV_SQL)}) AS BIGINT) AS rev_c
  FROM lineitem GROUP BY l_suppkey
), located AS (
  SELECT n_name, s_suppkey, rev_c
  FROM rev JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
), tot AS (
  SELECT n_name, CAST(sum(rev_c) AS BIGINT) AS nat_c FROM located GROUP BY n_name
), ranked AS (
  SELECT l.n_name, l.s_suppkey,
         {R("(CAST(l.rev_c AS DOUBLE) / 100.0)", 2)} AS revenue,
         {R("(CAST(l.rev_c AS DOUBLE) / CAST(t.nat_c AS DOUBLE))", 6)} AS share,
         CAST(row_number() OVER (PARTITION BY l.n_name
           ORDER BY l.rev_c DESC, l.s_suppkey) AS BIGINT) AS rk
  FROM located l JOIN tot t ON l.n_name = t.n_name
)
SELECT n_name, s_suppkey, revenue, share, rk
FROM ranked WHERE rk <= 5
ORDER BY n_name, rk
""",
)
def supplier_share_of_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = li.groupBy("l_suppkey").agg(F.sum(cents(_rev())).cast("long").alias("rev_c"))
    located = (
        rev.join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select("n_name", F.col("s_suppkey"), "rev_c")
    )
    tot = located.groupBy("n_name").agg(F.sum("rev_c").cast("long").alias("nat_c"))
    w = W.partitionBy("n_name").orderBy(F.desc("rev_c"), F.asc("s_suppkey"))
    return (
        located.join(F.broadcast(tot), "n_name")
        .select(
            "n_name",
            "s_suppkey",
            pround(F.col("rev_c").cast("double") / F.lit(100.0), 2).alias("revenue"),
            pround(F.col("rev_c").cast("double") / F.col("nat_c").cast("double"), 6).alias(
                "share"
            ),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 5)
        .orderBy("n_name", "rk")
    )


# ---------------------------------------------------------------------------
# Range-banding join: classify each order's total into a banded
# dimension defined by [lo, hi) intervals — the static-range-lookup
# shape (IP→geo, tariff bands, credit tiers). The band table is O(1)
# rows, so the non-equi join broadcasts (a BroadcastNestedLoopJoin over
# a 5-row build side is a constant-factor map op, NOT a scale hazard —
# contrast with the banned fact×fact nested loop). Band bounds are
# integer cents; each order lands in exactly one band by construction.
# ---------------------------------------------------------------------------

_BANDS = [
    ("B1_budget", 0, 5_000_00),
    ("B2_standard", 5_000_00, 15_000_00),
    ("B3_premium", 15_000_00, 30_000_00),
    ("B4_luxury", 30_000_00, 60_000_00),
    ("B5_flagship", 60_000_00, 10**15),
]


_BANDS_SQL = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)


@query(
    "orders_price_bands",
    oracle=f"""
WITH bands(band, lo, hi) AS (VALUES {_BANDS_SQL}),
tot AS (
  SELECT o_orderkey, o_orderpriority, {sql_cents("o_totalprice")} AS total_c
  FROM orders
)
SELECT b.band, t.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       {R("(CAST(sum(t.total_c) AS DOUBLE) / 100.0)", 2)} AS revenue
FROM tot t JOIN bands b ON t.total_c >= b.lo AND t.total_c < b.hi
GROUP BY b.band, t.o_orderpriority
ORDER BY b.band, t.o_orderpriority
""",
)
def orders_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", cents("o_totalprice").cast("long").alias("total_c")
    )
    bands = F.broadcast(
        orders.sparkSession.createDataFrame(_BANDS, "band string, lo long, hi long")
    )
    return (
        orders.join(
            bands, (F.col("total_c") >= F.col("lo")) & (F.col("total_c") < F.col("hi"))
        )
        .groupBy("band", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            pround(F.sum("total_c").cast("double") / F.lit(100.0), 2).alias("revenue"),
        )
        .orderBy("band", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Fulfillment SLA bands: lineitems shipped within 30 / 60 / 90 days of
# the order, per order priority — integer day arithmetic, exact band
# counts, shares rounded once. One fact-side join (orderdate attach)
# and one map-combinable aggregation.
# ---------------------------------------------------------------------------


@query(
    "orders_sla_fulfillment",
    oracle=f"""
WITH lag AS (
  SELECT o.o_orderpriority,
         CAST(floor(epoch(l.l_shipdate) / 86400.0)
              - floor(epoch(o.o_orderdate) / 86400.0) AS BIGINT) AS days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN days <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS within_30,
       CAST(sum(CASE WHEN days <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS within_60,
       CAST(sum(CASE WHEN days <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS within_90,
       {R("(CAST(sum(CASE WHEN days <= 30 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE))", 6)}
         AS sla30_rate
FROM lag
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def orders_sla_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    day = lambda c: F.floor(F.unix_timestamp(F.col(c)) / F.lit(86400.0)).cast("long")
    lag = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority", (day("l_shipdate") - day("o_orderdate")).alias("days")
    )
    in30 = F.sum(F.when(F.col("days") <= 30, 1).otherwise(0)).cast("long")
    return (
        lag.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            in30.alias("within_30"),
            F.sum(F.when(F.col("days") <= 60, 1).otherwise(0)).cast("long").alias("within_60"),
            F.sum(F.when(F.col("days") <= 90, 1).otherwise(0)).cast("long").alias("within_90"),
            pround(in30.cast("double") / F.count(F.lit(1)).cast("double"), 6).alias(
                "sla30_rate"
            ),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Contribution to growth: decompose month-over-month total revenue
# growth into per-priority contributions — the StatCan/ONS release
# table ("GDP grew 0.3%; manufacturing contributed 0.2pp"). Exact
# integer cents throughout; the only windows are per-priority lag and
# a per-month total lag, both over the tiny month×priority aggregate
# (≤ 80 months × 5 priorities), never over the fact table. Property:
# per-month contributions sum to the total growth rate exactly in
# cents space.
# ---------------------------------------------------------------------------


@query(
    "revenue_contribution_growth",
    oracle=f"""
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
         o_orderpriority AS prio,
         CAST(sum({sql_cents("o_totalprice")}) AS BIGINT) AS rev_c
  FROM orders GROUP BY month_start, prio
), tot AS (
  SELECT month_start AS tms, CAST(sum(rev_c) AS BIGINT) AS tot_c FROM m GROUP BY tms
), lagged AS (
  SELECT m.month_start, m.prio, m.rev_c,
         lag(m.rev_c) OVER (PARTITION BY m.prio ORDER BY m.month_start) AS prev_c,
         t.tot_c,
         lag(t.tot_c) OVER (PARTITION BY m.prio ORDER BY m.month_start) AS prev_tot_c
  FROM m JOIN tot t ON t.tms = m.month_start
)
SELECT month_start, prio, rev_c, prev_c,
       CASE WHEN prev_tot_c IS NULL OR prev_tot_c = 0 THEN NULL ELSE
       {R("(CAST(rev_c - prev_c AS DOUBLE) / CAST(prev_tot_c AS DOUBLE))", 8)}
       END AS contribution_pp
FROM lagged
ORDER BY month_start, prio
""",
)
def revenue_contribution_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.portable import cents

    orders = load_table(spark, sf_dir, "orders")
    m = (
        orders.select(
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            F.col("o_orderpriority").alias("prio"),
            cents("o_totalprice").alias("c"),
        )
        .groupBy("month_start", "prio")
        .agg(F.sum("c").cast("long").alias("rev_c"))
    )
    tot = m.groupBy("month_start").agg(F.sum("rev_c").cast("long").alias("tot_c"))
    w = W.partitionBy("prio").orderBy("month_start")
    lagged = (
        m.join(F.broadcast(tot), "month_start")
        .withColumn("prev_c", F.lag("rev_c").over(w))
        .withColumn("prev_tot_c", F.lag("tot_c").over(w))
    )
    contrib = F.when(
        F.col("prev_tot_c").isNotNull() & (F.col("prev_tot_c") != 0),
        pround(
            (F.col("rev_c") - F.col("prev_c")).cast("double")
            / F.col("prev_tot_c").cast("double"),
            8,
        ),
    )
    return lagged.select(
        "month_start",
        "prio",
        "rev_c",
        "prev_c",
        contrib.alias("contribution_pp"),
    ).orderBy("month_start", "prio")


# ---------------------------------------------------------------------------
# Customer value-quartile migration matrix: quartile by revenue in the
# early period (≤1997) vs the late period (≥1998), counted over
# customers active in both. Quartile = 1 + (4·(rank−1)) DIV n with
# rank = exact global row_number — computed with the house two-pass
# distributed ranking (range-partition by the sort key, local
# row_number per shard, shard-count offsets from a tiny broadcast
# aggregate), NEVER a bare global-ordered window over customers. The
# oracle uses the same closed-form quartile from a plain row_number,
# so parity also proves the two-pass rank is exactly the global rank.
# ---------------------------------------------------------------------------

_MIG_PERIOD = """
  SELECT o_custkey,
         sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS rev_c
  FROM orders WHERE {cond} GROUP BY o_custkey
"""


def _mig_ranked(alias: str, cond: str) -> str:
    return f"""
{alias}_rev AS ({_MIG_PERIOD.format(cond=cond)}),
{alias}_n AS (SELECT count(*) AS n FROM {alias}_rev),
{alias}_q AS (
  SELECT o_custkey,
         CAST(1 + (4 * (row_number() OVER (ORDER BY rev_c DESC, o_custkey) - 1))
              // (SELECT n FROM {alias}_n) AS BIGINT) AS q
  FROM {alias}_rev
)"""


@query(
    "customer_value_migration",
    oracle=f"""
WITH {_mig_ranked('a', "year(o_orderdate) <= 1997")},
{_mig_ranked('b', "year(o_orderdate) >= 1998")[1:]}
SELECT a.q AS from_quartile, b.q AS to_quartile,
       CAST(count(*) AS BIGINT) AS n_customers
FROM a_q a JOIN b_q b USING (o_custkey)
GROUP BY a.q, b.q
ORDER BY from_quartile, to_quartile
""",
)
def customer_value_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")

    def quartiles(cond) -> DataFrame:
        rev = (
            od.filter(cond)
            .groupBy("o_custkey")
            .agg(
                F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
                .alias("rev_c")
            )
        )
        n_shards = max(od.sparkSession.sparkContext.defaultParallelism, 2)
        sharded = (
            rev.repartitionByRange(n_shards, F.desc("rev_c"), F.asc("o_custkey"))
            .withColumn("shard", F.spark_partition_id())
            .localCheckpoint(eager=True)  # pin ONE set of shard boundaries
        )
        w_local = W.partitionBy("shard").orderBy(F.desc("rev_c"), "o_custkey")
        local = sharded.withColumn("local_rn", F.row_number().over(w_local))
        counts = sharded.groupBy("shard").agg(F.count(F.lit(1)).alias("c"))
        w_off = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
        offsets = counts.select(
            "shard",
            F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off"),
            F.sum("c").over(
                W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            ).alias("n"),
        )
        return local.join(F.broadcast(offsets), "shard").select(
            "o_custkey",
            (1 + (4 * (F.col("off") + F.col("local_rn") - 1)) / F.col("n"))
            .cast("long")
            .alias("q"),
        )

    a = quartiles(F.year("o_orderdate") <= 1997).withColumnRenamed("q", "from_quartile")
    b = quartiles(F.year("o_orderdate") >= 1998).withColumnRenamed("q", "to_quartile")
    return (
        a.join(b, "o_custkey")
        .groupBy("from_quartile", "to_quartile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("from_quartile", "to_quartile")
    )


# ---------------------------------------------------------------------------
# Backlog aging: open orders bucketed by age as of the latest order
# date in the data (the "as-of" anchor is a 1-row broadcast aggregate
# folded into the plan — no separate driver-side count/collect
# action). Exact cents totals per bucket.
# ---------------------------------------------------------------------------


@query(
    "orders_backlog_aging",
    oracle=f"""
WITH anchor AS (SELECT max(o_orderdate) AS maxd FROM orders),
aged AS (
  SELECT date_diff('day', o_orderdate, maxd) AS age_days, o_totalprice
  FROM orders CROSS JOIN anchor
  WHERE o_orderstatus = 'O'
)
SELECT CASE WHEN age_days <= 30 THEN '00-030d'
            WHEN age_days <= 90 THEN '031-090d'
            WHEN age_days <= 365 THEN '091-365d'
            ELSE '366d+' END AS age_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS open_value
FROM aged
GROUP BY 1
ORDER BY age_bucket
""",
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    anchor = od.agg(F.max("o_orderdate").alias("maxd"))
    aged = (
        od.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(anchor))
        .select(
            F.datediff("maxd", "o_orderdate").alias("age_days"), "o_totalprice"
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "00-030d")
        .when(F.col("age_days") <= 90, "031-090d")
        .when(F.col("age_days") <= 365, "091-365d")
        .otherwise("366d+")
    )
    return (
        aged.groupBy(bucket.alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (
                F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
                .cast("double") / 100.0
            ).alias("open_value"),
        )
        .orderBy("age_bucket")
    )


# ---------------------------------------------------------------------------
# Bilateral trade-balance matrix: revenue flows supplier-nation →
# customer-nation, folded to unordered nation pairs with both
# directional flows and the net balance — the StatCan international-
# accounts shape. Dimension joins broadcast; the symmetric fold is
# least/greatest keying inside ONE aggregation over the flow fact (no
# self-join of the matrix). Exact cents throughout.
# ---------------------------------------------------------------------------


@query(
    "nation_trade_balance",
    oracle="""
WITH flows AS (
  SELECT ns.n_name AS from_nation, nc.n_name AS to_nation,
         sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS c
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ns ON ns.n_nationkey = s_nationkey
  JOIN nation nc ON nc.n_nationkey = c_nationkey
  GROUP BY ns.n_name, nc.n_name
)
SELECT least(from_nation, to_nation) AS nation_a,
       greatest(from_nation, to_nation) AS nation_b,
       CAST(sum(CASE WHEN from_nation = least(from_nation, to_nation) THEN c ELSE 0 END) AS DOUBLE) / 100.0 AS a_to_b,
       CAST(sum(CASE WHEN from_nation = greatest(from_nation, to_nation) THEN c ELSE 0 END) AS DOUBLE) / 100.0 AS b_to_a,
       CAST(sum(CASE WHEN from_nation = least(from_nation, to_nation) THEN c ELSE -c END) AS DOUBLE) / 100.0 AS net_a
FROM flows
WHERE from_nation <> to_nation
GROUP BY least(from_nation, to_nation), greatest(from_nation, to_nation)
ORDER BY nation_a, nation_b
""",
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    rev_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0 + 0.5
    ).cast("long")
    flows = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        # customer is fact-scale at 100 TB — never broadcast its raw
        # scan (8 GB limit); supplier/nation stay broadcast dims.
        .join(cu.select("c_custkey", "c_nationkey"), od.o_custkey == cu.c_custkey)
        .join(F.broadcast(su.select("s_suppkey", "s_nationkey")), li.l_suppkey == su.s_suppkey)
        .join(
            F.broadcast(na.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("from_nation"))),
            su.s_nationkey == F.col("sk"),
        )
        .join(
            F.broadcast(na.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("to_nation"))),
            cu.c_nationkey == F.col("ck"),
        )
        .groupBy("from_nation", "to_nation")
        .agg(F.sum(rev_c).alias("c"))
    )
    lo = F.least("from_nation", "to_nation")
    hi = F.greatest("from_nation", "to_nation")
    out_flow = F.when(F.col("from_nation") == lo, F.col("c")).otherwise(0)
    in_flow = F.when(F.col("from_nation") == hi, F.col("c")).otherwise(0)
    net = F.when(F.col("from_nation") == lo, F.col("c")).otherwise(-F.col("c"))
    return (
        flows.filter(F.col("from_nation") != F.col("to_nation"))
        .groupBy(lo.alias("nation_a"), hi.alias("nation_b"))
        .agg(
            (F.sum(out_flow).cast("double") / 100.0).alias("a_to_b"),
            (F.sum(in_flow).cast("double") / 100.0).alias("b_to_a"),
            (F.sum(net).cast("double") / 100.0).alias("net_a"),
        )
        .orderBy("nation_a", "nation_b")
    )


# ---------------------------------------------------------------------------
# Business-day ship latency: weekdays in (order date, ship date] per
# priority, from the closed-form weekend count
#   weekends(a, b] = ⌊(eb−2)/7⌋ + ⌊(eb−3)/7⌋ − ⌊(ea−2)/7⌋ − ⌊(ea−3)/7⌋
# on epoch-day ordinals (1970-01-01 = Thursday ⇒ Saturdays ≡ 2 and
# Sundays ≡ 3 mod 7) — pure integer date math, no calendar explode, no
# day-spine join. Per-priority stats are exact integer sums with one
# final division; the ≤10-business-day share is an exact count ratio.
# ---------------------------------------------------------------------------

_BD_SQL = (
    "( (eb - ea) - (CAST(floor((eb - 2) / 7.0) AS BIGINT) + CAST(floor((eb - 3) / 7.0) AS BIGINT)"
    " - CAST(floor((ea - 2) / 7.0) AS BIGINT) - CAST(floor((ea - 3) / 7.0) AS BIGINT)) )"
)


@query(
    "business_day_ship_latency",
    oracle=f"""
WITH pairs AS (
  SELECT o.o_orderpriority AS priority,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS ea,
         date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE)) AS eb
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)
), bd AS (
  SELECT priority, {_BD_SQL} AS bus FROM pairs
)
SELECT priority,
       CAST(count(*) AS BIGINT) AS n_shipments,
       {R("CAST(sum(bus) AS DOUBLE) / count(*)", 4)} AS avg_business_days,
       CAST(max(bus) AS BIGINT) AS max_business_days,
       {R("CAST(sum(CASE WHEN bus <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS within_10bd_share
FROM bd
GROUP BY priority
ORDER BY priority
""",
)
def business_day_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    epoch = F.to_date(F.lit("1970-01-01"))
    pairs = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .filter(F.to_date("l_shipdate") >= F.to_date("o_orderdate"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.to_date("o_orderdate"), epoch).alias("ea"),
            F.datediff(F.to_date("l_shipdate"), epoch).alias("eb"),
        )
    )
    wk = (
        F.floor((F.col("eb") - 2) / 7.0).cast("long")
        + F.floor((F.col("eb") - 3) / 7.0).cast("long")
        - F.floor((F.col("ea") - 2) / 7.0).cast("long")
        - F.floor((F.col("ea") - 3) / 7.0).cast("long")
    )
    bd = pairs.select("priority", ((F.col("eb") - F.col("ea")) - wk).alias("bus"))
    return (
        bd.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shipments"),
            pround(F.sum("bus").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_business_days"
            ),
            F.max("bus").cast("long").alias("max_business_days"),
            pround(
                F.sum(F.when(F.col("bus") <= 10, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("within_10bd_share"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Balassa revealed comparative advantage: RCA(nation, part type) =
# (x_nt / x_n) / (x_t / x_T) = (x_nt·x_T) / (x_n·x_t) — the trade-
# statistics specialization index. One fact-table aggregation to the
# bounded (nation × type) cell table; all four x-terms re-aggregate
# from those cells (no second fact scan); the >1 specialization flag
# is an exact DECIMAL cross-multiplication, so float noise can never
# flip it. Dimension joins broadcast.
# ---------------------------------------------------------------------------


@query(
    "nation_type_rca",
    oracle=f"""
WITH cells AS (
  SELECT n.n_name AS nation, p.p_type AS ptype,
         CAST(sum({sql_cents(_REV)}) AS BIGINT) AS x_nt
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY n.n_name, p.p_type
), xn AS (
  SELECT nation, CAST(sum(x_nt) AS BIGINT) AS x_n FROM cells GROUP BY nation
), xt AS (
  SELECT ptype, CAST(sum(x_nt) AS BIGINT) AS x_t FROM cells GROUP BY ptype
), xtot AS (
  SELECT CAST(sum(x_nt) AS BIGINT) AS x_tt FROM cells
)
SELECT c.nation, c.ptype,
       {R("CAST(c.x_nt AS DOUBLE) / 100.0", 2)} AS revenue,
       {R("CAST(CAST(c.x_nt AS HUGEINT) * x.x_tt AS DOUBLE)"
          " / CAST(CAST(n.x_n AS HUGEINT) * t.x_t AS DOUBLE)", 6)} AS rca,
       CAST(CASE WHEN CAST(c.x_nt AS HUGEINT) * x.x_tt
                      > CAST(n.x_n AS HUGEINT) * t.x_t
                 THEN 1 ELSE 0 END AS BIGINT) AS specialized
FROM cells c
JOIN xn n ON c.nation = n.nation
JOIN xt t ON c.ptype = t.ptype
CROSS JOIN xtot x
""",
)
def nation_type_rca(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = cents(F.expr(_REV))
    cells = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("p_type").alias("ptype"))
        .agg(F.sum(rev).cast("long").alias("x_nt"))
    )
    # margins as windows over the BOUNDED cell table (nations × types),
    # so the fact table is scanned exactly once — the partition-less
    # total window runs over ~10^3 cells, never the fact table
    margins = cells.select(
        "nation",
        "ptype",
        "x_nt",
        F.sum("x_nt").over(W.partitionBy("nation")).cast("long").alias("x_n"),
        F.sum("x_nt").over(W.partitionBy("ptype")).cast("long").alias("x_t"),
        F.sum("x_nt").over(W.partitionBy()).cast("long").alias("x_tt"),
    )
    num = F.col("x_nt").cast(_DEC) * F.col("x_tt").cast(_DEC)
    den = F.col("x_n").cast(_DEC) * F.col("x_t").cast(_DEC)
    return (
        margins.select(
            "nation",
            "ptype",
            pround(F.col("x_nt").cast("double") / F.lit(100.0), 2).alias("revenue"),
            pround(num.cast("double") / den.cast("double"), 6).alias("rca"),
            F.when(num > den, 1).otherwise(0).cast("long").alias("specialized"),
        )
    )


# ---------------------------------------------------------------------------
# Customer repurchase cycle: day gaps between consecutive orders per
# customer (lag window partitioned by the high-cardinality customer
# key — per-partition work is the per-customer order count, bounded),
# summarized per market segment with exact integer-day discrete
# percentiles (actual data values — no interpolation, bit-exact) and
# an exact-ratio mean.
# ---------------------------------------------------------------------------


@query(
    "customer_repurchase_cycle",
    oracle=f"""
WITH seq AS (
  SELECT o_custkey,
         CAST(o_orderdate AS DATE)
           - lag(CAST(o_orderdate AS DATE)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS gap
  FROM orders
), gaps AS (
  SELECT c.c_mktsegment AS segment, CAST(s.gap AS BIGINT) AS gap
  FROM seq s JOIN customer c ON s.o_custkey = c.c_custkey
  WHERE s.gap IS NOT NULL
)
SELECT segment,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(quantile_disc(gap, 0.25) AS BIGINT) AS p25_days,
       CAST(quantile_disc(gap, 0.50) AS BIGINT) AS median_days,
       CAST(quantile_disc(gap, 0.90) AS BIGINT) AS p90_days,
       {R("CAST(sum(gap) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)} AS mean_days
FROM gaps
GROUP BY segment
ORDER BY segment
""",
)
def customer_repurchase_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    wseq = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(wseq),
        )
        .cast("long")
        .alias("gap"),
    ).filter(F.col("gap").isNotNull())
    # orders x customer is fact x fact at 100 TB: no broadcast hint —
    # the 8 GB broadcast limit makes a customer-side broadcast a
    # scale-killer; let AQE pick the shuffle join strategy.
    gaps = seq.join(cust, seq.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), "gap"
    )
    return (
        gaps.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY gap)")
            .cast("long")
            .alias("p25_days"),
            F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY gap)")
            .cast("long")
            .alias("median_days"),
            F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY gap)")
            .cast("long")
            .alias("p90_days"),
            pround(
                F.sum("gap").cast("double") / F.count(F.lit(1)).cast("double"), 4
            ).alias("mean_days"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Fiscal-year (April–March) summary — the StatCan reporting calendar:
# orders rolled up to FY with exact cents, plus FY-over-FY growth via
# a lag over the bounded fiscal-year series. Integer month arithmetic
# derives the FY label identically in both engines.
# ---------------------------------------------------------------------------


@query(
    "orders_fiscal_year_summary",
    oracle=f"""
WITH fy AS (
  SELECT CAST(year(o_orderdate)
              + CASE WHEN month(o_orderdate) >= 4 THEN 0 ELSE -1 END AS BIGINT)
           AS fy_start,
         {sql_cents("o_totalprice")} AS vc
  FROM orders
), agg AS (
  SELECT fy_start,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(vc) AS BIGINT) AS rev_c
  FROM fy GROUP BY fy_start
)
SELECT 'FY' || CAST(fy_start AS VARCHAR) || '/'
         || substr(CAST(fy_start + 1 AS VARCHAR), 3, 2) AS fiscal_year,
       n_orders,
       {R("CAST(rev_c AS DOUBLE) / 100.0", 2)} AS revenue,
       {R("(CAST(rev_c AS DOUBLE)"
          " - CAST(lag(rev_c) OVER (ORDER BY fy_start) AS DOUBLE))"
          " / CAST(lag(rev_c) OVER (ORDER BY fy_start) AS DOUBLE)", 6)} AS yoy_growth
FROM agg
ORDER BY fiscal_year
""",
)
def orders_fiscal_year_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.portable import cents

    orders = load_table(spark, sf_dir, "orders")
    fy = orders.select(
        (
            F.year("o_orderdate")
            + F.when(F.month("o_orderdate") >= 4, 0).otherwise(-1)
        )
        .cast("long")
        .alias("fy_start"),
        cents("o_totalprice").alias("vc"),
    )
    agg = fy.groupBy("fy_start").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("vc").cast("long").alias("rev_c"),
    )
    wfy = W.orderBy("fy_start")
    prev = F.lag("rev_c").over(wfy).cast("double")
    return agg.select(
        F.concat(
            F.lit("FY"),
            F.col("fy_start").cast("string"),
            F.lit("/"),
            F.substring((F.col("fy_start") + 1).cast("string"), 3, 2),
        ).alias("fiscal_year"),
        "n_orders",
        pround(F.col("rev_c").cast("double") / F.lit(100.0), 2).alias("revenue"),
        pround((F.col("rev_c").cast("double") - prev) / prev, 6).alias("yoy_growth"),
    ).orderBy("fiscal_year")


# ---------------------------------------------------------------------------
# Industry concentration ratios CR4/CR8 per nation (companion to the
# Herfindahl query): share of each nation's supply revenue held by its
# top 4 / top 8 suppliers. The rank window partitions by nation
# (bounded per-partition work — suppliers per nation); shares are
# exact integer cents ratios.
# ---------------------------------------------------------------------------


@query(
    "supplier_concentration_cr4",
    oracle=f"""
WITH sup AS (
  SELECT n.n_name AS nation, l.l_suppkey,
         CAST(sum({sql_cents("l.l_extendedprice * (1 - l.l_discount)")}) AS BIGINT)
           AS rev_c
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, l.l_suppkey
), ranked AS (
  SELECT nation, rev_c,
         row_number() OVER (PARTITION BY nation ORDER BY rev_c DESC, l_suppkey) AS rk
  FROM sup
)
SELECT nation,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       {R("CAST(sum(rev_c) AS DOUBLE) / 100.0", 2)} AS total_rev,
       {R("CAST(sum(CASE WHEN rk <= 4 THEN rev_c ELSE 0 END) AS DOUBLE)"
          " / CAST(sum(rev_c) AS DOUBLE)", 6)} AS cr4,
       {R("CAST(sum(CASE WHEN rk <= 8 THEN rev_c ELSE 0 END) AS DOUBLE)"
          " / CAST(sum(rev_c) AS DOUBLE)", 6)} AS cr8
FROM ranked
GROUP BY nation
ORDER BY nation
""",
)
def supplier_concentration_cr4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.portable import cents

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cells = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "l_suppkey")
        .agg(
            F.sum(cents(F.expr("l_extendedprice * (1 - l_discount)")))
            .cast("long")
            .alias("rev_c")
        )
    )
    wrk = W.partitionBy("nation").orderBy(F.desc("rev_c"), F.asc("l_suppkey"))
    ranked = cells.withColumn("rk", F.row_number().over(wrk))
    top = lambda k: F.sum(  # noqa: E731
        F.when(F.col("rk") <= k, F.col("rev_c")).otherwise(0)
    ).cast("double")
    return (
        ranked.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("rev_c").cast("long").alias("tot"),
            pround(top(4) / F.sum("rev_c").cast("double"), 6).alias("cr4"),
            pround(top(8) / F.sum("rev_c").cast("double"), 6).alias("cr8"),
        )
        .select(
            "nation",
            "n_suppliers",
            pround(F.col("tot").cast("double") / F.lit(100.0), 2).alias("total_rev"),
            "cr4",
            "cr8",
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# Within-brand price ladder: every brand's price range plus its exact
# discrete median (order statistic on integer cents — no interpolation)
# and how many parts sit strictly above it. Windows partition by brand
# (bounded fan-out); the median never leaves the partition.
# ---------------------------------------------------------------------------
@query(
    "part_brand_price_ladder",
    oracle=f"""
WITH p AS (
  SELECT p_brand, p_partkey, {sql_cents("p_retailprice")} AS pc FROM part
), r AS (
  SELECT p_brand, pc,
         row_number() OVER (PARTITION BY p_brand ORDER BY pc, p_partkey) AS rn,
         count(*) OVER (PARTITION BY p_brand) AS n
  FROM p
), m AS (
  SELECT p_brand,
         max(CASE WHEN rn = (n + 1) // 2 THEN pc END) AS med_c
  FROM r GROUP BY p_brand
)
SELECT r.p_brand,
       CAST(max(r.n) AS BIGINT) AS n_parts,
       {R("CAST(min(r.pc) AS DOUBLE) / 100.0", 2)} AS min_price,
       {R("CAST(max(m.med_c) AS DOUBLE) / 100.0", 2)} AS median_price,
       {R("CAST(max(r.pc) AS DOUBLE) / 100.0", 2)} AS max_price,
       CAST(sum(CASE WHEN r.pc > m.med_c THEN 1 ELSE 0 END) AS BIGINT)
         AS n_above_median
FROM r JOIN m ON r.p_brand = m.p_brand
GROUP BY r.p_brand
ORDER BY r.p_brand
""",
)
def part_brand_price_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    p = part.select("p_brand", "p_partkey", cents("p_retailprice").alias("pc"))
    wrank = W.partitionBy("p_brand").orderBy("pc", "p_partkey")
    wall = W.partitionBy("p_brand")
    r = p.select(
        "p_brand",
        "pc",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    med = (
        r.groupBy("p_brand")
        .agg(
            F.max(
                F.when(
                    F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("pc")
                )
            ).alias("med_c")
        )
    )
    return (
        r.join(F.broadcast(med), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.max("n").cast("long").alias("n_parts"),
            pround(F.min("pc").cast("double") / 100.0, 2).alias("min_price"),
            pround(F.max("med_c").cast("double") / 100.0, 2).alias("median_price"),
            pround(F.max("pc").cast("double") / 100.0, 2).alias("max_price"),
            F.sum((F.col("pc") > F.col("med_c")).cast("long"))
            .cast("long")
            .alias("n_above_median"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Priority mix-shift: each order priority's share of yearly volume and
# its percentage-point change vs the prior year — the standard "is the
# composition drifting?" decomposition. Counts are exact; shares are
# identical double formulas portable-rounded; lag runs over the tiny
# (year x priority) aggregate, never the fact table.
# ---------------------------------------------------------------------------
@query(
    "orders_priority_mix_shift",
    oracle=f"""
WITH g AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY yr, priority
), s AS (
  SELECT yr, priority, n,
         CAST(sum(n) OVER (PARTITION BY yr) AS BIGINT) AS yr_total
  FROM g
), sh AS (
  SELECT yr, priority, n, yr_total,
         CAST(n AS DOUBLE) / CAST(yr_total AS DOUBLE) AS share,
         lag(CAST(n AS DOUBLE) / CAST(yr_total AS DOUBLE)) OVER (
           PARTITION BY priority ORDER BY yr) AS prev_share
  FROM s
)
SELECT yr, priority, n, yr_total,
       {R("share * 100.0", 4)} AS share_pct,
       {R("(share - prev_share) * 100.0", 4)} AS pp_change
FROM sh
ORDER BY yr, priority
""",
)
def orders_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    g = (
        orders.select(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.col("o_orderpriority").alias("priority"),
        )
        .groupBy("yr", "priority")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    s = g.withColumn(
        "yr_total", F.sum("n").over(W.partitionBy("yr")).cast("long")
    )
    share = F.col("n").cast("double") / F.col("yr_total").cast("double")
    sh = s.withColumn("share", share).withColumn(
        "prev_share",
        F.lag("share").over(W.partitionBy("priority").orderBy("yr")),
    )
    return sh.select(
        "yr",
        "priority",
        "n",
        "yr_total",
        pround(F.col("share") * 100.0, 4).alias("share_pct"),
        pround((F.col("share") - F.col("prev_share")) * 100.0, 4).alias("pp_change"),
    ).orderBy("yr", "priority")
