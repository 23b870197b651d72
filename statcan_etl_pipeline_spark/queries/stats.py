"""Statistics over the star schema: distribution comparison (two-sample
Kolmogorov–Smirnov, Mann–Whitney U, one-way ANOVA, Kruskal–Wallis,
Tukey HSD), rank and association tests (Spearman, Wald–Wolfowitz runs,
chi-square independence), distribution audits (Benford first digit,
Gini via the sharded prefix sum, Lorenz deciles, Atkinson inequality,
latency QQ), robust and closed-form fits (weighted median through the
bucketed two-pass prefix sum, grouped OLS from exact moment sums,
median polish, Wilson intervals), and survival / completion models
(Kaplan–Meier ship latency, chain-ladder completion) — the
hypothesis-testing layer of a statistics-agency QA pipeline (is this
month's revision distribution consistent with last month's?).

House rules: all pairwise/rank machinery runs on EXACT integers
(cents values, counts, cross-multiplied cumulative counts in
DECIMAL(38,0)/HUGEINT), with at most ONE double division at the end
of each formula, so both engines agree bit-for-bit before pround.
More precisely:
- ranks, tie counts and totals are exact integer (cents /
  doubled-midrank — midranks are doubled to stay integer) sums in
  DECIMAL(38,0) <-> HUGEINT;
- any cross-group sum of DOUBLES runs as the SAME left fold in the
  SAME sorted order on both engines (Spark `aggregate` over
  `array_sort(collect_list(...))`, DuckDB `list_reduce(list(...
  ORDER BY ...))`) — the ANOVA precedent;
- `sqrt` is the one non-rational primitive used: IEEE-754 requires it
  correctly rounded, so (unlike ln/exp) it is bit-identical across the
  JVM and DuckDB, and standard errors / stddevs derived from exact
  integer moments are bit-identical;
- harmonic means avoid math-library `ln`/`exp` entirely: 1/x over
  integer cents is the exact integer `10^15 div x`, summed exactly.

Scale notes (100 TB): the KS/MWU/Spearman cumulative counts use the
house two-pass distributed prefix sum — per-value counts are
range-bucketed (256 buckets off a broadcast min/max singleton), the
only partition-less window runs over the 256-row bucket aggregate, and
the within-bucket rank window is partitioned by bucket (Spearman's
midranks come from it with no global sort). No window ever scans the
raw fact table; no sort of the full distinct-value set. ANOVA is a
single map-combinable aggregation (5 groups).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import SQL_EXACT_INT as _DEC, cents, pround, sql_cents, sql_round as R
from ..registry import query


def _cum_two_group(vals: DataFrame, n_buckets: int = 256) -> DataFrame:
    """Inclusive cumulative counts (cum1, cum2) over v-ascending order for
    a two-group per-distinct-value count table ``vals[v, c1, c2]``.

    Two-pass distributed prefix sum (same shape as gini/ABC/greedy
    packing): range-bucket on a broadcast min/max singleton, exclusive
    bucket-level offsets over the bounded bucket aggregate, then a
    within-bucket window partitioned by bucket.
    """
    rng = vals.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    b = vals.crossJoin(F.broadcast(rng)).select(
        "v",
        "c1",
        "c2",
        ((F.col("v") - F.col("mn")) * n_buckets / (F.col("mx") - F.col("mn") + 1))
        .cast("long")
        .alias("bucket"),
    )
    per = b.groupBy("bucket").agg(
        F.sum("c1").cast("long").alias("b1"),
        F.sum("c2").cast("long").alias("b2"),
    )
    woff = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    offs = per.select(
        "bucket",
        F.coalesce(F.sum("b1").over(woff), F.lit(0)).cast("long").alias("off1"),
        F.coalesce(F.sum("b2").over(woff), F.lit(0)).cast("long").alias("off2"),
    )
    win = W.partitionBy("bucket").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    return b.join(F.broadcast(offs), "bucket").select(
        "v",
        "c1",
        "c2",
        (F.col("off1") + F.sum("c1").over(win)).cast("long").alias("cum1"),
        (F.col("off2") + F.sum("c2").over(win)).cast("long").alias("cum2"),
    )


# ---------------------------------------------------------------------------
# Two-sample KS: D = sup_v |F1(v) - F2(v)| between the order-value
# distributions of URGENT vs LOW priority orders. The supremum is
# computed as max |cum1*n2 - cum2*n1| over distinct values (exact
# DECIMAL cross-multiplication — no per-row double ECDFs), with the
# single double division (and the achieving value) taken from the top
# row of an ordered LIMIT 1 (TakeOrdered, not a global sort).
# ---------------------------------------------------------------------------


@query(
    "ks_order_value_by_priority",
    oracle=f"""
WITH sel AS (
  SELECT {sql_cents("o_totalprice")} AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1,
         CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS g2
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), vals AS (
  SELECT v, CAST(sum(g1) AS BIGINT) AS c1, CAST(sum(g2) AS BIGINT) AS c2
  FROM sel GROUP BY v
), cum AS (
  SELECT v,
         sum(c1) OVER (ORDER BY v) AS cum1,
         sum(c2) OVER (ORDER BY v) AS cum2
  FROM vals
), tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM vals
), d AS (
  SELECT v, abs(CAST(cum1 AS HUGEINT) * (SELECT n2 FROM tot)
              - CAST(cum2 AS HUGEINT) * (SELECT n1 FROM tot)) AS dn
  FROM cum
)
SELECT t.n1, t.n2,
       {R("CAST(d.dn AS DOUBLE) / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE))", 6)} AS ks_d,
       {R("CAST(d.v AS DOUBLE) / 100.0", 2)} AS at_value
FROM d, tot t
ORDER BY d.dn DESC, d.v
LIMIT 1
""",
)
def ks_order_value_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    sel = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        cents("o_totalprice").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("g1"),
        F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0).alias("g2"),
    )
    vals = sel.groupBy("v").agg(
        F.sum("g1").cast("long").alias("c1"),
        F.sum("g2").cast("long").alias("c2"),
    )
    cum = _cum_two_group(vals)
    tot = vals.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        "n1",
        "n2",
        F.abs(
            F.col("cum1").cast(_DEC) * F.col("n2")
            - F.col("cum2").cast(_DEC) * F.col("n1")
        ).alias("dn"),
    )
    return (
        d.orderBy(F.desc("dn"), "v")
        .limit(1)
        .select(
            "n1",
            "n2",
            pround(
                F.col("dn").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double")),
                6,
            ).alias("ks_d"),
            pround(F.col("v").cast("double") / F.lit(100.0), 2).alias("at_value"),
        )
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U between the order values of BUILDING vs MACHINERY
# customers. Doubled-U stays integer under midrank tie handling:
#   2·U1 = Σ_v c1(v) · (2·cum2_less(v) + c2(v))
# accumulated exactly in DECIMAL(38,0); AUC (common-language effect
# size) = U1/(n1·n2) is the single double division.
# ---------------------------------------------------------------------------


@query(
    "mwu_order_value_segments",
    oracle=f"""
WITH sel AS (
  SELECT {sql_cents("o.o_totalprice")} AS v,
         CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g1,
         CASE WHEN c.c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS g2
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
), vals AS (
  SELECT v, CAST(sum(g1) AS BIGINT) AS c1, CAST(sum(g2) AS BIGINT) AS c2
  FROM sel GROUP BY v
), cum AS (
  SELECT v, c1, c2,
         sum(c1) OVER (ORDER BY v) AS cum1,
         sum(c2) OVER (ORDER BY v) AS cum2
  FROM vals
), tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM vals
), acc AS (
  SELECT sum(CAST(c1 AS HUGEINT) * (2 * (cum2 - c2) + c2)) AS two_u1 FROM cum
)
SELECT t.n1, t.n2,
       {R("CAST(a.two_u1 AS DOUBLE) / 2.0", 1)} AS u1,
       {R("CAST(a.two_u1 AS DOUBLE) / (2.0 * CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE))", 6)} AS auc
FROM acc a, tot t
""",
)
def mwu_order_value_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # The two-segment filter keeps ~40% of customer — still fact-scale
    # at 100 TB, so no broadcast hint (caught by the r9 registry-wide
    # ReusedExchange-aware plan sweep); shuffle join on c_custkey.
    sel = (
        orders.join(
            cust.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY")),
            orders.o_custkey == cust.c_custkey,
        )
        .select(
            cents("o_totalprice").alias("v"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("g1"),
            F.when(F.col("c_mktsegment") == "MACHINERY", 1).otherwise(0).alias("g2"),
        )
    )
    vals = sel.groupBy("v").agg(
        F.sum("g1").cast("long").alias("c1"),
        F.sum("g2").cast("long").alias("c2"),
    )
    cum = _cum_two_group(vals)
    tot = vals.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    acc = cum.agg(
        F.sum(
            F.col("c1").cast(_DEC)
            * (2 * (F.col("cum2") - F.col("c2")) + F.col("c2")).cast(_DEC)
        ).alias("two_u1")
    )
    return acc.crossJoin(F.broadcast(tot)).select(
        "n1",
        "n2",
        pround(F.col("two_u1").cast("double") / F.lit(2.0), 1).alias("u1"),
        pround(
            F.col("two_u1").cast("double")
            / (F.lit(2.0) * F.col("n1").cast("double") * F.col("n2").cast("double")),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA of order value across the 5 order priorities. Group
# moments (n, Σx, Σx²) are exact integer cents sums. The per-group
# s²/n terms are doubles (each computed identically in both engines);
# the cross-group Σ terms would normally be order-dependent, so both
# engines run the SAME left fold in the SAME (priority-sorted) order —
# Spark `aggregate` over array_sort(collect_list(...)), DuckDB
# `list_reduce(list(... ORDER BY ...))` — making the unrounded sum
# bit-identical (the EWMA precedent, here over a 5-element list).
# ---------------------------------------------------------------------------


@query(
    "anova_order_value_by_priority",
    oracle=f"""
WITH g AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum({sql_cents("o_totalprice")}) AS HUGEINT) AS s,
         CAST(sum(CAST({sql_cents("o_totalprice")} AS HUGEINT)
                  * {sql_cents("o_totalprice")}) AS HUGEINT) AS q
  FROM orders GROUP BY o_orderpriority
), terms AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS n_orders,
         CAST(sum(s) AS HUGEINT) AS s_all,
         CAST(sum(q) AS HUGEINT) AS q_all,
         list_reduce(
           list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                ORDER BY o_orderpriority),
           (a, b) -> a + b) AS sum_terms
  FROM g
), ss AS (
  SELECT k, n_orders,
         sum_terms - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
                     / CAST(n_orders AS DOUBLE) AS ssb,
         CAST(q_all AS DOUBLE) - sum_terms AS ssw
  FROM terms
)
SELECT k, n_orders,
       {R("ssb / 10000.0", 2)} AS ss_between,
       {R("ssw / 10000.0", 2)} AS ss_within,
       {R("(ssb / (CAST(k AS DOUBLE) - 1.0))"
          " / (ssw / (CAST(n_orders AS DOUBLE) - CAST(k AS DOUBLE)))", 4)} AS f_stat,
       {R("ssb / (ssb + ssw)", 6)} AS eta_sq
FROM ss
""",
)
def anova_order_value_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    vc = cents("o_totalprice")
    g = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(vc).cast(_DEC).alias("s"),
        F.sum((vc * vc).cast(_DEC)).alias("q"),
    )
    term = (
        F.col("s").cast("double")
        * F.col("s").cast("double")
        / F.col("n").cast("double")
    )
    terms = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_orders"),
        F.sum("s").alias("s_all"),
        F.sum("q").alias("q_all"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("o_orderpriority").alias("g"), term.alias("t")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("sum_terms"),
    )
    ss = terms.select(
        "k",
        "n_orders",
        (
            F.col("sum_terms")
            - F.col("s_all").cast("double")
            * F.col("s_all").cast("double")
            / F.col("n_orders").cast("double")
        ).alias("ssb"),
        (F.col("q_all").cast("double") - F.col("sum_terms")).alias("ssw"),
    )
    k_d = F.col("k").cast("double")
    n_d = F.col("n_orders").cast("double")
    return ss.select(
        "k",
        "n_orders",
        pround(F.col("ssb") / F.lit(10000.0), 2).alias("ss_between"),
        pround(F.col("ssw") / F.lit(10000.0), 2).alias("ss_within"),
        pround(
            (F.col("ssb") / (k_d - F.lit(1.0))) / (F.col("ssw") / (n_d - k_d)), 4
        ).alias("f_stat"),
        pround(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias("eta_sq"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit of order totals — a standard forensic DQ
# check. The first significant digit comes from the exact integer-cents
# rendering (no float log10 / division ladder), and the expected
# Benford shares are Python-precomputed literals injected identically
# into both engines, so no transcendental runs at query time.
# ---------------------------------------------------------------------------

_BENFORD = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


_BENFORD_SQL = (
    "CASE digit "
    + " ".join(f"WHEN '{d}' THEN {e!r}" for d, e in _BENFORD.items())
    + " END"
)


@query(
    "benford_order_totals",
    oracle=f"""
WITH digits AS (
  SELECT substr(CAST({sql_cents("o_totalprice")} AS VARCHAR), 1, 1) AS digit
  FROM orders WHERE o_totalprice > 0
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM digits)
SELECT digit,
       CAST(count(*) AS BIGINT) AS n,
       {R("(CAST(count(*) AS DOUBLE) / CAST(any_value(tot.n_total) AS DOUBLE))", 6)}
         AS share,
       {R(_BENFORD_SQL, 6)} AS benford_expected,
       {R(f"((CAST(count(*) AS DOUBLE) / CAST(any_value(tot.n_total) AS DOUBLE))"
          f" - ({_BENFORD_SQL}))", 6)} AS deviation
FROM digits CROSS JOIN tot
GROUP BY digit
ORDER BY digit
""",
)
def benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(cents("o_totalprice").cast("string"), 1, 1).alias("digit")
    )
    tot = digits.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    expected = F.when(F.lit(False), F.lit(0.0))
    for d, e in _BENFORD.items():
        expected = expected.when(F.col("digit") == str(d), F.lit(e))
    share = F.count(F.lit(1)).cast("double") / F.any_value("n_total").cast("double")
    return (
        digits.crossJoin(F.broadcast(tot))
        .groupBy("digit")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            pround(share, 6).alias("share"),
            pround(F.any_value(expected), 6).alias("benford_expected"),
            pround(share - F.any_value(expected), 6).alias("deviation"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Gini coefficient of customer revenue concentration. The textbook
# formula needs every customer's rank in revenue order — a global sort.
# Scale path: 256 value-range buckets (ordered by construction), rank
# within bucket via a bucket-partitioned window, bucket-count exclusive
# prefix sum (256-row aggregate) for the global offset — the same
# two-pass distributed prefix sum as doc_greedy_packing_sharded. All
# rank*revenue products accumulate in DECIMAL(38,0) (Spark) / int128
# (DuckDB): exact, overflow-free at warehouse row counts.
# G = (2*S1 - (n+1)*S) / (n*S), S1 = Σ rank_i · rev_i over ascending ranks.
# ---------------------------------------------------------------------------


@query(
    "gini_customer_revenue",
    oracle=f"""
WITH rev AS (
  SELECT o_custkey, CAST(sum({sql_cents("o_totalprice")}) AS BIGINT) AS rev_c
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT rev_c,
         CAST(row_number() OVER (ORDER BY rev_c, o_custkey) AS BIGINT) AS rk
  FROM rev
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rev_c) AS HUGEINT) AS s,
         CAST(sum(CAST(rk AS HUGEINT) * CAST(rev_c AS HUGEINT)) AS HUGEINT) AS s1
  FROM ranked
)
SELECT n AS n_customers,
       {R("(CAST(s AS DOUBLE) / 100.0)", 2)} AS total_rev,
       {R("((2.0 * CAST(s1 AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(s AS DOUBLE))"
          " / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)))", 6)} AS gini
FROM sums
""",
)
def gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).cast("long").alias("rev_c")
    )
    # 256 ordered value-range buckets from the max (singleton aggregate)
    mx = rev.agg(F.max("rev_c").alias("mx"))
    bucketed = rev.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        "rev_c",
        (F.col("rev_c") * 256 / (F.col("mx") + 1)).cast("long").alias("bucket"),
    )
    counts = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("bn")
    )
    woff = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket",
        F.coalesce(F.sum("bn").over(woff), F.lit(0)).cast("long").alias("off"),
    )
    wrank = W.partitionBy("bucket").orderBy("rev_c", "o_custkey")
    ranked = (
        bucketed.join(F.broadcast(offsets), "bucket")
        .select(
            "rev_c",
            (F.col("off") + F.row_number().over(wrank)).cast("long").alias("rk"),
        )
    )
    dec = "decimal(38,0)"
    sums = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("rev_c").cast(dec)).alias("s"),
        F.sum(F.col("rk").cast(dec) * F.col("rev_c").cast(dec)).alias("s1"),
    )
    n_d = F.col("n").cast("double")
    s_d = F.col("s").cast("double")
    s1_d = F.col("s1").cast("double")
    return sums.select(
        F.col("n").alias("n_customers"),
        pround(s_d / F.lit(100.0), 2).alias("total_rev"),
        pround((F.lit(2.0) * s1_d - (n_d + F.lit(1.0)) * s_d) / (n_d * s_d), 6).alias(
            "gini"
        ),
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Chi-square test of independence: market segment × order priority.
# The contingency table is a single map-side-combinable groupBy over the
# orders⋈customer join; row/column margins and the grand total are tiny
# aggregates of THAT table (broadcast back), so the only wide shuffle is
# the fact-side count. Expected counts and chi² contributions are plain
# rational arithmetic — exact integers until the one division per cell.
# ---------------------------------------------------------------------------


@query(
    "chi2_segment_priority",
    oracle=f"""
WITH cells AS (
  SELECT c_mktsegment AS segment, o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS obs
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, o_orderpriority
), rowt AS (
  SELECT segment, CAST(sum(obs) AS BIGINT) AS row_n FROM cells GROUP BY segment
), colt AS (
  SELECT priority, CAST(sum(obs) AS BIGINT) AS col_n FROM cells GROUP BY priority
), tot AS (
  SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells
)
SELECT c.segment, c.priority, c.obs,
       {R("(CAST(r.row_n AS DOUBLE) * CAST(ct.col_n AS DOUBLE) / CAST(t.n AS DOUBLE))", 4)}
         AS expected,
       {R("(CAST(t.n AS DOUBLE) * CAST(c.obs AS DOUBLE) - CAST(r.row_n AS DOUBLE) * CAST(ct.col_n AS DOUBLE))"
          " * (CAST(t.n AS DOUBLE) * CAST(c.obs AS DOUBLE) - CAST(r.row_n AS DOUBLE) * CAST(ct.col_n AS DOUBLE))"
          " / (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE) * CAST(r.row_n AS DOUBLE) * CAST(ct.col_n AS DOUBLE))", 6)}
         AS contrib
FROM cells c
JOIN rowt r USING (segment)
JOIN colt ct USING (priority)
CROSS JOIN tot t
ORDER BY segment, priority
""",
)
def chi2_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
    )
    rowt = cells.groupBy("segment").agg(F.sum("obs").cast("long").alias("row_n"))
    colt = cells.groupBy("priority").agg(F.sum("obs").cast("long").alias("col_n"))
    tot = cells.agg(F.sum("obs").cast("long").alias("n"))
    n = F.col("n").cast("double")
    obs = F.col("obs").cast("double")
    rn = F.col("row_n").cast("double")
    cn = F.col("col_n").cast("double")
    # (n·obs − row·col)² / (n²·row·col) ≡ (obs − exp)²/exp with exact
    # integer-valued doubles in the numerator (counts ≪ 2^53)
    diff = n * obs - rn * cn
    return (
        cells.join(F.broadcast(rowt), "segment")
        .join(F.broadcast(colt), "priority")
        .crossJoin(F.broadcast(tot))
        .select(
            "segment",
            "priority",
            "obs",
            pround(rn * cn / n, 4).alias("expected"),
            pround(diff * diff / (n * n * rn * cn), 6).alias("contrib"),
        )
        .orderBy("segment", "priority")
    )


# ---------------------------------------------------------------------------
# Exact weighted median of part price, weighted by units sold, per
# brand — the robust price-point statistic no built-in aggregate
# provides (percentile_disc is unweighted). The half-weight crossing
# needs a cumulative weight in price order; instead of one window per
# brand over all its parts, the house two-pass pattern bounds every
# window: per-(brand, price-range-bucket) cumulative sums plus an
# exclusive cross-bucket prefix over each brand's 256-row bucket
# summary. All weights are integer units, so the crossing test
# (2·cum ≥ total) is exact. Parts with no sales don't participate
# (weight 0 cannot move a weighted median).
# ---------------------------------------------------------------------------


@query(
    "weighted_median_price_by_brand",
    oracle=f"""
WITH sold AS (
  SELECT l_partkey, CAST(sum({sql_cents("l_quantity", 0)}) AS BIGINT) AS w
  FROM lineitem GROUP BY l_partkey
), priced AS (
  SELECT p.p_brand, p.p_partkey, {sql_cents("p.p_retailprice")} AS price_c, s.w
  FROM sold s JOIN part p ON s.l_partkey = p.p_partkey
), cum AS (
  SELECT p_brand, price_c, w,
         CAST(sum(w) OVER (PARTITION BY p_brand ORDER BY price_c, p_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
         CAST(sum(w) OVER (PARTITION BY p_brand) AS BIGINT) AS tot,
         CAST(count(*) OVER (PARTITION BY p_brand) AS BIGINT) AS n_parts
  FROM priced
)
SELECT p_brand, n_parts, tot AS total_units,
       {R("(CAST(min(price_c) FILTER (WHERE 2 * cw >= tot) AS DOUBLE) / 100.0)", 2)}
         AS wmedian_price
FROM cum
GROUP BY p_brand, n_parts, tot
ORDER BY p_brand
""",
)
def weighted_median_price_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_retailprice")
    sold = li.groupBy("l_partkey").agg(
        F.sum(cents("l_quantity", 0)).cast("long").alias("w")
    )
    priced = sold.join(part, sold.l_partkey == part.p_partkey).select(
        "p_brand",
        "p_partkey",
        cents("p_retailprice").cast("long").alias("price_c"),
        "w",
    )
    # per-brand 256 ordered price-range buckets (bucket id monotone in
    # price), from each brand's max price — a tiny broadcast aggregate
    bmax = priced.groupBy("p_brand").agg(F.max("price_c").alias("mx"))
    bucketed = priced.join(F.broadcast(bmax), "p_brand").select(
        "p_brand",
        "p_partkey",
        "price_c",
        "w",
        (F.col("price_c") * 256 / (F.col("mx") + 1)).cast("long").alias("bucket"),
    )
    # cross-bucket exclusive prefix weight + brand totals/counts (the
    # bucket summary is ≤256 rows per brand)
    bsum = bucketed.groupBy("p_brand", "bucket").agg(
        F.sum("w").cast("long").alias("bw"),
        F.count(F.lit(1)).cast("long").alias("bn"),
    )
    woff = W.partitionBy("p_brand").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, -1
    )
    offsets = bsum.select(
        "p_brand",
        "bucket",
        F.coalesce(F.sum("bw").over(woff), F.lit(0)).cast("long").alias("off"),
        F.sum("bw").over(W.partitionBy("p_brand")).cast("long").alias("tot"),
        F.sum("bn").over(W.partitionBy("p_brand")).cast("long").alias("n_parts"),
    )
    wcum = W.partitionBy("p_brand", "bucket").orderBy("price_c", "p_partkey").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = bucketed.join(F.broadcast(offsets), ["p_brand", "bucket"]).select(
        "p_brand",
        "price_c",
        "n_parts",
        "tot",
        (F.col("off") + F.sum("w").over(wcum)).cast("long").alias("cw"),
    )
    return (
        cum.groupBy("p_brand", "n_parts", F.col("tot").alias("total_units"))
        .agg(
            pround(
                F.min(
                    F.when(2 * F.col("cw") >= F.col("tot"), F.col("price_c"))
                ).cast("double")
                / F.lit(100.0),
                2,
            ).alias("wmedian_price")
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Grouped OLS regression: units sold vs retail price per part type —
# the closed-form elasticity screen. Per-part (x, y) points reduce to
# five exact moment sums per group (Σx, Σy, Σxy, Σx², n — accumulated
# in DECIMAL(38,0)/HUGEINT, order-independent), then one double
# division each for slope and intercept. Two map-combinable shuffles
# total; groups never pass through a window.
# ---------------------------------------------------------------------------


@query(
    "price_qty_regression_by_type",
    oracle=f"""
WITH pts AS (
  SELECT p.p_type,
         CAST({sql_cents("p.p_retailprice")} AS HUGEINT) AS x,
         CAST(sum({sql_cents("l.l_quantity", 0)}) AS HUGEINT) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_type, p.p_partkey, p.p_retailprice
), moments AS (
  SELECT p_type,
         CAST(count(*) AS BIGINT) AS n_parts,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(x * y) AS HUGEINT) AS sxy,
         CAST(sum(x * x) AS HUGEINT) AS sxx
  FROM pts GROUP BY p_type
)
SELECT p_type, n_parts,
       -- degenerate-x guard: when every part in the type shares one
       -- retail price the denominator is exactly 0; Spark (non-ANSI)
       -- yields NULL on /0 while recent DuckDB defaults yield Inf/NaN,
       -- so both engines must short-circuit to NULL explicitly
       CASE WHEN (CAST(n_parts AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) = 0 THEN NULL ELSE
       {R("((CAST(n_parts AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
          " / (CAST(n_parts AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))", 8)}
         END AS slope,
       CASE WHEN (CAST(n_parts AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) = 0 THEN NULL ELSE
       {R("((CAST(sy AS DOUBLE) - ((CAST(n_parts AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
          " / (CAST(n_parts AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))"
          " / CAST(n_parts AS DOUBLE))", 4)}
         END AS intercept
FROM moments
WHERE n_parts >= 2
ORDER BY p_type
""",
)
def price_qty_regression_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type", "p_retailprice")
    dec = "decimal(38,0)"
    pts = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_type", "p_partkey", "p_retailprice")
        .agg(F.sum(cents("l_quantity", 0)).cast(dec).alias("y"))
        .select("p_type", cents("p_retailprice").cast(dec).alias("x"), "y")
    )
    moments = pts.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n_parts").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    det = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / det
    # mirror the oracle's degenerate-x guard: NULL when det is exactly 0
    return (
        moments.filter(F.col("n_parts") >= 2)
        .select(
            "p_type",
            "n_parts",
            F.when(det != 0, pround(slope, 8)).alias("slope"),
            F.when(det != 0, pround((sy - slope * sx) / n, 4)).alias("intercept"),
        )
        .orderBy("p_type")
    )


# ---------------------------------------------------------------------------
# Tukey median polish (two full row/column sweeps) of the monthly
# revenue matrix (month × priority) — the robust two-way
# decomposition a statistics agency uses where outlier months would
# poison a mean-based ANOVA. The fact table is aggregated ONCE to the
# bounded cell matrix (~#months × 5); every sweep is a discrete-median
# groupBy + broadcast join-back over that matrix; residuals stay exact
# integer cents throughout (integer medians subtracted from integers —
# the whole polish is float-free until the final display division).
# ---------------------------------------------------------------------------


def _mp_med(part: str, src: str) -> str:
    return (
        f"SELECT {part}, CAST(quantile_disc(resid, 0.50) AS BIGINT) AS med "
        f"FROM {src} GROUP BY {part}"
    )


@query(
    "orders_median_polish",
    oracle=f"""
WITH cells AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderpriority AS priority,
         CAST(sum({sql_cents("o_totalprice")}) AS BIGINT) AS v,
         CAST(sum({sql_cents("o_totalprice")}) AS BIGINT) AS resid
  FROM orders GROUP BY 1, 2
), rm1 AS ({_mp_med("month", "cells")}),
s1 AS (
  SELECT c.month, c.priority, c.v, c.resid - r.med AS resid, r.med AS row_eff
  FROM cells c JOIN rm1 r ON c.month = r.month
), cm1 AS ({_mp_med("priority", "s1")}),
s2 AS (
  SELECT s.month, s.priority, s.v, s.resid - m.med AS resid, s.row_eff,
         m.med AS col_eff
  FROM s1 s JOIN cm1 m ON s.priority = m.priority
), rm2 AS ({_mp_med("month", "s2")}),
s3 AS (
  SELECT s.month, s.priority, s.v, s.resid - r.med AS resid,
         s.row_eff + r.med AS row_eff, s.col_eff
  FROM s2 s JOIN rm2 r ON s.month = r.month
), cm2 AS ({_mp_med("priority", "s3")}),
s4 AS (
  SELECT s.month, s.priority, s.v, s.resid - m.med AS resid, s.row_eff,
         s.col_eff + m.med AS col_eff
  FROM s3 s JOIN cm2 m ON s.priority = m.priority
)
SELECT month, priority,
       {R("CAST(v AS DOUBLE) / 100.0", 2)} AS revenue,
       {R("CAST(row_eff AS DOUBLE) / 100.0", 2)} AS row_eff,
       {R("CAST(col_eff AS DOUBLE) / 100.0", 2)} AS col_eff,
       {R("CAST(resid AS DOUBLE) / 100.0", 2)} AS residual
FROM s4
ORDER BY month, priority
""",
)
def orders_median_polish(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.sum(cents("o_totalprice")).cast("long").alias("v"))
    cells = cells.withColumn("resid", F.col("v"))

    def med_disc():
        return F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY resid)").cast(
            "long"
        )

    def sweep(df: DataFrame, dim: str, eff_col: str) -> DataFrame:
        med = df.groupBy(dim).agg(med_disc().alias("med"))
        out = df.join(F.broadcast(med), dim).withColumn(
            "resid", F.col("resid") - F.col("med")
        )
        if eff_col in df.columns:
            out = out.withColumn(eff_col, F.col(eff_col) + F.col("med"))
        else:
            out = out.withColumn(eff_col, F.col("med"))
        return out.drop("med")

    s = sweep(cells, "month", "row_eff")
    s = sweep(s, "priority", "col_eff")
    s = sweep(s, "month", "row_eff")
    s = sweep(s, "priority", "col_eff")
    return s.select(
        "month",
        "priority",
        pround(F.col("v").cast("double") / F.lit(100.0), 2).alias("revenue"),
        pround(F.col("row_eff").cast("double") / F.lit(100.0), 2).alias("row_eff"),
        pround(F.col("col_eff").cast("double") / F.lit(100.0), 2).alias("col_eff"),
        pround(F.col("resid").cast("double") / F.lit(100.0), 2).alias("residual"),
    ).orderBy("month", "priority")


# ---------------------------------------------------------------------------
# Lorenz curve by revenue decile — the inequality publication table
# behind the Gini number. Customers are ranked by exact-cents revenue
# with the house two-pass bucketed prefix sum (the gini machinery:
# 256 value-range buckets off a broadcast max, rank windows partition
# by bucket, the only global window is over the 256-row bucket
# aggregate); deciles come from the exact integer rank, and the
# cumulative share window runs over the 10-row decile aggregate.
# ---------------------------------------------------------------------------


@query(
    "orders_lorenz_deciles",
    oracle=f"""
WITH rev AS (
  SELECT o_custkey, CAST(sum({sql_cents("o_totalprice")}) AS BIGINT) AS rev_c
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT rev_c,
         CAST(row_number() OVER (ORDER BY rev_c, o_custkey) AS BIGINT) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM rev
), dec AS (
  SELECT ((rk - 1) * 10) // n + 1 AS decile, rev_c FROM ranked
), agg AS (
  SELECT CAST(decile AS BIGINT) AS decile,
         CAST(count(*) AS BIGINT) AS n_cust,
         CAST(sum(rev_c) AS BIGINT) AS dec_c
  FROM dec GROUP BY decile
), tot AS (
  SELECT CAST(sum(dec_c) AS HUGEINT) AS tot_c FROM agg
)
SELECT a.decile, a.n_cust,
       {R("CAST(a.dec_c AS DOUBLE) / 100.0", 2)} AS revenue,
       {R("CAST(a.dec_c AS DOUBLE) / CAST(t.tot_c AS DOUBLE)", 6)} AS share,
       {R("CAST(sum(a.dec_c) OVER (ORDER BY a.decile"
          " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)"
          " / CAST(t.tot_c AS DOUBLE)", 6)} AS cum_share
FROM agg a, tot t
ORDER BY a.decile
""",
)
def orders_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).cast("long").alias("rev_c")
    )
    mx = rev.agg(F.max("rev_c").alias("mx"), F.count(F.lit(1)).cast("long").alias("n"))
    bucketed = rev.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        "rev_c",
        "n",
        (F.col("rev_c") * 256 / (F.col("mx") + 1)).cast("long").alias("bucket"),
    )
    counts = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("bn"))
    woff = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket",
        F.coalesce(F.sum("bn").over(woff), F.lit(0)).cast("long").alias("off"),
    )
    wrank = W.partitionBy("bucket").orderBy("rev_c", "o_custkey")
    dec = (
        bucketed.join(F.broadcast(offsets), "bucket")
        .select(
            "rev_c",
            "n",
            (F.col("off") + F.row_number().over(wrank)).cast("long").alias("rk"),
        )
        # exact integer floor division — immune to double-quotient edge
        # rounding at any n (matches DuckDB's `//`)
        .select("rev_c", (F.expr("((rk - 1) * 10) div n") + 1).alias("decile"))
    )
    agg = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("rev_c").cast("long").alias("dec_c"),
    )
    tot = agg.agg(F.sum(F.col("dec_c").cast(_DEC)).alias("tot_c"))
    wcum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_cust",
            pround(F.col("dec_c").cast("double") / F.lit(100.0), 2).alias("revenue"),
            pround(
                F.col("dec_c").cast("double") / F.col("tot_c").cast("double"), 6
            ).alias("share"),
            pround(
                F.sum("dec_c").over(wcum).cast("double")
                / F.col("tot_c").cast("double"),
                6,
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Brand return-rate ranking by Wilson lower bound — the classic
# small-sample-safe ranking (a brand with 2/2 returns must NOT outrank
# one with 90/100). Counts are exact integers; the Wilson score's
# doubles come from identical integer inputs and the fixed z = 1.96
# literal, so ranking order is engine-exact (ordered output with a
# brand tie-break).
# ---------------------------------------------------------------------------


@query(
    "brand_return_rate_wilson",
    oracle=f"""
WITH b AS (
  SELECT p.p_brand AS brand,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returns
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
)
SELECT brand, n_items, n_returns,
       {R("CAST(n_returns AS DOUBLE) / CAST(n_items AS DOUBLE)", 6)} AS return_rate,
       {R("(CAST(n_returns AS DOUBLE) / CAST(n_items AS DOUBLE)"
          " + 1.96 * 1.96 / (2.0 * CAST(n_items AS DOUBLE))"
          " - 1.96 * sqrt((CAST(n_returns AS DOUBLE) / CAST(n_items AS DOUBLE))"
          "   * (1.0 - CAST(n_returns AS DOUBLE) / CAST(n_items AS DOUBLE))"
          "   / CAST(n_items AS DOUBLE)"
          "   + 1.96 * 1.96 / (4.0 * CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE))))"
          " / (1.0 + 1.96 * 1.96 / CAST(n_items AS DOUBLE))", 6)} AS wilson_lb
FROM b
ORDER BY brand
""",
)
def brand_return_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("n_returns"),
        )
    )
    n = F.col("n_items").cast("double")
    p = F.col("n_returns").cast("double") / n
    z2 = F.lit(1.96) * F.lit(1.96)
    wilson = (
        p
        + z2 / (F.lit(2.0) * n)
        - F.lit(1.96)
        * F.sqrt(p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n))
    ) / (F.lit(1.0) + z2 / n)
    return b.select(
        "brand",
        "n_items",
        "n_returns",
        pround(p, 6).alias("return_rate"),
        pround(wilson, 6).alias("wilson_lb"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# QQ comparison of ship latency between URGENT and LOW priorities:
# matched discrete deciles (actual integer day values — bit-exact)
# side by side, the distribution-shift diagnostic that goes with the
# KS test. Two bounded decile aggregates joined on the decile index.
# ---------------------------------------------------------------------------


@query(
    "orders_latency_qq_by_priority",
    oracle=f"""
WITH lat AS (
  SELECT o.o_orderpriority AS priority,
         CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) AS days
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderpriority IN ('1-URGENT', '5-LOW')
), qwide AS (
  SELECT priority,
         quantile_disc(days, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs,
         CAST(count(*) AS BIGINT) AS n
  FROM lat GROUP BY priority
), q AS (
  SELECT priority, CAST(i AS INTEGER) AS decile,
         CAST(qs[i] AS BIGINT) AS days_q, n
  FROM qwide, unnest(range(1, 10)) t(i)
)
SELECT a.decile,
       a.days_q AS urgent_days, b.days_q AS low_days,
       CAST(b.days_q - a.days_q AS BIGINT) AS gap_days,
       a.n AS n_urgent, b.n AS n_low
FROM q a JOIN q b ON a.decile = b.decile
WHERE a.priority = '1-URGENT' AND b.priority = '5-LOW'
ORDER BY a.decile
""",
)
def orders_latency_qq_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = (
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            )
            .cast("long")
            .alias("days"),
        )
    )
    # Spark's percentile_disc needs a LITERAL fraction — nine aggregate
    # columns, stacked back to (decile, days_q) rows
    aggs = [
        F.expr(f"percentile_disc({d / 10.0}) WITHIN GROUP (ORDER BY days)")
        .cast("long")
        .alias(f"q{d}")
        for d in range(1, 10)
    ]
    wide = lat.groupBy("priority").agg(
        *aggs, F.count(F.lit(1)).cast("long").alias("n")
    )
    stack = ", ".join(f"{d}, q{d}" for d in range(1, 10))
    q = wide.selectExpr(
        "priority", "n", f"stack(9, {stack}) AS (decile, days_q)"
    ).select("priority", F.col("decile").cast("int").alias("decile"), "days_q", "n")
    a = q.filter(F.col("priority") == "1-URGENT").select(
        "decile", F.col("days_q").alias("urgent_days"), F.col("n").alias("n_urgent")
    )
    b = q.filter(F.col("priority") == "5-LOW").select(
        F.col("decile").alias("d2"),
        F.col("days_q").alias("low_days"),
        F.col("n").alias("n_low"),
    )
    return (
        a.join(b, a.decile == b.d2)
        .select(
            "decile",
            "urgent_days",
            "low_days",
            (F.col("low_days") - F.col("urgent_days")).cast("long").alias("gap_days"),
            "n_urgent",
            "n_low",
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Exact Spearman rho between order value and the customer's account
# balance (is willingness-to-spend monotone in wealth?). Midranks are
# computed per DISTINCT value with the bucketed two-pass prefix sum
# (doubled midrank 2r = 2·cum_less + c + 1 stays integer, ties
# handled exactly), joined back to the fact rows on the value key —
# never a global orderBy window over the fact table. Pearson on the
# doubled midranks uses exact DECIMAL moments; scale/shift invariance
# of correlation makes the doubling harmless.
# ---------------------------------------------------------------------------


def _sql_midrank(tbl: str, vcol: str) -> str:
    """cum-less + midrank CTE text over distinct values of {vcol}."""
    return f"""
  SELECT {vcol} AS v,
         2 * (sum(c) OVER (ORDER BY {vcol}) - c) + c + 1 AS m2
  FROM (SELECT {vcol}, CAST(count(*) AS BIGINT) AS c FROM {tbl} GROUP BY {vcol})
"""


@query(
    "spearman_price_acctbal",
    oracle=f"""
WITH base AS (
  SELECT {sql_cents("o.o_totalprice")} AS x,
         {sql_cents("c.c_acctbal")} AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), rx AS ({_sql_midrank("base", "x")}
), ry AS ({_sql_midrank("base", "y")}
), ranked AS (
  SELECT rx.m2 AS mx, ry.m2 AS my
  FROM base b JOIN rx ON b.x = rx.v JOIN ry ON b.y = ry.v
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(mx AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(my AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(mx AS HUGEINT) * my) AS HUGEINT) AS sxy,
         CAST(sum(CAST(mx AS HUGEINT) * mx) AS HUGEINT) AS sxx,
         CAST(sum(CAST(my AS HUGEINT) * my) AS HUGEINT) AS syy
  FROM ranked
)
SELECT n,
       {R("CAST(n * sxy - sx * sy AS DOUBLE)"
          " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
          "    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))", 6)} AS spearman_rho
FROM mom
""",
)
def spearman_price_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    # orders x customer is fact x fact at 100 TB: shuffle join, no hint.
    base = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        cents("o_totalprice").alias("x"), cents("c_acctbal").alias("y")
    )

    def midranks(col: str) -> DataFrame:
        vals = base.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("c1"),
            F.lit(0).cast("long").alias("c2"),
        )
        cum = _cum_two_group(vals)
        # inclusive cum1 -> exclusive cum_less = cum1 - c1; doubled midrank
        return cum.select(
            "v",
            (2 * (F.col("cum1") - F.col("c1")) + F.col("c1") + 1)
            .cast("long")
            .alias("m2"),
        )

    rx = midranks("x").withColumnRenamed("m2", "mx").withColumnRenamed("v", "vx")
    ry = midranks("y").withColumnRenamed("m2", "my").withColumnRenamed("v", "vy")
    ranked = base.join(rx, base.x == rx.vx).join(ry, base.y == ry.vy).select("mx", "my")
    mom = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("mx").cast(_DEC)).alias("sx"),
        F.sum(F.col("my").cast(_DEC)).alias("sy"),
        F.sum((F.col("mx").cast(_DEC) * F.col("my").cast(_DEC))).alias("sxy"),
        F.sum((F.col("mx").cast(_DEC) * F.col("mx").cast(_DEC))).alias("sxx"),
        F.sum((F.col("my").cast(_DEC) * F.col("my").cast(_DEC))).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    dy = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return mom.select("n", pround(num / (dx * dy), 6).alias("spearman_rho"))


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test on daily revenue: is the above/below-median
# sign sequence random, or does revenue trend/cluster? The daily
# series is calendar-bounded, the median is a percentile_disc pick
# (bit-exact), runs are counted with a lag over the bounded series,
# and the z-score's mean/variance come from exact integer n1, n2, R.
# ---------------------------------------------------------------------------


@query(
    "orders_runs_test_daily",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum({sql_cents("o_totalprice")}) AS BIGINT) AS rev
  FROM orders GROUP BY 1
), med AS (
  SELECT CAST(quantile_disc(rev, 0.50) AS BIGINT) AS m FROM daily
), signs AS (
  SELECT day, CASE WHEN rev > (SELECT m FROM med) THEN 1 ELSE 0 END AS s
  FROM daily
), runs AS (
  SELECT s,
         CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                OR lag(s) OVER (ORDER BY day) <> s THEN 1 ELSE 0 END AS new_run
  FROM signs
), agg AS (
  SELECT CAST(sum(new_run) AS BIGINT) AS r,
         CAST(sum(s) AS BIGINT) AS n1,
         CAST(count(*) - sum(s) AS BIGINT) AS n2
  FROM runs
)
SELECT n1, n2, r,
       {R("1.0 + 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
          " / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))", 4)} AS expected_runs,
       {R("(CAST(r AS DOUBLE) - (1.0 + 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
          " / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))"
          " / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
          " * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
          "    - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))"
          " / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
          "    * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
          "    * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))", 4)} AS z_score
FROM agg
""",
)
def orders_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(cents("o_totalprice")).cast("long").alias("rev")
    )
    med = daily.agg(
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY rev)")
        .cast("long")
        .alias("m")
    )
    signs = daily.crossJoin(F.broadcast(med)).select(
        "day", F.when(F.col("rev") > F.col("m"), 1).otherwise(0).alias("s")
    )
    wd = W.orderBy("day")
    runs = signs.select(
        "s",
        F.when(
            F.lag("s").over(wd).isNull() | (F.lag("s").over(wd) != F.col("s")), 1
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("new_run").cast("long").alias("r"),
        F.sum("s").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).cast("long").alias("n2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    r_d = F.col("r").cast("double")
    exp_r = F.lit(1.0) + F.lit(2.0) * n1 * n2 / (n1 + n2)
    var_r = (
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - F.lit(1.0)))
    )
    return agg.select(
        "n1",
        "n2",
        "r",
        pround(exp_r, 4).alias("expected_runs"),
        pround((r_d - exp_r) / F.sqrt(var_r), 4).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Kruskal–Wallis H across the 5 order priorities (the rank-based
# one-way ANOVA). Midranks stay integer by working with DOUBLED ranks:
# an element of value v (cumulative count-before cb, tie size t) has
# doubled midrank 2·cb + t + 1, so each group's doubled rank sum R2_j
# is an exact DECIMAL/HUGEINT integer. Σ_j R_j²/n_j then folds
# per-group doubles in priority-sorted order (ANOVA precedent), and
# the tie correction Σ(t³−t)/(N³−N) is exact-integer over double.
# Scale: one groupBy(v, g), one groupBy(v), then the HOUSE two-pass
# bucketed prefix sum (stats._cum_two_group — the KS/MWU machinery)
# for the cumulative-before counts: no partition-less window ever
# touches the distinct-value set, only the 256-row bucket aggregate.
# ---------------------------------------------------------------------------
@query(
    "kruskal_wallis_order_value",
    oracle=f"""
WITH per AS (
  SELECT {sql_cents("o_totalprice")} AS v, o_orderpriority AS g FROM orders
), vg AS (
  SELECT v, g, CAST(count(*) AS BIGINT) AS c FROM per GROUP BY v, g
), vt AS (
  SELECT v, CAST(sum(c) AS BIGINT) AS t FROM vg GROUP BY v
), vt2 AS (
  SELECT v, t,
         CAST(coalesce(sum(t) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
  FROM vt
), rg AS (
  SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
         sum(CAST(c AS HUGEINT) * (2 * cb + t + 1)) AS r2
  FROM vg JOIN vt2 USING (v) GROUP BY g
), tie AS (
  SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS tie3 FROM vt
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n_orders,
         list_reduce(
           list(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
                / (4.0 * CAST(n_g AS DOUBLE)) ORDER BY g),
           (a, b) -> a + b) AS sum_terms
  FROM rg
), h AS (
  SELECT k, n_orders,
         12.0 * sum_terms / (CAST(n_orders AS DOUBLE) * (CAST(n_orders AS DOUBLE) + 1.0))
           - 3.0 * (CAST(n_orders AS DOUBLE) + 1.0) AS h_raw,
         1.0 - CAST(tie3 AS DOUBLE)
           / (CAST(n_orders AS DOUBLE) * CAST(n_orders AS DOUBLE) * CAST(n_orders AS DOUBLE)
              - CAST(n_orders AS DOUBLE)) AS c_tie
  FROM agg CROSS JOIN tie
)
SELECT k, n_orders, {R("h_raw", 6)} AS h_stat, {R("h_raw / c_tie", 6)} AS h_corrected
FROM h
""",
)
def kruskal_wallis_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per = orders.select(
        cents("o_totalprice").alias("v"), F.col("o_orderpriority").alias("g")
    )
    vg = per.groupBy("v", "g").agg(F.count(F.lit(1)).cast("long").alias("c"))
    vt = vg.groupBy("v").agg(F.sum("c").cast("long").alias("t"))
    vt2 = _cum_two_group(
        vt.select("v", F.col("t").alias("c1"), F.lit(0).cast("long").alias("c2"))
    ).select(
        "v",
        F.col("c1").alias("t"),
        (F.col("cum1") - F.col("c1")).cast("long").alias("cb"),
    )
    rg = (
        vg.join(vt2, "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(
                F.col("c").cast(_DEC)
                * (2 * F.col("cb") + F.col("t") + 1).cast(_DEC)
            ).alias("r2"),
        )
    )
    tie = vt.agg(
        F.sum(
            F.col("t").cast(_DEC) * F.col("t").cast(_DEC) * F.col("t").cast(_DEC)
            - F.col("t").cast(_DEC)
        ).alias("tie3")
    )
    agg = rg.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n_orders"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("g"), F.col("r2"), F.col("n_g")))
            ),
            F.lit(0.0),
            lambda acc, x: acc
            + x["r2"].cast("double") * x["r2"].cast("double")
            / (F.lit(4.0) * x["n_g"].cast("double")),
        ).alias("sum_terms"),
    )
    n_d = F.col("n_orders").cast("double")
    h = agg.crossJoin(F.broadcast(tie)).select(
        "k",
        "n_orders",
        (
            F.lit(12.0) * F.col("sum_terms") / (n_d * (n_d + F.lit(1.0)))
            - F.lit(3.0) * (n_d + F.lit(1.0))
        ).alias("h_raw"),
        (
            F.lit(1.0)
            - F.col("tie3").cast("double") / (n_d * n_d * n_d - n_d)
        ).alias("c_tie"),
    )
    return h.select(
        "k",
        "n_orders",
        pround(F.col("h_raw"), 6).alias("h_stat"),
        pround(F.col("h_raw") / F.col("c_tie"), 6).alias("h_corrected"),
    )


# ---------------------------------------------------------------------------
# Atkinson inequality index (ε = 2) of customer spend by nation:
# A₂ = 1 − HM/mean, the harmonic-over-arithmetic-mean form. No
# math-library log/exp anywhere: 1/x over integer cents is the EXACT
# integer quotient 10^15 div x (floor division is deterministic in
# both engines), so Σ 1/x is an exact integer sum and the index is
# two final divisions. Scale: customer-spend rollup then one
# per-nation aggregate.
# ---------------------------------------------------------------------------
_INV_SCALE = 10**15


@query(
    "atkinson_inequality_by_nation",
    oracle=f"""
WITH spend AS (
  SELECT o_custkey, CAST(sum({sql_cents("o_totalprice")}) AS BIGINT) AS x
  FROM orders GROUP BY o_custkey
), tagged AS (
  SELECT n.n_name AS nation, s.x, {_INV_SCALE} // s.x AS inv
  FROM spend s
  JOIN customer c ON s.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE s.x > 0
), agg AS (
  SELECT nation, CAST(count(*) AS BIGINT) AS n_cust,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(inv) AS HUGEINT) AS sinv
  FROM tagged GROUP BY nation
)
SELECT nation, n_cust,
       {R("CAST(sx AS DOUBLE) / CAST(n_cust AS DOUBLE) / 100.0", 2)} AS mean_spend,
       {R(
           f"1.0 - (CAST(n_cust AS DOUBLE) * CAST(n_cust AS DOUBLE) * {float(_INV_SCALE)!r}"
           " / CAST(sinv AS DOUBLE)) / CAST(sx AS DOUBLE)",
           6,
       )} AS atkinson2
FROM agg
ORDER BY nation
""",
)
def atkinson_inequality_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).cast("long").alias("x")
    )
    tagged = (
        spend.filter(F.col("x") > 0)
        .join(cust, spend.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            "x",
            F.expr(f"{_INV_SCALE} div x").alias("inv"),
        )
    )
    agg = tagged.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("x").cast(_DEC).alias("sx"),
        F.sum("inv").cast(_DEC).alias("sinv"),
    )
    n_d = F.col("n_cust").cast("double")
    hm_cents = n_d * n_d * F.lit(float(_INV_SCALE)) / F.col("sinv").cast("double")
    return agg.select(
        "nation",
        "n_cust",
        pround(F.col("sx").cast("double") / n_d / F.lit(100.0), 2).alias("mean_spend"),
        pround(F.lit(1.0) - hm_cents / F.col("sx").cast("double"), 6).alias(
            "atkinson2"
        ),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Chain-ladder completion (the actuarial development-triangle method
# statistics agencies use to NOWCAST totals while late records are
# still arriving): lineitem shipments are laid out as an (order-month
# origin × ship-delay development) triangle, volume-weighted
# development factors f_d = Σ C(o,d+1) / Σ C(o,d) are estimated over
# the origins old enough to have reached d+1, and each immature
# origin's ultimate count is its latest diagonal times the product of
# the remaining factors. All triangle cells are exact integers; each
# factor is one division of exact sums; the factor product is a
# d-sorted fold (identical order both engines — the EWMA precedent).
# Scale: the triangle is bounded (months × 5 cells) no matter how many
# fact rows feed it — one fact-table aggregation, then cell-table math.
# ---------------------------------------------------------------------------
_CL_MAXDEV = 4


@query(
    "orders_chain_ladder_completion",
    oracle=f"""
WITH pairs AS (
  SELECT (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS om,
         (year(l.l_shipdate) * 12 + month(l.l_shipdate)) AS sm
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE (year(l.l_shipdate) * 12 + month(l.l_shipdate))
        >= (year(o.o_orderdate) * 12 + month(o.o_orderdate))
), lim AS (
  SELECT max(sm) AS m FROM pairs
), tri AS (
  SELECT om, least(sm - om, {_CL_MAXDEV}) AS dev, CAST(count(*) AS BIGINT) AS inc
  FROM pairs GROUP BY om, least(sm - om, {_CL_MAXDEV})
), oms AS (
  SELECT DISTINCT om FROM tri
), grid AS (
  SELECT o.om, d.dev
  FROM oms o CROSS JOIN (SELECT unnest(range(0, {_CL_MAXDEV + 1})) AS dev) d
), cum AS (
  SELECT g.om, g.dev,
         CAST(sum(coalesce(t.inc, 0)) OVER (PARTITION BY g.om ORDER BY g.dev
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
  FROM grid g LEFT JOIN tri t ON g.om = t.om AND g.dev = t.dev
), maxdev AS (
  SELECT o.om, least(lim.m - o.om, {_CL_MAXDEV}) AS md FROM oms o CROSS JOIN lim
), fac AS (
  SELECT cd.dev AS d, CAST(sum(cn.c) AS BIGINT) AS num,
         CAST(sum(cd.c) AS BIGINT) AS den
  FROM cum cd
  JOIN cum cn ON cn.om = cd.om AND cn.dev = cd.dev + 1
  JOIN maxdev md ON md.om = cd.om
  WHERE cd.dev <= {_CL_MAXDEV - 1} AND md.md >= cd.dev + 1
  GROUP BY cd.dev
), fl AS (
  SELECT list(struct_pack(d := s.dev,
           f := CASE WHEN coalesce(fac.den, 0) > 0
                THEN CAST(fac.num AS DOUBLE) / CAST(fac.den AS DOUBLE)
                ELSE 1.0 END) ORDER BY s.dev) AS facs
  FROM (SELECT unnest(range(0, {_CL_MAXDEV})) AS dev) s
  LEFT JOIN fac ON fac.d = s.dev
), base AS (
  SELECT md.om, md.md, c.c AS observed,
         CAST(c.c AS DOUBLE) * list_reduce(
           list_concat([CAST(1.0 AS DOUBLE)],
             list_transform(list_filter(fl.facs, x -> x.d >= md.md), x -> x.f)),
           (a, b) -> a * b) AS ult
  FROM maxdev md
  JOIN cum c ON c.om = md.om AND c.dev = md.md
  CROSS JOIN fl
)
SELECT CAST((om - 1) // 12 AS BIGINT) || '-' ||
         lpad(CAST(om - 12 * ((om - 1) // 12) AS VARCHAR), 2, '0') AS origin_month,
       CAST(md AS BIGINT) AS max_dev, observed,
       {R("ult", 2)} AS ultimate,
       {R("100.0 * CAST(observed AS DOUBLE) / ult", 4)} AS completion_pct
FROM base
ORDER BY origin_month
""",
)
def orders_chain_ladder_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    om = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("om")
    sm = (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("sm")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(om, sm)
        .filter(F.col("sm") >= F.col("om"))
    )
    lim = pairs.agg(F.max("sm").alias("m"))
    tri = pairs.groupBy(
        "om", F.least(F.col("sm") - F.col("om"), F.lit(_CL_MAXDEV)).alias("dev")
    ).agg(F.count(F.lit(1)).cast("long").alias("inc"))
    oms = tri.select("om").distinct()
    spine = oms.sparkSession.range(_CL_MAXDEV + 1).select(F.col("id").alias("dev"))
    grid = oms.crossJoin(F.broadcast(spine))
    wc = (
        W.partitionBy("om").orderBy("dev").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = (
        grid.join(tri, ["om", "dev"], "left")
        .select("om", "dev", F.coalesce("inc", F.lit(0)).alias("inc"))
        .select("om", "dev", F.sum("inc").over(wc).cast("long").alias("c"))
    )
    maxdev = oms.crossJoin(F.broadcast(lim)).select(
        "om", F.least(F.col("m") - F.col("om"), F.lit(_CL_MAXDEV)).alias("md")
    )
    cd = cum.alias("cd")
    cn = cum.select(
        F.col("om").alias("om2"), (F.col("dev") - 1).alias("dev2"), F.col("c").alias("c_next")
    )
    fac = (
        cd.join(cn, (F.col("cd.om") == F.col("om2")) & (F.col("cd.dev") == F.col("dev2")))
        .join(maxdev, F.col("cd.om") == maxdev.om)
        .filter(
            (F.col("cd.dev") <= _CL_MAXDEV - 1) & (F.col("md") >= F.col("cd.dev") + 1)
        )
        .groupBy(F.col("cd.dev").alias("d"))
        .agg(
            F.sum("c_next").cast("long").alias("num"),
            F.sum(F.col("cd.c")).cast("long").alias("den"),
        )
    )
    fspine = oms.sparkSession.range(_CL_MAXDEV).select(F.col("id").alias("d"))
    f_col = F.when(
        F.coalesce(F.col("den"), F.lit(0)) > 0,
        F.col("num").cast("double") / F.col("den").cast("double"),
    ).otherwise(F.lit(1.0))
    fl = (
        fspine.join(fac, "d", "left")
        .select("d", f_col.alias("f"))
        .agg(F.array_sort(F.collect_list(F.struct("d", "f"))).alias("facs"))
    )
    base = (
        maxdev.join(
            cum, (maxdev.om == cum.om) & (maxdev.md == cum.dev)
        )
        .select(maxdev.om.alias("o_m"), "md", F.col("c").alias("observed"))
        .crossJoin(F.broadcast(fl))
    )
    ult = F.col("observed").cast("double") * F.aggregate(
        F.filter(F.col("facs"), lambda x: x["d"] >= F.col("md")),
        F.lit(1.0),
        lambda acc, x: acc * x["f"],
    )
    return (
        base.select(
            F.concat(
                ((F.col("o_m") - 1) / 12).cast("long").cast("string"),
                F.lit("-"),
                F.lpad(
                    (F.col("o_m") - ((F.col("o_m") - 1) / 12).cast("long") * 12)
                    .cast("string"),
                    2,
                    "0",
                ),
            ).alias("origin_month"),
            F.col("md").cast("long").alias("max_dev"),
            "observed",
            pround(ult, 2).alias("ultimate"),
            pround(
                F.lit(100.0) * F.col("observed").cast("double") / ult, 4
            ).alias("completion_pct"),
        )
        .orderBy("origin_month")
    )


# ---------------------------------------------------------------------------
# Tukey HSD post-hoc pairwise comparison (the follow-up to
# anova_order_value_by_priority): all 10 priority pairs tested with
# HSD = q · sqrt(MSW/2 · (1/n_i + 1/n_j)), q = 3.858 (studentized
# range, k = 5, df → ∞). Group moments are exact integer cents sums;
# MSW reuses the ANOVA priority-sorted fold; each pair verdict is a
# fixed scalar double sequence — engine-exact. The pair join is over
# the bounded 5-row group table.
# ---------------------------------------------------------------------------
_TUKEY_Q = 3.858


@query(
    "tukey_hsd_pairwise",
    oracle=f"""
WITH g AS (
  SELECT o_orderpriority AS g,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum({sql_cents("o_totalprice")}) AS HUGEINT) AS s,
         CAST(sum(CAST({sql_cents("o_totalprice")} AS HUGEINT)
                  * {sql_cents("o_totalprice")}) AS HUGEINT) AS q
  FROM orders GROUP BY o_orderpriority
), t AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n_all,
         CAST(sum(q) AS HUGEINT) AS q_all,
         list_reduce(
           list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                ORDER BY g),
           (a, b) -> a + b) AS sum_terms
  FROM g
), msw AS (
  SELECT (CAST(q_all AS DOUBLE) - sum_terms)
           / (CAST(n_all AS DOUBLE) - CAST(k AS DOUBLE)) AS w
  FROM t
), pairs AS (
  SELECT a.g AS prio_a, b.g AS prio_b,
         abs(CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
             - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)) AS diff_c,
         {_TUKEY_Q} * sqrt(msw.w / 2.0
           * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE))) AS hsd_c
  FROM g a JOIN g b ON a.g < b.g CROSS JOIN msw
)
SELECT prio_a, prio_b,
       {R("diff_c / 100.0", 2)} AS mean_diff,
       {R("hsd_c / 100.0", 2)} AS hsd,
       diff_c > hsd_c AS significant
FROM pairs
ORDER BY prio_a, prio_b
""",
)
def tukey_hsd_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    vc = cents("o_totalprice")
    g = orders.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(vc).cast(_DEC).alias("s"),
        F.sum((vc * vc).cast(_DEC)).alias("q"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_all"),
        F.sum("q").alias("q_all"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("g"), F.col("s"), F.col("n")))),
            F.lit(0.0),
            lambda acc, x: acc
            + x["s"].cast("double") * x["s"].cast("double") / x["n"].cast("double"),
        ).alias("sum_terms"),
    )
    msw = t.select(
        (
            (F.col("q_all").cast("double") - F.col("sum_terms"))
            / (F.col("n_all").cast("double") - F.col("k").cast("double"))
        ).alias("w")
    )
    a = g.select(
        F.col("g").alias("prio_a"), F.col("n").alias("n_a"), F.col("s").alias("s_a")
    )
    b = g.select(
        F.col("g").alias("prio_b"), F.col("n").alias("n_b"), F.col("s").alias("s_b")
    )
    diff_c = F.abs(
        F.col("s_a").cast("double") / F.col("n_a").cast("double")
        - F.col("s_b").cast("double") / F.col("n_b").cast("double")
    )
    hsd_c = F.lit(_TUKEY_Q) * F.sqrt(
        F.col("w") / F.lit(2.0)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return (
        a.join(b, F.col("prio_a") < F.col("prio_b"))
        .crossJoin(F.broadcast(msw))
        .select(
            "prio_a",
            "prio_b",
            pround(diff_c / F.lit(100.0), 2).alias("mean_diff"),
            pround(hsd_c / F.lit(100.0), 2).alias("hsd"),
            (diff_c > hsd_c).alias("significant"),
        )
        .orderBy("prio_a", "prio_b")
    )


# ---------------------------------------------------------------------------
# Kaplan–Meier survival curve of order→first-shipment latency, right-
# censored at 60 days (the product-limit estimator — the standard
# duration-analysis tool; censoring makes it different from a plain
# ECDF). Event counts d(t) and at-risk counts n(t) are exact integers
# (censoring happens only at the horizon, so n(t) = N − Σ_{u<t} d(u));
# S(t) = Π_{u≤t} (1 − d/n) is computed per row by folding the ONE
# bounded (≤61-element, time-sorted) event array broadcast to every
# row — identical fold order in both engines, no running-product
# window needed. Scale: the fact table collapses to ≤61 cells before
# any per-row math.
# ---------------------------------------------------------------------------
_KM_HORIZON = 60


@query(
    "orders_kaplan_meier_ship_latency",
    oracle=f"""
WITH lag AS (
  SELECT o.o_orderkey,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(min(l.l_shipdate) AS DATE)) AS lat
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
), obs AS (
  SELECT CASE WHEN lat <= {_KM_HORIZON} THEN lat ELSE {_KM_HORIZON} END AS t,
         CASE WHEN lat <= {_KM_HORIZON} THEN 1 ELSE 0 END AS ev
  FROM lag WHERE lat >= 0
), n_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM obs
), cells AS (
  SELECT t, CAST(sum(ev) AS BIGINT) AS d FROM obs WHERE ev = 1 GROUP BY t
), risked AS (
  SELECT c.t, c.d,
         n_tot.n - CAST(coalesce(sum(c.d) OVER (ORDER BY c.t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM cells c CROSS JOIN n_tot
), arr AS (
  SELECT list(struct_pack(t := t, d := d, n := n_risk) ORDER BY t) AS a FROM risked
)
SELECT r.t AS t_days, r.n_risk, r.d AS d_events,
       {R(
           "list_reduce(list_concat([CAST(1.0 AS DOUBLE)],"
           " list_transform(list_filter(arr.a, x -> x.t <= r.t),"
           " x -> 1.0 - CAST(x.d AS DOUBLE) / CAST(x.n AS DOUBLE))),"
           " (p, q) -> p * q)",
           6,
       )} AS survival
FROM risked r CROSS JOIN arr
ORDER BY t_days
""",
)
def orders_kaplan_meier_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lag = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.datediff(F.min("l_shipdate"), F.first("o_orderdate")).alias("lat"))
    )
    obs = lag.filter(F.col("lat") >= 0).select(
        F.when(F.col("lat") <= _KM_HORIZON, F.col("lat"))
        .otherwise(F.lit(_KM_HORIZON))
        .alias("t"),
        F.when(F.col("lat") <= _KM_HORIZON, 1).otherwise(0).alias("ev"),
    )
    n_tot = obs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cells = (
        obs.filter(F.col("ev") == 1)
        .groupBy("t")
        .agg(F.sum("ev").cast("long").alias("d"))
    )
    risked = cells.crossJoin(F.broadcast(n_tot)).select(
        "t",
        "d",
        (
            F.col("n")
            - F.coalesce(F.sum("d").over(W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    arr = risked.agg(
        F.array_sort(F.collect_list(F.struct("t", "d", F.col("n_risk").alias("n")))).alias("a")
    )
    surv = F.aggregate(
        F.filter(F.col("a"), lambda x: x["t"] <= F.col("t_days")),
        F.lit(1.0),
        lambda acc, x: acc * (F.lit(1.0) - x["d"].cast("double") / x["n"].cast("double")),
    )
    return (
        risked.select(
            F.col("t").alias("t_days"), "n_risk", F.col("d").alias("d_events")
        )
        .crossJoin(F.broadcast(arr))
        .select("t_days", "n_risk", "d_events", pround(surv, 6).alias("survival"))
        .orderBy("t_days")
    )
