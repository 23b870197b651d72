"""Statistical / graph / interval analytics (round 5, third wave):
chi-square independence audit, Herfindahl concentration, Pareto
frontier (distributed skyline), co-purchase triangle counting,
sweep-line interval concurrency, Simpson token diversity, and strict
sequential funnel pattern matching.

House rules as everywhere else (see curation.py): JVM-side expressions
only, rational arithmetic (no ln/exp), exact int64/decimal fixed-point
sums before any division, portable half-away-from-zero rounding, and a
mirrored DuckDB oracle per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import cents, pround, sql_cents, sql_round as R
from ..registry import query
from .text import _DOC_BASE_SQL, _doc_base

def _rev() -> F.Column:
    # built lazily: Column arithmetic needs an active SparkContext
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_REV_SQL = "l_extendedprice * (1 - l_discount)"


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
# Triangle census of the part co-purchase graph. Edges: unordered part
# pairs sharing an order (pair expansion is bounded per order by the
# order's item count — no cartesian). Triangle counting uses the
# degree-ordered node-iterator: orient every edge from the (degree, id)-
# smaller endpoint to the larger, build wedges by joining oriented edges
# on their source, and close each wedge against the oriented edge set —
# out-degrees are O(√m) under this orientation, so the wedge join is
# subquadratic at any scale. The global clustering coefficient
# 3·T / Σ C(d,2) is exact rational arithmetic.
# ---------------------------------------------------------------------------


# shared edge/degree CTEs (also used by copurchase_degree_distribution)
_EDGES_SQL = """
items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY node
)"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct unordered part pairs sharing an order. Pair expansion is
    bounded per order by that order's item count — never a cartesian.

    r14 (guide §2.3): pairs come from a SORTED per-order part array
    (posexplode + suffix slice — the triangles wedge-emit shape) rather
    than the orderkey self-join: one groupBy shuffle of the raw
    (orderkey, partkey) rows replaces distinct-shuffle + join, and
    exactly C(k, 2) rows are emitted per order with no join machinery.
    Output is the identical distinct u < v edge set (the sorted array
    guarantees u < v per emit; parity-checked exact at sf0.1, 1,196,000
    edges). Interleaved A/B min-of-3: 1.51-1.62 → 1.12-1.24 s, new side
    won every pair — and this build is paid by five bench members."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.array_distinct(F.collect_list("l_partkey"))).alias("ps")
    )
    return (
        per_order.select(F.posexplode("ps").alias("i", "u"), F.col("ps"))
        .select(
            "u",
            F.explode(F.slice("ps", F.col("i") + F.lit(2), F.size("ps"))).alias("v"),
        )
        .distinct()
    )


def _copurchase_degrees(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )


@query(
    "part_copurchase_triangles",
    oracle=f"""
WITH {_EDGES_SQL}, oriented AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
  FROM edges e
  JOIN deg du ON e.u = du.node
  JOIN deg dv ON e.v = dv.node
), wedges AS (
  SELECT a.t AS x, b.t AS y
  FROM oriented a JOIN oriented b ON a.s = b.s AND a.t < b.t
), canon AS (
  -- each undirected edge exists in exactly one degree orientation, so
  -- its numerically-canonical form is unique; wedge ends satisfy x < y,
  -- hence ONE equi-join closes the wedge (not an OR-join, which
  -- degrades to a nested loop, and not two probes over the wedge set)
  SELECT least(s, t) AS x, greatest(s, t) AS y FROM oriented
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM wedges w JOIN canon o ON w.x = o.x AND w.y = o.y
), summary AS (
  -- sum the even integer d*(d-1) EXACTLY (DuckDB int sums promote to
  -- HUGEINT) and halve with integer division AFTER the aggregate:
  -- per-row double division would accumulate order-dependently past
  -- 2^53 wedges and could diverge cross-engine
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_open_wedges
  FROM deg
), ecount AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges
)
SELECT s.n_nodes, e.n_edges, t.n_triangles,
       {R("(3.0 * CAST(t.n_triangles AS DOUBLE) / CAST(s.n_open_wedges AS DOUBLE))", 6)}
         AS clustering_coeff
FROM summary s CROSS JOIN ecount e CROSS JOIN tri t
""",
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: the lineitem self-join lineage behind `edges` feeds FOUR
    # consumers (deg/summary, ecount, both wedge sides, the closing-edge
    # probe) and the plan recomputed it per branch; a lazy
    # localCheckpoint pins one computation of each (edges ~|E| rows of
    # two longs, oriented the same — bounded, the components-iteration
    # precedent). On a cluster this is a persist of the edge list —
    # exactly what any production triangle count does.
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = _copurchase_degrees(edges)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lesser = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lesser, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lesser, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint(eager=False)
    )
    # r11 built the sorted per-pivot adjacency arrays and closed WEDGES
    # against the canonical edge form (posexplode'd C(outdeg, 2) wedge
    # stream → shuffle_hash left-semi probe). r14: the wedge stream is
    # never materialized at all — triangles are counted EDGE-ITERATOR
    # style (guide §2.3/§2.4: the wedge rows existed only to decide
    # membership, so ship the per-pivot adjacency ARRAY once instead of
    # its C(outdeg, 2) expansion): for each oriented edge (s, t),
    # n_triangles += |N⁺(s) ∩ N⁺(t)| — every triangle {a<b<c in degree
    # order} is counted exactly once, on its (a, b) edge. The two
    # adjacency joins ship Σ_e (outdeg(s)+outdeg(t)) ≈ 2·|wedges| array
    # ELEMENTS (8-byte longs, batched per row) where the old shape
    # shuffled |wedges| 16-byte ROWS into the semi join plus sorted/
    # hashed them — half the bytes, no 346M-row-at-sf1 stream through
    # the join machinery, and the per-edge array_intersect does the
    # probe in one hash set per row. outdeg ≤ O(√|E|) under degree
    # orientation bounds per-row memory. Parity exact at sf0.1
    # (1,884,488 triangles) and sf1 (12,421,656). Interleaved A/B,
    # min-of-N over clean pairs: sf0.1 7.8-9.4 → 5.9-6.7 s (won all 4
    # clean pairs, 2 sessions); sf1 44.4/69.4 → 26.3/27.2 s (~1.7-2.6×).
    adj = oriented.groupBy("s").agg(F.sort_array(F.collect_list("t")).alias("ts"))
    common = (
        oriented.join(adj, "s")
        .join(
            adj.select(F.col("s").alias("t"), F.col("ts").alias("ts_t")),
            "t",
            "left",  # a max-degree-orientation sink has no out-edges
        )
        .select(
            F.size(
                F.array_intersect(F.col("ts"), F.coalesce("ts_t", F.array()))
            ).alias("c")
        )
    )
    # coalesce preserves the 0-on-empty contract (r15, ADVICE r14):
    # sum() over an empty edge set is NULL where the oracle's count(*)
    # is 0 — unreachable at any TPC-H SF, but a latent divergence on
    # degenerate input
    tri = common.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_triangles")
    )
    summary = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        # exact long sum of the (even) wedge count, halved AFTER the agg
        F.expr("sum(cast(d as bigint) * (d - 1)) div 2")
        .cast("long")
        .alias("n_open_wedges"),
    )
    ecount = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        summary.crossJoin(F.broadcast(ecount))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            pround(
                F.lit(3.0)
                * F.col("n_triangles").cast("double")
                / F.col("n_open_wedges").cast("double"),
                6,
            ).alias("clustering_coeff"),
        )
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
# Simpson diversity of each document's token distribution:
# 1 − Σ cᵢ² / n² — the rational stand-in for token entropy (no
# transcendentals, so it cross-checks bit-exactly). High values ≈
# diverse vocabulary; boilerplate and keyword-stuffed spam score low.
# Two map-combinable aggregations over the exploded token stream.
# ---------------------------------------------------------------------------


@query(
    "doc_simpson_diversity",
    oracle=f"""
WITH base AS ({_DOC_BASE_SQL}),
toks AS (
  SELECT doc_id, unnest(toks) AS word FROM base
), wc AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY doc_id, word
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_toks,
       CAST(count(*) AS BIGINT) AS n_distinct,
       {R("(1.0 - CAST(sum(c * c) AS DOUBLE) / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)))", 6)}
         AS simpson
FROM wc
GROUP BY doc_id
ORDER BY doc_id
""",
)
def doc_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _doc_base(spark, sf_dir)
    wc = (
        base.select("doc_id", F.explode("toks").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n = F.sum("c").cast("long")
    return (
        wc.groupBy("doc_id")
        .agg(
            n.alias("n_toks"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            pround(
                F.lit(1.0)
                - F.sum(F.col("c") * F.col("c")).cast("double")
                / (n.cast("double") * n.cast("double")),
                6,
            ).alias("simpson"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Strict sequential pattern match (MATCH_RECOGNIZE shape): per user,
# find view → cart → purchase as three CONSECUTIVE events completing
# within 30 minutes. lead() over per-user event order — partitions are
# bounded by per-user activity, never global. Time deltas in integer
# microseconds (epoch_us ↔ unix_micros with the NTZ-safe cast).
# ---------------------------------------------------------------------------


@query(
    "events_strict_funnel_pattern",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, epoch_us(ts) AS us,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2,
         lead(epoch_us(ts), 2) OVER w AS us2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_strict_funnels
FROM seq
WHERE event_type = 'view' AND t1 = 'cart' AND t2 = 'purchase'
  AND us2 - us <= 1800 * 1000000
GROUP BY user_id
ORDER BY user_id
""",
)
def events_strict_funnel_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        us.alias("us"),
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead(us, 2).over(w).alias("us2"),
    )
    return (
        seq.filter(
            (F.col("event_type") == "view")
            & (F.col("t1") == "cart")
            & (F.col("t2") == "purchase")
            & (F.col("us2") - F.col("us") <= 1800 * 1000000)
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_strict_funnels"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Funnel time-to-convert percentiles per signup-week cohort: for each
# user, first 'view' and the first 'purchase' at-or-after it; the gap
# distribution (exact integer microseconds, percentile_disc so the
# reported values are actual data points) grouped by the week of the
# first view. Both aggregations pre-reduce per user before the join,
# and the percentile sort runs inside each cohort-week group — never
# one global ordered reduction.
# ---------------------------------------------------------------------------


@query(
    "funnel_time_to_convert",
    oracle="""
WITH fv AS (
  SELECT user_id, min(epoch_us(ts)) AS fv_us
  FROM events WHERE event_type = 'view' GROUP BY user_id
), fp AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS fp_us
  FROM events e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fv.fv_us
  GROUP BY e.user_id
), conv AS (
  SELECT CAST(floor(floor(fv.fv_us / 86400000000.0) / 7.0) AS BIGINT) AS cohort_week,
         fp.fp_us - fv.fv_us AS delta_us
  FROM fv JOIN fp ON fv.user_id = fp.user_id
)
SELECT cohort_week,
       CAST(count(*) AS BIGINT) AS n_converted,
       CAST(quantile_disc(delta_us, 0.25) AS BIGINT) AS p25_us,
       CAST(quantile_disc(delta_us, 0.50) AS BIGINT) AS p50_us,
       CAST(quantile_disc(delta_us, 0.75) AS BIGINT) AS p75_us
FROM conv
GROUP BY cohort_week
ORDER BY cohort_week
""",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("fv_us"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("p_us"))
        .join(fv, "user_id")
        .filter(F.col("p_us") >= F.col("fv_us"))
        .groupBy("user_id")
        .agg(F.min("p_us").alias("fp_us"))
    )
    conv = fv.join(fp, "user_id").select(
        F.floor(F.floor(F.col("fv_us") / F.lit(86400000000.0)) / F.lit(7.0))
        .cast("long")
        .alias("cohort_week"),
        (F.col("fp_us") - F.col("fv_us")).alias("delta_us"),
    )
    return (
        conv.groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY delta_us)")
            .cast("long")
            .alias("p25_us"),
            F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY delta_us)")
            .cast("long")
            .alias("p50_us"),
            F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY delta_us)")
            .cast("long")
            .alias("p75_us"),
        )
        .orderBy("cohort_week")
    )


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
# Degree distribution of the co-purchase graph in power-of-2 bins —
# the shape check run before any graph algorithm (hub detection, skew
# sizing for the salted joins). Bin id = bit length of the degree
# (length of the binary rendering — integer-exact in both engines; no
# log2). One aggregation over the per-node degree table.
# ---------------------------------------------------------------------------


@query(
    "copurchase_degree_distribution",
    oracle=f"""
WITH {_EDGES_SQL}
SELECT CAST(length(bin(d)) AS BIGINT) AS degree_bin,
       CAST(min(d) AS BIGINT) AS min_degree,
       CAST(max(d) AS BIGINT) AS max_degree,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM deg
GROUP BY 1
ORDER BY 1
""",
)
def copurchase_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    deg = _copurchase_degrees(_copurchase_edges(spark, sf_dir))
    return (
        deg.groupBy(F.length(F.bin("d")).cast("long").alias("degree_bin"))
        .agg(
            F.min("d").cast("long").alias("min_degree"),
            F.max("d").cast("long").alias("max_degree"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
        )
        .orderBy("degree_bin")
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection on daily event counts: per-type median and
# MAD (median absolute deviation) via percentile_disc — both land on
# ACTUAL integer counts, so every comparison (|n − med| > 3·MAD) is
# exact integer arithmetic, immune to the mean/σ masking that a z-score
# suffers when the series contains the very spikes being hunted.
# The percentile sorts run per event type over the calendar-bounded
# daily series — bounded groups, no global ordered reduction.
# ---------------------------------------------------------------------------


@query(
    "events_daily_mad_anomalies",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day_num,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), med AS (
  SELECT event_type, CAST(quantile_disc(n, 0.5) AS BIGINT) AS med
  FROM daily GROUP BY event_type
), dev AS (
  SELECT d.event_type, abs(d.n - m.med) AS adev, m.med
  FROM daily d JOIN med m ON d.event_type = m.event_type
), mad AS (
  SELECT event_type, CAST(quantile_disc(adev, 0.5) AS BIGINT) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type, m.med, a.mad,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(CASE WHEN abs(d.n - m.med) > 3 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies
FROM daily d
JOIN med m ON d.event_type = m.event_type
JOIN mad a ON d.event_type = a.event_type
GROUP BY d.event_type, m.med, a.mad
ORDER BY d.event_type
""",
)
def events_daily_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / F.lit(86400.0)).cast("long").alias("day_num"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    med = daily.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
        .cast("long")
        .alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").select(
        "event_type", "n", "med", F.abs(F.col("n") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)")
        .cast("long")
        .alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("long")
            .alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Co-purchase part similarity: neighborhood Jaccard between part pairs —
# "customers who bought X also bought Y", the item-item collaborative-
# filtering primitive. Hub centers with degree > _SIM_HUB_CAP are
# dropped before candidate generation (mirrored in the oracle) — a
# promotional SKU in 10⁶ orders would otherwise dominate every part's
# neighbor set while carrying ~no similarity signal. The report keeps
# pairs with common ≥ 3 and Jaccard ≥ 0.1.
#
# r12 REWRITE (verdict item 2): the exact wedge enumeration (cost
# Σ_z C(d_z, 2) — 1.24B emitted rows / 370 s at sf1 for ZERO output
# rows) is replaced by the repo's standard candidates-then-verify
# shape: MinHash signatures over each part's (hub-capped) neighbor set,
# banded LSH candidate pairs in density-capped buckets
# (operators/dedup.py machinery — same md5-portable minhash the
# dedup_minhash_lsh oracle replays), then EXACT common/Jaccard verify
# on candidates only via array_intersect of the two adjacency arrays.
# Wedge mass Σ C(d,2) grows superlinearly with density; candidate mass
# is bounded per bucket at C(cap, 2) — the formulation that survives
# 100×. BAND-ROW CHOICE, measured (r12 DuckDB sweep): single-row bands
# (r=1) are really wedge SAMPLING — P(bucket collision) = jaccard, so a
# band's bucket is "parts sharing a random common neighbor" and the
# candidate mass stays a constant fraction of the wedge mass (measured
# 14.7M kept bucket-pairs at sf0.1 with 24×1 bands — same order as the
# wedge). TWO-row bands square the background collision probability
# (P = j², 7·10⁻⁸ for sf1's typical j ≈ 0.0003) — measured 62k kept
# bucket-pairs at sf0.1 with 24×2 bands, a 236× reduction — at the
# price of gate-SF recall on this query's production-hostile τ=0.1:
# 1-(1-j²)^B at j=0.1 is 0.22/0.38/0.62 for B=24/48/96.
#
# r13 BAND COUNT, measured (VERDICT r12 item 3 — OR-amplification
# sweep, scripts/copurchase_band_sweep.py, interleaved same-session):
# holding r=2 and sweeping bands 24→48→96,
#   recall vs wedge twin   sf0.001: 0.832 / 0.965 / 0.995
#                          sf0.01:  0.250 / 0.443 / 0.705
#   candidate mass sf0.1:  120,896 / 227,200 / 445,450  (wedge: 14.7M)
#   wall sf0.1 (min-of-3): 21.3 / 23.4 / 29.6 s   (wedge: 34.2 s, r12)
#   wall sf1  (min-of-2):  87.5 /   —  / 171.4 s  (wedge: 370.4 s, r12)
# ADOPTED: 96 bands × 2 rows. It meets the verdict's ≥0.5 sf0.01
# recall target (0.705, 2.8× the r12 setting), keeps candidate mass
# 33× below the wedge regime, and stays under the wedge wall-clock at
# every measured decade; the price — ×1.39 at sf0.1, ×1.96 at sf1,
# all of it the 4× md5 minhash-signature term, linear in |adjacency| —
# is the documented cost of recall, not a regime change (both
# formulations still return 0 rows at sf1, so the added scale cost
# buys recall exactly where rows exist to recall). Floors raised in
# tests/test_copurchase_banded.py (0.95 / 0.60). The wedge twin below
# remains the exact audit for small SFs. The oracle mirrors the
# banding EXACTLY, so driver parity holds at every SF regardless of
# recall.
#
# r14 HASH FAMILY, measured (VERDICT r13 item 2 — the census `weak`
# fix): the true cost of the r13 shape was NOT the struct-array
# explode the stage profile blamed (0.3 s from a cached input) but the
# 192 STRING min-aggregates themselves — variable-width buffers force
# SortAggregate and every aggregate re-digests its own md5; the r13
# probes' `.count()` consumers let Catalyst prune the unreferenced
# mins, so the "signature-only" baselines measured an empty aggregate.
# Replaced (in _sim_banded_index, oracle-mirrored) with the
# Kirsch-Mitzenmacher permutation family Spark ML's MinHashLSH uses:
# one md5 per shingle → h, mh_k = min((a_k·h + b_k) mod P), band key =
# mh_even·P + mh_odd as one BIGINT. Interleaved same-session A/B at
# sf0.1 (scripts/census_ab_r14.py, min-of-3): census stage 19.8→7.6 s,
# capped pairs 19.6→9.2 s; registered queries census 8.1 s /
# similarity 11.9 s (min-of-3) vs the r13 driver record 23.8 / 30.1 s.
# Candidate mass 442,752 vs 445,450 (same regime); recall vs the wedge
# twin 19821/19899 = 0.996 (sf0.001) and 61/88 = 0.693 (sf0.01) —
# floors 0.95/0.60 hold unchanged. Same plan at 100 TB: the shuffle
# ships 8-byte keys instead of 32-char md5 strings and the signature
# aggregate hash-aggregates with map-side partial min.
# ---------------------------------------------------------------------------

_SIM_HUB_CAP = 10_000
_SIM_N_HASHES = 192  # 96 bands × 2 rows: P(cand) = 1-(1-j²)^96
_SIM_BAND_ROWS = 2
_SIM_BUCKET_CAP = 256  # per-bucket pair fan-out ≤ C(256, 2) = 32 640


_SIM_KM_PRIME = 2038074743  # Spark ML MinHashLSH's HASH_PRIME (public)


def _sim_km_consts(k: int) -> tuple[int, int]:
    """Deterministic (a_k, b_k) for the k-th Kirsch-Mitzenmacher
    minhash permutation (a_k ∈ [1, P-1], b_k ∈ [0, P-1]) — derived
    from md5 of the index so the DuckDB oracle builder regenerates the
    IDENTICAL constants (no RNG, no state)."""
    import hashlib as _hl

    a = int(_hl.md5(f"a{k}".encode()).hexdigest()[:8], 16) % (_SIM_KM_PRIME - 1) + 1
    b = int(_hl.md5(f"b{k}".encode()).hexdigest()[:8], 16) % _SIM_KM_PRIME
    return a, b


def _sim_banded_index(shingled: DataFrame, n_hashes: int, band_rows: int) -> DataFrame:
    """(doc_id, band, key) banded MinHash index, built SLIM (r14,
    VERDICT r13 item 2 — the band-census `weak` fix).

    The r13 shape (minhash_signature → band_keys) evaluated
    min(substr(md5(seed:sh))) per hash: 192 STRING min-aggregates whose
    variable-width buffers force SortAggregate (no hash map), each
    re-digesting md5 per aggregate — the measured 17-21 s warm cost at
    sf0.1 that the r13 stage profile mis-attributed to the struct-array
    explode (the explode is 0.3 s from a cached input; the r13 probe's
    `.count()` let Catalyst PRUNE the unreferenced min-aggregates, so
    the "signature-only" baseline measured an empty aggregate).

    This shape hashes each shingle ONCE (h = first 32 bits of md5, mod
    P) and derives every minhash with the Kirsch-Mitzenmacher
    permutation family mh_k = min((a_k·h + b_k) mod P) — exactly the
    hash family Spark ML's own MinHashLSH uses (P = its HASH_PRIME
    2038074743). 192 LONG min-aggregates hash-aggregate with map-side
    partial min (measured 3.7 s warm, 4.8× the string shape), the
    per-band key packs the band's two mins into ONE BIGINT
    (mh_even·P + mh_odd < 2^62 — injective, no md5, 8-byte shuffle key
    instead of 32-char), and the posexplode ships only (doc_id, band,
    key) longs. All arithmetic is exact in signed 64-bit (a·h + b <
    P² + P < 2^62), so the DuckDB oracle replays it verbatim
    ('0x'||substr(md5(sh),1,8) cast, same constants from
    _sim_km_consts). Band numbering is posexplode's 0..n_bands-1, same
    as operators/dedup.band_keys. Recall floors re-pinned for the KM
    family in tests/test_copurchase_banded.py."""
    assert band_rows == 2, "packed-long band keys assume 2-row bands"
    n_bands = n_hashes // band_rows
    p = F.lit(_SIM_KM_PRIME).cast("long")
    hashed = shingled.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("sh")), 1, 8), 16, 10).cast("long")
            % p
        ).alias("h"),
    )

    def mh(k: int):
        a, b = _sim_km_consts(k)
        return F.min((F.lit(a) * F.col("h") + F.lit(b)) % p)

    band_aggs = [
        (mh(b * band_rows) * p + mh(b * band_rows + 1)).alias(f"k_{b}")
        for b in range(n_bands)
    ]
    keyed = hashed.groupBy("doc_id").agg(*band_aggs)
    return keyed.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"k_{b}") for b in range(n_bands)])).alias(
            "band", "key"
        ),
    )


def _copurchase_bands_ctes() -> str:
    """Shared oracle CTE chain `edges..deg, adj, small, shing, sig,
    bands` — the banded MinHash index over each part's hub-capped
    neighbor set, used by both the similarity oracle and the band
    census oracle (the _mh_pairs_ctes precedent in queries/dedup.py).
    r14: mirrors _sim_banded_index's Kirsch-Mitzenmacher scheme — one
    md5 per shingle, mh_k = min((a_k·h + b_k) mod P) with the SAME
    _sim_km_consts constants inlined, band key = mh_even·P + mh_odd as
    BIGINT; all arithmetic < 2^62, exact in both engines."""
    p = _SIM_KM_PRIME
    mh_parts = []
    for k in range(_SIM_N_HASHES):
        a, b = _sim_km_consts(k)
        mh_parts.append(f"min(({a} * h + {b}) % {p}) AS mh_{k}")
    mh = ", ".join(mh_parts)
    n_bands = _SIM_N_HASHES // _SIM_BAND_ROWS
    band_sel = " UNION ALL ".join(
        f"SELECT part, {b} AS band, "
        f"mh_{b * _SIM_BAND_ROWS} * {p} + mh_{b * _SIM_BAND_ROWS + 1} AS key "
        "FROM sig"
        for b in range(n_bands)
    )
    return f"""{_EDGES_SQL}, adj AS (
  SELECT u AS node, v AS nbr FROM edges
  UNION ALL
  SELECT v AS node, u AS nbr FROM edges
), small AS MATERIALIZED (
  SELECT a.node, a.nbr FROM adj a JOIN deg ON deg.node = a.node
  WHERE deg.d <= {_SIM_HUB_CAP}
), shing AS (
  SELECT nbr AS part, CAST(node AS VARCHAR) AS sh FROM small
), hashed AS (
  SELECT part,
         CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) % {p} AS h
  FROM shing
), sig AS MATERIALIZED (
  SELECT part, {mh} FROM hashed GROUP BY part
), bands AS MATERIALIZED (
  {band_sel}
)"""


def _copurchase_sim_oracle() -> str:
    return f"""
WITH {_copurchase_bands_ctes()}, cold AS (
  -- band-bucket cap mirrored from operators/dedup.py:lsh_candidate_pairs
  SELECT band, key FROM bands GROUP BY band, key
  HAVING count(*) <= {_SIM_BUCKET_CAP}
), kept AS (
  SELECT b.part, b.band, b.key
  FROM bands b JOIN cold c ON b.band = c.band AND b.key = c.key
), cand AS (
  SELECT DISTINCT a.part AS part_x, b.part AS part_y
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.key = b.key AND a.part < b.part
), common AS (
  SELECT c.part_x, c.part_y, CAST(count(*) AS BIGINT) AS common
  FROM cand c
  JOIN small sa ON sa.nbr = c.part_x
  JOIN small sb ON sb.nbr = c.part_y AND sb.node = sa.node
  GROUP BY c.part_x, c.part_y
)
SELECT part_x, part_y, common,
       dx.d AS deg_x, dy.d AS deg_y,
       {R("(CAST(common AS DOUBLE) / CAST(dx.d + dy.d - common AS DOUBLE))", 6)}
         AS jaccard
FROM common
JOIN deg dx ON dx.node = part_x
JOIN deg dy ON dy.node = part_y
WHERE common >= 3
  AND (CAST(common AS DOUBLE) / CAST(dx.d + dy.d - common AS DOUBLE)) >= 0.1
ORDER BY part_x, part_y
"""


def _banded_similarity(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int,
    band_rows: int,
    bucket_cap: int,
) -> DataFrame:
    # r11: the edges lineage (lineitem self-join) fed four branches —
    # lazily checkpointed, built once. r12: `small` feeds the minhash
    # path AND the adjacency-array verify path, so it is lazily
    # checkpointed too (the banded index inside lsh_pairs_from_index
    # checkpoints itself). Parameterized so the A/B harness can sweep
    # (n_hashes, band_rows); the registered query pins the constants
    # the oracle replays.
    from ..operators.dedup import lsh_pairs_from_index

    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = _copurchase_degrees(edges).localCheckpoint(eager=False)
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    small = adj.join(
        deg.filter(F.col("d") <= _SIM_HUB_CAP).select("node"), "node"
    ).localCheckpoint(eager=False)
    # each part's "document" is its hub-capped neighbor set; shingles
    # are the neighbor ids rendered as strings (matches the oracle's
    # CAST(node AS VARCHAR)); minhash + banding happen in ONE slim
    # aggregation (r14 — see _sim_banded_index) with the same portable
    # md5 machinery shared with dedup_minhash_lsh
    shingled = small.select(
        F.col("nbr").alias("doc_id"), F.col("node").cast("string").alias("sh")
    )
    banded = _sim_banded_index(shingled, n_hashes, band_rows)
    # r15 (guide §2.4 — the dedup_embedding_lsh precedent): the
    # cross-band duplicate rate is 1.009 at sf0.1 (446,540 raw vs
    # 442,752 distinct pairs), so the pre-verify distinct paid a full
    # 16-byte-per-pair shuffle + HashAggregate barrier over the whole
    # candidate stream to save 0.9% of the verifies. dedup=False keeps
    # the emit pipelined straight into the verify joins; every verify
    # column (common, degrees, jaccard) is a deterministic function of
    # the pair, so the pair-key dedup at the END collapses the duplicate
    # rows to the identical result set (parity EQUAL at sf0.1; A/B won
    # all pairs, 9.9-16.6 → 7.0-7.7 s).
    cand = lsh_pairs_from_index(banded, bucket_cap, dedup=False).select(
        F.col("doc_a").alias("part_x"), F.col("doc_b").alias("part_y")
    )
    # EXACT verify on candidates only: |N(x) ∩ N(y)| via array_intersect
    # of the two adjacency arrays — per-row memory is O(deg_x + deg_y),
    # bounded by the MAX PART DEGREE (r13, ADVICE): the hub cap filters
    # the shared-neighbor (node) side of `small`, not the part (nbr)
    # side, so a promotional-SKU part ordered with everything still
    # collects an array of its full hub-filtered degree. At 100 TB,
    # cap the part side too if that bound must be structural; on this
    # schema max part degree tracks orders-per-part (≤ ~3k at sf1).
    # No wedge stream exists anywhere in the plan.
    sets = small.groupBy("nbr").agg(F.collect_list("node").alias("ns"))
    verified = (
        cand.join(sets.select(F.col("nbr").alias("part_x"), F.col("ns").alias("ns_x")),
                  "part_x")
        .join(sets.select(F.col("nbr").alias("part_y"), F.col("ns").alias("ns_y")),
              "part_y")
        .select(
            "part_x",
            "part_y",
            F.size(F.array_intersect("ns_x", "ns_y")).cast("long").alias("common"),
        )
    )
    dx = deg.select(F.col("node").alias("part_x"), F.col("d").alias("deg_x"))
    dy = deg.select(F.col("node").alias("part_y"), F.col("d").alias("deg_y"))
    jac = F.col("common").cast("double") / (
        F.col("deg_x") + F.col("deg_y") - F.col("common")
    ).cast("double")
    return (
        verified.join(dx, "part_x")
        .join(dy, "part_y")
        .filter((F.col("common") >= 3) & (jac >= 0.1))
        .select(
            "part_x",
            "part_y",
            "common",
            "deg_x",
            "deg_y",
            pround(jac, 6).alias("jaccard"),
        )
        # collapses the dedup=False emit's per-band duplicates on the
        # pair key (every other column is pair-deterministic); runs
        # over the τ-survivors only, not the 446k-pair candidate stream
        .dropDuplicates(["part_x", "part_y"])
        .orderBy("part_x", "part_y")
    )


@query("copurchase_part_similarity", oracle=_copurchase_sim_oracle())
def copurchase_part_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _banded_similarity(
        spark, sf_dir, _SIM_N_HASHES, _SIM_BAND_ROWS, _SIM_BUCKET_CAP
    )


# ---------------------------------------------------------------------------
# Band-bucket census for the copurchase similarity index (r12, NEW) —
# the no-silent-cap companion the dedup path already has
# (dedup_lsh_bucket_census): one row per distinct (band, key) bucket
# size over the part-adjacency MinHash index, with the candidate-pair
# mass each size class would generate and whether _SIM_BUCKET_CAP
# excludes it from pair generation. Production runs REPORT the skipped
# mass instead of trusting that the cap never bites (it never does
# below sf1: max bucket 140 at sf0.1 — measured identical at 24×2 and
# the r13-adopted 96×2 bands, as expected: each band is an i.i.d.
# 2-row minhash key, so adding bands adds buckets without densifying
# any one of them).
# ---------------------------------------------------------------------------
@query(
    "copurchase_band_census",
    oracle=f"""
WITH {_copurchase_bands_ctes()},
sizes AS (
  SELECT band, key, CAST(count(*) AS BIGINT) AS bucket_size
  FROM bands GROUP BY band, key
),
census AS (
  SELECT bucket_size, CAST(count(*) AS BIGINT) AS n_buckets
  FROM sizes GROUP BY bucket_size
)
SELECT bucket_size, n_buckets,
       CAST(bucket_size * (bucket_size - 1) / 2 * n_buckets AS BIGINT)
         AS candidate_pairs,
       CAST(bucket_size > {_SIM_BUCKET_CAP} AS INT) AS capped
FROM census
ORDER BY bucket_size
""",
)
def copurchase_band_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-size census of copurchase_part_similarity's banded
    MinHash index — same signatures, same bands (the r14 slim
    _sim_banded_index build); sum of candidate_pairs where capped=1
    upper-bounds the pairs the cap drops (exact per band, pre-dedup).
    O(distinct sizes) output."""
    from ..operators.dedup import lsh_census_from_index

    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = _copurchase_degrees(edges).localCheckpoint(eager=False)
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    small = adj.join(deg.filter(F.col("d") <= _SIM_HUB_CAP).select("node"), "node")
    banded = _sim_banded_index(
        small.select(
            F.col("nbr").alias("doc_id"), F.col("node").cast("string").alias("sh")
        ),
        _SIM_N_HASHES,
        _SIM_BAND_ROWS,
    )
    return lsh_census_from_index(banded, _SIM_BUCKET_CAP).orderBy("bucket_size")


def copurchase_wedge_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT wedge-enumeration twin of copurchase_part_similarity —
    NOT registered; kept as the small-SF audit baseline the banded
    rewrite's recall is pinned against (tests/test_copurchase_banded.py).

    Cost is the exact algorithm's lower bound Σ_z C(d_z, 2): 1.24B
    emitted rows / 370 s at sf1 for zero qualifying output rows — the
    formulation the r12 verdict retired from the registry. Wedges are
    emitted WITHOUT a self-join: each center's sorted adjacency array
    (one shuffle of 2|E| rows) explodes into ordered pairs two-stage,
    so per-row memory stays O(degree), never O(degree²). r11 NOTE
    (measured, not shipped): a degree-ratio prune — jaccard ≤
    min(deg)/max(deg) — was interleave-A/B'd at sf1: old 392/157 s vs
    pruned 305/190 s (mixed, no warm win); this graph's degrees are too
    uniform for it to bite."""
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = _copurchase_degrees(edges).localCheckpoint(eager=False)
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    small = adj.join(
        deg.filter(F.col("d") <= _SIM_HUB_CAP).select("node"), "node"
    )
    nbrs = small.groupBy("node").agg(F.array_sort(F.collect_list("nbr")).alias("ns"))
    heads = nbrs.select(
        F.explode(
            F.expr(
                "transform(ns, (x, i) -> named_struct("
                "'x', x, 'tail', slice(ns, i + 2, size(ns) - i - 1)))"
            )
        ).alias("h")
    ).filter(F.size("h.tail") > 0)
    common = (
        heads.select(F.col("h.x").alias("part_x"), F.explode("h.tail").alias("part_y"))
        .groupBy("part_x", "part_y")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    dx = deg.select(F.col("node").alias("part_x"), F.col("d").alias("deg_x"))
    dy = deg.select(F.col("node").alias("part_y"), F.col("d").alias("deg_y"))
    jac = F.col("common").cast("double") / (
        F.col("deg_x") + F.col("deg_y") - F.col("common")
    ).cast("double")
    return (
        common.join(dx, "part_x")
        .join(dy, "part_y")
        .filter((F.col("common") >= 3) & (jac >= 0.1))
        .select(
            "part_x",
            "part_y",
            "common",
            "deg_x",
            "deg_y",
            pround(jac, 6).alias("jaccard"),
        )
        .orderBy("part_x", "part_y")
    )


# ---------------------------------------------------------------------------
# MinHash estimator calibration for the copurchase KM family (r14, NEW)
# — the analogue of dedup.minhash_jaccard_calibration for the
# Kirsch-Mitzenmacher permutation family this round adopted: over the
# SAME capped candidate set the production pair generator emits, how
# well does the 192-hash signature agreement estimate the true Jaccard
# of the hub-capped neighbor sets? Registered so the family switch
# ships with a driver-hash-checked quality contract, not just recall
# floors. Output is the O(1)-sized bucketed report (one row per exact-
# Jaccard decile), not per-pair rows — the shape a 100 TB run can
# actually publish. All averages are exact-integer micro-unit sums
# (portable.py discipline): per pair est_u/exact_u are floor(x·1e6+.5)
# of deterministic double divisions, summed as BIGINT, divided once at
# the end under pround6 — no order-dependent float accumulation.
# ---------------------------------------------------------------------------
def _balanced_sum(terms: list[str]) -> str:
    """Sum of SQL terms as a BALANCED parenthesis tree — a left-nested
    192-term `a + b + c + ...` chain exceeds DuckDB's 128-deep binder
    recursion limit; pairing to depth ⌈log2 n⌉ keeps it at ~8."""
    while len(terms) > 1:
        terms = [
            f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def _copurchase_calibration_oracle() -> str:
    agree = _balanced_sum(
        [
            f"(CASE WHEN sa.mh_{k} = sb.mh_{k} THEN 1 ELSE 0 END)"
            for k in range(_SIM_N_HASHES)
        ]
    )
    return f"""
WITH {_copurchase_bands_ctes()}, cold AS (
  SELECT band, key FROM bands GROUP BY band, key
  HAVING count(*) <= {_SIM_BUCKET_CAP}
), kept AS MATERIALIZED (
  SELECT b.part, b.band, b.key
  FROM bands b JOIN cold c ON b.band = c.band AND b.key = c.key
), cand AS MATERIALIZED (
  SELECT DISTINCT a.part AS part_x, b.part AS part_y
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.key = b.key AND a.part < b.part
), counts AS (
  SELECT nbr AS part, CAST(count(*) AS BIGINT) AS n FROM small GROUP BY nbr
), common AS (
  SELECT c.part_x, c.part_y, CAST(count(*) AS BIGINT) AS common
  FROM cand c
  JOIN small sa ON sa.nbr = c.part_x
  JOIN small sb ON sb.nbr = c.part_y AND sb.node = sa.node
  GROUP BY c.part_x, c.part_y
), per_pair AS (
  SELECT c.part_x, c.part_y,
         CAST(floor(({agree}) * 1000000.0 / {_SIM_N_HASHES} + 0.5) AS BIGINT)
           AS est_u,
         CAST(floor(coalesce(cm.common, 0) * 1000000.0
                    / (ca.n + cb.n - coalesce(cm.common, 0)) + 0.5) AS BIGINT)
           AS exact_u
  FROM cand c
  JOIN sig sa ON sa.part = c.part_x
  JOIN sig sb ON sb.part = c.part_y
  LEFT JOIN common cm ON cm.part_x = c.part_x AND cm.part_y = c.part_y
  JOIN counts ca ON ca.part = c.part_x
  JOIN counts cb ON cb.part = c.part_y
)
SELECT CAST(floor(exact_u / 100000.0) AS INT) AS j_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       {R("sum(est_u) / (count(*) * 1000000.0)", 6)} AS avg_est_jaccard,
       {R("sum(exact_u) / (count(*) * 1000000.0)", 6)} AS avg_exact_jaccard,
       {R("sum(abs(est_u - exact_u)) / (count(*) * 1000000.0)", 6)}
         AS mean_abs_err
FROM per_pair
GROUP BY j_bucket
ORDER BY j_bucket
"""


@query("copurchase_minhash_calibration", oracle=_copurchase_calibration_oracle())
def copurchase_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per exact-Jaccard decile over the capped banded candidate set:
    pair count, mean signature-agreement estimate (n_match/192), mean
    exact Jaccard of the hub-capped neighbor sets, and mean absolute
    error — the estimator-quality contract for the r14 KM hash family.
    ONE signature aggregation feeds both the banded index (band keys
    are element_at pairs packed into the same mh_even·P + mh_odd
    BIGINT as _sim_banded_index) and both probe sides of the agreement
    count; the exact side reuses the similarity query's
    collect_list/array_intersect verify shape, so cost is
    O(|candidates|·n_hashes) after one extra shuffle — same scale
    envelope as copurchase_part_similarity."""
    from ..operators.dedup import lsh_pairs_from_index

    p = F.lit(_SIM_KM_PRIME).cast("long")
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = _copurchase_degrees(edges).localCheckpoint(eager=False)
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    small = adj.join(
        deg.filter(F.col("d") <= _SIM_HUB_CAP).select("node"), "node"
    ).localCheckpoint(eager=False)
    hashed = small.select(
        F.col("nbr").alias("doc_id"),
        (
            F.conv(F.substring(F.md5(F.col("node").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % p
        ).alias("h"),
    )

    def mh(k: int):
        a, b = _sim_km_consts(k)
        return F.min((F.lit(a) * F.col("h") + F.lit(b)) % p)

    sig = (
        hashed.groupBy("doc_id")
        .agg(F.array(*[mh(k) for k in range(_SIM_N_HASHES)]).alias("sig"))
        .localCheckpoint(eager=False)
    )
    band_arr = F.array(
        *[
            F.element_at("sig", 2 * b + 1) * p + F.element_at("sig", 2 * b + 2)
            for b in range(_SIM_N_HASHES // _SIM_BAND_ROWS)
        ]
    )
    banded = sig.select("doc_id", F.posexplode(band_arr).alias("band", "key"))
    cand = lsh_pairs_from_index(banded, _SIM_BUCKET_CAP).select(
        F.col("doc_a").alias("part_x"), F.col("doc_b").alias("part_y")
    )
    sets = small.groupBy("nbr").agg(
        F.collect_list("node").alias("ns"), F.count(F.lit(1)).alias("n")
    )
    n_match = F.expr("size(filter(zip_with(sig_x, sig_y, (x, y) -> x = y), v -> v))")
    per_pair = (
        cand.join(
            sig.select(F.col("doc_id").alias("part_x"), F.col("sig").alias("sig_x")),
            "part_x",
        )
        .join(
            sig.select(F.col("doc_id").alias("part_y"), F.col("sig").alias("sig_y")),
            "part_y",
        )
        .join(
            sets.select(
                F.col("nbr").alias("part_x"),
                F.col("ns").alias("ns_x"),
                F.col("n").alias("n_x"),
            ),
            "part_x",
        )
        .join(
            sets.select(
                F.col("nbr").alias("part_y"),
                F.col("ns").alias("ns_y"),
                F.col("n").alias("n_y"),
            ),
            "part_y",
        )
        .select(
            F.floor(
                n_match.cast("double") * F.lit(1000000.0) / _SIM_N_HASHES + 0.5
            )
            .cast("long")
            .alias("est_u"),
            F.size(F.array_intersect("ns_x", "ns_y")).cast("long").alias("common"),
            (F.col("n_x") + F.col("n_y")).cast("long").alias("n_sum"),
        )
        .select(
            "est_u",
            F.floor(
                F.col("common").cast("double")
                * F.lit(1000000.0)
                / (F.col("n_sum") - F.col("common")).cast("double")
                + 0.5
            )
            .cast("long")
            .alias("exact_u"),
        )
    )
    n = F.count(F.lit(1))
    return (
        per_pair.groupBy(
            # explicit floor: DuckDB's CAST(double AS INT) ROUNDS while
            # Spark's truncates — floor() on the non-negative ratio is
            # identical in both engines
            F.floor(F.col("exact_u") / F.lit(100000.0)).cast("int").alias("j_bucket")
        )
        .agg(
            n.cast("long").alias("n_pairs"),
            pround(
                F.sum("est_u") / (n * F.lit(1000000.0)), 6
            ).alias("avg_est_jaccard"),
            pround(
                F.sum("exact_u") / (n * F.lit(1000000.0)), 6
            ).alias("avg_exact_jaccard"),
            pround(
                F.sum(F.abs(F.col("est_u") - F.col("exact_u")))
                / (n * F.lit(1000000.0)),
                6,
            ).alias("mean_abs_err"),
        )
        .orderBy("j_bucket")
    )
