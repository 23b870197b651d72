"""Graph analytics: PageRank over the customer–supplier bipartite graph,
and the part co-purchase graph (parts joined by sharing an order) —
triangle census, degree distribution, k-core decomposition, label
propagation, banded-MinHash similarity with its band census and
calibration, and the exact wedge-similarity reference.

PageRank (who-buys-from-whom, undirected) is the third iterative
algorithm in the repo after connected components and k-means.

Engine-exact like embedding_kmeans: per-edge contributions are
converted to int64 nano-units and SUMMED EXACTLY (a double sum would
depend on accumulation order and flip the hash), and every new rank
is re-rounded with the portable pround before it feeds the next
iteration — so Spark's and DuckDB's rank doubles are bit-identical at
every step and the oracle can simply unroll the iterations as CTEs.
The co-purchase queries follow the same house rules: JVM-side
expressions only, rational arithmetic (no ln/exp), exact int64/decimal
fixed-point sums before any division, portable half-away-from-zero
rounding, and a mirrored DuckDB oracle per query.

Scale shape: ranks/degrees are O(|V|) and BROADCAST into the per-edge
contribution join, so the O(|E|) side never shuffles for the join; the
only full shuffle per iteration is the map-side-combined groupBy(dst).
That is the standard Pregel-style topology — at 100 TB of edges you'd
pre-partition edges by dst and the contribution aggregation becomes
co-located too. No driver-side collect anywhere; per-iteration state
is lazily localCheckpoint'ed (r14) so the plan each iteration consumes
is flat instead of the unrolled 146-Exchange tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import pround, sql_round as R
from ..operators.dedup import group_pairs, lsh_census_from_index
from ..registry import query

PR_ITERS = 3
PR_DAMP = 0.85

# int64 nano-unit fixed-point of a non-negative double expression
_NANO = "CAST(floor(({x}) * 1000000000.0 + 0.5) AS BIGINT)"


def _pagerank_oracle(iters: int = PR_ITERS) -> str:
    contrib = _NANO.format(x="r.rank / CAST(r.degree AS DOUBLE)")

    def new_rank(it: int) -> str:
        return R(
            f"({1.0 - PR_DAMP} / CAST(n.n_nodes AS DOUBLE)"
            f" + {PR_DAMP} * (CAST(coalesce(i{it}.s, 0) AS DOUBLE)"
            " / 1000000000.0))",
            9,
        )

    parts = [
        """pairs AS (
  SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)""",
        """edges AS (
  SELECT concat('c:', CAST(ck AS VARCHAR)) AS src,
         concat('s:', CAST(sk AS VARCHAR)) AS dst FROM pairs
  UNION ALL
  SELECT concat('s:', CAST(sk AS VARCHAR)) AS src,
         concat('c:', CAST(ck AS VARCHAR)) AS dst FROM pairs
)""",
        """deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
  FROM edges GROUP BY src
)""",
        """n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg
)""",
        f"""r0 AS (
  SELECT d.node, d.degree,
         {R("(1.0 / CAST(n.n_nodes AS DOUBLE))", 9)} AS rank
  FROM deg d CROSS JOIN n
)""",
    ]
    for it in range(1, iters + 1):
        parts.append(
            f"""i{it} AS (
  SELECT e.dst AS node, CAST(sum({contrib}) AS BIGINT) AS s
  FROM edges e JOIN r{it - 1} r ON e.src = r.node
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""r{it} AS (
  SELECT d.node, d.degree, {new_rank(it)} AS rank
  FROM deg d CROSS JOIN n LEFT JOIN i{it} ON d.node = i{it}.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node, degree, {R("rank", 9)} AS rank
FROM r{iters} ORDER BY node"""
    )


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 fixed iterations) over the undirected
    customer–supplier purchase graph; one row per node with its degree
    and final rank."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("cnode"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("snode"),
        )
        .distinct()
    )
    # r14 (guide §3.3/§5): lazily localCheckpoint the edge list and the
    # degree table instead of repartition("src") — the unrolled 3-round
    # plan was 146 Exchange nodes of repeated subtrees (planning cost +
    # re-derivation risk); the checkpoint truncates lineage so each
    # iteration consumes the materialized blocks. Interleaved sf0.1
    # A/B: 7.27 → 4.41 s min-of-3 (EQUAL rows, /tmp prof_prlpa).
    edges = (
        pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst"))
        .union(pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst")))
        .localCheckpoint(eager=False)
    )
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .localCheckpoint(eager=False)
    )
    n = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    ranks = deg.crossJoin(F.broadcast(n)).select(
        "node",
        "degree",
        "n_nodes",
        pround(F.lit(1.0) / F.col("n_nodes").cast("double"), 9).alias("rank"),
    )
    for it in range(PR_ITERS):
        contrib_nano = F.floor(
            (F.col("rank") / F.col("degree").cast("double")) * F.lit(1e9) + F.lit(0.5)
        ).cast("long")
        inc = (
            edges.join(F.broadcast(ranks), edges["src"] == ranks["node"])
            .select(F.col("dst"), contrib_nano.alias("nano"))
            .groupBy("dst")
            .agg(F.sum("nano").cast("long").alias("s"))
        )
        ranks = (
            deg.crossJoin(F.broadcast(n))
            .join(F.broadcast(inc), deg["node"] == inc["dst"], "left")
            .select(
                "node",
                "degree",
                "n_nodes",
                pround(
                    F.lit(1.0 - PR_DAMP) / F.col("n_nodes").cast("double")
                    + F.lit(PR_DAMP)
                    * (F.coalesce(F.col("s"), F.lit(0)).cast("double") / F.lit(1e9)),
                    9,
                ).alias("rank"),
            )
        )
        # truncate the per-iteration lineage; the LAST iteration stays
        # un-checkpointed so the final plan still exposes the
        # broadcast-rank join for the plan pins (a checkpoint there
        # would only add a materialization barrier, never change rows)
        if it < PR_ITERS - 1:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", "degree", pround("rank", 9).alias("rank")).orderBy(
        "node"
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


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
    """Distinct unordered part pairs u < v sharing an order. Pair
    expansion is bounded per order by that order's item count — never a
    cartesian: one groupBy shuffle of the raw (orderkey, partkey) rows,
    then exactly C(k, 2) rows per order (`group_pairs`) and one distinct
    for parts co-ordered more than once."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return group_pairs(li, "l_orderkey", "l_partkey", ("u", "v")).distinct()


def _hub_capped_adjacency(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(deg, small): co-purchase degrees, and the directed (node, nbr)
    adjacency whose shared-neighbour side `node` has degree ≤
    _SIM_HUB_CAP — each part's "document" for the banded similarity
    family is its `nbr` row set here. `edges` and `deg` feed several
    branches, so both are lazily checkpointed; callers checkpoint
    `small` where it feeds more than one branch."""
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = _copurchase_degrees(edges).localCheckpoint(eager=False)
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    small = adj.join(deg.filter(F.col("d") <= _SIM_HUB_CAP).select("node"), "node")
    return deg, small


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
  -- band-bucket cap mirrored from group_pairs(max_size=_SIM_BUCKET_CAP)
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
    # r12: `small` feeds the minhash path AND the adjacency-array
    # verify path, so it is lazily checkpointed. Parameterized so the
    # A/B harness can sweep (n_hashes, band_rows); the registered query
    # pins the constants the oracle replays.
    deg, small = _hub_capped_adjacency(spark, sf_dir)
    small = small.localCheckpoint(eager=False)
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
    # candidate stream to save 0.9% of the verifies. The raw per-band
    # emit stays pipelined straight into the verify joins; every verify
    # column (common, degrees, jaccard) is a deterministic function of
    # the pair, so the pair-key dedup at the END collapses the duplicate
    # rows to the identical result set (parity EQUAL at sf0.1; A/B won
    # all pairs, 9.9-16.6 → 7.0-7.7 s).
    cand = group_pairs(
        banded, ["band", "key"], "doc_id", ("part_x", "part_y"), bucket_cap
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
        # collapses the raw emit's per-band duplicates on the
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
    _, small = _hub_capped_adjacency(spark, sf_dir)
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
    p = F.lit(_SIM_KM_PRIME).cast("long")
    _, small = _hub_capped_adjacency(spark, sf_dir)
    small = small.localCheckpoint(eager=False)
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
    cand = group_pairs(
        banded, ["band", "key"], "doc_id", ("part_x", "part_y"), _SIM_BUCKET_CAP
    ).distinct()
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


# ---------------------------------------------------------------------------
# k-core peeling of the co-purchase graph with a DATA-ADAPTIVE k =
# floor(0.7 x median initial degree) (a fixed k is degenerate on a
# near-uniform random graph: either nothing peels or the cascade
# empties it; the adaptive threshold tracks the graph's density at any
# SF, and quantile_disc keeps it an exact integer in both engines).
# Twelve peels are unrolled into ONE lazy plan (each round is an
# edges-alive-alive equi-join + degree aggregate, lineage truncated per
# round via localCheckpoint -- the connected_components precedent), with
# a `converged` flag comparing the last two rounds in-plan. The DuckDB
# oracle unrolls the SAME rounds as MATERIALIZED CTEs (plain CTEs are
# inlined and would expand the edges subtree 2^rounds times).
# ---------------------------------------------------------------------------

_KCORE_ROUNDS = 12


def _kcore_oracle() -> str:
    edges_mat = _EDGES_SQL.replace("AS (", "AS MATERIALIZED (", 3)
    parts = [
        f"""WITH {edges_mat}, kk AS MATERIALIZED (
  SELECT CAST(quantile_disc(d, 0.50) * 7 // 10 AS BIGINT) AS k FROM deg
), a0 AS MATERIALIZED (SELECT node FROM deg)"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""", e{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM edges e
  JOIN a{r - 1} x ON e.u = x.node JOIN a{r - 1} y ON e.v = y.node
), d{r} AS MATERIALIZED (
  SELECT node, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r})
  GROUP BY node
), a{r} AS MATERIALIZED (
  SELECT node FROM d{r} WHERE c >= (SELECT k FROM kk)
)"""
        )
    parts.append(
        f"""
SELECT (SELECT k FROM kk) AS k,
       (SELECT CAST(count(*) AS BIGINT) FROM a0) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM a{_KCORE_ROUNDS}) AS n_core_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM e{_KCORE_ROUNDS}) AS n_core_edges_in,
       CAST((SELECT count(*) FROM a{_KCORE_ROUNDS - 1})
            = (SELECT count(*) FROM a{_KCORE_ROUNDS}) AS BIGINT) AS converged"""
    )
    return "".join(parts)


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release the blocks of a spent localCheckpoint()ed frame NOW
    instead of waiting for GC-driven ContextCleaner cleanup (r12,
    ADVICE): each k-core round eagerly checkpoints an |E|-row edge
    frame, and without explicit release up to 12 of them stay pinned in
    block-manager memory for the life of the query. Only safe on frames
    with NO remaining consumers — a locally-checkpointed frame has its
    lineage truncated, so reading it after this raises
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. No public DataFrame API exposes
    the checkpoint RDD, so this reaches through the analyzed LogicalRDD
    (guarded by plan-class check: a non-checkpoint plan is left alone).
    r13 (ADVICE): a Spark upgrade that changes the analyzed-plan shape
    would silently turn this into a no-op (the memory pinning returns
    with no failure) — log the miss at debug so it is detectable; the
    round-trip unit test pins today's shape."""
    plan = df._jdf.queryExecution().analyzed()
    cls = plan.getClass().getSimpleName()
    if cls == "LogicalRDD":
        plan.rdd().unpersist(False)
    else:
        import logging

        logging.getLogger(__name__).debug(
            "_free_local_checkpoint: analyzed plan is %s, not LogicalRDD — "
            "no blocks released (localCheckpoint shape changed?)", cls
        )


# Broadcast guard for the k-core decrement join: a removed set this
# large falls back to a shuffle join. The explicit broadcast() hint
# bypasses autoBroadcastJoinThreshold, so the limits that matter are
# Spark's 8 GB broadcast cap and driver/executor memory; 4M longs is
# ~32 MB framed, far inside both. The gate-SF removed sets are
# <= O(10^4), so the local plan keeps the broadcast (pinned in
# tests/test_plans.py).
_KCORE_BCAST_MAX_REMOVED = 4_000_000


def _maybe_broadcast(df: DataFrame, n_rows: int) -> DataFrame:
    """`broadcast(df)` when `n_rows` (already counted by the caller's
    convergence check — no extra action) is within the guard, else the
    frame unchanged so the planner picks a shuffle join."""
    return F.broadcast(df) if n_rows <= _KCORE_BCAST_MAX_REMOVED else df


def _kcore_delta_peel(spark: SparkSession, sf_dir: str, max_rounds: int):
    """Shared DECREMENTAL peel (r14, guide §2.4): instead of re-joining
    the surviving edge set against the alive set twice per round (two
    |e_r|-row shuffle joins + a full degree re-aggregate), maintain the
    alive-degree table and SUBTRACT each round's removed endpoints:

        deg_{r+1}(x) = deg_r(x) − |{(x,y) ∈ e_r : y ∈ removed_r}|

    which is exact in integers, so every round's alive set — and hence
    the output — is bit-identical to the join formulation the oracle
    unrolls. An edge qualifies for the decrement iff its other endpoint
    is removed THIS round and x is still alive, which is exactly the
    original edge list broadcast-joined against the (small, shrinking)
    removed set — the |E|-row edge frame is scanned from its
    checkpoint blocks and NEVER shuffled after the build. Round 1 needs
    no edge work at all (deg_1 = deg_0). The surviving-core edge count
    is one edges⋈alive⋈alive join at the END instead of per round.
    Interleaved sf0.1 A/B vs the r11 shrinking-edge-set join peel:
    15.0 → 7.5 s min-of-3 (new side won every interleaved pair).

    Returns (edges, kdf, nodes, alive_nodes, converged, rounds_done)
    with `alive_nodes` a single-column (node) frame and `converged`
    the no-removals-this-round bit the early exit already used (equal
    consecutive counts ⟺ empty removal set on the monotone alive set).
    """
    # r15 MEASURED REFUSAL: making every peel checkpoint LAZY (the
    # pagerank precedent — count materializes the round, halving
    # scheduled actions 2/round → 1/round) lost all three interleaved
    # A/B pairs at sf0.1 (OLD 6.31/6.17/6.38 s vs LAZY 6.78/6.36/6.53
    # min-of-3): the fused compute+persist+count job costs more than
    # the saved scheduler round-trip on blocks this size. Eager stays.
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint()
    deg0 = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    kdf = deg0.agg(
        F.expr(
            "CAST((CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY d) AS BIGINT)"
            " * 7) div 10 AS LONG)"
        ).alias("k")
    )
    nodes = deg0.select("node")
    # round 1: e_1 = edges (everything alive), so deg_1 = deg_0 — the
    # first peel is a pure filter, no edge join
    cur = (
        deg0.select("node", F.col("d").alias("c"))
        .crossJoin(F.broadcast(kdf))
        .localCheckpoint()
    )
    alive = cur.filter(F.col("c") >= F.col("k"))
    removed = cur.filter(F.col("c") < F.col("k")).select("node")
    rounds_done = 1
    n_removed = removed.count()
    converged = n_removed == 0
    prev_spent = cur
    while not converged and rounds_done < max_rounds:
        # the removed set is usually tiny after round 1, but a
        # first-round mass removal (k above the modal degree) can be
        # O(|V|); guard the broadcast with the count the convergence
        # check already paid for (VERDICT r14 item 4a) — above the
        # threshold the decrement join falls back to a shuffle join
        rem_u = _maybe_broadcast(
            removed.select(F.col("node").alias("u")), n_removed
        )
        rem_v = _maybe_broadcast(
            removed.select(F.col("node").alias("v")), n_removed
        )
        dec = (
            edges.join(rem_u, "u")
            .select(F.col("v").alias("node"))
            .unionAll(edges.join(rem_v, "v").select(F.col("u").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("dc"))
        )
        new = (
            alive.join(dec, "node", "left")
            .select(
                "node",
                (F.col("c") - F.coalesce(F.col("dc"), F.lit(0))).alias("c"),
                "k",
            )
            .localCheckpoint()
        )
        # the previous round's degree blocks are dead once `new` is
        # materialized (r12 ADVICE precedent) — free them now so pinned
        # frames stay O(1), not O(rounds)
        _free_local_checkpoint(prev_spent)
        prev_spent = new
        alive = new.filter(F.col("c") >= F.col("k"))
        removed = new.filter(F.col("c") < F.col("k")).select("node")
        rounds_done += 1
        n_removed = removed.count()
        converged = n_removed == 0
    return edges, kdf, nodes, alive.select("node"), converged, rounds_done


def _kcore_summary(
    edges: DataFrame,
    kdf: DataFrame,
    nodes: DataFrame,
    alive: DataFrame,
    *tail: F.Column,
) -> DataFrame:
    """The one-row k-core report of a peel: k, node count, core node
    count and core-induced edge count, then the caller's `tail` columns."""
    n0 = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    nc = alive.agg(F.count(F.lit(1)).cast("long").alias("n_core_nodes"))
    ne = (
        edges.join(alive.select(F.col("node").alias("u")), "u")
        .join(alive.select(F.col("node").alias("v")), "v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_core_edges_in"))
    )
    return (
        kdf.crossJoin(F.broadcast(n0))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(ne))
        .select(
            "k",
            "n_nodes",
            "n_core_nodes",
            "n_core_edges_in",
            *tail,
        )
    )


@query("part_kcore_decomposition", oracle=_kcore_oracle())
def part_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUBLISHED CONTRACT (r13, VERDICT r12 item 4): this query reports
    the state of the peel after AT MOST `_KCORE_ROUNDS = 12` rounds,
    with `converged` as the quality bit — 12 rounds is part of the
    query's definition (the DuckDB oracle unrolls exactly 12), not a
    budget that silently truncates: `converged = 0` in the output IS
    the statement that the cascade is deeper than the contract depth
    (observed only at sf1, where round 12 still peels). A caller who
    needs the fixpoint calls `part_kcore_converged` below — the same
    peel without the depth cap, oracle-free by construction (its depth
    is data-dependent, so no fixed SQL unrolling can replay it) and
    therefore checked by equality-to-this-query wherever this one
    converges plus an independent round-by-round DuckDB peel at sf1
    (scripts/kcore_converged_check.py; tests/test_kcore_converged.py).
    Early exit is bit-identical to the 12-round oracle because the
    alive set is monotone and peeling a converged set is a no-op; the
    r14 decremental formulation (_kcore_delta_peel) produces the same
    alive set per round by exact integer degree subtraction."""
    edges, kdf, nodes, alive, converged, _ = _kcore_delta_peel(
        spark, sf_dir, _KCORE_ROUNDS
    )
    return _kcore_summary(
        edges, kdf, nodes, alive, F.lit(converged).cast("long").alias("converged")
    )


def part_kcore_converged(
    spark: SparkSession, sf_dir: str, max_rounds: int = 64
) -> DataFrame:
    """The FIXPOINT k-core: the same shrinking-edge-set peel as the
    registered `part_kcore_decomposition` but run until the alive set
    stops changing (count-equality ⇒ set-equality on the monotone
    alive set), however deep the cascade — the answer a 100× user
    wants when the registered contract reports `converged = 0` (sf1
    needs 14 rounds; the contract depth is 12). Adds a `rounds` column
    (peels executed, the last being the no-op that proves the
    fixpoint); `converged` is 1 by construction or the function raises
    (max_rounds is a runaway guard — the cascade depth is bounded by
    the peel sequence's distinct degeneracy levels, far below 64 on
    any co-purchase-shaped graph; raising beats silently returning a
    truncated core from a function whose name promises the fixpoint).

    Unregistered by construction: the driver oracle would need a
    DATA-DEPENDENT SQL unrolling depth, which a static string cannot
    express. Its evidence is (a) bit-equality with the registered
    12-round query wherever that query converges (pytest, gate SFs),
    (b) the min-induced-degree ≥ k core property checked in-plan
    (pytest), and (c) an independent round-by-round DuckDB peel at sf1
    (scripts/kcore_converged_check.py — the sf1_holdout_check
    precedent: checker == oracle pinned at gate SF). r14: runs the
    same decremental peel as the registered query; `rounds` counts
    peels executed, the last being the one that removes nothing (a
    graph where the very first filter removes nothing reports 1, the
    filter itself being the proof)."""
    edges, kdf, nodes, alive, converged, rounds = _kcore_delta_peel(
        spark, sf_dir, max_rounds
    )
    if not converged:
        raise RuntimeError(
            f"part_kcore_converged: no fixpoint within {max_rounds} rounds"
        )
    return _kcore_summary(
        edges,
        kdf,
        nodes,
        alive,
        F.lit(rounds).cast("long").alias("rounds"),
        F.lit(1).cast("long").alias("converged"),
    )


# ---------------------------------------------------------------------------
# Synchronized label propagation (LPA community detection, Raghavan et
# al. 2007) over the part co-purchase graph — the fourth iterative
# graph algorithm beside components, PageRank and k-core. Fully
# deterministic variant: 4 synchronized rounds, each node adopting the
# NEIGHBOR label with the largest total co-purchase weight (exact
# integer sums; ties break to the SMALLEST label via the
# max(struct(w, -label)) trick), isolated nodes keep their own label.
# The oracle unrolls the rounds as CTEs (the Markov/PageRank
# precedent). Scale shape: labels are O(|V|) and BROADCAST into the
# O(|E|) edge side per round Pregel-style; the edge table is built
# ONCE, materialized via a lazy localCheckpoint, and scanned from its
# blocks per round (r14 — the prior single unrolled plan relied on AQE
# ReusedExchange to dedupe 544 planned Exchange subtrees; truncating
# the lineage removes the planning blow-up outright, interleaved sf0.1
# A/B 8.69 → 6.57 s, pinned in tests/test_exec_metrics.py::
# test_lpa_edges_shuffle_once_not_per_round).
# Per-order pair fan-out is capped by the ≤8-part order filter, so
# |E| is linear in orders; at 100 TB persist `edges` bucketed by src
# (sinks/compaction.py) so successive LPA runs skip the build stage.
# ---------------------------------------------------------------------------
_LPA_ROUNDS = 4
_LPA_ORDER_CAP = 8


def _lpa_oracle() -> str:
    rounds = []
    for k in range(1, _LPA_ROUNDS + 1):
        rounds.append(
            f"""nb{k} AS (
  SELECT e.dst AS node, l.lab AS lab, CAST(sum(e.w) AS BIGINT) AS wsum
  FROM edges e JOIN labels{k - 1} l ON l.node = e.src
  GROUP BY e.dst, l.lab
), pick{k} AS (
  SELECT node,
         -struct_extract(max(struct_pack(w := wsum, nl := -lab)), 'nl') AS newlab
  FROM nb{k} GROUP BY node
), labels{k} AS (
  SELECT l.node, CAST(coalesce(p.newlab, l.lab) AS BIGINT) AS lab
  FROM labels{k - 1} l LEFT JOIN pick{k} p ON p.node = l.node
)"""
        )
    return f"""
WITH pp AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS part FROM lineitem
), small AS (
  SELECT ok FROM pp GROUP BY ok HAVING count(*) <= {_LPA_ORDER_CAP}
), pairs AS (
  SELECT a.part AS src, b.part AS dst, CAST(count(*) AS BIGINT) AS w
  FROM pp a JOIN small USING (ok) JOIN pp b USING (ok)
  WHERE a.part < b.part
  GROUP BY a.part, b.part
), edges AS (
  SELECT src, dst, w FROM pairs
  UNION ALL
  SELECT dst AS src, src AS dst, w FROM pairs
), labels0 AS (
  SELECT DISTINCT part AS node, CAST(part AS BIGINT) AS lab FROM pp
), {", ".join(rounds)}
SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_parts
FROM labels{_LPA_ROUNDS}
GROUP BY lab
ORDER BY n_parts DESC, community
LIMIT 25
"""


@query("part_label_propagation_communities", oracle=_lpa_oracle())
def part_label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part")
    )
    # weighted pairs: w = number of orders of at most _LPA_ORDER_CAP
    # distinct parts that contain both parts (the oracle's `small`
    # orders; group_pairs counts distinct parts per order, as pp does)
    pairs = (
        group_pairs(li, "ok", "part", ("src", "dst"), _LPA_ORDER_CAP)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    # r14 (guide §3.3/§5): the unrolled 4-round single plan carried 544
    # Exchange nodes (runtime deduped them via ReusedExchange, but the
    # optimizer still planned the quadratic-ish tree). Lazily
    # localCheckpoint the edge table once and the label state per
    # round: each round then consumes materialized blocks, and the
    # O(|V|) label state joins the O(|E|) edge side via broadcast —
    # the same Pregel topology as graph_pagerank's rank state.
    # Interleaved sf0.1 A/B: 8.69 → 6.57 s min-of-3 (EQUAL rows).
    edges = pairs.unionByName(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w")
        )
    ).localCheckpoint(eager=False)
    labels = li.select("part").distinct().select(
        F.col("part").alias("node"), F.col("part").cast("long").alias("lab")
    )
    for rnd in range(_LPA_ROUNDS):
        nb = (
            edges.join(F.broadcast(labels), edges.src == labels.node)
            .groupBy(F.col("dst"), F.col("lab"))
            .agg(F.sum("w").cast("long").alias("wsum"))
        )
        pick = nb.groupBy("dst").agg(
            (-F.max(F.struct(F.col("wsum").alias("w"), (-F.col("lab")).alias("nl")))[
                "nl"
            ]).alias("newlab")
        )
        labels = (
            labels.join(pick, labels.node == pick.dst, "left")
            .select(
                "node",
                F.coalesce(F.col("newlab"), F.col("lab")).cast("long").alias("lab"),
            )
        )
        # last round stays un-checkpointed so the final plan exposes
        # the broadcast-label join for the plan pins
        if rnd < _LPA_ROUNDS - 1:
            labels = labels.localCheckpoint(eager=False)
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .orderBy(F.desc("n_parts"), "community")
        .limit(25)
    )
