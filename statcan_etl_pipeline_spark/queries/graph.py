"""Graph analytics (round 5): PageRank over the customer–supplier
bipartite graph (who-buys-from-whom, undirected), the third iterative
algorithm in the repo after connected components and k-means.

Engine-exact like embedding_kmeans: per-edge contributions are
converted to int64 nano-units and SUMMED EXACTLY (a double sum would
depend on accumulation order and flip the hash), and every new rank
is re-rounded with the portable pround before it feeds the next
iteration — so Spark's and DuckDB's rank doubles are bit-identical at
every step and the oracle can simply unroll the iterations as CTEs.

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
    from .analytics3 import _EDGES_SQL

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
    from .analytics3 import _copurchase_edges

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
            F.lit(converged).cast("long").alias("converged"),
        )
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
            F.lit(rounds).cast("long").alias("rounds"),
            F.lit(1).cast("long").alias("converged"),
        )
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
    # r14 (guide §2.3 — the _copurchase_edges precedent): weighted pairs
    # come from each order's SORTED distinct part array (posexplode +
    # suffix slice emits exactly C(k, 2) src < dst rows per order) with
    # the ≤_LPA_ORDER_CAP filter applied to the array size — one groupBy
    # shuffle replaces the pp distinct + per-order count + double join.
    # w = number of orders containing both parts, identical because pp
    # was distinct per (order, part). Parity-checked exact at sf0.1
    # (1,063,648 weighted pairs); interleaved A/B min-of-3: pair build
    # 1.37-3.38 → 1.00-1.18 s, new side won all three pairs.
    per_order = li.groupBy("ok").agg(
        F.sort_array(F.array_distinct(F.collect_list("part"))).alias("ps")
    )
    pairs = (
        per_order.filter(F.size("ps") <= _LPA_ORDER_CAP)
        .select(F.posexplode("ps").alias("i", "src"), F.col("ps"))
        .select(
            "src",
            F.explode(F.slice("ps", F.col("i") + F.lit(2), F.size("ps"))).alias("dst"),
        )
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
