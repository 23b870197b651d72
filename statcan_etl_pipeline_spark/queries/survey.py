"""Survey-methodology and official-statistics operators: calibration
(iterative proportional fitting / raking of sample weights to
population margins — the step every statistics agency runs between
collection and publication) and an 8-step Markov-chain distribution
over event-type transitions; the estimation / variance / allocation
operators run after calibration (type-2 winsorized totals,
delete-a-group jackknife variance, Neyman optimal allocation, a
Horvitz–Thompson total audit, a generalized-variance-function CV
model); StatCan-style disclosure control and quality flags (cell
suppression, random rounding to base 5, CV quality grades, revision
analysis, calendarization, price-relative fences); and price indexes
(Fisher, contributions to change).

Cross-engine exactness: weights and probability masses are quantized
to fixed point (micro / nano integer units) after EVERY multiplicative
update, so all sums are exact integers and every ratio is a division
of identical inputs — the iteration is deterministic to the last bit
in both engines. Iteration counts are fixed, so the whole computation
stays ONE lazy plan (chained joins over bounded margin tables — no
driver loop, no collect). The estimation operators follow the stats.py
discipline: exact integer (cents) totals in DECIMAL(38,0) <-> HUGEINT,
cross-group sums of doubles as the SAME left fold in the SAME sorted
order on both engines, and `sqrt` (correctly rounded by IEEE-754) as
the only non-rational primitive.

House rules for the disclosure-control and quality operators: moment
sums in int64 or DECIMAL(38,0)/HUGEINT, pround / sql_round twins for
doubles, deterministic tie-breaks, windows and sequential folds only
over bounded aggregates (never the raw fact table), dimension joins
broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import (
    SQL_EXACT_INT as _DEC,
    cents,
    money_sum,
    pround,
    sql_cents,
    sql_money_sum,
    sql_round as R,
)
from ..registry import query

# ---------------------------------------------------------------------------
# Raking: a deterministic ~30% customer sample (md5 hex threshold —
# engine-portable, stable under data growth) starts at design weight
# 10/3 and is calibrated by three IPF passes (region, segment,
# region) to full-population region and segment counts. Weights are
# re-quantized to 1e-6 fixed point after each pass, so group sums are
# exact integers. Output: both margins with target vs achieved counts
# after the final pass — region gaps ≈ 0 (just calibrated), segment
# gaps show the residual IPF misfit.
# ---------------------------------------------------------------------------

_W0_MICRO = 3_333_333  # 10/3 design weight in micro units (30% sample)


def _sql_q6(x: str) -> str:
    """Non-negative micro quantizer (weights are always positive)."""
    return f"CAST(floor(({x}) * 1000000.0 + 0.5) AS BIGINT)"


@query(
    "survey_raking_calibration",
    oracle=f"""
WITH cust AS (
  SELECT c_custkey, c_mktsegment AS segment, r.r_name AS region,
         substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2) < '4d' AS in_sample
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
), tr AS (
  SELECT region, CAST(count(*) AS BIGINT) AS target_n FROM cust GROUP BY region
), ts AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS target_n FROM cust GROUP BY segment
), s0 AS (
  SELECT c_custkey, segment, region, CAST({_W0_MICRO} AS BIGINT) AS w
  FROM cust WHERE in_sample
), r1 AS (
  SELECT region, CAST(sum(w) AS BIGINT) AS sw FROM s0 GROUP BY region
), s1 AS (
  SELECT s.c_custkey, s.segment, s.region,
         CASE WHEN r.sw > 0 THEN {_sql_q6(
             "CAST(s.w AS DOUBLE) / 1000000.0"
             " * (CAST(t.target_n AS DOUBLE) * 1000000.0 / CAST(r.sw AS DOUBLE))")}
              ELSE s.w END AS w
  FROM s0 s JOIN r1 r ON s.region = r.region JOIN tr t ON s.region = t.region
), g2 AS (
  SELECT segment, CAST(sum(w) AS BIGINT) AS sw FROM s1 GROUP BY segment
), s2 AS (
  SELECT s.c_custkey, s.segment, s.region,
         CASE WHEN g.sw > 0 THEN {_sql_q6(
             "CAST(s.w AS DOUBLE) / 1000000.0"
             " * (CAST(t.target_n AS DOUBLE) * 1000000.0 / CAST(g.sw AS DOUBLE))")}
              ELSE s.w END AS w
  FROM s1 s JOIN g2 g ON s.segment = g.segment JOIN ts t ON s.segment = t.segment
), r3 AS (
  SELECT region, CAST(sum(w) AS BIGINT) AS sw FROM s2 GROUP BY region
), s3 AS (
  SELECT s.c_custkey, s.segment, s.region,
         CASE WHEN r.sw > 0 THEN {_sql_q6(
             "CAST(s.w AS DOUBLE) / 1000000.0"
             " * (CAST(t.target_n AS DOUBLE) * 1000000.0 / CAST(r.sw AS DOUBLE))")}
              ELSE s.w END AS w
  FROM s2 s JOIN r3 r ON s.region = r.region JOIN tr t ON s.region = t.region
), m AS (
  SELECT 'region' AS margin, region AS level, CAST(sum(w) AS BIGINT) AS achieved_micro,
         CAST(count(*) AS BIGINT) AS n_sample
  FROM s3 GROUP BY region
  UNION ALL
  SELECT 'segment', segment, CAST(sum(w) AS BIGINT), CAST(count(*) AS BIGINT)
  FROM s3 GROUP BY segment
), t AS (
  SELECT 'region' AS margin, region AS level, target_n FROM tr
  UNION ALL
  SELECT 'segment', segment, target_n FROM ts
)
SELECT t.margin, t.level, t.target_n,
       CAST(coalesce(m.n_sample, 0) AS BIGINT) AS n_sample,
       {R("CAST(coalesce(m.achieved_micro, 0) AS DOUBLE) / 1000000.0", 4)} AS achieved,
       {R("CAST(coalesce(m.achieved_micro, 0) AS DOUBLE) / 1000000.0"
          " - CAST(t.target_n AS DOUBLE)", 4)} AS gap
FROM t LEFT JOIN m ON t.margin = m.margin AND t.level = m.level
ORDER BY t.margin, t.level
""",
)
def survey_raking_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    base = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == reg.r_regionkey)
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            F.col("r_name").alias("region"),
            (
                F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 2) < "4d"
            ).alias("in_sample"),
        )
    )
    tr = base.groupBy("region").agg(F.count(F.lit(1)).cast("long").alias("target_r"))
    ts = base.groupBy("segment").agg(F.count(F.lit(1)).cast("long").alias("target_s"))
    s = base.filter("in_sample").select(
        "c_custkey", "segment", "region", F.lit(_W0_MICRO).cast("long").alias("w")
    )

    def q6(x):  # non-negative micro quantizer (Spark twin of _sql_q6)
        return F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long")

    def rake(df: DataFrame, dim: str, targets: DataFrame, tcol: str) -> DataFrame:
        sums = df.groupBy(dim).agg(F.sum("w").cast("long").alias("sw"))
        ratio = (
            F.col(tcol).cast("double") * F.lit(1e6) / F.col("sw").cast("double")
        )
        return (
            df.join(F.broadcast(sums), dim)
            .join(F.broadcast(targets), dim)
            .select(
                "c_custkey",
                "segment",
                "region",
                F.when(
                    F.col("sw") > 0,
                    q6(F.col("w").cast("double") / F.lit(1e6) * ratio),
                )
                .otherwise(F.col("w"))
                .alias("w"),
            )
        )

    s = rake(s, "region", tr, "target_r")
    s = rake(s, "segment", ts, "target_s")
    s = rake(s, "region", tr, "target_r")

    m = (
        s.groupBy("region")
        .agg(
            F.sum("w").cast("long").alias("achieved_micro"),
            F.count(F.lit(1)).cast("long").alias("n_sample"),
        )
        .select(
            F.lit("region").alias("margin"),
            F.col("region").alias("level"),
            "achieved_micro",
            "n_sample",
        )
        .unionByName(
            s.groupBy("segment")
            .agg(
                F.sum("w").cast("long").alias("achieved_micro"),
                F.count(F.lit(1)).cast("long").alias("n_sample"),
            )
            .select(
                F.lit("segment").alias("margin"),
                F.col("segment").alias("level"),
                "achieved_micro",
                "n_sample",
            )
        )
    )
    t = (
        tr.select(
            F.lit("region").alias("margin"),
            F.col("region").alias("level"),
            F.col("target_r").alias("target_n"),
        )
        .unionByName(
            ts.select(
                F.lit("segment").alias("margin"),
                F.col("segment").alias("level"),
                F.col("target_s").alias("target_n"),
            )
        )
    )
    ach = F.coalesce(F.col("achieved_micro"), F.lit(0)).cast("double") / F.lit(1e6)
    return (
        t.join(m, ["margin", "level"], "left")
        .select(
            "margin",
            "level",
            "target_n",
            F.coalesce(F.col("n_sample"), F.lit(0)).cast("long").alias("n_sample"),
            pround(ach, 4).alias("achieved"),
            pround(ach - F.col("target_n").cast("double"), 4).alias("gap"),
        )
        .orderBy("margin", "level")
    )


# ---------------------------------------------------------------------------
# 8-step Markov-chain distribution over the event-type transition
# matrix (lag-pairs per user), started uniform. Masses are nano-unit
# integers re-quantized after every π·P step (per-term
# floor(π_i·c_ij/c_i + 0.5) from exact integer inputs) — identical
# arithmetic in both engines. The ORACLE below unrolls the 8 steps as
# chained CTEs; the SPARK side (r9 design, see the query docstring)
# does ONE events scan, collects the k×k matrix as bounded driver
# state (k ≤ MARKOV_MAX_K enforced below), and runs the iterations in
# the driver. Types with no incoming transitions keep an explicit zero
# row (left join onto the type list), so mass bookkeeping matches.
# ---------------------------------------------------------------------------


def _markov_oracle(iters: int = 8) -> str:
    parts = [
        """
WITH seq AS (
  SELECT event_type AS cur,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), mat AS (
  SELECT prev AS i, cur AS j, CAST(count(*) AS BIGINT) AS c_ij
  FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur
), rowsum AS (
  SELECT i, CAST(sum(c_ij) AS BIGINT) AS c_i FROM mat GROUP BY i
), types AS (
  SELECT DISTINCT event_type AS t FROM events
), k AS (
  SELECT CAST(count(*) AS BIGINT) AS kk FROM types
), pi0 AS (
  SELECT t, CAST(floor(1000000000.0 / CAST((SELECT kk FROM k) AS DOUBLE)) AS BIGINT) AS p
  FROM types
)"""
    ]
    prev = "pi0"
    for it in range(1, iters + 1):
        parts.append(
            f""", agg{it} AS (
  SELECT m.j AS t,
         CAST(sum(CAST(floor(CAST(p.p AS DOUBLE) * CAST(m.c_ij AS DOUBLE)
                             / CAST(r.c_i AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT) AS p
  FROM {prev} p JOIN mat m ON p.t = m.i JOIN rowsum r ON m.i = r.i
  GROUP BY m.j
), pi{it} AS (
  SELECT ty.t, CAST(coalesce(a.p, 0) AS BIGINT) AS p
  FROM types ty LEFT JOIN agg{it} a ON ty.t = a.t
)"""
        )
        prev = f"pi{it}"
    parts.append(
        f"""
SELECT p.t AS event_type,
       CAST(coalesce(r.c_i, 0) AS BIGINT) AS n_outgoing,
       {R("CAST(p.p AS DOUBLE) / 1000000000.0", 6)} AS pi8
FROM {prev} p LEFT JOIN rowsum r ON p.t = r.i
ORDER BY event_type"""
    )
    return "".join(parts)


# Structural bound on the collected transition matrix (r10, VERDICT r9
# item 5): the O(k²) driver-state argument in tests/test_driver_state.py
# must be ENFORCED at runtime, not assumed from the test corpus (k=5
# here, but event_type cardinality is data-dependent). The collect is
# LIMIT-ed to k_max² + k_max + 1 rows, so a high-cardinality type
# column can never transfer more than ~4 KB to the driver — it raises
# instead of OOM-ing.
MARKOV_MAX_K = 64


def _markov_stationary_from(spark: SparkSession, ev: DataFrame) -> DataFrame:
    """Core of events_markov_stationary over any (user_id, ts,
    event_id, event_type) frame — split out so the k-cardinality guard
    is unit-testable on synthetic high-cardinality inputs."""
    import math

    from pyspark.sql import Window as W

    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"), F.lag("event_type").over(wseq).alias("prev")
    ).filter(F.col("prev").isNotNull())
    mat = seq.groupBy(F.col("prev").alias("i"), F.col("cur").alias("j")).agg(
        F.count(F.lit(1)).cast("long").alias("c_ij")
    )
    # one action, one events scan: k x k matrix + the distinct type set
    # (a type can occur only as a user's first event and be absent from
    # the matrix entirely, so types needs its own distinct). The limit
    # bounds the driver transfer BEFORE the bound is checked.
    max_rows = MARKOV_MAX_K * MARKOV_MAX_K + MARKOV_MAX_K
    rows = (
        mat.select("i", "j", "c_ij")
        .unionByName(
            ev.select(
                F.col("event_type").alias("i"),
                F.lit(None).cast("string").alias("j"),
                F.lit(None).cast("long").alias("c_ij"),
            ).distinct()
        )
        .limit(max_rows + 1)
        .collect()
    )
    if len(rows) > max_rows:
        raise ValueError(
            f"events_markov_stationary: transition matrix exceeds the "
            f"k<={MARKOV_MAX_K} driver-state bound (collect truncated at "
            f"{max_rows + 1} rows) — the O(k^2) driver fold is not safe "
            f"for this event_type cardinality; pre-bucket the type column"
        )
    cij = {(r["i"], r["j"]): r["c_ij"] for r in rows if r["j"] is not None}
    types = sorted({r["i"] for r in rows if r["j"] is None})
    if len(types) > MARKOV_MAX_K:
        raise ValueError(
            f"events_markov_stationary: {len(types)} event types exceed "
            f"the k<={MARKOV_MAX_K} driver-state bound"
        )
    c_i: dict[str, int] = {}
    for (i, _j), c in cij.items():
        c_i[i] = c_i.get(i, 0) + c
    kk = len(types)
    pi = {t: int(math.floor(1000000000.0 / float(kk))) for t in types}
    for _ in range(8):
        nxt = {t: 0 for t in types}
        for (i, j), c in cij.items():
            nxt[j] += int(math.floor(float(pi[i]) * float(c) / float(c_i[i]) + 0.5))
        pi = nxt
    out = spark.createDataFrame(
        [(t, c_i.get(t, 0), pi[t]) for t in types],
        "event_type string, n_outgoing long, p long",
    )
    return out.select(
        "event_type",
        "n_outgoing",
        pround(F.col("p").cast("double") / F.lit(1e9), 6).alias("pi8"),
    ).orderBy("event_type")


@query("events_markov_stationary", oracle=_markov_oracle())
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-iteration stationary distribution of the event-type
    transition chain.

    Scale (r9): the 8 iterations only ever touch the k×k transition
    matrix (k = |event types|, 5 here) — NOT the event stream — so the
    matrix and row sums are collected once as bounded driver state
    (O(k²) rows, the k-means-centroids class, allowlisted in
    tests/test_driver_state.py) and the recursion runs in the driver
    with the exact same double/floor arithmetic as the SQL oracle
    (IEEE doubles, identical op order → bit-identical). The previous
    formulation chained 8 lazy joins against the UN-persisted matrix
    lineage: the STATIC plan nested ~17 events scans; at runtime AQE
    exchange reuse collapsed that to a measured 3 fact scans,
    16 exchanges and 11 broadcasts (10.8 s action at sf0.001) — still
    8 rounds of tiny jobs whose scheduling dominates. Now: one events
    scan, zero iteration jobs, and the returned plan is a k-row
    literal (measured ~5× faster end-to-end). r10: the k bound is
    enforced structurally — see MARKOV_MAX_K above."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return _markov_stationary_from(spark, ev)


# ---------------------------------------------------------------------------
# Hot-deck imputation audit: a deterministic md5-threshold mask (~5%)
# simulates item nonresponse on o_totalprice; each masked order is
# imputed with the DONOR-cell discrete median (actual data value —
# bit-exact both engines) of its (priority, order year) stratum, and
# the audit scores imputation error against the held-out truth with
# exact integer cents sums. The donor medians are a bounded stratum
# aggregate joined back broadcast; one fact scan feeds both donors
# and masked rows.
# ---------------------------------------------------------------------------


@query(
    "statcan_hotdeck_imputation",
    oracle=f"""
WITH base AS (
  SELECT o_orderpriority AS priority,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         {{VC}} AS vc,
         substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '0d' AS masked
  FROM orders
), donors AS (
  SELECT priority, yr,
         CAST(quantile_disc(vc, 0.50) AS BIGINT) AS med_c,
         CAST(count(*) AS BIGINT) AS n_donors
  FROM base WHERE NOT masked GROUP BY priority, yr
), audit AS (
  SELECT b.priority, b.yr, d.med_c, d.n_donors,
         CAST(count(*) AS BIGINT) AS n_masked,
         CAST(sum(abs(b.vc - d.med_c)) AS BIGINT) AS abs_err_c,
         CAST(sum(d.med_c - b.vc) AS BIGINT) AS bias_c,
         CAST(sum(b.vc) AS BIGINT) AS true_c
  FROM base b JOIN donors d ON b.priority = d.priority AND b.yr = d.yr
  WHERE b.masked
  GROUP BY b.priority, b.yr, d.med_c, d.n_donors
)
SELECT priority, yr, n_donors, n_masked,
       {R("CAST(med_c AS DOUBLE) / 100.0", 2)} AS imputed_value,
       {R("CAST(abs_err_c AS DOUBLE) / CAST(n_masked AS DOUBLE) / 100.0", 2)} AS mae,
       {R("CAST(bias_c AS DOUBLE) / CAST(true_c AS DOUBLE)", 6)} AS rel_bias
FROM audit
ORDER BY priority, yr
""".replace("{VC}", "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"),
)
def statcan_hotdeck_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.portable import cents

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").cast("long").alias("yr"),
        cents("o_totalprice").alias("vc"),
        (
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) < "0d"
        ).alias("masked"),
    )
    donors = (
        base.filter(~F.col("masked"))
        .groupBy("priority", "yr")
        .agg(
            F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY vc)")
            .cast("long")
            .alias("med_c"),
            F.count(F.lit(1)).cast("long").alias("n_donors"),
        )
    )
    audit = (
        base.filter("masked")
        .join(F.broadcast(donors), ["priority", "yr"])
        .groupBy("priority", "yr", "med_c", "n_donors")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_masked"),
            F.sum(F.abs(F.col("vc") - F.col("med_c"))).cast("long").alias("abs_err_c"),
            F.sum(F.col("med_c") - F.col("vc")).cast("long").alias("bias_c"),
            F.sum("vc").cast("long").alias("true_c"),
        )
    )
    return audit.select(
        "priority",
        "yr",
        "n_donors",
        "n_masked",
        pround(F.col("med_c").cast("double") / F.lit(100.0), 2).alias("imputed_value"),
        pround(
            F.col("abs_err_c").cast("double")
            / F.col("n_masked").cast("double")
            / F.lit(100.0),
            2,
        ).alias("mae"),
        pround(F.col("bias_c").cast("double") / F.col("true_c").cast("double"), 6).alias(
            "rel_bias"
        ),
    ).orderBy("priority", "yr")


# ---------------------------------------------------------------------------
# Rotation-panel estimates: customers are deterministically assigned
# to 6 rotation panels (md5-derived — stable under frame growth, the
# actual StatCan rotation mechanism's shape), each panel estimates
# mean order value independently, and the between-panel dispersion is
# the design-effect health check. Panel means are re-quantized to
# 1/100-cent fixed point so the cross-panel moment sums are exact
# integers (no 6-double accumulation-order hazard); one sqrt+division
# at the end for the between-panel CV.
# ---------------------------------------------------------------------------


@query(
    "rotation_panel_estimates",
    oracle=f"""
WITH assign AS (
  SELECT o.o_custkey,
         CAST(CAST('0x' || substr(md5(CAST(o.o_custkey AS VARCHAR)), 1, 2) AS INTEGER)
              % 6 AS BIGINT) AS panel,
         CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS vc
  FROM orders o
), pan AS (
  SELECT panel,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(vc) AS BIGINT) AS s
  FROM assign GROUP BY panel
), q AS (
  SELECT panel, n_orders, s,
         CAST(floor(CAST(s AS DOUBLE) / CAST(n_orders AS DOUBLE) * 100.0 + 0.5)
              AS BIGINT) AS mq
  FROM pan
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(CAST(mq AS HUGEINT)) AS HUGEINT) AS sm,
         CAST(sum(CAST(mq AS HUGEINT) * mq) AS HUGEINT) AS sm2
  FROM q
)
SELECT q.panel, q.n_orders,
       {R("CAST(q.mq AS DOUBLE) / 10000.0", 2)} AS mean_value,
       {R("sqrt(CAST(a.k * a.sm2 - a.sm * a.sm AS DOUBLE)) / CAST(a.sm AS DOUBLE)", 6)}
         AS between_panel_cv
FROM q, agg a
ORDER BY q.panel
""",
)
def rotation_panel_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    assign = orders.select(
        (
            F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 2), 16, 10)
            .cast("long")
            % 6
        ).alias("panel"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("vc"),
    )
    pan = assign.groupBy("panel").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("vc").cast("long").alias("s"),
    )
    q = pan.withColumn(
        "mq",
        F.floor(
            F.col("s").cast("double") / F.col("n_orders").cast("double") * F.lit(100.0)
            + F.lit(0.5)
        ).cast("long"),
    )
    dec = "decimal(38,0)"
    agg = q.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("mq").cast(dec)).alias("sm"),
        F.sum((F.col("mq").cast(dec) * F.col("mq").cast(dec))).alias("sm2"),
    )
    return (
        q.crossJoin(F.broadcast(agg))
        .select(
            "panel",
            "n_orders",
            pround(F.col("mq").cast("double") / F.lit(10000.0), 2).alias("mean_value"),
            pround(
                F.sqrt(
                    (F.col("k") * F.col("sm2") - F.col("sm") * F.col("sm")).cast(
                        "double"
                    )
                )
                / F.col("sm").cast("double"),
                6,
            ).alias("between_panel_cv"),
        )
        .orderBy("panel")
    )


# ---------------------------------------------------------------------------
# Largest-remainder (Hamilton) apportionment: allocate 1000 sample
# units across customer nations proportional to revenue — the
# integer-allocation step behind survey take allocation and seat
# apportionment. Entirely exact integer arithmetic: floor quotas via
# integer division (Spark `div` ≡ DuckDB `//`), remainders ranked
# over the bounded nation table with a deterministic name tie-break;
# Σ allocated = 1000 exactly by construction (pytest-pinned).
# ---------------------------------------------------------------------------

_ALLOC_TOTAL = 1000


@query(
    "statcan_allocation_largest_remainder",
    oracle=f"""
WITH rev AS (
  SELECT n.n_name AS nation,
         CAST(sum({{VC}}) AS HUGEINT) AS s
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
), tot AS (
  SELECT CAST(sum(s) AS HUGEINT) AS st, CAST(count(*) AS BIGINT) AS k FROM rev
), quo AS (
  SELECT r.nation, r.s,
         CAST((r.s * {_ALLOC_TOTAL}) // t.st AS BIGINT) AS base,
         CAST(r.s * {_ALLOC_TOTAL} - ((r.s * {_ALLOC_TOTAL}) // t.st) * t.st
              AS HUGEINT) AS rem
  FROM rev r, tot t
), rks AS (
  SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, nation) AS BIGINT) AS rk,
         CAST({_ALLOC_TOTAL} - sum(base) OVER () AS BIGINT) AS n_extra
  FROM quo
)
SELECT q.nation,
       {R("CAST(q.s AS DOUBLE) / 100.0", 2)} AS revenue,
       {R("CAST(q.s AS DOUBLE) / CAST(t.st AS DOUBLE)", 6)} AS share,
       q.base,
       CAST(q.base + CASE WHEN q.rk <= q.n_extra THEN 1 ELSE 0 END AS BIGINT)
         AS allocated
FROM rks q, tot t
ORDER BY q.nation
""".replace("{VC}", "CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)"),
)
def statcan_allocation_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dec = "decimal(38,0)"
    rev = (
        # orders x customer is fact x fact at 100 TB: shuffle join, no
        # hint; nation (25 rows) stays a broadcast dim.
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
            .cast(dec)
            .alias("s")
        )
    )
    tot = rev.agg(F.sum("s").alias("st"))
    quo = rev.crossJoin(F.broadcast(tot)).select(
        "nation",
        "s",
        "st",
        F.expr(f"CAST((s * {_ALLOC_TOTAL}) div st AS LONG)").alias("base"),
        F.expr(
            f"s * {_ALLOC_TOTAL} - ((s * {_ALLOC_TOTAL}) div st) * st"
        ).alias("rem"),
    )
    wrk = W.orderBy(F.desc("rem"), F.asc("nation"))
    wall = W.partitionBy()
    rks = quo.select(
        "nation",
        "s",
        "st",
        "base",
        F.row_number().over(wrk).cast("long").alias("rk"),
        (F.lit(_ALLOC_TOTAL) - F.sum("base").over(wall)).cast("long").alias("n_extra"),
    )
    return rks.select(
        "nation",
        pround(F.col("s").cast("double") / F.lit(100.0), 2).alias("revenue"),
        pround(F.col("s").cast("double") / F.col("st").cast("double"), 6).alias(
            "share"
        ),
        "base",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("n_extra"), 1).otherwise(0)
        )
        .cast("long")
        .alias("allocated"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Revision analysis (round 6): how much do first estimates move before
# settling? Treating (user_id = series, calendar day = ref period,
# re-publications ordered by (ts, event_id)) as the WDS revision
# stream — the vintage-triangle summary a statistical agency publishes
# about itself. First/final per (series, day) use the same single
# min_by/max_by struct-key aggregation as events_ohlc_hourly (one
# map-combinable shuffle); the per-series rollup then runs on the tiny
# (series × day) table with exact integer-cents revision magnitudes.
# ---------------------------------------------------------------------------


@query(
    "statcan_revision_analysis",
    oracle=f"""
WITH ranked AS (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS ref_date, value,
         row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
                            ORDER BY ts DESC, event_id DESC) AS rn_d,
         count(*) OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')) AS n_pubs
  FROM events
), per_obs AS (
  SELECT user_id, ref_date,
         max(CASE WHEN rn_a = 1 THEN {sql_cents("value")} END) AS first_c,
         max(CASE WHEN rn_d = 1 THEN {sql_cents("value")} END) AS final_c,
         max(n_pubs) AS n_pubs
  FROM ranked GROUP BY user_id, ref_date
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(sum(CASE WHEN n_pubs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_republished,
       CAST(sum(CASE WHEN final_c <> first_c THEN 1 ELSE 0 END) AS BIGINT) AS n_revised,
       CAST(sum(abs(final_c - first_c)) AS BIGINT) AS total_abs_revision_c,
       {R("(CAST(sum(abs(final_c - first_c)) AS DOUBLE) / 100.0 / CAST(count(*) AS DOUBLE))", 4)}
         AS mean_abs_revision
FROM per_obs
GROUP BY user_id
ORDER BY user_id
""",
)
def statcan_revision_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.portable import cents

    ev = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    per_obs = (
        ev.select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd").alias("ref_date"),
            cents("value").alias("c"),
            key.alias("k"),
        )
        .groupBy("user_id", "ref_date")
        .agg(
            F.expr("min_by(c, k)").alias("first_c"),
            F.expr("max_by(c, k)").alias("final_c"),
            F.count(F.lit(1)).alias("n_pubs"),
        )
    )
    return (
        per_obs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum(F.when(F.col("n_pubs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_republished"),
            F.sum(F.when(F.col("final_c") != F.col("first_c"), 1).otherwise(0))
            .cast("long")
            .alias("n_revised"),
            F.sum(F.abs(F.col("final_c") - F.col("first_c")))
            .cast("long")
            .alias("total_abs_revision_c"),
        )
        .withColumn(
            "mean_abs_revision",
            pround(
                F.col("total_abs_revision_c").cast("double")
                / F.lit(100.0)
                / F.col("n_obs").cast("double"),
                4,
            ),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher price indices by ship year (base 1995)
# — the statistics-agency deflator pipeline. Per (year, part) unit
# values are exact int64 cent/unit sums; the per-part unit price is
# rounded to integer cents with ONE portable floor(x+0.5) (int64→
# double is exact below 2^53 and the quotient is correctly rounded, so
# both engines agree bit-for-bit); basket sums are integer products
# accumulated in DECIMAL(38,0)/HUGEINT (no float accumulation
# anywhere); matched sample = parts present in both base and current
# year (inner join on the broadcastable base basket). sqrt for Fisher
# is IEEE-correctly-rounded in both engines.
# ---------------------------------------------------------------------------

_PI_R = "CAST({n} AS DOUBLE) / CAST({d} AS DOUBLE)"


@query(
    "price_index_fisher",
    oracle=f"""
WITH py AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr, l_partkey,
         sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS extc,
         sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS qty
  FROM lineitem GROUP BY year(l_shipdate), l_partkey
), up AS (
  SELECT yr, l_partkey, qty,
         CAST(floor(CAST(extc AS DOUBLE) / qty + 0.5) AS BIGINT) AS upc
  FROM py WHERE qty > 0
), base AS (
  SELECT l_partkey, qty AS q0, upc AS upc0 FROM up WHERE yr = 1995
), j AS (
  SELECT u.yr,
         sum(u.upc * b.q0) AS numer_l, sum(b.upc0 * b.q0) AS denom_l,
         sum(u.upc * u.qty) AS numer_p, sum(b.upc0 * u.qty) AS denom_p
  FROM up u JOIN base b USING (l_partkey)
  GROUP BY u.yr
)
SELECT yr,
       {R(_PI_R.format(n='numer_l', d='denom_l') + ' * 100.0', 4)} AS laspeyres,
       {R(_PI_R.format(n='numer_p', d='denom_p') + ' * 100.0', 4)} AS paasche,
       {R('sqrt((' + R(_PI_R.format(n='numer_l', d='denom_l') + ' * 100.0', 4)
          + ') * (' + R(_PI_R.format(n='numer_p', d='denom_p') + ' * 100.0', 4) + '))', 4)} AS fisher
FROM j
ORDER BY yr
""",
)
def price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    py = li.groupBy(
        F.year("l_shipdate").cast("long").alias("yr"), "l_partkey"
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")).alias("extc"),
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long")).alias("qty"),
    )
    up = py.filter(F.col("qty") > 0).select(
        "yr",
        "l_partkey",
        "qty",
        F.floor(F.col("extc").cast("double") / F.col("qty") + 0.5)
        .cast("long")
        .alias("upc"),
    )
    base = up.filter(F.col("yr") == 1995).select(
        "l_partkey", F.col("qty").alias("q0"), F.col("upc").alias("upc0")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — overflow-proof sums
    j = (
        up.join(F.broadcast(base), "l_partkey")
        .groupBy("yr")
        .agg(
            F.sum(dec(F.col("upc") * F.col("q0"))).alias("numer_l"),
            F.sum(dec(F.col("upc0") * F.col("q0"))).alias("denom_l"),
            F.sum(dec(F.col("upc") * F.col("qty"))).alias("numer_p"),
            F.sum(dec(F.col("upc0") * F.col("qty"))).alias("denom_p"),
        )
    )
    lasp = pround(
        F.col("numer_l").cast("double") / F.col("denom_l").cast("double") * 100.0, 4
    )
    paas = pround(
        F.col("numer_p").cast("double") / F.col("denom_p").cast("double") * 100.0, 4
    )
    return (
        j.select("yr", lasp.alias("laspeyres"), paas.alias("paasche"))
        .select(
            "yr",
            "laspeyres",
            "paasche",
            pround(F.sqrt(F.col("laspeyres") * F.col("paasche")), 4).alias("fisher"),
        )
        .orderBy("yr")
    )


# ---------------------------------------------------------------------------
# Statistical disclosure control (the StatCan confidentiality pass):
# publishable cells = (part brand? no — nation × ship-year at the
# detailed part level) — here (p_partkey is too fine for a summary, so
# the cell is (nation, year, part-brand)): a cell is SUPPRESSED when it
# has fewer than 3 contributing suppliers (count rule) or when the top
# contributor exceeds 75% of the cell total (p=75 dominance rule). Both
# rules are exact integer tests (4·max > 3·total — no float compare at
# the boundary). The output is the per-year suppression census + the
# publishable total, so the result stays bounded while every cell is
# classified. Two partial-aggregatable shuffles: per-(cell, supplier)
# cents, then per-cell count/sum/max; the census is a third, tiny one.
# ---------------------------------------------------------------------------


@query(
    "statcan_cell_suppression",
    oracle="""
WITH per_supp AS (
  SELECT n.n_name AS nation, year(l.l_shipdate) AS yr, p.p_brand AS brand,
         l.l_suppkey AS suppkey,
         sum(CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS c
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY n.n_name, year(l.l_shipdate), p.p_brand, l.l_suppkey
), cell AS (
  SELECT nation, yr, brand,
         count(*) AS n_contrib, sum(c) AS tot, max(c) AS mx
  FROM per_supp GROUP BY nation, yr, brand
), flagged AS (
  SELECT yr,
         CASE WHEN n_contrib < 3 THEN 'suppressed_count'
              WHEN 4 * mx > 3 * tot THEN 'suppressed_dominance'
              ELSE 'ok' END AS status,
         tot
  FROM cell
)
SELECT CAST(yr AS BIGINT) AS yr,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(CASE WHEN status = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
       CAST(sum(CASE WHEN status = 'suppressed_count' THEN 1 ELSE 0 END) AS BIGINT) AS n_supp_count,
       CAST(sum(CASE WHEN status = 'suppressed_dominance' THEN 1 ELSE 0 END) AS BIGINT) AS n_supp_dominance,
       CAST(sum(CASE WHEN status = 'ok' THEN tot ELSE 0 END) AS DOUBLE) / 100.0 AS published_value
FROM flagged
GROUP BY yr
ORDER BY yr
""",
)
def statcan_cell_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    pa = load_table(spark, sf_dir, "part")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
    per_supp = (
        li.join(F.broadcast(su.select("s_suppkey", "s_nationkey")), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na.select("n_nationkey", "n_name")), su.s_nationkey == na.n_nationkey)
        .join(F.broadcast(pa.select("p_partkey", "p_brand")), li.l_partkey == pa.p_partkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("yr"),
            F.col("p_brand").alias("brand"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(F.sum(cents).alias("c"))
    )
    cell = per_supp.groupBy("nation", "yr", "brand").agg(
        F.count(F.lit(1)).alias("n_contrib"),
        F.sum("c").alias("tot"),
        F.max("c").alias("mx"),
    )
    status = (
        F.when(F.col("n_contrib") < 3, "suppressed_count")
        .when(4 * F.col("mx") > 3 * F.col("tot"), "suppressed_dominance")
        .otherwise("ok")
    )
    flagged = cell.select("yr", status.alias("status"), "tot")
    return (
        flagged.groupBy(F.col("yr").cast("long").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0))
            .cast("long")
            .alias("n_ok"),
            F.sum(F.when(F.col("status") == "suppressed_count", 1).otherwise(0))
            .cast("long")
            .alias("n_supp_count"),
            F.sum(F.when(F.col("status") == "suppressed_dominance", 1).otherwise(0))
            .cast("long")
            .alias("n_supp_dominance"),
            (
                F.sum(F.when(F.col("status") == "ok", F.col("tot")).otherwise(0)).cast(
                    "double"
                )
                / 100.0
            ).alias("published_value"),
        )
        .orderBy("yr")
    )


# ---------------------------------------------------------------------------
# CV quality grades (the StatCan release-quality letter): coefficient
# of variation of each nation's YEARLY export revenue across years,
# graded A (cv ≤ 5%) … F (cv > 35%). Moment sums are exact — yearly
# cents in int64, squares in DECIMAL(38,0)/HUGEINT — and every grade
# boundary is an exact integer cross-multiplication
# (10000·(n·s2 − s1²) ≤ thr²·s1²), so a cell can never change letter
# because of float noise. cv itself is sqrt(exact)/exact with one
# division. Yearly series are bounded (≤ #years rows per nation), so
# the second aggregate is tiny.
# ---------------------------------------------------------------------------


@query(
    "statcan_cv_quality_grades",
    oracle=f"""
WITH yearly AS (
  SELECT n.n_name AS nation, year(l.l_shipdate) AS yr,
         sum(CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS c
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY n.n_name, year(l.l_shipdate)
), mo AS (
  SELECT nation, count(*) AS n, sum(c) AS s1,
         sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS s2
  FROM yearly GROUP BY nation
), cvn AS (
  SELECT nation, n, s1, n * s2 - s1 * s1 AS num FROM mo
)
SELECT nation, CAST(n AS BIGINT) AS n_years,
       {R("sqrt(CAST(num AS DOUBLE)) / CAST(s1 AS DOUBLE)", 6)} AS cv,
       CASE WHEN 10000 * num <= 25 * s1 * s1 THEN 'A'
            WHEN 10000 * num <= 100 * s1 * s1 THEN 'B'
            WHEN 10000 * num <= 225 * s1 * s1 THEN 'C'
            WHEN 10000 * num <= 625 * s1 * s1 THEN 'D'
            WHEN 10000 * num <= 1225 * s1 * s1 THEN 'E'
            ELSE 'F' END AS grade
FROM cvn
ORDER BY nation
""",
)
def statcan_cv_quality_grades(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
    yearly = (
        li.join(F.broadcast(su.select("s_suppkey", "s_nationkey")), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na.select("n_nationkey", "n_name")), su.s_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("yr"))
        .agg(F.sum(cents).alias("c"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — overflow-proof sums
    mo = yearly.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(dec(F.col("c")) * dec(F.col("c"))).alias("s2"),
    )
    num = dec(F.col("n")) * F.col("s2") - dec(F.col("s1")) * dec(F.col("s1"))
    s1sq = dec(F.col("s1")) * dec(F.col("s1"))
    cvn = mo.select("nation", "n", "s1", num.alias("num"), s1sq.alias("s1sq"))
    grade = (
        F.when(10000 * F.col("num") <= 25 * F.col("s1sq"), "A")
        .when(10000 * F.col("num") <= 100 * F.col("s1sq"), "B")
        .when(10000 * F.col("num") <= 225 * F.col("s1sq"), "C")
        .when(10000 * F.col("num") <= 625 * F.col("s1sq"), "D")
        .when(10000 * F.col("num") <= 1225 * F.col("s1sq"), "E")
        .otherwise("F")
    )
    return cvn.select(
        "nation",
        F.col("n").cast("long").alias("n_years"),
        pround(
            F.sqrt(F.col("num").cast("double")) / F.col("s1").cast("double"), 6
        ).alias("cv"),
        grade.alias("grade"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Calendarization (temporal disaggregation): each order's value is
# prorated uniformly across its open interval [order date, last ship
# date] and re-aggregated onto the calendar month — the StatCan
# technique for converting activity spans into monthly estimates. The
# per-(order, month) allocation rounds ONCE with the portable
# floor(x + 0.5) (integer cents × overlap days fits a double exactly;
# the single division is correctly rounded), then sums exactly in
# int64, so both engines agree bit-for-bit. Month fan-out per order is
# bounded by the ship latency (a handful of rows), never a calendar
# cross join.
# ---------------------------------------------------------------------------


@query(
    "statcan_calendarization",
    oracle="""
WITH spans AS (
  -- the synthetic data contains ship dates BEFORE the order date, so
  -- the activity interval is normalized to [least, greatest] (mirrored
  -- on the Spark side)
  SELECT o.o_orderkey,
         CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS c,
         least(CAST(o.o_orderdate AS DATE), CAST(max(l.l_shipdate) AS DATE)) AS a,
         greatest(CAST(o.o_orderdate AS DATE), CAST(max(l.l_shipdate) AS DATE)) AS b
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_totalprice, o.o_orderdate
), exploded AS (
  SELECT o_orderkey, c, a, b,
         date_diff('day', a, b) + 1 AS span,
         CAST(unnest(generate_series(date_trunc('month', a),
                                     date_trunc('month', b),
                                     INTERVAL 1 MONTH)) AS DATE) AS m
  FROM spans
), alloc AS (
  SELECT strftime(m, '%Y-%m') AS month, o_orderkey,
         CAST(floor(CAST(c * (date_diff('day', greatest(m, a),
                                        least(last_day(m), b)) + 1) AS DOUBLE)
                    / span + 0.5) AS BIGINT) AS alloc_c
  FROM exploded
)
SELECT month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(alloc_c) AS DOUBLE) / 100.0 AS cal_value
FROM alloc
GROUP BY month
ORDER BY month
""",
)
def statcan_calendarization(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spans = (
        od.join(li, od.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("c"),
            F.to_date("o_orderdate").alias("od"),
        )
        .agg(F.max(F.to_date("l_shipdate")).alias("sd"))
        # ship dates can precede the order date in the synthetic data:
        # normalize the activity interval to [least, greatest]
        .select(
            "o_orderkey",
            "c",
            F.least("od", "sd").alias("a"),
            F.greatest("od", "sd").alias("b"),
        )
    )
    exploded = spans.select(
        "o_orderkey",
        "c",
        "a",
        "b",
        (F.datediff("b", "a") + 1).alias("span"),
        F.explode(
            F.sequence(F.trunc("a", "MM"), F.trunc("b", "MM"), F.expr("interval 1 month"))
        ).alias("m"),
    )
    overlap = (
        F.datediff(F.least(F.last_day("m"), F.col("b")), F.greatest(F.col("m"), F.col("a")))
        + 1
    )
    alloc = exploded.select(
        F.date_format("m", "yyyy-MM").alias("month"),
        "o_orderkey",
        F.floor((F.col("c") * overlap).cast("double") / F.col("span") + 0.5)
        .cast("long")
        .alias("alloc_c"),
    )
    return (
        alloc.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.sum("alloc_c").cast("double") / 100.0).alias("cal_value"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Contribution-to-index decomposition: each part type's percentage-
# point contribution to the Laspeyres price index change vs the 1995
# base basket — the "shelter contributed 0.8pp to CPI" release table,
# and the companion to price_index_fisher. Per-part unit prices use
# the identical portable rounding as the index query; contributions
# are exact DECIMAL basket sums (Σ (up_t − up0)·q0 per type) over the
# broadcast base basket, divided ONCE by the broadcast base-year
# denominator. Σ_type contribution_pp = L − 100 exactly by
# construction.
# ---------------------------------------------------------------------------


@query(
    "price_index_contributions",
    oracle=f"""
WITH py AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr, l_partkey,
         sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS extc,
         sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS qty
  FROM lineitem GROUP BY year(l_shipdate), l_partkey
), up AS (
  SELECT yr, l_partkey, qty,
         CAST(floor(CAST(extc AS DOUBLE) / qty + 0.5) AS BIGINT) AS upc
  FROM py WHERE qty > 0
), base AS (
  SELECT l_partkey, qty AS q0, upc AS upc0 FROM up WHERE yr = 1995
), cells AS (
  SELECT u.yr, p.p_type AS ptype,
         CAST(sum(CAST(u.upc - b.upc0 AS HUGEINT) * b.q0) AS HUGEINT) AS delta,
         CAST(sum(CAST(b.upc0 AS HUGEINT) * b.q0) AS HUGEINT) AS w0
  FROM up u
  JOIN base b USING (l_partkey)
  JOIN part p ON u.l_partkey = p.p_partkey
  GROUP BY u.yr, p.p_type
)
SELECT c.yr, c.ptype,
       {R("CAST(c.w0 AS DOUBLE) / CAST(c.d0 AS DOUBLE) * 100.0", 4)} AS weight_pct,
       {R("CAST(c.delta AS DOUBLE) / CAST(c.d0 AS DOUBLE) * 100.0", 4)} AS contribution_pp
FROM (SELECT yr, ptype, delta, w0,
             CAST(sum(w0) OVER (PARTITION BY yr) AS HUGEINT) AS d0
      FROM cells) c
ORDER BY c.yr, c.ptype
""",
)
def price_index_contributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    py = li.groupBy(
        F.year("l_shipdate").cast("long").alias("yr"), "l_partkey"
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")).alias(
            "extc"
        ),
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long")).alias("qty"),
    )
    up = py.filter(F.col("qty") > 0).select(
        "yr",
        "l_partkey",
        "qty",
        F.floor(F.col("extc").cast("double") / F.col("qty") + 0.5)
        .cast("long")
        .alias("upc"),
    )
    base = up.filter(F.col("yr") == 1995).select(
        "l_partkey", F.col("qty").alias("q0"), F.col("upc").alias("upc0")
    )
    dec = lambda c: c.cast(_DEC)  # noqa: E731
    cells = (
        up.join(F.broadcast(base), "l_partkey")
        .join(F.broadcast(part), up.l_partkey == part.p_partkey)
        .groupBy("yr", F.col("p_type").alias("ptype"))
        .agg(
            F.sum(dec((F.col("upc") - F.col("upc0")) * F.col("q0"))).alias("delta"),
            F.sum(dec(F.col("upc0") * F.col("q0"))).alias("w0"),
        )
    )
    # per-year MATCHED-basket denominator (the same basket Laspeyres
    # uses), as a window over the bounded (yr x type) cell table
    cells = cells.withColumn("d0", F.sum("w0").over(W.partitionBy("yr")))
    return (
        cells
        .select(
            "yr",
            "ptype",
            pround(
                F.col("w0").cast("double") / F.col("d0").cast("double") * F.lit(100.0),
                4,
            ).alias("weight_pct"),
            pround(
                F.col("delta").cast("double")
                / F.col("d0").cast("double")
                * F.lit(100.0),
                4,
            ).alias("contribution_pp"),
        )
        .orderBy("yr", "ptype")
    )


# ---------------------------------------------------------------------------
# Price-relative outlier fences (the HICP data-cleaning pass): each
# part's month-over-month unit-price relative is screened against its
# month's Tukey fences (Q1/Q3 are percentile_disc picks of identical
# ratio doubles — bit-exact; fence arithmetic on identical doubles).
# Month-to-month matching is the linear (part, month-1) equi-join.
# ---------------------------------------------------------------------------


@query(
    "statcan_price_relative_fences",
    oracle=f"""
WITH pm AS (
  SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT) AS ord,
         strftime(l_shipdate, '%Y-%m') AS month, l_partkey,
         sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS extc,
         sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS qty
  FROM lineitem GROUP BY 1, 2, l_partkey
), up AS (
  SELECT ord, month, l_partkey,
         CAST(floor(CAST(extc AS DOUBLE) / qty + 0.5) AS BIGINT) AS upc
  FROM pm WHERE qty > 0
), rel AS (
  SELECT c.ord, c.month,
         CAST(c.upc AS DOUBLE) / CAST(p.upc AS DOUBLE) AS r
  FROM up c JOIN up p ON c.l_partkey = p.l_partkey AND p.ord = c.ord - 1
), fences AS (
  SELECT ord, month,
         CAST(count(*) AS BIGINT) AS n_items,
         quantile_disc(r, 0.25) AS q1,
         quantile_disc(r, 0.75) AS q3
  FROM rel GROUP BY ord, month
)
SELECT f.month, f.n_items,
       {R("f.q1", 6)} AS q1, {R("f.q3", 6)} AS q3,
       CAST(sum(CASE WHEN r.r < f.q1 - 1.5 * (f.q3 - f.q1)
                       OR r.r > f.q3 + 1.5 * (f.q3 - f.q1)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM rel r JOIN fences f ON r.ord = f.ord
GROUP BY f.month, f.n_items, f.q1, f.q3
ORDER BY f.month
""",
)
def statcan_price_relative_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        F.floor(F.col("extc").cast("double") / F.col("qty") + 0.5)
        .cast("long")
        .alias("upc"),
    )
    prev = up.select(
        F.col("l_partkey").alias("pk"),
        (F.col("ord") + 1).alias("ord_next"),
        F.col("upc").alias("upc_p"),
    )
    rel = up.join(
        prev,
        (F.col("l_partkey") == F.col("pk")) & (F.col("ord") == F.col("ord_next")),
    ).select(
        "ord",
        "month",
        (F.col("upc").cast("double") / F.col("upc_p").cast("double")).alias("r"),
    )
    fences = rel.groupBy("ord", "month").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY r)").alias("q1"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY r)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    out = F.when(
        (F.col("r") < F.col("q1") - F.lit(1.5) * iqr)
        | (F.col("r") > F.col("q3") + F.lit(1.5) * iqr),
        1,
    ).otherwise(0)
    return (
        rel.join(F.broadcast(fences.drop("month")), "ord")
        .groupBy("month", "n_items", "q1", "q3")
        .agg(F.sum(out).cast("long").alias("n_outliers"))
        .select(
            "month",
            "n_items",
            pround(F.col("q1"), 6).alias("q1"),
            pround(F.col("q3"), 6).alias("q3"),
            "n_outliers",
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Horvitz–Thompson total estimation audit: the deterministic md5 ~30%
# customer sample (the raking frame) estimates total order revenue by
# inverse-probability weighting; the audit reports the estimate, its
# SRS variance estimate N²(1−f)s²/n, and the TRUE total (held out —
# exact cents), per market segment. All moments exact integers; the
# design constants f = n/N enter as exact integer ratios.
# ---------------------------------------------------------------------------


@query(
    "survey_ht_total_audit",
    oracle=f"""
WITH cust AS (
  SELECT c_custkey, c_mktsegment AS segment,
         substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2) < '4d' AS in_sample
  FROM customer
), rev AS (
  SELECT c.segment, c.in_sample,
         CAST(sum({sql_cents("o.o_totalprice")}) AS BIGINT) AS rev_c
  FROM cust c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.segment, c.in_sample
), frame AS (
  SELECT segment,
         CAST(count(*) AS BIGINT) AS n_frame,
         CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
         CAST(sum(rev_c) AS HUGEINT) AS true_c,
         CAST(sum(CASE WHEN in_sample THEN rev_c ELSE 0 END) AS HUGEINT) AS samp_c,
         CAST(sum(CASE WHEN in_sample THEN CAST(rev_c AS HUGEINT) * rev_c
                       ELSE 0 END) AS HUGEINT) AS samp_c2
  FROM rev GROUP BY segment
)
SELECT segment, n_frame, n_sample,
       {R("CAST(true_c AS DOUBLE) / 100.0", 2)} AS true_total,
       {R("CAST(n_frame AS DOUBLE) / CAST(n_sample AS DOUBLE)"
          " * CAST(samp_c AS DOUBLE) / 100.0", 2)} AS ht_estimate,
       {R("(CAST(n_frame AS DOUBLE) / CAST(n_sample AS DOUBLE)"
          " * CAST(samp_c AS DOUBLE) - CAST(true_c AS DOUBLE))"
          " / CAST(true_c AS DOUBLE)", 6)} AS rel_error,
       {R("CAST(n_frame AS DOUBLE) * CAST(n_frame AS DOUBLE)"
          " * (1.0 - CAST(n_sample AS DOUBLE) / CAST(n_frame AS DOUBLE))"
          " * ((CAST(n_sample AS DOUBLE) * CAST(samp_c2 AS DOUBLE)"
          "     - CAST(samp_c AS DOUBLE) * CAST(samp_c AS DOUBLE))"
          "    / (CAST(n_sample AS DOUBLE) * (CAST(n_sample AS DOUBLE) - 1.0)))"
          " / CAST(n_sample AS DOUBLE) / 10000.0 / 1000000.0", 4)} AS var_est_millions
FROM frame
ORDER BY segment
""",
)
def survey_ht_total_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.portable import cents

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        (
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 2) < "4d"
        ).alias("in_sample"),
    )
    orders = load_table(spark, sf_dir, "orders")
    # Shuffle join on purpose: orders AND customer are both fact-scale at
    # 100 TB, so neither side may be broadcast (Spark's 8 GB broadcast
    # hard limit would kill the query). tests/test_plans.py pins that no
    # broadcast hint reaches this join.
    rev = (
        orders.select("o_custkey", "o_totalprice")
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .groupBy("c_custkey", "segment", "in_sample")
        .agg(F.sum(cents("o_totalprice")).cast("long").alias("rev_c"))
    )
    dec = "decimal(38,0)"
    frame = rev.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_frame"),
        F.sum(F.when(F.col("in_sample"), 1).otherwise(0)).cast("long").alias("n_sample"),
        F.sum(F.col("rev_c").cast(dec)).alias("true_c"),
        F.sum(F.when(F.col("in_sample"), F.col("rev_c")).otherwise(0).cast(dec)).alias(
            "samp_c"
        ),
        F.sum(
            F.when(
                F.col("in_sample"), F.col("rev_c").cast(dec) * F.col("rev_c").cast(dec)
            ).otherwise(F.lit(0).cast(dec))
        ).alias("samp_c2"),
    )
    nf = F.col("n_frame").cast("double")
    ns = F.col("n_sample").cast("double")
    sc = F.col("samp_c").cast("double")
    sc2 = F.col("samp_c2").cast("double")
    tc = F.col("true_c").cast("double")
    ht = nf / ns * sc
    s2 = (ns * sc2 - sc * sc) / (ns * (ns - F.lit(1.0)))
    return frame.select(
        "segment",
        "n_frame",
        "n_sample",
        pround(tc / F.lit(100.0), 2).alias("true_total"),
        pround(ht / F.lit(100.0), 2).alias("ht_estimate"),
        pround((ht - tc) / tc, 6).alias("rel_error"),
        pround(
            nf * nf * (F.lit(1.0) - ns / nf) * s2 / ns / F.lit(10000.0) / F.lit(1e6),
            4,
        ).alias("var_est_millions"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# Type-2 winsorized total by market segment: order values above the
# segment's discrete P95 are replaced BY the P95 (the standard
# business-survey outlier treatment). percentile_disc returns an
# ACTUAL stored double (no interpolation), so the cap round-trips
# bit-exactly; the winsorized sum is then an exact integer cents sum.
# Scale: one 5-row cap aggregate broadcast back onto the fact table —
# two scans, no shuffle beyond the segment groupBys.
# ---------------------------------------------------------------------------
@query(
    "survey_winsorized_total",
    oracle=f"""
WITH j AS (
  SELECT c.c_mktsegment AS segment, o.o_totalprice AS price
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), caps AS (
  SELECT segment, quantile_disc(price, 0.95) AS cap FROM j GROUP BY segment
)
SELECT j.segment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN j.price > caps.cap THEN 1 ELSE 0 END) AS BIGINT) AS n_winsorized,
       {sql_money_sum("j.price")} AS raw_total,
       {sql_money_sum("least(j.price, caps.cap)")} AS winsorized_total,
       {R("CAST(caps.cap AS DOUBLE)", 2)} AS cap_value
FROM j JOIN caps USING (segment)
GROUP BY j.segment, caps.cap
ORDER BY j.segment
""",
)
def survey_winsorized_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), F.col("o_totalprice").alias("price")
    )
    caps = j.groupBy("segment").agg(
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY price)").alias("cap")
    )
    return (
        j.join(F.broadcast(caps), "segment")
        .groupBy("segment", "cap")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.when(F.col("price") > F.col("cap"), 1).otherwise(0))
            .cast("long")
            .alias("n_winsorized"),
            money_sum("price").alias("raw_total"),
            money_sum(F.least("price", "cap")).alias("winsorized_total"),
        )
        .select(
            "segment",
            "n_orders",
            "n_winsorized",
            "raw_total",
            "winsorized_total",
            pround(F.col("cap").cast("double"), 2).alias("cap_value"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Delete-a-group jackknife variance of total revenue per segment
# (G = 10 random groups). Customers are assigned to groups by an
# md5-hex digest (engine-portable, reproducible — the raking /
# feature-hash precedent). With T = Σ t_g the total and t_g the
# group totals (exact cents), the DAGJK variance collapses to
#   v = Σ_g (T − G·t_g)² / (G·(G−1))
# — the squared deviations stay exact DECIMAL/HUGEINT integers, and
# the SE is one IEEE-exact sqrt. Scale: a single groupBy(segment,
# jk_group) over the fact join; G is a constant.
# ---------------------------------------------------------------------------
_JK_G = 10


@query(
    "survey_jackknife_variance",
    oracle=f"""
WITH base AS (
  SELECT c.c_mktsegment AS segment,
         CAST(CAST('0x' || substr(md5(CAST(o.o_custkey AS VARCHAR)), 1, 2)
              AS INTEGER) % {_JK_G} AS BIGINT) AS jk,
         {sql_cents("o.o_totalprice")} AS vc
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), grp AS (
  SELECT segment, jk, CAST(sum(vc) AS HUGEINT) AS t_g,
         CAST(count(*) AS BIGINT) AS n_g
  FROM base GROUP BY segment, jk
), grid AS (
  -- every (segment, replicate) cell exists even when it captured zero
  -- rows: an empty delete-group is still a replicate and contributes
  -- (T - G*0)^2, otherwise the variance is silently understated
  SELECT s.segment, j.jk
  FROM (SELECT DISTINCT segment FROM grp) s
  CROSS JOIN (SELECT unnest(range(0, {_JK_G})) AS jk) j
), full_grp AS (
  SELECT grid.segment, grid.jk,
         coalesce(g.t_g, CAST(0 AS HUGEINT)) AS t_g,
         coalesce(g.n_g, 0) AS n_g
  FROM grid LEFT JOIN grp g ON grid.segment = g.segment AND grid.jk = g.jk
), tot AS (
  SELECT segment, CAST(sum(t_g) AS HUGEINT) AS t,
         CAST(sum(n_g) AS BIGINT) AS n_orders
  FROM full_grp GROUP BY segment
), dev AS (
  SELECT g.segment, t.t, t.n_orders,
         sum((t.t - {_JK_G} * g.t_g) * (t.t - {_JK_G} * g.t_g)) AS ssd
  FROM full_grp g JOIN tot t USING (segment)
  GROUP BY g.segment, t.t, t.n_orders
)
SELECT segment, n_orders,
       {R("CAST(t AS DOUBLE) / 100.0", 2)} AS total,
       {R(f"sqrt(CAST(ssd AS DOUBLE) / ({_JK_G}.0 * {_JK_G - 1}.0)) / 100.0", 2)} AS se,
       {R(f"100.0 * (sqrt(CAST(ssd AS DOUBLE) / ({_JK_G}.0 * {_JK_G - 1}.0)) / CAST(t AS DOUBLE))", 6)} AS cv_pct
FROM dev
ORDER BY segment
""",
)
def survey_jackknife_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        (
            F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 2), 16, 10)
            .cast("long")
            % _JK_G
        ).alias("jk"),
        cents("o_totalprice").alias("vc"),
    )
    grp = base.groupBy("segment", "jk").agg(
        F.sum("vc").cast(_DEC).alias("t_g"),
        F.count(F.lit(1)).cast("long").alias("n_g"),
    )
    # full (segment, replicate) grid: an empty delete-group is still a
    # replicate and must contribute (T - G*0)^2 to the variance
    grid = (
        grp.select("segment")
        .distinct()
        .crossJoin(
            F.broadcast(
                grp.sparkSession.range(_JK_G).select(F.col("id").alias("jk"))
            )
        )
    )
    full_grp = grid.join(grp, ["segment", "jk"], "left").select(
        "segment",
        "jk",
        F.coalesce(F.col("t_g"), F.lit(0).cast(_DEC)).alias("t_g"),
        F.coalesce(F.col("n_g"), F.lit(0)).cast("long").alias("n_g"),
    )
    tot = full_grp.groupBy("segment").agg(
        F.sum("t_g").alias("t"), F.sum("n_g").cast("long").alias("n_orders")
    )
    dev = (
        full_grp.join(F.broadcast(tot), "segment")
        .groupBy("segment", "t", "n_orders")
        .agg(
            F.sum(
                (F.col("t") - F.lit(_JK_G) * F.col("t_g"))
                * (F.col("t") - F.lit(_JK_G) * F.col("t_g"))
            ).alias("ssd")
        )
    )
    se = F.sqrt(
        F.col("ssd").cast("double") / F.lit(float(_JK_G * (_JK_G - 1)))
    )
    return dev.select(
        "segment",
        "n_orders",
        pround(F.col("t").cast("double") / F.lit(100.0), 2).alias("total"),
        pround(se / F.lit(100.0), 2).alias("se"),
        pround(F.lit(100.0) * (se / F.col("t").cast("double")), 6).alias("cv_pct"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# Neyman optimal allocation: distribute a fixed sample of 1000 orders
# across nation strata proportionally to N_h·S_h (count × stddev of
# order value), with largest-remainder integerization so allocations
# sum exactly to 1000. S_h = sqrt of the exact-integer-moment variance
# (IEEE-exact), the cross-stratum Σ N_h·S_h folds in nation-sorted
# order (ANOVA precedent), and remainder ranking ties break on nation
# name. Scale: one stratum aggregate (25 rows) + driver-free window
# ranking over those 25 rows.
# ---------------------------------------------------------------------------
_NEYMAN_N = 1000


@query(
    "survey_neyman_allocation",
    oracle=f"""
WITH strat AS (
  SELECT n.n_name AS nation,
         CAST(count(*) AS BIGINT) AS n_h,
         CAST(sum({sql_cents("o.o_totalprice")}) AS HUGEINT) AS s,
         CAST(sum(CAST({sql_cents("o.o_totalprice")} AS HUGEINT)
                  * {sql_cents("o.o_totalprice")}) AS HUGEINT) AS q
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
), wts AS (
  SELECT nation, n_h,
         CAST(n_h AS DOUBLE)
           * sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(n_h AS DOUBLE)) / CAST(n_h AS DOUBLE)) AS w
  FROM strat
), tot AS (
  SELECT list_reduce(list(w ORDER BY nation), (a, b) -> a + b) AS w_all FROM wts
), shares AS (
  SELECT nation, n_h, w, {_NEYMAN_N}.0 * w / w_all AS exact_alloc
  FROM wts CROSS JOIN tot
), base AS (
  SELECT nation, n_h, exact_alloc,
         CAST(floor(exact_alloc) AS BIGINT) AS floor_alloc,
         exact_alloc - floor(exact_alloc) AS rem
  FROM shares
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, nation) AS rnk,
         CAST({_NEYMAN_N} - sum(floor_alloc) OVER () AS BIGINT) AS short
  FROM base
)
SELECT nation, n_h,
       CAST(floor_alloc + CASE WHEN rnk <= short THEN 1 ELSE 0 END AS BIGINT) AS alloc,
       {R("exact_alloc", 4)} AS exact_alloc
FROM ranked
ORDER BY nation
""",
)
def survey_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    vc = cents("o_totalprice")
    strat = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_h"),
            F.sum(vc).cast(_DEC).alias("s"),
            F.sum((vc * vc).cast(_DEC)).alias("q"),
        )
    )
    w = (
        F.col("n_h").cast("double")
        * F.sqrt(
            (
                F.col("q").cast("double")
                - F.col("s").cast("double") * F.col("s").cast("double")
                / F.col("n_h").cast("double")
            )
            / F.col("n_h").cast("double")
        )
    ).alias("w")
    wts = strat.select("nation", "n_h", w)
    tot = wts.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("nation"), F.col("w")))),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("w_all")
    )
    shares = wts.crossJoin(F.broadcast(tot)).select(
        "nation",
        "n_h",
        (F.lit(float(_NEYMAN_N)) * F.col("w") / F.col("w_all")).alias("exact_alloc"),
    )
    base = shares.select(
        "nation",
        "n_h",
        "exact_alloc",
        F.floor("exact_alloc").cast("long").alias("floor_alloc"),
        (F.col("exact_alloc") - F.floor("exact_alloc")).alias("rem"),
    )
    wr = W.orderBy(F.desc("rem"), "nation")
    ranked = base.select(
        "*",
        F.row_number().over(wr).alias("rnk"),
        (F.lit(_NEYMAN_N) - F.sum("floor_alloc").over(W.partitionBy())).cast(
            "long"
        ).alias("short"),
    )
    return ranked.select(
        "nation",
        "n_h",
        (
            F.col("floor_alloc")
            + F.when(F.col("rnk") <= F.col("short"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
        pround(F.col("exact_alloc"), 4).alias("exact_alloc"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Generalized variance function (GVF) fit — the survey-methods tool
# that SMOOTHS unstable per-cell variance estimates by modeling the
# relative variance of each (nation × segment) total as
# relvar = a + b / x̂ and publishing CVs off the fitted curve instead
# of the noisy direct estimates. Portability: per-cell relvar is
# pico-quantized (1e-12) and 1/x̂ is the EXACT integer 10¹⁵ div cents,
# so the OLS normal equations are exact DECIMAL/HUGEINT sums; a, b,
# r² are a fixed scalar-double sequence at the end. Scale: the fact
# table collapses to ≤125 cells before the regression.
# ---------------------------------------------------------------------------
@query(
    "statcan_gvf_cv_model",
    oracle=f"""
WITH cells AS (
  SELECT n.n_name AS nation, c.c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum({sql_cents("o.o_totalprice")}) AS HUGEINT) AS s,
         CAST(sum(CAST({sql_cents("o.o_totalprice")} AS HUGEINT)
                  * {sql_cents("o.o_totalprice")}) AS HUGEINT) AS q
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, c.c_mktsegment
  HAVING count(*) >= 2
), pts AS (
  SELECT CAST(1000000000000000 // s AS BIGINT) AS u,
         CAST(floor(
           ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
             / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
           / (CAST(n AS DOUBLE)
              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
           * 1000000000000.0 + 0.5) AS BIGINT) AS v
  FROM cells
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(u) AS HUGEINT) AS su, CAST(sum(v) AS HUGEINT) AS sv,
         CAST(sum(CAST(u AS HUGEINT) * v) AS HUGEINT) AS suv,
         CAST(sum(CAST(u AS HUGEINT) * u) AS HUGEINT) AS suu,
         CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS svv
  FROM pts
), fit AS (
  SELECT m,
         (CAST(m AS DOUBLE) * CAST(suv AS DOUBLE)
          - CAST(su AS DOUBLE) * CAST(sv AS DOUBLE)) AS covn,
         (CAST(m AS DOUBLE) * CAST(suu AS DOUBLE)
          - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)) AS varu,
         (CAST(m AS DOUBLE) * CAST(svv AS DOUBLE)
          - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) AS varv,
         CAST(su AS DOUBLE) AS sud, CAST(sv AS DOUBLE) AS svd
  FROM mom
)
SELECT m AS n_cells,
       {R("(svd * 1e-12 - (covn / varu) * 1000.0 * (sud * 1e-15)) / CAST(m AS DOUBLE)", 8)} AS a,
       {R("(covn / varu) * 1000.0", 2)} AS b,
       {R("covn * covn / (varu * varv)", 6)} AS r2
FROM fit
""",
)
def statcan_gvf_cv_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_mktsegment")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    vc = cents("o_totalprice")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(vc).cast(_DEC).alias("s"),
            F.sum((vc * vc).cast(_DEC)).alias("q"),
        )
        .filter(F.col("n") >= 2)
    )
    n_d = F.col("n").cast("double")
    s_d = F.col("s").cast("double")
    var = (F.col("q").cast("double") - s_d * s_d / n_d) / (n_d - F.lit(1.0))
    relvar = var / (n_d * (s_d / n_d) * (s_d / n_d))
    pts = cells.select(
        F.expr("CAST(1000000000000000 div CAST(s AS BIGINT) AS BIGINT)").alias("u"),
        F.floor(relvar * F.lit(1000000000000.0) + F.lit(0.5)).cast("long").alias("v"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("u").cast(_DEC).alias("su"),
        F.sum("v").cast(_DEC).alias("sv"),
        F.sum(F.col("u").cast(_DEC) * F.col("v").cast(_DEC)).alias("suv"),
        F.sum(F.col("u").cast(_DEC) * F.col("u").cast(_DEC)).alias("suu"),
        F.sum(F.col("v").cast(_DEC) * F.col("v").cast(_DEC)).alias("svv"),
    )
    m_d = F.col("m").cast("double")
    covn = m_d * F.col("suv").cast("double") - F.col("su").cast("double") * F.col("sv").cast("double")
    varu = m_d * F.col("suu").cast("double") - F.col("su").cast("double") * F.col("su").cast("double")
    varv = m_d * F.col("svv").cast("double") - F.col("sv").cast("double") * F.col("sv").cast("double")
    b = (covn / varu) * F.lit(1000.0)
    return mom.select(
        F.col("m").alias("n_cells"),
        pround(
            (
                F.col("sv").cast("double") * F.lit(1e-12)
                - (covn / varu) * F.lit(1000.0) * (F.col("su").cast("double") * F.lit(1e-15))
            )
            / m_d,
            8,
        ).alias("a"),
        pround(b, 2).alias("b"),
        pround(covn * covn / (varu * varv), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Random rounding to base 5 (RR5) — StatCan's standard disclosure-
# control treatment for frequency tables (census/NHS publication
# rule): every cell count is rounded to a multiple of 5, rounding UP
# with probability r/5 where r = count mod 5. This implementation
# derandomizes the coin with an md5 hash of the cell key (reproducible
# releases, engine-portable — the jackknife/raking digest precedent):
# up iff md5(cell) mod 5 < r, which preserves the r/5 up-rate across
# cells. Pure integer arithmetic; the per-nation audit shows the net
# bias the rounding introduces. Pytest pins every published cell ≡ 0
# (mod 5) and |cell bias| < 5.
# ---------------------------------------------------------------------------
@query(
    "statcan_random_rounding_base5",
    oracle="""
WITH cells AS (
  SELECT n.n_name AS nation, o.o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS c
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, o.o_orderpriority
), coins AS (
  SELECT nation, priority, c, c % 5 AS r,
         CAST(CAST('0x' || substr(md5(nation || '|' || priority), 1, 2)
              AS INTEGER) % 5 AS BIGINT) AS coin
  FROM cells
), rounded AS (
  SELECT nation, c,
         CASE WHEN r = 0 THEN c
              WHEN coin < r THEN c - r + 5
              ELSE c - r END AS pub
  FROM coins
)
SELECT nation,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(c) AS BIGINT) AS raw_total,
       CAST(sum(pub) AS BIGINT) AS published_total,
       CAST(sum(pub) - sum(c) AS BIGINT) AS net_bias,
       CAST(sum(CASE WHEN pub > c THEN 1 ELSE 0 END) AS BIGINT) AS n_rounded_up
FROM rounded
GROUP BY nation
ORDER BY nation
""",
)
def statcan_random_rounding_base5(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    coins = cells.select(
        "nation",
        "c",
        (F.col("c") % 5).alias("r"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", "nation", "priority")), 1, 2
                ),
                16,
                10,
            ).cast("long")
            % 5
        ).alias("coin"),
    )
    rounded = coins.select(
        "nation",
        "c",
        F.when(F.col("r") == 0, F.col("c"))
        .when(F.col("coin") < F.col("r"), F.col("c") - F.col("r") + 5)
        .otherwise(F.col("c") - F.col("r"))
        .alias("pub"),
    )
    return (
        rounded.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("c").cast("long").alias("raw_total"),
            F.sum("pub").cast("long").alias("published_total"),
            (F.sum("pub") - F.sum("c")).cast("long").alias("net_bias"),
            F.sum(F.when(F.col("pub") > F.col("c"), 1).otherwise(0))
            .cast("long")
            .alias("n_rounded_up"),
        )
        .orderBy("nation")
    )
