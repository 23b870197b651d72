"""Planted-regime ANN calibration queries (r13, VERDICT r12 item 2).

The shipped `embeddings` corpus has NO high-cosine structure — its true
pairs sit at cosine 0.40–0.60 (SCALING.md r11 refutation), where no
(n_tables, n_planes) sign-LSH setting can trade candidates for recall.
The knobs on `_embedding_lsh_pairs` exist for the regime real dedup
corpora live in: near-identical duplicates at cosine ≥ 0.8. r12
measured that regime twice (numpy frontier + the engine at sf1 on the
additive planted table) but only in SCRIPTS; these queries register the
measurement as driver-hash-checked contracts.

Input is the committed calibration fixture `testdata_planted/sf0.01/`
(embeddings_planted.parquet + embeddings_planted_truth.parquet):
the driver's own sf0.01 embeddings (500 vectors) ∪ 30 planted near-dup
clusters (10 per target cosine c ∈ {0.90, 0.95, 0.99}, 4 vectors each:
dup = c·v + √(1−c²)·g⊥) with the 180-pair ground truth. A calibration
fixture is deliberately sf-INDEPENDENT — a recall contract needs a
known, fixed ground truth, so both the Spark query and the DuckDB
oracle read the same committed parquet regardless of `sf_dir` (the
oracle is a static SQL string and cannot follow sf_dir; pytest parity
therefore holds at every SF by construction). Scale measurements run
the SAME helpers against testdata_big/sf1's 26k-vector planted corpus
(scripts/planted_scale_eval.py → SCALING.md), so the registered
contract and the sf1 numbers share one code path.

Scale shape: identical to the production LSH path — explode to
(table, bucket) keys, ONE self-equi-join on the banded index, distinct,
then O(|candidates|) verify joins; the truth table is O(planted pairs)
and broadcast. No cartesian product, no driver state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import scatter
from ..functions.portable import pround, sql_round as R
from ..functions.vectors import dot_fixed, sql_cosine, sql_dot_fixed, sql_list_lit
from ..registry import query
from .dedup import COS_TAU, _lsh_table_prefix
from .similarity import _hyperplanes

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# PATH DEPENDENCE (r14, ADVICE): the DuckDB oracle strings for both
# planted queries embed these ABSOLUTE read_parquet paths, resolved
# from __file__ at import time, so the oracle text is
# checkout-location-dependent. scripts/check_window.py replaces the repo
# root with a fixed token before hashing, so a relocated clone does not
# report the two planted queries as changed; the driver's value-hash
# parity is unaffected (both engines read the same committed fixture
# bytes wherever the repo lives). Kept absolute deliberately: the
# oracle runner's cwd is not part of the driver contract, so a
# repo-relative path would silently break under any other cwd.
GATE_PLANTED_DIR = os.path.join(_REPO, "testdata_planted", "sf0.01")

# The two knobs the r12 planted sweep measured at sf1 (SCALING.md):
# (3,4) is the registered dedup_embedding_lsh default (recall 0.92 on
# planted truth, wide buckets); (4,8) is the measured 5.6×-faster
# setting at 0.81 recall — the trade this contract pins.
PLANTED_KNOBS = [(3, 4), (4, 8)]


def _planted(spark: SparkSession, planted_dir: str) -> DataFrame:
    return spark.read.parquet(
        os.path.join(planted_dir, "embeddings_planted.parquet")
    )


def _truth(spark: SparkSession, planted_dir: str) -> DataFrame:
    return spark.read.parquet(
        os.path.join(planted_dir, "embeddings_planted_truth.parquet")
    )


def _lsh_candidates(emb: DataFrame, n_tables: int, n_planes: int) -> DataFrame:
    """Banded sign-LSH candidate pairs — the same single-exchange
    (table, bucket) index shape as dedup._embedding_lsh_pairs, local to
    this module so registering the planted contract moves no existing
    query's hash (the r13 zero-re-hash route, SURVEY §7 handoff).

    NO BUCKET CAP (r14, ADVICE): unlike the production LSH paths
    (_SIM_BUCKET_CAP, dedup_lsh_bucket_census), this helper has no
    per-bucket pair bound or census companion — a degenerate bucket's
    C(n, 2) fan-out is structurally unbounded. Acceptable for the
    fixed committed calibration fixture (max bucket is small and
    pinned by the fixture md5), and TOLERATED for the sf1 scaling
    runner, where the (3, 4) knob's 62M candidate pairs through a full
    distinct are themselves the measurement being reported. Before
    pointing this helper at any larger or uncontrolled corpus, add the
    bucket cap + census from operators/dedup.py (`group_pairs` with
    `max_size`, `lsh_census_from_index`)."""
    from .similarity import lsh_bucket

    keys = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                lsh_bucket(
                    "embedding", _lsh_table_prefix(t), n_planes=n_planes
                ).alias("bk"),
            )
            for t in range(n_tables)
        ]
    )
    banded = emb.select("vec_id", F.explode(keys).alias("k")).select(
        "vec_id", F.col("k.t").alias("t"), F.col("k.bk").alias("bk")
    )
    a = banded.select(F.col("vec_id").alias("vec_a"), "t", "bk")
    b = banded.select(F.col("vec_id").alias("vec_b"), "t", "bk")
    return (
        a.join(b, ["t", "bk"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def _knob_label(n_tables: int, n_planes: int) -> str:
    return f"T{n_tables}_p{n_planes}"


def planted_recall_contract(
    spark: SparkSession, planted_dir: str, knobs=None
) -> DataFrame:
    """One row per (n_tables, n_planes) knob: candidate-pair count,
    τ-verified count, and recall over the planted ground-truth pairs.
    Shared by the registered gate query and the sf1 scaling runner."""
    from ..functions.vectors import with_pair_cosine

    knobs = knobs or PLANTED_KNOBS
    emb = scatter(spark, _planted(spark, planted_dir))
    truth = _truth(spark, planted_dir).select("vec_a", "vec_b")
    with_norm = emb.select(
        "vec_id",
        "embedding",
        (dot_fixed("embedding", "embedding") / F.lit(1e9)).alias("self_dot"),
    )
    ea = with_norm.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("self_dot").alias("daa"),
    )
    eb = with_norm.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("self_dot").alias("dbb"),
    )
    tt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth_pairs"))
    rows = []
    for n_tables, n_planes in knobs:
        cand = _lsh_candidates(emb, n_tables, n_planes)
        scored = with_pair_cosine(
            cand.join(ea, ["vec_a"]).join(eb, ["vec_b"]),
            "emb_a",
            "emb_b",
            "cosine",
            daa="daa",
            dbb="dbb",
        )
        stats = scored.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.coalesce(
                F.sum((F.col("cosine") >= F.lit(COS_TAU)).cast("long")),
                F.lit(0).cast("long"),
            ).alias("n_verified"),
        )
        hits = cand.join(F.broadcast(truth), ["vec_a", "vec_b"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_truth_hits")
        )
        rows.append(
            stats.crossJoin(F.broadcast(hits))
            .crossJoin(F.broadcast(tt))
            .select(
                F.lit(_knob_label(n_tables, n_planes)).alias("knob"),
                F.lit(n_tables).cast("long").alias("n_tables"),
                F.lit(n_planes).cast("long").alias("n_planes"),
                "n_candidates",
                "n_verified",
                "n_truth_pairs",
                "n_truth_hits",
                pround(
                    F.col("n_truth_hits").cast("double")
                    / F.col("n_truth_pairs").cast("double"),
                    6,
                ).alias("recall"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("knob")


def _sql_planted_path(name: str) -> str:
    return os.path.join(GATE_PLANTED_DIR, f"{name}.parquet")


def _sql_planes_cte(tag: str, n_tables: int, n_planes: int) -> str:
    """planes relation (t, j, pv) — the VALUES-relation technique from
    ann_ivf_cosine (inlining each 64-dim literal once instead of 3× per
    dot keeps the oracle text linear in plane count)."""
    rows = []
    for t in range(n_tables):
        for j, row in enumerate(
            _hyperplanes(n_planes=n_planes, prefix=_lsh_table_prefix(t))
        ):
            rows.append(f"({t}, {j}, {sql_list_lit(row)})")
    return f"{tag}_planes(t, j, pv) AS (VALUES {', '.join(rows)})"


def _sql_knob_ctes(tag: str, n_tables: int, n_planes: int) -> str:
    """sig → cand → ver/hit CTE chain for one knob, mirroring
    _lsh_candidates: sign bits concatenated in plane order per table,
    candidates = same (t, bucket) key, verify = rounded fixed-point
    cosine ≥ τ on candidates only."""
    sign = f"CASE WHEN {sql_dot_fixed('e.embedding', 'p.pv')} >= 0 THEN '1' ELSE '0' END"
    return f"""{_sql_planes_cte(tag, n_tables, n_planes)},
{tag}_sig AS (
  SELECT e.vec_id, p.t,
         string_agg({sign}, '' ORDER BY p.j) AS bk
  FROM planted e CROSS JOIN {tag}_planes p
  GROUP BY e.vec_id, p.t
),
{tag}_cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM {tag}_sig a JOIN {tag}_sig b
    ON a.t = b.t AND a.bk = b.bk AND a.vec_id < b.vec_id
),
{tag}_ver AS (
  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(coalesce(sum(CASE WHEN {R(sql_cosine("ea.embedding", "eb.embedding"), 6)}
                                     >= {COS_TAU} THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_verified
  FROM {tag}_cand c
  JOIN planted ea ON ea.vec_id = c.vec_a
  JOIN planted eb ON eb.vec_id = c.vec_b
),
{tag}_hit AS (
  SELECT CAST(count(*) AS BIGINT) AS n_truth_hits
  FROM {tag}_cand c JOIN truth t ON t.vec_a = c.vec_a AND t.vec_b = c.vec_b
)"""


def _recall_contract_oracle() -> str:
    knob_sql = []
    selects = []
    for n_tables, n_planes in PLANTED_KNOBS:
        tag = f"k{n_tables}_{n_planes}"
        knob_sql.append(_sql_knob_ctes(tag, n_tables, n_planes))
        selects.append(
            f"""SELECT '{_knob_label(n_tables, n_planes)}' AS knob,
       CAST({n_tables} AS BIGINT) AS n_tables,
       CAST({n_planes} AS BIGINT) AS n_planes,
       v.n_candidates, v.n_verified, tt.n_truth_pairs, h.n_truth_hits,
       {R("CAST(h.n_truth_hits AS DOUBLE) / CAST(tt.n_truth_pairs AS DOUBLE)", 6)}
         AS recall
FROM {tag}_ver v, {tag}_hit h, tt"""
        )
    return f"""
WITH planted AS (
  SELECT vec_id, embedding
  FROM read_parquet('{_sql_planted_path("embeddings_planted")}')
),
truth AS (
  SELECT vec_a, vec_b
  FROM read_parquet('{_sql_planted_path("embeddings_planted_truth")}')
),
tt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth_pairs FROM truth),
{", ".join(knob_sql)}
{" UNION ALL ".join(selects)}
ORDER BY knob
"""


@query("ann_planted_recall_contract", oracle=_recall_contract_oracle())
def ann_planted_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sign-LSH knob contract in its DESIGN regime: per (n_tables,
    n_planes), candidate-pair mass vs recall over planted high-cosine
    ground truth. The committed fixture makes this a driver-hash-checked
    statement of the r12 SCALING.md measurement: more planes cut
    candidates superlinearly (p doubles the per-table bucket count per
    bit) while OR-ing one more table buys back recall — at sf1 knob
    (4,8) is 5.6× faster than (3,4) at 0.81 vs 0.92 recall. `sf_dir` is
    ignored by design (see module docstring): a recall contract runs on
    the fixed fixture; scale numbers come from the same helper on
    testdata_big/sf1."""
    return planted_recall_contract(spark, GATE_PLANTED_DIR)


def planted_truth_profile(spark: SparkSession, planted_dir: str) -> DataFrame:
    """Per planted tier (target cosine c): pair count and the engine's
    own fixed-point cosine min/avg/max over the ground-truth pairs —
    pins the ACTUAL dup-dup distribution (≈ c² ± noise, floor ≈ 0.7 for
    c = 0.90; the r13 ADVICE correction) as a registered fact instead
    of a docstring claim. Exact micro-unit (1e-6) integers both sides:
    the avg is a BIGINT sum divided once, so no float-accumulation
    order can flip the hash."""
    emb = _planted(spark, planted_dir)
    truth = _truth(spark, planted_dir).select("vec_a", "vec_b")
    with_norm = emb.select(
        "vec_id",
        "embedding",
        "label",
        (dot_fixed("embedding", "embedding") / F.lit(1e9)).alias("self_dot"),
    )
    ea = with_norm.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("label").alias("label_a"),
        F.col("self_dot").alias("daa"),
    )
    eb = with_norm.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("self_dot").alias("dbb"),
    )
    j = truth.join(ea, ["vec_a"]).join(eb, ["vec_b"])
    raw = (dot_fixed("emb_a", "emb_b") / F.lit(1e9)) / (
        F.sqrt("daa") * F.sqrt("dbb")
    )
    # pround's positive branch in micro-units (every planted cosine is
    # ≥ ~0.7 > 0, asserted by the min_cosine output itself)
    cos_u = F.floor(raw * F.lit(1e6) + F.lit(0.5)).cast("long")
    tier = (F.col("label_a") - F.lit(100)).cast("long")
    return (
        j.select(tier.alias("tier"), cos_u.alias("cos_u"))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            (F.min("cos_u") / F.lit(1e6)).alias("min_cosine"),
            pround(
                F.sum("cos_u").cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1e6)),
                6,
            ).alias("avg_cosine"),
            (F.max("cos_u") / F.lit(1e6)).alias("max_cosine"),
        )
        .withColumn(
            "target_cosine",
            F.element_at(
                F.array(F.lit(0.90), F.lit(0.95), F.lit(0.99)),
                (F.col("tier") + 1).cast("int"),
            ),
        )
        .select(
            "tier", "target_cosine", "n_pairs",
            "min_cosine", "avg_cosine", "max_cosine",
        )
        .orderBy("tier")
    )


_COS_RAW = (
    f"(({sql_dot_fixed('ea.embedding', 'eb.embedding')} / 1000000000.0) "
    f"/ (sqrt({sql_dot_fixed('ea.embedding', 'ea.embedding')} / 1000000000.0) "
    f"* sqrt({sql_dot_fixed('eb.embedding', 'eb.embedding')} / 1000000000.0)))"
)


@query(
    "ann_planted_truth_profile",
    oracle=f"""
WITH planted AS (
  SELECT vec_id, embedding, label
  FROM read_parquet('{_sql_planted_path("embeddings_planted")}')
),
truth AS (
  SELECT vec_a, vec_b
  FROM read_parquet('{_sql_planted_path("embeddings_planted_truth")}')
),
cosu AS (
  SELECT CAST(ea.label - 100 AS BIGINT) AS tier,
         CAST(floor({_COS_RAW} * 1000000.0 + 0.5) AS BIGINT) AS cos_u
  FROM truth t
  JOIN planted ea ON ea.vec_id = t.vec_a
  JOIN planted eb ON eb.vec_id = t.vec_b
)
SELECT tier,
       CAST(CASE tier WHEN 0 THEN 0.90 WHEN 1 THEN 0.95 ELSE 0.99 END
            AS DOUBLE) AS target_cosine,
       CAST(count(*) AS BIGINT) AS n_pairs,
       min(cos_u) / 1000000.0 AS min_cosine,
       {R("CAST(sum(cos_u) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000.0)", 6)}
         AS avg_cosine,
       max(cos_u) / 1000000.0 AS max_cosine
FROM cosu
GROUP BY tier
ORDER BY tier
""",
)
def ann_planted_truth_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return planted_truth_profile(spark, GATE_PLANTED_DIR)
