"""Embedding-column profiling: per-label norm statistics, per-dimension
calibration stats (the input to scalar quantization / clipping
decisions), and scalar-quantization error curves (how many bits does
this embedding table actually need?).

A vector store ingesting 100 TB of embeddings needs cheap corpus
profiling (dimension sanity, norm distribution per label/partition)
before any ANN indexing. Norms reuse the fixed-point dot product from
functions/vectors.py, so every per-vector norm double is bit-identical
across engines; the per-label average is computed from an exact
micro-unit integer sum (never an average of raw doubles — accumulation
order would flip the hash; see functions/portable.py). Dimension stats
shuffle only (dim → 64 keys) after map-side partial aggregation; all
moment sums are exact fixed-point integers so cross-engine doubles are
bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, scatter
from ..functions.portable import SQL_EXACT_INT as _DEC, pround, sql_round as R
from ..functions.vectors import (
    dot_fixed,
    sqdist_fixed,
    sql_dot_fixed,
    sql_sqdist_fixed,
)
from ..registry import query

_NORM_SQL = f"sqrt({sql_dot_fixed('embedding', 'embedding')} / 1000000000.0)"


@query(
    "embedding_norm_stats",
    oracle=f"""
WITH v AS (
  SELECT label,
         len(embedding) AS dim,
         {_NORM_SQL} AS nrm
  FROM embeddings
), m AS (
  SELECT label,
         count(*) AS n_vecs,
         min(dim) AS min_dim,
         max(dim) AS max_dim,
         CAST(sum(CAST(floor(nrm * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro,
         min(nrm) AS min_nrm,
         max(nrm) AS max_nrm
  FROM v GROUP BY label
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(n_vecs AS BIGINT) AS n_vecs,
       CAST(min_dim AS BIGINT) AS min_dim,
       CAST(max_dim AS BIGINT) AS max_dim,
       {R("(CAST(sum_micro AS DOUBLE) / 1000000.0 / CAST(n_vecs AS DOUBLE))", 6)} AS avg_norm,
       {R("min_nrm", 6)} AS min_norm,
       {R("max_nrm", 6)} AS max_norm
FROM m
ORDER BY label
""",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scatter(spark, load_table(spark, sf_dir, "embeddings"))
    nrm = F.sqrt(dot_fixed("embedding", "embedding") / F.lit(1e9))
    v = emb.select(
        "label", F.size("embedding").alias("dim"), nrm.alias("nrm")
    )
    m = v.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("dim").alias("min_dim"),
        F.max("dim").alias("max_dim"),
        F.sum(F.floor(F.col("nrm") * F.lit(1e6) + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("sum_micro"),
        F.min("nrm").alias("min_nrm"),
        F.max("nrm").alias("max_nrm"),
    )
    return m.select(
        F.col("label").cast("long").alias("label"),
        F.col("n_vecs").cast("long").alias("n_vecs"),
        F.col("min_dim").cast("long").alias("min_dim"),
        F.col("max_dim").cast("long").alias("max_dim"),
        pround(
            F.col("sum_micro").cast("double")
            / F.lit(1e6)
            / F.col("n_vecs").cast("double"),
            6,
        ).alias("avg_norm"),
        pround("min_nrm", 6).alias("min_norm"),
        pround("max_nrm", 6).alias("max_norm"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# Per-label class centroids (round 5): the mean embedding per label,
# one row per (label, dimension). Spark side is posexplode → groupBy
# (label, pos) with an exact micro-unit integer component sum — the
# same fixed-point trick as the norm stats, so the centroid doubles
# are bit-identical cross-engine. At scale this is a single shuffle
# on (label, pos) with full map-side partial aggregation; no vector
# ever has to be assembled on one node (centroid drift / class-mean
# monitoring over 100 TB of embeddings works dimension-parallel).
# ---------------------------------------------------------------------------
_COMP_MICRO_SQL = (
    "CAST(CASE WHEN embedding[i] >= 0"
    " THEN floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5)"
    " ELSE -floor(-CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5)"
    " END AS BIGINT)"
)


@query(
    "embedding_centroids_by_label",
    oracle=f"""
SELECT CAST(label AS BIGINT) AS label,
       CAST(i AS BIGINT) AS pos,
       CAST(count(*) AS BIGINT) AS n_vecs,
       {R("(CAST(sum(" + _COMP_MICRO_SQL + ") AS DOUBLE) / 1000000.0"
          " / CAST(count(*) AS DOUBLE))", 6)} AS centroid_val
FROM embeddings CROSS JOIN range(1, 65) t(i)
GROUP BY label, i
ORDER BY label, pos
""",
)
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scatter(spark, load_table(spark, sf_dir, "embeddings"))
    comp = emb.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("pos0", "v"),
    ).select(
        "label",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.when(
            F.col("v") >= 0,
            F.floor(F.col("v").cast("double") * F.lit(1e6) + F.lit(0.5)),
        )
        .otherwise(-F.floor(-F.col("v").cast("double") * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
        .alias("micro"),
    )
    return (
        comp.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("micro").alias("sum_micro"),
        )
        .select(
            "label",
            "pos",
            "n_vecs",
            pround(
                F.col("sum_micro").cast("double")
                / F.lit(1e6)
                / F.col("n_vecs").cast("double"),
                6,
            ).alias("centroid_val"),
        )
        .orderBy("label", "pos")
    )


# ---------------------------------------------------------------------------
# Lloyd's k-means (round 5): k=4, a FIXED 3 iterations, deterministic
# init (the embeddings of the k smallest vec_ids) — the iterative-ML
# showcase, and still fully DuckDB-oracle-checked because every step
# is engine-exact: assignment argmin over int64 fixed-point squared
# distances (ties broken by cluster_id), centroid update from exact
# micro-unit integer component sums with portable rounding. The
# oracle unrolls the three iterations as CTEs.
#
# Scale shape: per iteration ONE map-side-combined shuffle on
# (cluster_id, pos) for the update; assignment is a broadcast of k·dim
# doubles. The driver round-trip per iteration is O(k·dim) — 256
# doubles here — never O(n): this is the same topology MLlib KMeans
# uses, and the only driver-side state an iterative fitter needs.
# ---------------------------------------------------------------------------
KM_K = 4
KM_ITERS = 3
KM_DIM = 64

_KM_COMP_MICRO = (
    "CAST(CASE WHEN a.embedding[i] >= 0"
    " THEN floor(CAST(a.embedding[i] AS DOUBLE) * 1000000.0 + 0.5)"
    " ELSE -floor(-CAST(a.embedding[i] AS DOUBLE) * 1000000.0 + 0.5)"
    " END AS BIGINT)"
)


def _kmeans_oracle(k: int = KM_K, iters: int = KM_ITERS, dim: int = KM_DIM) -> str:
    """Unrolled Lloyd iterations as DuckDB CTEs (init → a1 → c1 → …)."""
    parts = [
        f"""init AS (
  SELECT CAST(vec_id AS BIGINT) AS cluster_id, embedding AS cvec
  FROM embeddings WHERE vec_id < {k}
)"""
    ]
    prev = "init"
    for it in range(1, iters + 1):
        d = sql_sqdist_fixed("e.embedding", "c.cvec", "0", dim)
        parts.append(
            f"""a{it} AS (
  SELECT vec_id, embedding, cluster_id, d FROM (
    SELECT e.vec_id, e.embedding, c.cluster_id, {d} AS d,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d}, c.cluster_id) AS rn
    FROM embeddings e CROSS JOIN {prev} c
  ) WHERE rn = 1
)"""
        )
        if it < iters:
            cval = R(
                f"(CAST(sum({_KM_COMP_MICRO}) AS DOUBLE) / 1000000.0"
                " / CAST(count(*) AS DOUBLE))",
                6,
            )
            parts.append(
                f"""c{it} AS (
  SELECT cluster_id, list(cval ORDER BY pos) AS cvec FROM (
    SELECT a.cluster_id, i AS pos, {cval} AS cval
    FROM a{it} a CROSS JOIN range(1, {dim + 1}) t(i)
    GROUP BY a.cluster_id, i
  ) GROUP BY cluster_id
)"""
            )
            prev = f"c{it}"
    avg_d = R(
        "(CAST(sum(d) AS DOUBLE) / 1000000000.0 / CAST(count(*) AS DOUBLE))", 6
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vecs, {avg_d} AS avg_sqdist
FROM a{iters} GROUP BY cluster_id ORDER BY cluster_id"""
    )


def _km_assign(emb: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """Nearest-centroid assignment against broadcast literal centroids:
    array_min over (d, cluster_id) structs = argmin with id tie-break."""
    structs = [
        F.struct(
            sqdist_fixed(F.col("embedding"), F.array(*[F.lit(v) for v in vec])).alias(
                "d"
            ),
            F.lit(cid).cast("long").alias("cid"),
        )
        for cid, vec in sorted(cents.items())
    ]
    best = F.array_min(F.array(*structs))
    return emb.select(
        "vec_id",
        "embedding",
        best.getField("cid").alias("cluster_id"),
        best.getField("d").alias("d"),
    )


@query("embedding_kmeans", oracle=_kmeans_oracle())
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster census (size + mean squared distance) after 3 Lloyd
    iterations. Per-iteration driver state is k×dim centroid doubles
    only; all O(n) work stays distributed."""
    emb = scatter(spark, load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    cents = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < KM_K).collect()
    }
    assigned = _km_assign(emb, cents)
    for _ in range(KM_ITERS - 1):
        micro = (
            F.when(
                F.col("v") >= 0,
                F.floor(F.col("v").cast("double") * F.lit(1e6) + F.lit(0.5)),
            )
            .otherwise(-F.floor(-F.col("v").cast("double") * F.lit(1e6) + F.lit(0.5)))
            .cast("long")
        )
        upd = (
            assigned.select("cluster_id", F.posexplode("embedding").alias("pos0", "v"))
            .select("cluster_id", (F.col("pos0") + 1).alias("pos"), micro.alias("m"))
            .groupBy("cluster_id", "pos")
            .agg(
                pround(
                    F.sum("m").cast("double")
                    / F.lit(1e6)
                    / F.count(F.lit(1)).cast("double"),
                    6,
                ).alias("cval")
            )
            .collect()
        )
        cents = {}
        for r in upd:
            cents.setdefault(int(r["cluster_id"]), {})[int(r["pos"])] = float(r["cval"])
        cents = {
            cid: [by_pos[p] for p in sorted(by_pos)] for cid, by_pos in cents.items()
        }
        assigned = _km_assign(emb, cents)
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            pround(
                F.sum("d").cast("double")
                / F.lit(1e9)
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_sqdist"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Label-noise detection — the training-data QA op: distance from each
# vector to its OWN label's centroid; far vectors are mislabel/outlier
# candidates. The centroid is the portably-ROUNDED per-dimension mean
# (exact micro-unit integer sums, one division, 6-dp round — identical
# doubles in both engines), and distances are int64 fixed-point, so
# the τ² = 0.5 outlier test is an exact integer comparison. Centroids
# are k·dim values — broadcast; one wide shuffle (component sums).
# ---------------------------------------------------------------------------

_OUT_TAU2_NANO = 500_000_000  # 0.5 in 1e-9 fixed point


@query(
    "embedding_label_outliers",
    oracle=f"""
WITH comp AS (
  SELECT CAST(label AS BIGINT) AS label, i AS pos,
         {R("(CAST(sum(" + _COMP_MICRO_SQL + ") AS DOUBLE) / 1000000.0"
            " / CAST(count(*) AS DOUBLE))", 6)} AS cmean
  FROM embeddings CROSS JOIN range(1, 65) t(i)
  GROUP BY label, i
), cents AS (
  SELECT label, list(cmean ORDER BY pos) AS centroid FROM comp GROUP BY label
), dists AS (
  SELECT e.vec_id, c.label,
         {{D2}} AS dist2_nano
  FROM embeddings e JOIN cents c ON CAST(e.label AS BIGINT) = c.label
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN dist2_nano > {_OUT_TAU2_NANO} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(max(dist2_nano) AS BIGINT) AS max_dist2_nano
FROM dists
GROUP BY label
ORDER BY label
""".replace("{D2}", sql_sqdist_fixed("e.embedding", "c.centroid", n=64)),
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scatter(spark, load_table(spark, sf_dir, "embeddings"))
    comp = emb.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("pos0", "v"),
    ).select(
        "label",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.when(
            F.col("v") >= 0,
            F.floor(F.col("v").cast("double") * F.lit(1e6) + F.lit(0.5)),
        )
        .otherwise(-F.floor(-F.col("v").cast("double") * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
        .alias("micro"),
    )
    means = comp.groupBy("label", "pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("micro").alias("s"),
    ).select(
        "label",
        "pos",
        pround(
            F.col("s").cast("double") / F.lit(1e6) / F.col("n").cast("double"), 6
        ).alias("cmean"),
    )
    cents = means.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cmean"))),
            lambda s: s.cmean,
        ).alias("centroid")
    )
    dists = emb.select(
        "vec_id", F.col("label").cast("long").alias("label"), "embedding"
    ).join(F.broadcast(cents), "label").select(
        "label", sqdist_fixed("embedding", "centroid").alias("dist2_nano")
    )
    return (
        dists.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(F.when(F.col("dist2_nano") > _OUT_TAU2_NANO, 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            F.max("dist2_nano").cast("long").alias("max_dist2_nano"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Inter-class centroid similarity (round 6): pairwise cosine between
# label centroids — the class-separation monitor (labels whose
# centroids sit too close are confusable; a training-data QA staple
# next to embedding_label_outliers). Portability trick: centroid
# cosine is SCALE-INVARIANT, so the per-label counts cancel and
# cos(a,b) = S_ab / sqrt(S_aa * S_bb) where S_xy is the exact integer
# dot product of micro-unit component SUMS (no per-label division
# before the final expression — no float accumulation at all).
# Component sums are the same single (label, pos) shuffle as
# embedding_centroids_by_label; everything after runs on a k×dim
# table (k labels — driver-trivial at any corpus size). Sums are
# DECIMAL(38,0)/HUGEINT: micro sums reach ~1e9 per component at
# 100-TB label sizes, so int64 products would overflow.
# ---------------------------------------------------------------------------


@query(
    "embedding_interclass_similarity",
    oracle=f"""
WITH comp AS (
  SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS pos,
         CAST(sum({_COMP_MICRO_SQL}) AS HUGEINT) AS s
  FROM embeddings CROSS JOIN range(1, 65) t(i)
  GROUP BY label, i
), dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(sum(a.s * b.s) AS HUGEINT) AS s_ab
  FROM comp a JOIN comp b ON a.pos = b.pos
  GROUP BY label_a, label_b
), diag AS (
  SELECT label_a AS label, s_ab AS s_self FROM dots WHERE label_a = label_b
)
SELECT d.label_a, d.label_b,
       {R("(CAST(d.s_ab AS DOUBLE) / (sqrt(CAST(da.s_self AS DOUBLE)) * sqrt(CAST(db.s_self AS DOUBLE))))", 6)}
         AS centroid_cosine
FROM dots d
JOIN diag da ON da.label = d.label_a
JOIN diag db ON db.label = d.label_b
WHERE d.label_a < d.label_b
ORDER BY d.label_a, d.label_b
""",
)
def embedding_interclass_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = scatter(spark, load_table(spark, sf_dir, "embeddings"))
    micro = (
        F.when(
            F.col("v") >= 0,
            F.floor(F.col("v").cast("double") * F.lit(1e6) + F.lit(0.5)),
        )
        .otherwise(-F.floor(-F.col("v").cast("double") * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
    )
    comp = (
        emb.select(
            F.col("label").cast("long").alias("label"),
            F.posexplode("embedding").alias("pos0", "v"),
        )
        .select(
            "label",
            (F.col("pos0") + 1).cast("long").alias("pos"),
            micro.alias("micro"),
        )
        .groupBy("label", "pos")
        .agg(F.sum("micro").cast("decimal(38,0)").alias("s"))
    )
    a = comp.select(
        F.col("label").alias("label_a"), "pos", F.col("s").alias("s_a")
    )
    b = comp.select(
        F.col("label").alias("label_b"), "pos", F.col("s").alias("s_b")
    )
    dots = (
        a.join(b, "pos")
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("s_a") * F.col("s_b")).alias("s_ab"))
    )
    diag = dots.filter(F.col("label_a") == F.col("label_b")).select(
        F.col("label_a").alias("label"), F.col("s_ab").alias("s_self")
    )
    da = diag.select(F.col("label").alias("label_a"), F.col("s_self").alias("ss_a"))
    db = diag.select(F.col("label").alias("label_b"), F.col("s_self").alias("ss_b"))
    return (
        dots.filter(F.col("label_a") < F.col("label_b"))
        .join(F.broadcast(da), "label_a")
        .join(F.broadcast(db), "label_b")
        .select(
            "label_a",
            "label_b",
            pround(
                F.col("s_ab").cast("double")
                / (
                    F.sqrt(F.col("ss_a").cast("double"))
                    * F.sqrt(F.col("ss_b").cast("double"))
                ),
                6,
            ).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding calibration stats (n, mean, std, min, max
# per coordinate) — what a scalar-quantizer or clipping pass reads
# first. Values are quantized to 1e-9 fixed point per element (the
# vectors.py convention) so Σq and Σq² are exact integers; mean and
# population std are single double divisions at the end.
# ---------------------------------------------------------------------------

_Q = (
    "CASE WHEN x >= 0 THEN CAST(floor(x * 1000000000.0 + 0.5) AS BIGINT) "
    "ELSE -CAST(floor((-x) * 1000000000.0 + 0.5) AS BIGINT) END"
)


@query(
    "embedding_dim_stats",
    oracle=f"""
WITH ex AS (
  SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
), q AS (
  SELECT dim, x, {_Q} AS qx FROM ex
), g AS (
  SELECT CAST(dim AS BIGINT) AS dim,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(qx AS HUGEINT)) AS HUGEINT) AS sq,
         CAST(sum(CAST(qx AS HUGEINT) * qx) AS HUGEINT) AS sq2,
         min(x) AS mn, max(x) AS mx
  FROM q GROUP BY dim
)
SELECT dim, n,
       {R("CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000.0)", 6)} AS mean,
       {R("sqrt(CAST(n * sq2 - sq * sq AS DOUBLE)) / (CAST(n AS DOUBLE) * 1000000000.0)", 6)} AS std,
       {R("mn", 6)} AS vmin,
       {R("mx", 6)} AS vmax
FROM g
""",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim", "xf")).select(
        F.col("dim").cast("long").alias("dim"), F.col("xf").cast("double").alias("x")
    )
    x = F.col("x")
    qx = (
        F.when(x >= 0, F.floor(x * F.lit(1e9) + F.lit(0.5)))
        .otherwise(-F.floor((-x) * F.lit(1e9) + F.lit(0.5)))
        .cast("long")
    )
    g = ex.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(qx.cast(_DEC)).alias("sq"),
        F.sum((qx * qx).cast(_DEC)).alias("sq2"),
        F.min(x).alias("mn"),
        F.max(x).alias("mx"),
    )
    n_d = F.col("n").cast("double")
    return g.select(
        "dim",
        "n",
        pround(F.col("sq").cast("double") / (n_d * F.lit(1e9)), 6).alias("mean"),
        pround(
            F.sqrt(
                (F.col("n") * F.col("sq2") - F.col("sq") * F.col("sq")).cast("double")
            )
            / (n_d * F.lit(1e9)),
            6,
        ).alias("std"),
        pround(F.col("mn"), 6).alias("vmin"),
        pround(F.col("mx"), 6).alias("vmax"),
    )


# ---------------------------------------------------------------------------
# Scalar-quantization error curve: reconstruct every embedding at
# 4/6/8 bits per dimension (per-dimension min/max ranges — exactly the
# calibration embedding_dim_stats reports) and measure reconstruction
# MSE. Codes are exact integers (floor of identical doubles); each
# element's squared error is re-quantized to 1e-12 fixed point so the
# corpus sum is exact — the bits-vs-quality table is engine-exact.
# Dimension ranges are a 64-row broadcast; everything else is one
# linear pass per bit width.
# ---------------------------------------------------------------------------

_SQ_BITS = (4, 6, 8)


def _sq_err_sql(bits: int) -> str:
    scale = (1 << bits) - 1
    code = (
        f"CAST(floor((CAST(e.embedding[t.i] AS DOUBLE) - r.mn)"
        f" / (r.mx - r.mn) * {scale}.0 + 0.5) AS BIGINT)"
    )
    recon = f"(r.mn + CAST({code} AS DOUBLE) * (r.mx - r.mn) / {scale}.0)"
    d = f"(CAST(e.embedding[t.i] AS DOUBLE) - {recon})"
    return f"CAST(floor({d} * {d} * 1000000000000.0 + 0.5) AS HUGEINT)"


def _sq_oracle() -> str:
    branches = " UNION ALL ".join(
        f"""
SELECT CAST({bits} AS BIGINT) AS bits,
       CAST(count(*) AS BIGINT) AS n_values,
       CAST(sum({_sq_err_sql(bits)}) AS HUGEINT) AS err_pico
FROM embeddings e
CROSS JOIN range(1, 65) t(i)
JOIN rng r ON r.dim = t.i
WHERE r.mx > r.mn"""
        for bits in _SQ_BITS
    )
    return f"""
WITH rng AS (
  SELECT i AS dim, min(CAST(embedding[i] AS DOUBLE)) AS mn,
         max(CAST(embedding[i] AS DOUBLE)) AS mx
  FROM embeddings CROSS JOIN range(1, 65) t(i)
  GROUP BY i
)
SELECT bits, n_values,
       {R("CAST(err_pico AS DOUBLE) / 1000000000000.0 / CAST(n_values AS DOUBLE)", 9)}
         AS mse
FROM ({branches})
ORDER BY bits
"""


@query("embedding_sq_error_curve", oracle=_sq_oracle())
def embedding_sq_error_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim0", "xf")).select(
        (F.col("dim0") + 1).alias("dim"), F.col("xf").cast("double").alias("x")
    )
    rng = ex.groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    base = ex.join(F.broadcast(rng), "dim").filter(F.col("mx") > F.col("mn"))

    outs = []
    for bits in _SQ_BITS:
        scale = float((1 << bits) - 1)
        code = F.floor(
            (F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * F.lit(scale)
            + F.lit(0.5)
        ).cast("long")
        recon = F.col("mn") + code.cast("double") * (
            F.col("mx") - F.col("mn")
        ) / F.lit(scale)
        d = F.col("x") - recon
        err_pico = F.floor(d * d * F.lit(1e12) + F.lit(0.5)).cast(_DEC)
        outs.append(
            base.agg(
                F.lit(bits).cast("long").alias("bits"),
                F.count(F.lit(1)).cast("long").alias("n_values"),
                F.sum(err_pico).alias("err_pico"),
            )
        )
    un = outs[0]
    for o in outs[1:]:
        un = un.unionByName(o)
    return un.select(
        "bits",
        "n_values",
        pround(
            F.col("err_pico").cast("double")
            / F.lit(1e12)
            / F.col("n_values").cast("double"),
            9,
        ).alias("mse"),
    ).orderBy("bits")
