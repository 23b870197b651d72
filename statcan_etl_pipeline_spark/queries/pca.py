"""Distributed PCA (top principal component) by power iteration —
the dimensionality/variance probe of an embedding-curation pipeline.

Spark-first shape: the d×d covariance matrix is NEVER materialized.
Each power-iteration step needs only S·v = Σ_rows q·(q·v), i.e. one
broadcast dot product per row (s = q·v, exact int64 fixed point)
followed by a d-key component-sum shuffle (Σ q_i·s in
DECIMAL(38,0)) — the same matrix-free structure Spark MLlib uses for
its RowMatrix power methods, linear in rows with only d-wide
fan-out (never d²).

Cross-engine exactness: per-dimension means are portably rounded
(micro-unit integer sums, one division, 6-dp round), centered values
are re-quantized to 1e-6 fixed point (exact ints), and the iteration
vector is re-quantized to micro units after each max-abs
normalization — so every s, every component sum, and every division
input is identical in both engines. The DuckDB oracle unrolls the
SAME three iterations as CTEs (the k-means precedent).

Driver state is ONE d-vector of doubles per iteration (collect of a
64-row aggregate) — O(d), independent of corpus size.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import SQL_EXACT_INT as _DEC, pround, sql_round as R
from ..registry import query

_DIM = 64
_ITERS = 3


def _round6(x: float) -> float:
    """Python twin of pround(·, 6): floor(x·1e6 + 0.5)/1e6, sign-aware."""
    if x >= 0:
        return math.floor(x * 1e6 + 0.5) / 1e6
    return -(math.floor(-x * 1e6 + 0.5) / 1e6)


def _micro(x: float) -> int:
    """Python twin of the 1e-6 fixed-point quantizer."""
    if x >= 0:
        return int(math.floor(x * 1e6 + 0.5))
    return -int(math.floor(-x * 1e6 + 0.5))


def _qfix(col):  # Spark twin of _micro on a double Column
    return (
        F.when(col >= 0, F.floor(col * F.lit(1e6) + F.lit(0.5)))
        .otherwise(-F.floor((-col) * F.lit(1e6) + F.lit(0.5)))
        .cast("long")
    )


_SQL_MEAN_MICRO = (
    "CASE WHEN CAST(embedding[i] AS DOUBLE) >= 0 "
    "THEN CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) "
    "ELSE -CAST(floor(-CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) END"
)

_SQL_CQ = (
    "list_transform(range(1, 65), i -> "
    "CASE WHEN (CAST(embedding[i] AS DOUBLE) - ml[i]) >= 0 "
    "THEN CAST(floor((CAST(embedding[i] AS DOUBLE) - ml[i]) * 1000000.0 + 0.5) AS BIGINT) "
    "ELSE -CAST(floor(-(CAST(embedding[i] AS DOUBLE) - ml[i]) * 1000000.0 + 0.5) AS BIGINT) END)"
)


def _pca_oracle() -> str:
    """Unrolled 3-iteration power-method oracle (v0 = e_1)."""
    v0 = "[" + ", ".join(["1000000"] + ["0"] * (_DIM - 1)) + "]"
    parts = [
        f"""
WITH cm AS (
  SELECT i AS pos,
         {R("CAST(sum(" + _SQL_MEAN_MICRO + ") AS DOUBLE) / 1000000.0"
            " / CAST(count(*) AS DOUBLE)", 6)} AS m
  FROM embeddings CROSS JOIN range(1, 65) t(i)
  GROUP BY i
), cml AS (
  SELECT list(m ORDER BY pos) AS ml FROM cm
), cq AS (
  SELECT vec_id, {_SQL_CQ} AS q FROM embeddings, cml
), v1l AS (SELECT CAST({v0} AS BIGINT[]) AS vl)"""
    ]
    prev = "v1l"
    for it in range(1, _ITERS + 1):
        nxt = f"v{it + 1}l"
        parts.append(
            f""", s{it} AS (
  SELECT vec_id, q,
         CAST(list_sum(list_transform(range(1, 65), i -> q[i] * vl[i])) AS BIGINT) AS s
  FROM cq, {prev}
), w{it} AS (
  SELECT i AS pos, CAST(sum(CAST(q[i] AS HUGEINT) * s) AS HUGEINT) AS w
  FROM s{it} CROSS JOIN range(1, 65) t(i)
  GROUP BY i
), mx{it} AS (
  SELECT max(abs(CAST(w AS DOUBLE))) AS mxw FROM w{it}
), n{it} AS (
  SELECT pos, {R("CAST(w AS DOUBLE) / (SELECT mxw FROM mx" + str(it) + ")", 6)} AS nv
  FROM w{it}
), {nxt} AS (
  SELECT list(CASE WHEN nv >= 0
                   THEN CAST(floor(nv * 1000000.0 + 0.5) AS BIGINT)
                   ELSE -CAST(floor(-nv * 1000000.0 + 0.5) AS BIGINT) END
              ORDER BY pos) AS vl
  FROM n{it}
)"""
        )
        prev = nxt
    last = _ITERS
    parts.append(
        f""", fin AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(range(1, 65), i -> q[i] * vl[i])) AS BIGINT) AS s
  FROM cq, {prev}
), eig AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(s AS HUGEINT) * s) AS HUGEINT) AS ss
  FROM fin
), vv AS (
  SELECT CAST(list_sum(list_transform(vl, x -> x * x)) AS DOUBLE) AS vv2 FROM {prev}
)
SELECT CAST(n{last}.pos - 1 AS BIGINT) AS dim,
       {R("n" + str(last) + ".nv", 6)} AS loading,
       {R("CAST(eig.ss AS DOUBLE) / CAST(eig.n AS DOUBLE) / vv.vv2 / 1000000000000.0", 6)} AS eigval
FROM n{last}, eig, vv
ORDER BY dim"""
    )
    return "".join(parts)


@query("embedding_pca_top_component", oracle=_pca_oracle())
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # pass 0: portably-rounded per-dimension means (driver gets 64 doubles)
    mean_micro = _qfix(F.col("v").cast("double"))
    cm_rows = (
        emb.select(F.posexplode("embedding").alias("pos0", "v"))
        .select("pos0", mean_micro.alias("micro"))
        .groupBy("pos0")
        .agg(
            pround(
                F.sum("micro").cast("double") / F.lit(1e6) / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("m")
        )
        .collect()
    )
    cm = [0.0] * _DIM
    for r in cm_rows:
        cm[int(r["pos0"])] = float(r["m"])

    cm_arr = F.array(*[F.lit(float(x)) for x in cm])
    cq = F.zip_with(
        F.col("embedding"), cm_arr, lambda x, m: _qfix(x.cast("double") - m)
    )
    rows = emb.select(cq.alias("q"))

    v_mic = [1_000_000] + [0] * (_DIM - 1)  # v0 = e_1 in micro units
    nv = None
    for _ in range(_ITERS):
        vm_arr = F.array(*[F.lit(int(m)) for m in v_mic])
        s_col = F.aggregate(
            F.zip_with(F.col("q"), vm_arr, lambda q, w: q * w),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        with_s = rows.select("q", s_col.alias("s"))
        w_rows = (
            with_s.select(F.posexplode("q").alias("pos0", "qi"), "s")
            .groupBy("pos0")
            .agg(F.sum(F.col("qi").cast(_DEC) * F.col("s").cast(_DEC)).alias("w"))
            .collect()
        )
        w = [0.0] * _DIM
        for r in w_rows:
            w[int(r["pos0"])] = float(r["w"])
        mxw = max(abs(x) for x in w)
        nv = [_round6(x / mxw) for x in w]
        v_mic = [_micro(x) for x in nv]

    # final pass: Rayleigh-quotient eigenvalue with the converged vector
    vm_arr = F.array(*[F.lit(int(m)) for m in v_mic])
    s_col = F.aggregate(
        F.zip_with(F.col("q"), vm_arr, lambda q, w: q * w),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    eig = rows.select(s_col.alias("s")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("s").cast(_DEC) * F.col("s").cast(_DEC)).alias("ss"),
    )
    vv2 = float(sum(m * m for m in v_mic))
    loadings = spark.createDataFrame(
        [(int(i), float(nv[i])) for i in range(_DIM)], "dim long, loading double"
    )
    return loadings.crossJoin(F.broadcast(eig)).select(
        "dim",
        pround(F.col("loading"), 6).alias("loading"),
        pround(
            F.col("ss").cast("double")
            / F.col("n").cast("double")
            / F.lit(vv2)
            / F.lit(1e12),
            6,
        ).alias("eigval"),
    )
