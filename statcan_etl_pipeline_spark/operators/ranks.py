"""Two-pass exact global ranking without a single-partition sort.

A plain `row_number().over(Window.orderBy(...))` moves the WHOLE input
into one partition — the classic scale-killer on a fact table. The
two-pass formulation reproduces the exact same ranks with every window
bounded:

1. integer range-banding off a 1-row broadcast min/max aggregate —
   band index MONOTONE DESC in the metric, so equal values always
   share a band and a lower band index means a strictly ≥ metric;
2. `row_number` within each band (partition-bounded window) ordered by
   (metric DESC, tie ASC);
3. an exclusive prefix-sum offset over the ≤ n_bands-row band census
   (a bounded single-partition window), broadcast back.

global_rank = band_offset + in-band row_number — bit-identical to the
global sort. Used by doc_rrf_quality_fusion (queries/curation.py); the
equivalence is property-pinned on adversarial distributions in
tests/test_operators.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def two_pass_desc_ranks(
    df: DataFrame,
    metrics: list[tuple[str, str]],
    tie_col: str,
    n_bands: int = 256,
) -> DataFrame:
    """Add one exact global DESC-rank column per (metric_col, out_col)
    in `metrics`, tie-broken ascending on `tie_col`. All metric columns
    must be integral (the banding arithmetic is exact integer math so a
    DuckDB oracle can mirror it when needed); the band expression casts
    to BIGINT internally, so any integral width is safe as long as the
    metric's value RANGE (max - min) stays below ~int64_max / n_bands
    (≈3.6e16 at 256 bands) — an IntegerType metric can never overflow.
    NULL metrics are routed to a sentinel band past the last real one
    and so rank LAST (tie-broken ascending), bit-identical to the
    global `row_number() over (order by m desc, tie asc)` reference,
    whose `desc` is nulls-last. Empty input yields empty output; a
    constant metric degenerates to a single band (correct, but as
    unbounded as the data is skewed — the caller picks metrics with
    spread)."""
    bounds = df.agg(
        *[
            a
            for m, _ in metrics
            for a in (F.min(m).alias(f"mn_{m}"), F.max(m).alias(f"mx_{m}"))
        ]
    )
    out = df.crossJoin(F.broadcast(bounds))
    for m, _ in metrics:
        # coalesce: the band expr is NULL exactly when the metric is
        # NULL (min/max ignore nulls, so mx/mn are non-null whenever
        # any metric value exists; all-null degenerates to one
        # sentinel band) — nulls land past band n_bands - 1 and the
        # in-band tie order alone ranks them, matching desc-nulls-last
        out = out.withColumn(
            f"band_{m}",
            F.coalesce(
                F.expr(
                    f"((cast(mx_{m} as bigint) - cast({m} as bigint)) * {n_bands})"
                    f" div (cast(mx_{m} as bigint) - cast(mn_{m} as bigint) + 1)"
                ).cast("int"),
                F.lit(n_bands),
            ),
        )
    for m, r in metrics:
        band = f"band_{m}"
        counts = out.groupBy(band).agg(F.count(F.lit(1)).cast("long").alias("n"))
        # exclusive prefix over the <= n_bands-row band census — bounded
        woff = W.orderBy(band).rowsBetween(W.unboundedPreceding, -1)
        offsets = counts.select(
            band,
            F.coalesce(F.sum("n").over(woff), F.lit(0)).cast("long").alias("off"),
        )
        win = W.partitionBy(band).orderBy(F.desc(m), F.asc(tie_col))
        out = (
            out.join(F.broadcast(offsets), band)
            .withColumn(r, (F.col("off") + F.row_number().over(win)).cast("int"))
            .drop("off")
        )
    return out.drop(
        *[f"band_{m}" for m, _ in metrics],
        *[c for m, _ in metrics for c in (f"mn_{m}", f"mx_{m}")],
    )
