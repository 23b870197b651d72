"""Incremental-load operators: latest revision, upsert (merge) and SCD2
history.

An ETL pipeline's load side needs: keep the newest revision per key,
apply a batch of corrections to a snapshot ("latest wins"), and keep
dimension history as validity ranges. All are single-shuffle window
formulations — no MERGE statement or transactional table format needed
(swap in Delta/Iceberg MERGE INTO on clusters that have it; the
semantics here are identical).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def latest_revision(
    df: DataFrame, series_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """Keep only the most recent revision per series key: the top row
    by `order_cols` (each descending, NULLs last) within each
    `series_cols` partition. One window shuffle on the key — the one
    "latest value wins" primitive every merge below reduces to."""
    w = W.partitionBy(*series_cols).orderBy(*[F.desc(c) for c in order_cols])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def _tagged(base: DataFrame, updates: DataFrame) -> DataFrame:
    """`base` ∪ `updates` tagged `__src` = 0 / 1; one-sided columns fill NULL."""
    return base.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1)), allowMissingColumns=True
    )


def upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_col: str | None = None,
) -> DataFrame:
    """Latest-wins merge: rows from `updates` replace same-key rows in
    `base`; unmatched update rows are inserts. One shuffle on the key.
    If `order_col` is given it breaks ties among multiple updates for
    the same key (highest wins).

    Schema evolution: columns present on only one side are allowed
    (allowMissingColumns) — the other side fills NULL, mirroring
    Delta/Iceberg MERGE with automatic schema evolution. A batch that
    ADDS a column therefore merges cleanly; prior rows carry NULL."""
    order = ["__src"] + ([order_col] if order_col else [])
    return latest_revision(_tagged(base, updates), keys, order).drop("__src")


def merge_latest_by(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_col: str,
) -> DataFrame:
    """Out-of-order-tolerant merge: for each key the row with the
    HIGHEST order_col wins regardless of which side it came from —
    unlike `upsert`, where updates always beat base. This is the CDC
    shape when change events can arrive across micro-batches out of
    order: a late-arriving OLDER revision must not overwrite a newer
    one already merged. Ties on order_col fall to the update side.
    One shuffle on the key; allowMissingColumns as in upsert."""
    return latest_revision(_tagged(base, updates), keys, [order_col, "__src"]).drop("__src")


def scd2_history(
    df: DataFrame,
    keys: Sequence[str],
    effective_col: str,
    open_end_value: str = "9999-12-31",
) -> DataFrame:
    """Type-2 slowly-changing history: each (key, effective_date) version
    gets [valid_from, valid_to) where valid_to is the next version's
    effective date (open-ended for the current version)."""
    keys = list(keys)
    w = W.partitionBy(*keys).orderBy(effective_col)
    nxt = F.lead(effective_col).over(w)
    return df.withColumn("valid_from", F.col(effective_col)).withColumn(
        "valid_to", F.coalesce(nxt, F.lit(open_end_value))
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """CDC between two snapshots: one row per changed key with
    change_type ∈ {insert, delete, update}. Null-safe comparison on
    `compare_cols` (default: all shared non-key columns), so NULL→value
    and value→NULL both count as updates. One full-outer join on the
    key — the standard snapshot-diff shape when the source has no
    change log."""
    keys = list(keys)
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in keys]
    # Presence markers instead of key-null checks: keys join null-safely
    # (NULL is a key value), so a NULL key no longer signals "side absent".
    o = old.select(keys + list(compare_cols)).withColumn(
        "__o_present", F.lit(True)
    ).alias("o")
    n = new.select(keys + list(compare_cols)).withColumn(
        "__n_present", F.lit(True)
    ).alias("n")
    cond = None
    for k in keys:
        eq = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = eq if cond is None else cond & eq
    joined = o.join(n, cond, "full_outer")
    changed = None
    for c in compare_cols:
        ne = ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        changed = ne if changed is None else changed | ne
    change_type = (
        F.when(F.col("__o_present").isNull(), "insert")
        .when(F.col("__n_present").isNull(), "delete")
        .when(changed if changed is not None else F.lit(False), "update")
    )
    out_keys = [F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in keys]
    return (
        joined.withColumn("change_type", change_type)
        .filter(F.col("change_type").isNotNull())
        .select(*out_keys, "change_type")
    )
