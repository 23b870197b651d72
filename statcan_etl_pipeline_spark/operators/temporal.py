"""Temporal / ordered operators: as-of join, sessionization, tumbling windows.

Spark has no built-in as-of join; the classic MPP-friendly formulation
is union-the-sides + carry-forward-last-match inside a keyed window.
That costs ONE shuffle on (key) and a per-partition sort — the same
cost profile as a sort-merge join, and it never materializes the O(n·m)
inequality-join intermediate. At 100 TB this is the difference between
"runs" and "doesn't".
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def _asof_union(
    left: DataFrame, right: DataFrame, on: list[str], left_ts: str, right_ts: str
) -> tuple[DataFrame, list[str], list[str]]:
    """The one union every as-of direction carries over: right rows
    (``__src`` = 0) hold their payload as the struct ``__rv`` (right_ts
    first), left rows (``__src`` = 1) a NULL ``__rv`` plus their own
    columns. Returns (union, left payload columns, right payload
    columns)."""
    lcols = [c for c in left.columns if c not in on and c != left_ts]
    rcols = [c for c in right.columns if c not in on and c != right_ts]
    rsel = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__src"),
        F.struct(*[F.col(c) for c in [right_ts, *rcols]]).alias("__rv"),
    )
    null_rv = F.lit(None).cast(rsel.schema["__rv"].dataType)
    lsel = left.select(
        *on,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__src"),
        null_rv.alias("__rv"),
        *[F.col(c) for c in lcols],
    )
    rsel = rsel.select(
        *on,
        "__ts",
        "__src",
        "__rv",
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
    )
    return lsel.unionByName(rsel), lcols, rcols


def _carry_backward(on: list[str]) -> Column:
    """Last right row at or before each row's timestamp: right rows
    (src=0) sort BEFORE same-ts left rows so the (-inf, current] frame
    sees exact-timestamp matches; same-ts right rows resolve to the
    greatest struct."""
    w = (
        W.partitionBy(*on)
        .orderBy(F.asc("__ts"), F.asc("__src"), F.asc_nulls_first("__rv"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return F.last("__rv", ignorenulls=True).over(w)


def _carry_forward(on: list[str]) -> Column:
    """First right row at or after each row's timestamp: left rows
    (src=1) sort BEFORE same-ts right rows so the [current, +inf) frame
    sees exact-timestamp matches; same-ts right rows resolve to the
    smallest struct."""
    w = (
        W.partitionBy(*on)
        .orderBy(F.asc("__ts"), F.desc("__src"), F.asc_nulls_first("__rv"))
        .rowsBetween(0, W.unboundedFollowing)
    )
    return F.first("__rv", ignorenulls=True).over(w)


def _asof_select(
    carried: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    lcols: list[str],
    rcols: list[str],
    right_prefix: str,
) -> DataFrame:
    """Keep the left rows of a carried union and unpack their ``__match``
    struct into prefixed right columns."""
    return carried.filter(F.col("__src") == 1).select(
        *on,
        F.col("__ts").alias(left_ts),
        *[F.col(c) for c in lcols],
        F.col(f"__match.{right_ts}").alias(f"{right_prefix}{right_ts}"),
        *[F.col(f"__match.{c}").alias(f"{right_prefix}{c}") for c in rcols],
    )


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_prefix: str = "matched_",
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right_ts <= left_ts`` within the same ``on`` key (backward as-of).

    Right rows at the exact left timestamp DO match. Ties among right
    rows at the same timestamp resolve to the greatest right row
    (struct-lexicographic) — deterministic.
    """
    on = list(on)
    unioned, lcols, rcols = _asof_union(left, right, on, left_ts, right_ts)
    carried = unioned.withColumn("__match", _carry_backward(on))
    return _asof_select(carried, on, left_ts, right_ts, lcols, rcols, right_prefix)


def sessionize(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap_seconds: int = 1800,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the previous event of the same key exceeds ``gap_seconds``. Adds a
    1-based ``session_id`` per key. Gap math is integer microseconds —
    portable across engines (no float truncation ambiguity)."""
    w = W.partitionBy(key).orderBy(ts, *tiebreak)
    # cast: unix_micros rejects TIMESTAMP_NTZ (Spark 4 parquet default);
    # with session TZ = UTC the cast is value-preserving and a no-op on
    # already-TIMESTAMP input
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    prev = F.lag(us).over(w)
    new_session = F.when(
        prev.isNull() | ((us - prev) > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    return df.withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long"),
    )


def tumbling_window(df: DataFrame, ts: str, duration: str = "1 hour") -> Column:
    """Epoch-aligned tumbling window start for grouping (batch parity of
    the Structured Streaming `window()` aggregation)."""
    return F.window(F.col(ts), duration)["start"]


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_prefix: str = "matched_",
) -> DataFrame:
    """For each left row, attach the EARLIEST right row with
    ``right_ts >= left_ts`` within the same ``on`` key (forward as-of —
    pandas merge_asof(direction='forward') semantics).

    Right rows at the exact left timestamp DO match. Ties among right
    rows at the same timestamp resolve to the smallest right row
    (struct-lexicographic) — deterministic. Same single-shuffle
    union + carry formulation as the backward variant (no inequality
    join blowup).
    """
    on = list(on)
    unioned, lcols, rcols = _asof_union(left, right, on, left_ts, right_ts)
    carried = unioned.withColumn("__match", _carry_forward(on))
    return _asof_select(carried, on, left_ts, right_ts, lcols, rcols, right_prefix)


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_prefix: str = "matched_",
) -> DataFrame:
    """For each left row, attach the CLOSEST right row in time within
    the same key (pandas merge_asof(direction='nearest')); exact ties
    prefer the backward (earlier-or-equal) match. Both the backward and
    the forward match are carried over ONE union — the two windows share
    the partitioning, so Catalyst plans one exchange + two sorts — and
    each left row picks between them in place, with no join, so
    duplicated left rows stay one output row each."""
    on = list(on)
    unioned, lcols, rcols = _asof_union(left, right, on, left_ts, right_ts)
    b, f = F.col("__b"), F.col("__f")
    b_ts, f_ts = b[right_ts], f[right_ts]
    # microsecond precision: whole-second unix_timestamp would misrank
    # sub-second gaps (and the events testdata carries nanos); cast
    # guards against TIMESTAMP_NTZ input (Spark 4 parquet default)
    lt_us = F.unix_micros(F.col("__ts").cast("timestamp"))
    take_back = F.when(b_ts.isNull(), F.lit(False)).otherwise(
        f_ts.isNull()
        | (
            lt_us - F.unix_micros(b_ts.cast("timestamp"))
            <= F.unix_micros(f_ts.cast("timestamp")) - lt_us
        )
    )
    carried = (
        unioned.withColumn("__b", _carry_backward(on))
        .withColumn("__f", _carry_forward(on))
        .withColumn("__match", F.when(take_back, b).otherwise(f))
    )
    return _asof_select(carried, on, left_ts, right_ts, lcols, rcols, right_prefix)
