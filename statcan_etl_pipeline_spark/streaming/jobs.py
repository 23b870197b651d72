"""Structured Streaming jobs over the `events` stream shape.

Batch/stream parity by construction: the streaming aggregations reuse
the same column expressions as their batch twins
(queries/temporal.events_tumbling_1h, operators/temporal.sessionize),
so `availableNow` runs produce identical results to the batch query —
asserted in tests/test_streaming.py.

Scale notes: watermarks bound the state store (without one, windowed
state grows forever); `session_window` keeps session state per key and
evicts on watermark; sink is `memory` only in tests — production uses
kafka/parquet sinks with checkpointing.

The foreachBatch sinks (`merge_batch` latest-wins MERGE,
`incremental_agg_batch` additive running aggregate, `scd2_batch` SCD2
history) differ only in their fold. All of them run under one runner,
`run_foreach_batch`, and commit through one versioned-commit protocol,
`_commit_version`: immutable `v{batch_id}` version dirs, `_SUCCESS` as
the commit record, a strictly-older base, replayed batches skipped, old
versions garbage-collected. One reader, `read_merge_target(..., version)`,
reads the latest committed version or any retained one (time travel).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import stream_table
from ..functions.portable import cents, money_sum
from ..operators.incremental import latest_revision, merge_latest_by, scd2_history, upsert


def events_stream(spark: SparkSession, sf_dir: str, source_dir: str) -> DataFrame:
    """File-based stream of the parquet files in `source_dir` (one file =
    one micro-batch source), read with the `events` table's schema."""
    return stream_table(spark, sf_dir, "events", source_dir)


def windowed_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1-hour counts/sums by event type."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), money_sum("value").alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Gap-based session aggregation with the state-store-backed
    `session_window` (the streaming twin of operators.temporal.sessionize)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("start_ts"), F.col("w.end").alias("end_ts"), "n_events")
    )


def purchases_after_views(stream: DataFrame, how: str = "inner", watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: purchases joined (`how`) to same-user
    views in the preceding hour. Watermarks on BOTH sides + the
    time-range predicate bound the join state (without them,
    stream-stream joins buffer forever).

    `how="leftOuter"` emits every purchase, with NULL view columns when
    no view matched. An outer row can only be emitted once the
    watermark proves no matching view can still arrive, so unmatched
    rows arrive LATE (watermark-delayed) while matched rows do not:
    the semantic difference a pipeline must plan for vs the inner
    join."""
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("v_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", watermark)
    )
    return purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") < F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        how,
    ).select("purchase_id", "view_id", F.col("p_user").alias("user_id"))


def run_available_now(
    df: DataFrame, query_name: str, output_mode: str = "complete"
) -> None:
    """Drain the whole source as a finite stream into an in-memory table
    named `query_name`, blocking until done.

    `output_mode` defaults to 'complete' (aggregation streams); pass
    'append' for non-aggregation streams (stream-stream joins) or
    'update' for applyInPandasWithState-style stateful operators —
    'complete' raises AnalysisException for those plans.
    """
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def deduped_stream(
    stream: DataFrame,
    keys: list[str],
    event_time_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    keeps each key only until the watermark passes it, so the state
    store stays O(keys-per-watermark-window) instead of O(all keys ever)
    — plain dropDuplicates on a stream grows state forever, which is the
    classic 100-TB streaming-dedup failure mode."""
    return (
        stream.withWatermark(event_time_col, watermark)
        .dropDuplicatesWithinWatermark(keys)
    )


def _committed_versions(spark, target_path: str) -> list[str]:
    """Version dirs under `target_path` that finished their write (the
    `_SUCCESS` marker — written LAST by Spark's commit protocol — is the
    commit record). Sorted ascending; zero-padded names make the
    lexicographic max the numeric max."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(target_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v") and fs.exists(
            jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
        ):
            out.append(name)
    return sorted(out)


def read_merge_target(spark, target_path: str, version: str | None = None) -> DataFrame:
    """Read committed version `version` (e.g. "v0000000003") of a
    versioned foreachBatch target, or the latest committed version when
    `version` is None. TIME TRAVEL: every version stays readable until
    `_gc_versions` prunes it. Raises FileNotFoundError when that version
    is not committed, or when nothing is committed yet."""
    versions = _committed_versions(spark, target_path)
    if version is None and versions:
        version = versions[-1]
    if version not in versions:
        raise FileNotFoundError(f"version {version or 'latest'!r} not committed under {target_path}")
    return spark.read.parquet(f"{target_path}/{version}")


def _commit_version(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    fold: Callable[[DataFrame | None], DataFrame],
    keep: int = 2,
) -> bool:
    """The one versioned-commit protocol of the foreachBatch sinks.
    Micro-batch N writes `fold(base)` as a NEW immutable version dir
    `{target}/v{N}` (zero-padded), where `base` is the newest committed
    version strictly older than v{N} (None if there is none), then
    keeps only the newest `keep` committed versions. Returns False,
    writing nothing, if v{N} had already committed (checkpoint replay).

    Replay safety (ADVICE r3): the base is resolved ONLY from versions
    strictly OLDER than v{N}. Resolving "latest" would, on replay of an
    already-committed batch, pick v{N} itself and then overwrite it in
    place — Spark's overwrite deletes the target before the (lazy) read
    finishes, so a crash mid-rewrite destroys the newest committed
    version. With the strict-older rule a committed batch is a pure
    no-op (additive folds never double-count) and an uncommitted one —
    a half-written v{N} without `_SUCCESS` — folds from the same base
    it would have used the first time."""
    spark = batch_df.sparkSession
    vname = f"v{batch_id:010d}"
    # Resolve from committed versions only — a bare try/except read of
    # the target would treat a TRANSIENT failure as "no target yet" and
    # silently restart history.
    versions = _committed_versions(spark, target_path)
    if vname in versions:
        return False  # replay of a committed batch: already folded in
    older = [v for v in versions if v < vname]
    base = spark.read.parquet(f"{target_path}/{older[-1]}") if older else None
    fold(base).write.mode("overwrite").parquet(f"{target_path}/{vname}")
    _gc_versions(spark, target_path, keep=keep)
    return True


def run_foreach_batch(
    df: DataFrame, fn: Callable[[DataFrame, int], object], checkpoint_dir: str
) -> None:
    """Run `fn(batch_df, batch_id)` on every micro-batch of `df` until
    the source is drained (availableNow), blocking. The checkpoint's
    offset log is what replays an interrupted batch under the same id.

    foreachBatch hands each micro-batch to arbitrary BATCH code, which
    is how Structured Streaming reaches sinks the streaming API can't
    express (MERGE, multi-table fan-out, JDBC upserts). The versioned
    sinks are per-batch functions bound with `functools.partial`:

        run_foreach_batch(stream, partial(merge_batch, target_path=t,
                          keys=["user_id"], order_col="event_id"), ckpt)

    likewise `incremental_agg_batch` (running aggregate) and
    `scd2_batch` (SCD2 history). Each batch commits a new immutable
    version through `_commit_version` and `read_merge_target` resolves
    the latest committed one, so a crash loses at most the in-flight
    version and a replayed committed batch is skipped. A real lakehouse
    table (Delta/Iceberg `MERGE INTO`) would replace this whole
    mechanism with one transaction; the upsert semantics are identical
    (operators/incremental.upsert)."""
    q = (
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def merge_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    keys: list[str],
    order_col: str,
    retain_versions: int = 2,
) -> bool:
    """Merge ONE micro-batch latest-wins into the versioned parquet
    target; returns True if a new version was written, False if the
    batch was already committed (checkpoint replay) and the merge was
    skipped. Within the batch the highest `order_col` wins per key;
    the batch then beats the base (`upsert`). Versioning and replay
    safety: `_commit_version`."""

    def fold(base: DataFrame | None) -> DataFrame:
        latest = latest_revision(batch_df, keys, [order_col])
        return latest if base is None else upsert(base, latest, keys=keys, order_col=order_col)

    return _commit_version(batch_df, batch_id, target_path, fold, keep=retain_versions)


def _gc_versions(spark, target_path: str, keep: int = 2) -> None:
    """VACUUM: drop all but the newest `keep` committed versions.
    `keep` is the retention policy — it must be >= 2 in production
    (the extra one covers readers mid-resolve) and bounds time-travel
    depth: `read_merge_target` can resolve any retained version, so a
    larger `keep` trades storage for history. keep < 1 is refused
    (it would delete the current version)."""
    if keep < 1:
        raise ValueError(f"retain_versions must be >= 1, got {keep}")
    jvm = spark._jvm
    for old in _committed_versions(spark, target_path)[:-keep]:
        hpath = jvm.org.apache.hadoop.fs.Path(f"{target_path}/{old}")
        hpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(hpath, True)


def enriched_stream(
    stream: DataFrame, dim: DataFrame, key: str = "user_id", how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join: attach a (small) dimension table
    to every event as it streams through. The static side is read once
    per micro-batch and broadcast — no stream state at all, unlike
    stream-stream joins — which is why enrichment against a dimension
    should NEVER be expressed as a stream-stream join (that would
    buffer the stream in the state store for no reason). At scale the
    dimension refresh cadence = micro-batch cadence; for slowly
    changing dims snapshot the dim table per batch via foreachBatch."""
    return stream.join(F.broadcast(dim), key, how)


def incremental_agg_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    group_col: str = "event_type",
    value_col: str = "value",
) -> bool:
    """Fold ONE micro-batch's partial aggregate into a versioned
    running-aggregate table (incremental materialized view): the
    ADDITIVE complement of `merge_batch`'s latest-wins upsert. Returns
    False (no-op) when the batch already committed — additive state is
    where replay idempotency matters most, since re-applying a batch
    would silently double-count.

    Scale shape: the stream side reduces to |groups| rows per batch
    BEFORE touching the base (map-side partial aggregation inside the
    micro-batch), and the base merge is a full-outer join on the group
    key between two |groups|-sized tables — the raw stream never joins
    the base. Versioning and replay safety: `_commit_version`."""
    # State keeps the EXACT integer-cents sum (BIGINT): adding already
    # divided doubles batch-by-batch would drift by an ulp per merge
    # and diverge from the from-scratch batch aggregate. Divide on read.
    part = batch_df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents(value_col)).cast("long").alias("sum_cents"),
    )

    def add(a: str, b: str):
        return F.coalesce(F.col(a), F.lit(0)) + F.coalesce(F.col(b), F.lit(0))

    def fold(base: DataFrame | None) -> DataFrame:
        if base is None:
            return part
        return (
            base.select(group_col, F.col("n").alias("__bn"), F.col("sum_cents").alias("__bs"))
            .join(part, group_col, "full_outer")
            .select(
                group_col,
                add("__bn", "n").alias("n"),
                add("__bs", "sum_cents").cast("long").alias("sum_cents"),
            )
        )

    return _commit_version(batch_df, batch_id, target_path, fold)


def chained_windowed_max(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Two stacked stateful window aggregations in ONE streaming query
    (Spark 3.4+ chained time-window aggregation): 15-minute tumbling
    counts per event type, then the hourly max/sum OF those counts via
    `window(window_time(...))`. Both operators share the watermark, so
    state for both tiers is bounded — the pattern for multi-resolution
    rollups without an intermediate sink.

    Run in APPEND mode: the downstream aggregation consumes a window
    only once its upstream window is finalized by the watermark, so
    hourly rows whose hour hasn't passed the final watermark are
    retained in state, not emitted (Spark rejects 'complete' here via
    the global-watermark correctness check)."""
    q15 = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "15 minutes").alias("w15"), "event_type")
        .agg(F.count(F.lit(1)).alias("n15"))
    )
    return (
        q15.groupBy(F.window(F.window_time("w15"), "1 hour").alias("w1h"), "event_type")
        .agg(F.max("n15").alias("max_15m_n"), F.sum("n15").alias("n_total"))
        .select(
            F.date_format("w1h.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            "max_15m_n",
            "n_total",
        )
    )


def table_history(spark, target_path: str) -> DataFrame:
    """Table-format-style history listing for a versioned MERGE target:
    one row per committed version with its row count — the audit
    surface (what did the table look like after batch N?)."""
    rows = [
        (v, int(v[1:]), spark.read.parquet(f"{target_path}/{v}").count())
        for v in _committed_versions(spark, target_path)
    ]
    return spark.createDataFrame(rows, "version string, batch_id long, n_rows long")


def scd2_batch(
    batch_df: DataFrame,
    batch_id: int,
    target_path: str,
    key_col: str = "user_id",
    effective_col: str = "ref_date",
    value_col: str = "value",
    order_col: str | None = None,
    open_end_value: str = "9999-12-31",
) -> bool:
    """Incrementally maintain an SCD2 dimension-history table from ONE
    micro-batch: validity ranges are recomputed ONLY for keys present
    in the batch; untouched keys' history rows pass through verbatim.
    That is the incremental property that matters at scale — a 100 TB
    dimension's history can't be re-derived from scratch per
    micro-batch, and with per-key recompute the work per batch is
    O(batch keys × their versions), independent of dimension size.

    State layout: the versioned target holds the HISTORY table (one
    row per (key, effective) version with valid_from/valid_to). A new
    batch folds in as: distinct (key, effective, value) union of the
    affected keys' existing versions + the batch rows, re-windowed by
    operators.incremental.scd2_history. Latest-wins on duplicate
    (key, effective). Versioning and replay safety: `_commit_version`."""
    fresh_cols = [key_col, effective_col, value_col]
    if order_col and order_col not in fresh_cols:
        fresh_cols.append(order_col)  # tie-break among same-batch updates
    fresh = batch_df.select(*fresh_cols)
    version_keys = [key_col, effective_col]
    touched = fresh.select(key_col).distinct()

    def fold(base: DataFrame | None) -> DataFrame:
        if base is None:
            merged = (
                latest_revision(fresh, version_keys, [order_col])
                if order_col
                else fresh.dropDuplicates(version_keys)
            )
        else:
            # the history PERSISTS order_col so cross-batch conflicts
            # resolve by the data's own ordering (true latest-wins), not
            # by micro-batch arrival order — a late-arriving older
            # revision must NOT overwrite a newer one merged in a prior
            # batch (see merge_latest_by)
            affected_versions = base.join(touched, key_col, "left_semi").select(*fresh_cols)
            merged = (
                merge_latest_by(affected_versions, fresh, keys=version_keys, order_col=order_col)
                if order_col
                else upsert(affected_versions, fresh, keys=version_keys)
            )
        rebuilt = scd2_history(
            merged, keys=[key_col], effective_col=effective_col,
            open_end_value=open_end_value,
        ).select(*fresh_cols, "valid_from", "valid_to")
        if base is None:
            return rebuilt
        return base.join(touched, key_col, "left_anti").unionByName(rebuilt)

    return _commit_version(batch_df, batch_id, target_path, fold)
