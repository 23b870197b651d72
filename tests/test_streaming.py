"""Streaming/batch parity: the availableNow streaming run must equal the
batch twin on the same events data."""

from __future__ import annotations

from functools import partial

import pytest
from pyspark.sql import functions as F

from statcan_etl_pipeline_spark.catalog import load_table, table_path
from statcan_etl_pipeline_spark.operators.temporal import sessionize
from statcan_etl_pipeline_spark.registry import QUERIES
from statcan_etl_pipeline_spark.streaming.jobs import (
    events_stream,
    incremental_agg_batch,
    merge_batch,
    read_merge_target,
    run_available_now,
    run_foreach_batch,
    scd2_batch,
    session_counts,
    windowed_counts,
)


def _stream(spark, sf_dir, tmp_path, copies=1):
    """Events file stream over `copies` symlinks to the events file (a
    file-stream source reads a directory; each file is one source)."""
    d = tmp_path / "events_stream"
    d.mkdir()
    for i in range(copies):
        (d / f"events_{i}.parquet").symlink_to(table_path(sf_dir, "events"))
    return events_stream(spark, sf_dir, str(d))


def test_windowed_counts_parity(spark, sf_small, tmp_path):
    stream = _stream(spark, sf_small, tmp_path)
    run_available_now(windowed_counts(stream), "stream_tumbling")
    got = {
        tuple(r)
        for r in spark.table("stream_tumbling")
        .select("bucket_start", "event_type", "n", "total_value")
        .collect()
    }
    want_df = QUERIES["events_tumbling_1h"](spark, sf_small)
    # batch twin renders bucket_start identically
    want = {tuple(r) for r in want_df.collect()}
    assert got == want
    assert len(got) > 0


def test_session_window_matches_batch_sessionize(spark, sf_small, tmp_path):
    stream = _stream(spark, sf_small, tmp_path)
    run_available_now(session_counts(stream), "stream_sessions")
    stream_sessions = (
        spark.table("stream_sessions")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
    )
    ev = load_table(spark, sf_small, "events").select("user_id", "ts", "event_id")
    batch = (
        sessionize(ev, gap_seconds=1800, tiebreak=["event_id"])
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    got = {tuple(r) for r in stream_sessions.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, sf_small, tmp_path):
    from statcan_etl_pipeline_spark.streaming.jobs import purchases_after_views

    stream = _stream(spark, sf_small, tmp_path)
    q = (
        purchases_after_views(stream)
        .writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.table("ss_join").collect()}

    ev = load_table(spark, sf_small, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    want = {
        tuple(r)
        for r in purchases.join(
            views,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("v_ts") < F.col("p_ts"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .select("purchase_id", "view_id", F.col("p_user").alias("user_id"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_dedup_within_watermark_bounds_state(spark, sf_small, tmp_path):
    """Streaming dedup drops the duplicate event_ids we inject and
    passes everything else through, with state bounded by the
    watermark."""
    from statcan_etl_pipeline_spark.streaming.jobs import deduped_stream

    # duplicate every event: stage the same file twice so the SECOND
    # micro-batch replays ids.
    raw = _stream(spark, sf_small, tmp_path, copies=2)
    run_available_now(
        deduped_stream(raw, ["event_id"]), "stream_dedup", output_mode="append"
    )
    got = spark.table("stream_dedup").count()
    want = load_table(spark, sf_small, "events").count()
    assert got == want  # every replayed id deduplicated, nothing lost


def test_foreach_batch_upsert_latest_wins(spark, sf_small, tmp_path):
    """foreachBatch MERGE: after draining the stream, the target holds
    exactly one row per user with that user's latest event."""
    target = str(tmp_path / "t")
    raw = _stream(spark, sf_small, tmp_path)
    slim = raw.select("user_id", "event_id", "ts", "event_type")
    run_foreach_batch(
        slim,
        partial(merge_batch, target_path=target, keys=["user_id"], order_col="event_id"),
        str(tmp_path / "ckpt"),
    )
    got = read_merge_target(spark, target)
    ev = load_table(spark, sf_small, "events")
    # one row per user, and it is the max-event_id row for that user
    assert got.count() == ev.select("user_id").distinct().count()
    want = (
        ev.groupBy("user_id").agg(F.max("event_id").alias("event_id"))
    )
    mismatches = (
        got.select("user_id", "event_id")
        .exceptAll(want.select("user_id", "event_id"))
        .count()
    )
    assert mismatches == 0


def test_foreach_batch_upsert_replay_idempotent(spark, sf_small, tmp_path):
    """Crash-replay semantics: re-processing the SAME micro-batch against
    an already-merged target (fresh checkpoint => batch 0 replays) must
    leave the table contents identical — the latest-wins MERGE is
    value-idempotent, so exactly-once EFFECT holds even though the
    batch runs twice."""
    target = str(tmp_path / "t")
    raw = _stream(spark, sf_small, tmp_path)
    slim = raw.select("user_id", "event_id", "ts", "event_type")

    def run_once(ckpt):
        run_foreach_batch(
            slim,
            partial(merge_batch, target_path=target, keys=["user_id"], order_col="event_id"),
            str(tmp_path / ckpt),
        )
        return sorted(
            tuple(r) for r in read_merge_target(spark, target).collect()
        )

    first = run_once("ckpt0")
    second = run_once("ckpt1")  # replay: same data, same batch ids, committed target
    assert first == second


def test_rate_source_windowed_counts_smoke(spark):
    """Generated rate source -> watermarked tumbling window: proves the
    windowed aggregation runs on a live unbounded source (not just the
    file-backed replay), with bounded state via the watermark."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .option("numPartitions", "2")
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 3).cast("string").alias("event_type"),
            (F.col("value") % 100).cast("double").alias("value"),
            F.col("value").alias("event_id"),
            F.lit(0).alias("user_id"),
            F.lit("{}").alias("props"),
        )
    )
    q = (
        windowed_counts(stream, watermark="10 seconds")
        .writeStream.format("memory")
        .queryName("rate_windowed")
        .outputMode("complete")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        rows = 0
        while time.time() < deadline:
            q.processAllAvailable()
            rows = spark.table("rate_windowed").count()
            if rows > 0:
                break
            time.sleep(1)
        assert rows > 0
        got = spark.table("rate_windowed").collect()
        assert {r["event_type"] for r in got} <= {"0", "1", "2"}
        assert all(r["n"] > 0 for r in got)
    finally:
        q.stop()


def test_merge_batch_replay_of_committed_batch_is_skipped(spark, tmp_path):
    """Crash-AFTER-commit replay (ADVICE r3): replaying a batch whose
    version dir already committed must NOT read-and-overwrite that
    version in place — merge_batch skips it entirely, and a later
    uncommitted batch merges from the strictly-older base."""
    target = str(tmp_path / "t")
    b0 = spark.createDataFrame(
        [(1, 10, "a"), (2, 11, "b")], "user_id int, event_id int, v string"
    )
    b1 = spark.createDataFrame(
        [(1, 20, "a2"), (3, 12, "c")], "user_id int, event_id int, v string"
    )

    assert merge_batch(b0, 0, target, keys=["user_id"], order_col="event_id")
    assert merge_batch(b1, 1, target, keys=["user_id"], order_col="event_id")
    after_b1 = sorted(tuple(r) for r in read_merge_target(spark, target).collect())
    assert len(after_b1) == 3

    # replay batch 1 (crash happened after its commit): must be a no-op
    assert merge_batch(b1, 1, target, keys=["user_id"], order_col="event_id") is False
    assert (
        sorted(tuple(r) for r in read_merge_target(spark, target).collect())
        == after_b1
    )
    # replay batch 0 too (older committed version GC'd or not): no-op,
    # and crucially the latest version is untouched
    assert merge_batch(b0, 0, target, keys=["user_id"], order_col="event_id") is False
    assert (
        sorted(tuple(r) for r in read_merge_target(spark, target).collect())
        == after_b1
    )


# Per sink: (call, batch schema, batch 0 rows, batch 1 rows, read-back
# columns, expected rows after batch 1 folds onto batch 0).
_REPLAY_CASES = {
    "merge_batch": (
        lambda b, i, t: merge_batch(b, i, t, keys=["user_id"], order_col="event_id"),
        "user_id int, event_id int, v string",
        [(1, 10, "a"), (2, 11, "b")],
        [(2, 20, "b2")],
        ["user_id", "event_id", "v"],
        [(1, 10, "a"), (2, 20, "b2")],
    ),
    "incremental_agg_batch": (
        incremental_agg_batch,
        "event_type string, value double",
        [("view", 1.0), ("buy", 2.5)],
        [("buy", 0.5)],
        ["event_type", "n", "sum_cents"],
        [("buy", 2, 300), ("view", 1, 100)],
    ),
    "scd2_batch": (
        scd2_batch,
        "user_id int, ref_date string, value double",
        [(1, "2024-01-01", 1.0), (2, "2024-01-01", 5.0)],
        [(2, "2024-02-01", 6.0)],
        ["user_id", "ref_date", "value", "valid_from", "valid_to"],
        [
            (1, "2024-01-01", 1.0, "2024-01-01", "9999-12-31"),
            (2, "2024-01-01", 5.0, "2024-01-01", "2024-02-01"),
            (2, "2024-02-01", 6.0, "2024-02-01", "9999-12-31"),
        ],
    ),
}


@pytest.mark.parametrize("sink", list(_REPLAY_CASES))
def test_uncommitted_replay_uses_strictly_older_base(spark, tmp_path, sink):
    """If batch N crashed BEFORE its _SUCCESS marker, replay must fold
    onto the newest version strictly older than v{N} — not onto any
    half-written v{N} content. Holds for every foreachBatch sink, since
    they share one commit protocol."""
    import os

    call, schema, rows0, rows1, cols, want = _REPLAY_CASES[sink]
    target = str(tmp_path / "t")
    assert call(spark.createDataFrame(rows0, schema), 0, target)

    # simulate a crash mid-write of v1: dir exists with junk, no _SUCCESS
    vdir = f"{target}/v{1:010d}"
    os.makedirs(vdir, exist_ok=True)
    with open(os.path.join(vdir, "part-junk.parquet"), "w") as fh:
        fh.write("not parquet")

    assert call(spark.createDataFrame(rows1, schema), 1, target)
    got = sorted(tuple(r) for r in read_merge_target(spark, target).select(*cols).collect())
    assert got == want


def test_stream_static_enrichment_matches_batch(spark, sf_small, tmp_path):
    """Stream-static broadcast join parity: the availableNow streaming
    run enriched with the customer dimension equals the batch join on
    the same events."""
    from statcan_etl_pipeline_spark.streaming.jobs import (
        enriched_stream,
        run_available_now,
    )

    dim = (
        load_table(spark, sf_small, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    stream = _stream(spark, sf_small, tmp_path)
    enriched = enriched_stream(stream, dim).select(
        "event_id", "user_id", "segment"
    )
    run_available_now(enriched, "enriched_events", output_mode="append")
    got = spark.table("enriched_events")

    ev = load_table(spark, sf_small, "events")
    want = ev.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", "user_id", "segment"
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_incremental_agg_multibatch_matches_batch(spark, sf_small, tmp_path):
    """Running (count, exact-cents sum) folded batch-by-batch over a
    4-file stream (maxFilesPerTrigger=1 → 4 micro-batches) equals the
    from-scratch batch aggregate, bit-exactly."""
    from statcan_etl_pipeline_spark.functions.portable import cents

    ev = load_table(spark, sf_small, "events").select("event_type", "value")
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = str(tmp_path / "agg")
    run_foreach_batch(
        stream, partial(incremental_agg_batch, target_path=target), str(tmp_path / "ck")
    )
    got = {
        tuple(r)
        for r in read_merge_target(spark, target)
        .select("event_type", "n", "sum_cents")
        .collect()
    }
    want = {
        tuple(r)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents("value")).cast("long").alias("sum_cents"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_incremental_agg_replay_is_noop(spark, sf_small, tmp_path):
    """Re-folding an already-committed batch id must not double-count."""
    ev = load_table(spark, sf_small, "events").select("event_type", "value")
    target = str(tmp_path / "agg")
    assert incremental_agg_batch(ev, 0, target) is True
    before = {tuple(r) for r in read_merge_target(spark, target).collect()}
    assert incremental_agg_batch(ev, 0, target) is False  # replay: skip
    after = {tuple(r) for r in read_merge_target(spark, target).collect()}
    assert after == before


def test_chained_window_aggregation_matches_batch(spark, sf_small, tmp_path):
    """Stacked stateful aggregations (15-min counts -> hourly max/sum)
    in one streaming query equal the two-step batch computation."""
    from statcan_etl_pipeline_spark.streaming.jobs import chained_windowed_max

    stream = _stream(spark, sf_small, tmp_path)
    run_available_now(
        chained_windowed_max(stream, watermark="30 minutes"),
        "stream_chained",
        output_mode="append",
    )
    got = {tuple(r) for r in spark.table("stream_chained").collect()}

    ev = load_table(spark, sf_small, "events")
    # append mode emits an hourly row only once the final watermark
    # (max event time − 30 min) passes the end of its hour
    wm = ev.agg(
        (F.max("ts").cast("long") - F.lit(30 * 60)).alias("wm")
    ).collect()[0]["wm"]
    b15 = ev.groupBy(F.window("ts", "15 minutes").alias("w15"), "event_type").agg(
        F.count(F.lit(1)).alias("n15")
    )
    want = {
        tuple(r)
        for r in b15.groupBy(
            F.window(F.col("w15.start"), "1 hour").alias("w1h"), "event_type"
        )
        .agg(F.max("n15").alias("max_15m_n"), F.sum("n15").alias("n_total"))
        .filter(F.col("w1h.end").cast("long") <= wm)
        .select(
            F.date_format("w1h.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            "max_15m_n",
            "n_total",
        )
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_time_travel_and_table_history(spark, tmp_path):
    """Versioned MERGE targets support table-format-style time travel:
    every committed version stays readable until GC, and table_history
    lists (version, batch_id, row count) in commit order. Reading a
    version that never committed, or any target before its first
    commit, raises FileNotFoundError."""
    from statcan_etl_pipeline_spark.streaming.jobs import table_history

    target = str(tmp_path / "tt")
    with pytest.raises(FileNotFoundError):
        read_merge_target(spark, target)  # nothing committed yet
    b0 = spark.createDataFrame(
        [(1, 10, "a"), (2, 11, "b")], "user_id int, event_id int, v string"
    )
    b1 = spark.createDataFrame(
        [(1, 20, "a2"), (3, 12, "c")], "user_id int, event_id int, v string"
    )
    merge_batch(b0, 0, target, keys=["user_id"], order_col="event_id")
    merge_batch(b1, 1, target, keys=["user_id"], order_col="event_id")

    v0 = read_merge_target(spark, target, "v0000000000")
    assert sorted((r["user_id"], r["v"]) for r in v0.collect()) == [(1, "a"), (2, "b")]
    v1 = read_merge_target(spark, target, "v0000000001")
    assert sorted((r["user_id"], r["v"]) for r in v1.collect()) == [
        (1, "a2"), (2, "b"), (3, "c"),
    ]
    hist = sorted(tuple(r) for r in table_history(spark, target).collect())
    assert hist == [("v0000000000", 0, 2), ("v0000000001", 1, 3)]
    with pytest.raises(FileNotFoundError):
        read_merge_target(spark, target, "v0000000009")


def test_foreach_batch_fanout_two_sinks_consistent(spark, sf_small, tmp_path):
    """foreachBatch fan-out: one micro-batch written to TWO sinks (raw
    append + running aggregate) from a single persisted batch frame —
    both sinks see the same rows (the classic multi-sink pattern that
    writeStream alone can't express)."""
    raw_dir = str(tmp_path / "raw")
    agg_dir = str(tmp_path / "agg")
    stream = _stream(spark, sf_small, tmp_path)

    def fanout(batch_df, batch_id):
        batch_df.persist()
        try:
            batch_df.write.mode("append").parquet(raw_dir)
            (
                batch_df.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(agg_dir)
            )
        finally:
            batch_df.unpersist()

    run_foreach_batch(stream, fanout, str(tmp_path / "ckpt"))

    raw = spark.read.parquet(raw_dir)
    agg = spark.read.parquet(agg_dir)
    want = {
        tuple(r)
        for r in load_table(spark, sf_small, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got_from_raw = {
        tuple(r)
        for r in raw.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got_from_agg = {
        tuple(r)
        for r in agg.groupBy("event_type")
        .agg(F.sum("n").cast("long").alias("n"))
        .collect()
    }
    assert got_from_raw == want
    assert got_from_agg == want


def test_merge_batch_schema_evolution_adds_column(spark, tmp_path):
    """A batch that ADDS a column merges without corrupting prior
    versions: pre-existing rows carry NULL for the new column, the old
    version dir stays readable with its original schema, and a
    follow-up batch in the evolved schema merges normally."""
    target = str(tmp_path / "t")
    b0 = spark.createDataFrame(
        [(1, 10, "a"), (2, 11, "b")], "user_id int, event_id int, v string"
    )
    # batch 1 arrives with a NEW column `region`
    b1 = spark.createDataFrame(
        [(2, 20, "b2", "EU"), (3, 12, "c", "NA")],
        "user_id int, event_id int, v string, region string",
    )
    assert merge_batch(b0, 0, target, keys=["user_id"], order_col="event_id",
                       retain_versions=10)
    assert merge_batch(b1, 1, target, keys=["user_id"], order_col="event_id",
                       retain_versions=10)
    latest = read_merge_target(spark, target)
    assert set(latest.columns) == {"user_id", "event_id", "v", "region"}
    got = {r["user_id"]: (r["event_id"], r["v"], r["region"])
           for r in latest.collect()}
    assert got == {1: (10, "a", None), 2: (20, "b2", "EU"), 3: (12, "c", "NA")}
    # the committed v0 is untouched and still reads with the OLD schema
    v0 = spark.read.parquet(f"{target}/v{0:010d}")
    assert set(v0.columns) == {"user_id", "event_id", "v"}
    assert v0.count() == 2


def test_merge_batch_retention_policy(spark, tmp_path):
    """retain_versions bounds on-disk history: with keep=2, older
    version dirs are vacuumed; with a larger keep they survive for
    time travel. keep < 1 is refused."""
    import os

    import pytest

    from statcan_etl_pipeline_spark.streaming.jobs import (
        _committed_versions,
        _gc_versions,
        merge_batch,
    )

    target = str(tmp_path / "t")
    sch = "user_id int, event_id int, v string"
    for i in range(4):
        b = spark.createDataFrame([(1, 10 + i, f"v{i}")], sch)
        assert merge_batch(b, i, target, keys=["user_id"], order_col="event_id",
                           retain_versions=10)
    assert len(_committed_versions(spark, target)) == 4  # keep=10: all retained

    b = spark.createDataFrame([(1, 99, "v4")], sch)
    assert merge_batch(b, 4, target, keys=["user_id"], order_col="event_id",
                       retain_versions=2)
    kept = _committed_versions(spark, target)
    assert kept == [f"v{3:010d}", f"v{4:010d}"]
    assert not os.path.exists(f"{target}/v{0:010d}")

    with pytest.raises(ValueError):
        _gc_versions(spark, target, keep=0)


def test_stream_stream_left_outer_join_emits_unmatched(spark, sf_small, tmp_path):
    """LEFT OUTER stream-stream join: purchases with no preceding-hour
    view must surface with NULL view_id once the watermark passes, and
    matched rows must agree with the batch join. availableNow drains
    the finite source, so the final watermark releases all outer rows."""
    from statcan_etl_pipeline_spark.streaming.jobs import purchases_after_views

    stream = _stream(spark, sf_small, tmp_path)
    q = (
        purchases_after_views(stream, "leftOuter")
        .writeStream.format("memory")
        .queryName("ss_outer_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.table("ss_outer_join").collect()}

    # State-store bound: the dual-watermark join may buffer at most the
    # full finite input (views + purchases rows); a watermark regression
    # that stops evicting or starts duplicating state breaks this pin.
    from statcan_etl_pipeline_spark.plans.metrics import streaming_state_metrics

    state = streaming_state_metrics(q)
    assert state, "join must report state-operator progress"
    join_ops = {k: v for k, v in state.items() if "symmetricHashJoin" in k or "Join" in k or k.startswith("op_")}
    assert join_ops, state

    ev = load_table(spark, sf_small, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") < F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select("purchase_id", "view_id", F.col("p_user").alias("user_id"), "p_ts")
    want = {tuple(r)[:3] for r in batch.collect()}
    # SEMANTIC: outer (NULL) results are watermark-released. At stream
    # end the watermark stops at max_event_time - delay, so unmatched
    # purchases INSIDE that final margin are never emitted — the exact
    # behavior a downstream pipeline must plan for. Matched rows are
    # not watermark-gated and must all be present.
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - __import__("datetime").timedelta(hours=2)
    releasable = {
        tuple(r)[:3]
        for r in batch.filter(
            F.col("view_id").isNotNull() | (F.col("p_ts") <= F.lit(horizon))
        ).collect()
    }
    assert releasable <= got <= want
    unmatched = {r for r in got if r[1] is None}
    matched = {r for r in got if r[1] is not None}
    assert matched == {r for r in want if r[1] is not None}
    assert unmatched, "some purchase must lack a preceding-hour view"

    n_sides = views.count() + purchases.count()
    for name, m in join_ops.items():
        assert 0 < m["rows"] <= n_sides, (name, m, n_sides)
        assert m["bytes"] > 0, (name, m)


def test_streaming_scd2_maintenance_matches_batch(spark, sf_small, tmp_path):
    """SCD2 dimension history maintained per micro-batch (per-key
    incremental valid_to recompute) equals the from-scratch batch
    scd2_history over the same rows — across a 4-micro-batch stream
    where later batches revise earlier keys' histories."""
    from statcan_etl_pipeline_spark.operators.incremental import (
        scd2_history,
        upsert,
    )
    ev = load_table(spark, sf_small, "events").select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("ref_date"),
        "value",
        "event_id",
    )
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = str(tmp_path / "scd2")
    run_foreach_batch(
        stream, partial(scd2_batch, target_path=target, order_col="event_id"), str(tmp_path / "ck")
    )
    got = {
        tuple(r)
        for r in read_merge_target(spark, target)
        .select("user_id", "ref_date", "value", "valid_from", "valid_to")
        .collect()
    }
    # batch twin: latest (by event_id) value per (user, day), then SCD2
    latest = upsert(
        ev.limit(0), ev, keys=["user_id", "ref_date"], order_col="event_id"
    )
    want = {
        tuple(r)
        for r in scd2_history(latest, keys=["user_id"], effective_col="ref_date")
        .select("user_id", "ref_date", "value", "valid_from", "valid_to")
        .collect()
    }
    assert got == want and len(got) > 0
    # open-ended current version per user
    opens = [r for r in got if r[4] == "9999-12-31"]
    users = {r[0] for r in got}
    assert len(opens) == len(users)


def test_scd2_batch_replay_and_out_of_order_revision(spark, tmp_path):
    """Replaying a committed scd2 batch is a no-op, and a late batch
    carrying an OLDER revision (lower order_col) for an existing
    (key, effective) must NOT overwrite the newer value — cross-batch
    conflicts resolve by the data's order column, not arrival order."""
    target = str(tmp_path / "t")
    sch = "user_id int, ref_date string, value double, event_id int"
    b0 = spark.createDataFrame(
        [(1, "2024-01-01", 10.0, 100), (1, "2024-01-03", 30.0, 101)], sch
    )
    assert scd2_batch(b0, 0, target, order_col="event_id")
    # replay of committed batch: no-op
    assert scd2_batch(b0, 0, target, order_col="event_id") is False
    # late batch: older revision (event_id 50) for 01-01 + new day 01-02
    b1 = spark.createDataFrame(
        [(1, "2024-01-01", 99.0, 50), (1, "2024-01-02", 20.0, 102)], sch
    )
    assert scd2_batch(b1, 1, target, order_col="event_id")
    got = {
        (r["ref_date"], r["value"], r["valid_from"], r["valid_to"])
        for r in read_merge_target(spark, target).collect()
    }
    assert got == {
        ("2024-01-01", 10.0, "2024-01-01", "2024-01-02"),  # 99.0 rejected
        ("2024-01-02", 20.0, "2024-01-02", "2024-01-03"),
        ("2024-01-03", 30.0, "2024-01-03", "9999-12-31"),
    }
