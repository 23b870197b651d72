"""applyInPandasWithState: state must accumulate ACROSS micro-batches
and converge to the batch-mode answer."""

from __future__ import annotations

import os
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from statcan_etl_pipeline_spark.catalog import load_table, table_path
from statcan_etl_pipeline_spark.streaming.stateful import stateful_user_totals


def _two_batch_dir(sf_dir: str, d: Path) -> str:
    """Split events into two parquet files in `d` → two micro-batches
    (maxFilesPerTrigger=1)."""
    src = table_path(sf_dir, "events")
    duckdb.sql(
        f"COPY (SELECT user_id, value FROM '{src}' WHERE event_id % 2 = 0) "
        f"TO '{os.path.join(d, 'a.parquet')}' (FORMAT PARQUET)"
    )
    duckdb.sql(
        f"COPY (SELECT user_id, value FROM '{src}' WHERE event_id % 2 = 1) "
        f"TO '{os.path.join(d, 'b.parquet')}' (FORMAT PARQUET)"
    )
    return str(d)


def test_stateful_totals_accumulate_across_batches(spark, sf_small, tmp_path):
    d = _two_batch_dir(sf_small, tmp_path)
    stream = (
        spark.readStream.schema("user_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        stateful_user_totals(stream)
        .writeStream.format("memory")
        .queryName("stateful_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode emits one row per user per batch; the LAST emission per
    # user is the cumulative total → dedupe by max n_events
    out = (
        spark.table("stateful_totals")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    got = {(r["user_id"], r["n_events"]) for r in out.collect()}
    batch = (
        load_table(spark, sf_small, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    want = {(r["user_id"], r["n_events"]) for r in batch.collect()}
    assert got == want

    # at least one user must have been emitted in BOTH batches with
    # increasing counts — proof state crossed the batch boundary
    emissions = spark.table("stateful_totals").groupBy("user_id").count()
    assert emissions.filter(F.col("count") >= 2).count() > 0


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (absent in this "
    "sandbox); the operator is exercised on protobuf-equipped clusters",
)
def test_transform_with_state_accumulates_across_batches(spark, sf_small, tmp_path):
    """transformWithStateInPandas (Spark 4 typed-state API): ValueState
    survives micro-batch boundaries and converges to the batch answer."""
    from statcan_etl_pipeline_spark.streaming.stateful import tws_user_totals

    # transformWithState requires the RocksDB state store provider
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    d = _two_batch_dir(sf_small, tmp_path)
    stream = (
        spark.readStream.schema("user_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        tws_user_totals(stream)
        .writeStream.format("memory")
        .queryName("tws_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = (
        spark.table("tws_totals")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    got = {(r["user_id"], r["n_events"]) for r in out.collect()}
    batch = (
        load_table(spark, sf_small, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    want = {(r["user_id"], r["n_events"]) for r in batch.collect()}
    assert got == want
