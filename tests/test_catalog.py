"""The catalog reads each table's schema from its parquet footer: no
Spark job per read, the same types Spark would infer, one event-time
decoding for batch and stream readers, and a loud failure when a file
lacks a column a query selects."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import TimestampType

from statcan_etl_pipeline_spark.catalog import (
    TABLES,
    load_table,
    stream_table,
    table_path,
)
from statcan_etl_pipeline_spark.registry import QUERIES
from statcan_etl_pipeline_spark.streaming.jobs import run_available_now


@pytest.mark.parametrize(
    "build",
    ["load_table", "q5_local_supplier_volume", "events_tumbling_1h", "statcan_latest_revision"],
)
def test_reads_and_plan_builds_launch_no_spark_job(spark, sf_small, build):
    sc = spark.sparkContext
    group = f"test_catalog_{build}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        if build == "load_table":
            for t in TABLES:
                load_table(spark, sf_small, t)
        else:
            QUERIES[build](spark, sf_small)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_footer_schema_equals_spark_inference(spark, sf_small):
    for t in TABLES:
        inferred = spark.read.parquet(table_path(sf_small, t)).schema
        assert load_table(spark, sf_small, t).schema == inferred, t


def test_ts_is_timestamp_when_session_infers_ntz(spark, sf_small):
    """A session not built by get_spark may infer TIMESTAMP_NTZ, which
    event-time operators reject; the footer schema still says TIMESTAMP."""
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.set(conf, "true")
    try:
        assert load_table(spark, sf_small, "events").schema["ts"].dataType == TimestampType()
    finally:
        spark.conf.set(conf, "false")


def test_nanos_events_load_truncated_to_micros(spark, sf_small, tmp_path):
    """An INT64 TIMESTAMP(NANOS) `ts`, 789 ns past each microsecond of
    the micros file, loads (batch and stream) to the micros file's rows."""
    events = pq.read_table(table_path(sf_small, "events"))
    ts = pc.add(pc.multiply(events.column("ts").cast(pa.int64()), 1000), 789)
    events = events.set_column(
        events.schema.get_field_index("ts"), "ts", ts.cast(pa.timestamp("ns"))
    )
    nanos = str(tmp_path)
    pq.write_table(events, table_path(nanos, "events"))
    assert pq.read_schema(table_path(nanos, "events")).field("ts").type == pa.timestamp("ns")

    want = load_table(spark, sf_small, "events")
    got = load_table(spark, nanos, "events")
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())

    run_available_now(
        stream_table(spark, nanos, "events", nanos), "nanos_stream", output_mode="append"
    )
    assert sorted(spark.table("nanos_stream").collect()) == sorted(want.collect())


def test_missing_column_fails_at_plan_construction(spark, sf_small, tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    for t in TABLES:
        (d / f"{t}.parquet").symlink_to(table_path(sf_small, t))
    (d / "region.parquet").unlink()
    region = pq.read_table(table_path(sf_small, "region")).drop_columns(["r_name"])
    pq.write_table(region, d / "region.parquet")

    with pytest.raises(AnalysisException, match="r_name"):
        QUERIES["q5_local_supplier_volume"](spark, str(d))


def test_spark_written_table_loads_same_rows(spark, sf_small, tmp_path):
    """A Spark-written table is a directory of files whose timestamps
    are INT96 by default, not nanos; it loads like the original file."""
    want = load_table(spark, sf_small, "events")
    want.write.parquet(table_path(str(tmp_path), "events"))
    got = load_table(spark, str(tmp_path), "events")
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
