"""Connector tests: partitioned parquet, bucketed table, CSV/JSON
round-trips with explicit schemas, StatCan WDS ingest."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from statcan_etl_pipeline_spark.catalog import load_table
from statcan_etl_pipeline_spark.sinks.writers import (
    read_back,
    write_bucketed_table,
    write_csv,
    write_json,
    write_partitioned_parquet,
)
from statcan_etl_pipeline_spark.sources.readers import read_csv, read_json
from statcan_etl_pipeline_spark.sources.statcan_wds import (
    build_dimension,
    latest_revision,
    read_wds_csv,
    vector_series,
    wds_schema,
)


def test_partitioned_parquet_roundtrip(spark, sf_small):
    orders = load_table(spark, sf_small, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "orders_part")
        write_partitioned_parquet(orders, path, ["o_year"])
        # partition dirs exist → partition pruning is possible on read
        years = {e.split("=")[1] for e in os.listdir(path) if e.startswith("o_year=")}
        assert len(years) >= 3
        back = read_back(spark, path)
        assert back.count() == orders.count()
        # pruned read touches only one partition directory: the executed
        # plan must carry the year as a PartitionFilter (not a data filter)
        one_year = sorted(years)[0]
        pruned = back.filter(F.col("o_year") == int(one_year))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert pf_lines, f"no PartitionFilters in executed plan:\n{plan}"
        assert any("o_year" in ln for ln in pf_lines), pf_lines
        # and the filtered rows are really confined to that partition
        assert pruned.select("o_year").distinct().count() == 1


def test_bucketed_table_roundtrip(spark, sf_small):
    li = load_table(spark, sf_small, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    write_bucketed_table(li, "li_bucketed", "l_orderkey", n_buckets=4, sort_col="l_orderkey")
    back = spark.table("li_bucketed")
    assert back.count() == li.count()
    # bucketed self-join on the bucket key plans WITHOUT a shuffle
    joined = back.join(spark.table("li_bucketed").select("l_orderkey").distinct(), "l_orderkey")
    assert joined.count() == li.count()
    spark.sql("DROP TABLE IF EXISTS li_bucketed")


def test_csv_json_roundtrip_with_schema(spark, sf_small):
    nat = load_table(spark, sf_small, "nation")
    schema = "n_nationkey int, n_name string, n_regionkey int"
    with tempfile.TemporaryDirectory() as d:
        cpath, jpath = os.path.join(d, "csv"), os.path.join(d, "json")
        write_csv(nat, cpath)
        write_json(nat, jpath)
        cback = read_csv(spark, cpath, schema)
        jback = read_json(spark, jpath, schema)
        want = {tuple(r) for r in nat.collect()}
        assert {tuple(r) for r in cback.collect()} == want
        assert {tuple(r) for r in jback.collect()} == want


WDS_SAMPLE = """REF_DATE,GEO,DGUID,Products,UOM,UOM_ID,SCALAR_FACTOR,SCALAR_ID,VECTOR,COORDINATE,VALUE,STATUS,SYMBOL,TERMINATED,DECIMALS
2024-01,Canada,2016A000011124,All items,Index,347,units,0,v41690973,1.1,158.3,,,,1
2024-02,Canada,2016A000011124,All items,Index,347,units,0,v41690973,1.1,158.9,,,,1
2024-01,Ontario,2016A000235,All items,Index,347,units,0,v41691056,14.1,157.1,,,,1
2024-02,Ontario,2016A000235,All items,Index,347,units,0,v41691056,14.1,,E,,,1
2023,Canada,2016A000011124,Energy,Index,347,units,0,v99999999,1.2,142.0,,,,1
"""


def test_wds_ingest_dimensions_and_series(spark):
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "wds.csv")
        with open(p, "w") as f:
            f.write(WDS_SAMPLE)
        df = read_wds_csv(spark, p, dimension_cols=["Products"])
        rows = df.collect()
        assert len(rows) == 5
        # note: withColumn is case-insensitive — "ref_date"/"value" REPLACE
        # the raw REF_DATE/VALUE string columns with typed ones
        typed = {(r["vector"], str(r["ref_date"])): r for r in rows}
        assert typed[("v41690973", "2024-01-01")]["value"] == 158.3
        # annual REF_DATE normalizes to Jan 1
        assert ("v99999999", "2023-01-01") in typed
        # suppressed cell: null value, STATUS code preserved
        ont_feb = typed[("v41691056", "2024-02-01")]
        assert ont_feb["value"] is None and ont_feb["STATUS"] == "E"

        geo_dim = build_dimension(df, "GEO", "geo_id")
        got = {(r["GEO"], r["geo_id"]) for r in geo_dim.collect()}
        assert got == {("Canada", 1), ("Ontario", 2)}

        series = vector_series(df)
        assert series.filter(F.col("vector") == "v41690973").count() == 2

        # latest revision: duplicate (vector, ref_date) keeps latest value
        dup = df.union(df.limit(1).withColumn("value", F.lit(999.0)))
        latest = latest_revision(dup, ["vector", "ref_date"], ["value"])
        assert latest.count() == 5


def test_wds_schema_is_file_column_order():
    """The CSV reader maps columns by position, so the schema must list
    them in the WDS file's order (the order perfbench's generator
    writes): REF_DATE, GEO, DGUID, dimensions, then the rest."""
    assert wds_schema(["Products"]).fieldNames() == [
        "REF_DATE", "GEO", "DGUID", "Products", "UOM", "UOM_ID",
        "SCALAR_FACTOR", "SCALAR_ID", "VECTOR", "COORDINATE", "VALUE",
        "STATUS", "SYMBOL", "TERMINATED", "DECIMALS",
    ]


def test_wds_latest_revision_is_the_incremental_primitive():
    """`statcan_wds.latest_revision` is a re-export of the one
    top-row-per-key primitive, not a copy."""
    from statcan_etl_pipeline_spark.operators import incremental

    assert latest_revision is incremental.latest_revision


def test_wds_prunes_columns_at_scan(spark):
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "wds.csv")
        with open(p, "w") as f:
            f.write(WDS_SAMPLE)
        df = read_wds_csv(spark, p, dimension_cols=["Products"]).select("vector", "value")
        # column pruning: the physical csv scan's ReadSchema must not
        # include untouched WDS columns
        plan = df._jdf.queryExecution().executedPlan().toString()
        read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert read_schema and all("SYMBOL" not in ln for ln in read_schema)


def test_csv_quarantine_splits_malformed(spark, tmp_path):
    from statcan_etl_pipeline_spark.sources.readers import read_csv_with_quarantine

    p = tmp_path / "mixed.csv"
    p.write_text(
        "id,name,amount\n"
        "1,alice,10.5\n"
        "2,bob,not_a_number\n"
        "3,carol,7.25\n"
        "4,dave,\n"  # empty amount: null, NOT malformed
    )
    good, bad, release = read_csv_with_quarantine(
        spark, str(p), "id bigint, name string, amount double"
    )
    assert good.count() == 3  # rows 1, 3, 4
    assert bad.count() == 1
    raw = bad.collect()[0][0]
    assert "not_a_number" in raw  # raw line preserved for replay
    assert "_corrupt_record" not in good.columns
    release()  # drop the shared parse cache once consumed


def test_parquet_merge_schema_evolution(spark, tmp_path):
    from statcan_etl_pipeline_spark.sources.readers import read_parquet_evolving

    v1 = spark.createDataFrame([(1, "a")], "id bigint, name string")
    v2 = spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, name string, score double"
    )
    v1.write.parquet(str(tmp_path / "t"), mode="append")
    v2.write.parquet(str(tmp_path / "t"), mode="append")
    df = read_parquet_evolving(spark, str(tmp_path / "t"))
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["score"] is None  # old files null-filled
    assert rows[2]["score"] == 9.5


def test_json_quarantine_splits_malformed(spark, tmp_path):
    from statcan_etl_pipeline_spark.sources.readers import read_json_with_quarantine

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "name": "alice"}\n'
        '{"id": "NOT broken JSON but wrong type ok"}\n'
        "this is not json at all\n"
        '{"id": 3, "name": "carol"}\n'
    )
    good, bad, release = read_json_with_quarantine(
        spark, str(p), "id bigint, name string"
    )
    assert bad.count() >= 1  # the non-JSON line is quarantined
    assert good.count() + bad.count() == 4
    raws = [r[0] for r in bad.collect()]
    assert any("not json at all" in r for r in raws)
    release()


def test_quarantine_does_not_mutate_caller_schema(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from statcan_etl_pipeline_spark.sources.readers import read_csv_with_quarantine

    p = tmp_path / "t.csv"
    p.write_text("id,name\n1,a\nbroken,row,extra\n")
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    for _ in range(2):  # second call used to hit a duplicate phantom column
        good, bad, release = read_csv_with_quarantine(spark, str(p), schema)
        assert good.count() == 1 and bad.count() == 1
        release()
    assert schema.fieldNames() == ["id", "name"]  # caller schema untouched


def test_parse_kafka_events_static_batch(spark):
    """The Kafka value parser is a pure DataFrame function — prove it on
    a static batch shaped like Kafka records (no broker needed)."""
    import json

    from statcan_etl_pipeline_spark.sources.kafka_shape import parse_kafka_events

    def rec(offset, payload):
        return (
            bytearray(b"k"),
            bytearray(json.dumps(payload).encode() if isinstance(payload, dict) else payload),
            "events",
            0,
            offset,
            "2024-01-01 10:00:00",
        )

    rows = [
        rec(1, {"event_id": 10, "user_id": 7, "event_type": "view", "value": 1.5, "props": "{}"}),
        rec(2, b"this is not json"),
        rec(3, {"event_id": 11, "user_id": 8, "event_type": "purchase", "value": 9.0, "props": "{}"}),
    ]
    records = spark.createDataFrame(
        rows,
        "key binary, value binary, topic string, partition int, offset long, timestamp string",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    out = {r["offset"]: r for r in parse_kafka_events(records).collect()}
    assert out[1]["event_type"] == "view" and out[1]["user_id"] == 7
    assert out[3]["event_type"] == "purchase" and out[3]["value"] == 9.0
    assert out[2]["is_malformed"] is True and out[2]["event_id"] is None
    assert not out[1]["is_malformed"]
    assert str(out[1]["ts"]) == "2024-01-01 10:00:00"


def test_orc_roundtrip_partitioned_with_pushdown(spark, sf_small):
    """ORC round-trip: values survive, partition pruning works, and
    predicates reach the ORC scan (PushedFilters), matching the
    parquet sink's surface."""
    from statcan_etl_pipeline_spark.sinks.writers import read_orc, write_orc

    nat = load_table(spark, sf_small, "nation")
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "orc")
        write_orc(nat, p, partition_cols=["n_regionkey"])
        back = read_orc(spark, p).select("n_nationkey", "n_name", "n_regionkey")
        got = {(int(r[0]), r[1], int(r[2])) for r in back.collect()}
        want = {(int(r[0]), r[1], int(r[2])) for r in nat.collect()}
        assert got == want
        pruned = back.filter(F.col("n_regionkey") == 1)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "n_regionkey" not in plan or pruned.count() == \
               nat.filter(F.col("n_regionkey") == 1).count()
        filt = read_orc(spark, p).filter(F.col("n_nationkey") > 10)
        fplan = filt._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in fplan and "n_nationkey" in fplan


def test_python_datasource_wds_reader_parallel_splits(spark):
    """Python Data Source API (Spark 4): the wds_py connector plans
    byte-range splits on the driver and parses them in parallel tasks;
    every record lands in exactly one split regardless of split count."""
    from statcan_etl_pipeline_spark.sources.pyds import WdsCsvDataSource

    spark.dataSource.register(WdsCsvDataSource)
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "wds.csv")
        # ~40 data rows so byte cuts land mid-record for every split count
        rows = [WDS_SAMPLE.strip().splitlines()[0]]
        for i in range(40):
            rows.append(
                f"2024-{i % 12 + 1:02d},Geo{i},2016A{i:06d},All items,Index,"
                f"347,units,0,v{i:08d},1.{i},{100 + i}.5,,,,1"
            )
        with open(p, "w") as fh:
            fh.write("\n".join(rows) + "\n")
        want = {(f"v{i:08d}", 100 + i + 0.5) for i in range(40)}
        for splits in (1, 3, 7):
            df = (
                spark.read.format("wds_py")
                .option("path", p)
                .option("splits", str(splits))
                .load()
            )
            assert df.rdd.getNumPartitions() == splits
            got = {(r["vector"], r["value"]) for r in df.collect()}
            assert got == want, f"splits={splits}"


def test_xml_roundtrip_with_explicit_schema(spark, sf_small):
    """XML sink/source (built into Spark 4): values survive a
    write→read cycle; the read uses an explicit schema (inference is
    sampled and order-unstable — production readers always pass one)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from statcan_etl_pipeline_spark.sinks.writers import read_xml, write_xml

    nat = load_table(spark, sf_small, "nation").select(
        F.col("n_nationkey").cast("long").alias("key"), F.col("n_name").alias("name")
    )
    schema = StructType(
        [StructField("key", LongType()), StructField("name", StringType())]
    )
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "xml")
        write_xml(nat, p, row_tag="nation_row", root_tag="nations")
        back = read_xml(spark, p, row_tag="nation_row", schema=schema)
        got = {(int(r[0]), r[1]) for r in back.collect()}
        want = {(int(r[0]), r[1]) for r in nat.collect()}
        assert got == want


def test_python_datasource_wds_writer_two_phase_commit(spark):
    """Python Data Source WRITE path (Spark 4): task outputs land in
    _temporary, only driver commit() promotes them to part files +
    _SUCCESS; stray uncommitted files are swept and never read back;
    overwrite replaces prior parts, append accumulates."""
    from statcan_etl_pipeline_spark.sources.pyds import (
        WdsCsvDataSource,
        read_committed_wds_csv,
    )

    spark.dataSource.register(WdsCsvDataSource)
    rows1 = [(f"2024-0{i % 9 + 1}", f"Geo{i}", f"v{i:08d}", "1.1.1",
              float(i) + 0.5, "") for i in range(20)]
    rows2 = [("2025-01", "GeoX", "v99999999", "2.2.2", 7.25, "E")]
    sch = ("ref_date string, geo string, vector string, coordinate string, "
           "value double, status string")
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "out")
        os.makedirs(os.path.join(p, "_temporary"))
        stray = os.path.join(p, "_temporary", "deadbeef.csv")
        with open(stray, "w") as fh:
            fh.write("REF_DATE\nGARBAGE\n")  # simulated failed attempt
        df1 = spark.createDataFrame(rows1, sch).repartition(3)
        df1.write.format("wds_py").option("path", p).mode("overwrite").save()
        assert not os.path.exists(os.path.join(p, "_temporary"))
        committed = open(os.path.join(p, "_SUCCESS")).read().splitlines()
        assert len(committed) == 3
        back = read_committed_wds_csv(spark, p)
        assert {(r["vector"], r["value"]) for r in back.collect()} == {
            (v, val) for _, _, v, _, val, _ in rows1
        }
        # append adds one more committed generation next to the first:
        # no committed part is replaced, _SUCCESS lists old + new parts
        spark.createDataFrame(rows2, sch).write.format("wds_py").option(
            "path", p
        ).mode("append").save()
        appended = open(os.path.join(p, "_SUCCESS")).read().splitlines()
        assert appended[: len(committed)] == committed
        assert len(appended) > len(committed)
        assert sorted(f for f in os.listdir(p) if f.startswith("part-")) == sorted(appended)
        back = read_committed_wds_csv(spark, p)
        assert back.count() == len(rows1) + len(rows2)
        assert {(r["vector"], r["value"]) for r in back.collect()} == {
            (v, val) for _, _, v, _, val, _ in rows1 + rows2
        }
        # overwrite replaces every prior generation
        spark.createDataFrame(rows2, sch).write.format("wds_py").option(
            "path", p
        ).mode("overwrite").save()
        back2 = read_committed_wds_csv(spark, p)
        assert {(r["vector"], r["value"]) for r in back2.collect()} == {
            ("v99999999", 7.25)
        }
        # NULL value survives the round trip as NULL
        spark.createDataFrame(
            [("2025-02", "G", "vnull0000", "3", None, "X")], sch
        ).write.format("wds_py").option("path", p).mode("overwrite").save()
        r = read_committed_wds_csv(spark, p).collect()[0]
        assert r["value"] is None and r["vector"] == "vnull0000"


def test_pyds_streaming_feed_source_exactly_once(spark, tmp_path):
    """Streaming Python Data Source (Spark 4, SimpleDataSourceStreamReader):
    the wds_feed source delivers the bounded 100-row revision feed in
    25-row offset windows; the offset protocol makes rows a pure
    function of [start, end), so the collected stream equals the
    deterministic feed exactly — no dup, no loss — and per-vector
    aggregation matches the closed form."""
    from statcan_etl_pipeline_spark.sources.pyds import (
        WdsFeedDataSource,
        _feed_row,
    )

    spark.dataSource.register(WdsFeedDataSource)
    q = (
        spark.readStream.format("wds_feed")
        .load()
        .writeStream.format("memory")
        .queryName("wds_feed_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            if spark.table("wds_feed_sink").count() >= 100:
                break
            time.sleep(1)
        got = sorted(tuple(r) for r in spark.table("wds_feed_sink").collect())
        want = sorted(_feed_row(i) for i in range(100))
        assert got == want
    finally:
        q.stop()


def test_pyds_streaming_writer_idempotent_commit(spark, tmp_path):
    """Streaming Python Data Source WRITE path (DataSourceStreamWriter):
    wds_feed -> wds_py stream sink; the per-batch manifest commit makes
    replays idempotent. End state: all 100 feed rows exactly once in
    committed batch files, and a manually replayed batch id is dropped."""
    import os

    from statcan_etl_pipeline_spark.sources.pyds import (
        WdsCsvStreamWriter,
        WdsFeedDataSource,
        WdsCsvDataSource,
        _CsvCommit,
        _feed_row,
    )

    spark.dataSource.register(WdsFeedDataSource)
    spark.dataSource.register(WdsCsvDataSource)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("wds_feed")
        .load()
        .selectExpr(
            "cast(seq as string) ref_date",
            "vector geo",
            "vector",
            "period coordinate",
            "value",
            "'' status",
        )
        .writeStream.format("wds_py")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        total = 0
        while time.time() < deadline:
            q.processAllAvailable()
            parts = [p for p in os.listdir(out) if p.startswith("batch-")]
            total = sum(
                1
                for p in parts
                for _ in open(os.path.join(out, p))
            )
            if total >= 100:
                break
            time.sleep(1)
        assert total == 100, total
        seqs = sorted(
            int(line.split(",")[0])
            for p in os.listdir(out)
            if p.startswith("batch-")
            for line in open(os.path.join(out, p))
            if line.strip()
        )
        assert seqs == list(range(100))
    finally:
        q.stop()

    # manual replay of an already-committed batch id must be dropped
    w = WdsCsvStreamWriter({"path": out})
    tmp = os.path.join(out, "_tmp-replay.csv")
    with open(tmp, "w") as f:
        f.write("999,x,x,x,0.0,\n")
    w.commit([_CsvCommit(temp_path=tmp, n_rows=1)], batchId=0)
    assert not os.path.exists(tmp)  # temp swept
    replayed = sorted(
        int(line.split(",")[0])
        for p in os.listdir(out)
        if p.startswith("batch-")
        for line in open(os.path.join(out, p))
        if line.strip()
    )
    assert replayed == list(range(100))  # still exactly once


def test_pyds_stream_end_to_end_aggregated_pipeline(spark, tmp_path):
    """Connector-to-connector streaming pipeline: wds_feed stream read ->
    per-vector aggregation (complete mode) -> memory sink, with the
    final aggregates equal to the closed-form feed's per-vector sums.
    Exercises the offset protocol under a stateful aggregation."""
    from pyspark.sql import functions as F

    from statcan_etl_pipeline_spark.sources.pyds import (
        WdsFeedDataSource,
        _feed_row,
    )

    spark.dataSource.register(WdsFeedDataSource)
    q = (
        spark.readStream.format("wds_feed")
        .load()
        .groupBy("vector")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value").alias("total"),
        )
        .writeStream.format("memory")
        .queryName("wds_feed_agg")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("complete")
        .start()
    )
    try:
        import time

        want = {}
        for i in range(100):
            _, vec, _, val = _feed_row(i)
            n, s = want.get(vec, (0, 0.0))
            want[vec] = (n + 1, s + val)
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            q.processAllAvailable()
            got = {
                r["vector"]: (r["n"], r["total"])
                for r in spark.table("wds_feed_agg").collect()
            }
            if sum(n for n, _ in got.values()) >= 100:
                break
            time.sleep(1)
        assert {k: (n, round(s, 6)) for k, (n, s) in got.items()} == {
            k: (n, round(s, 6)) for k, (n, s) in want.items()
        }
    finally:
        q.stop()


def test_avro_roundtrip(spark, sf_small):
    """Avro round-trip: partitioned write + read-back + partition filter.

    Spark 4.1 bundles the Avro FileFormat inside spark-sql but without
    a DataSourceRegister short name, so writers.avro_format() resolves
    the fully-qualified class; with --packages spark-avro deployed it
    resolves the plain "avro" name instead. Skips only if the classes
    are absent from the classpath entirely."""
    import os
    import tempfile

    import pytest
    import pyspark.sql.functions as F

    from statcan_etl_pipeline_spark.catalog import load_table
    from statcan_etl_pipeline_spark.sinks.writers import (
        avro_format,
        read_avro,
        write_avro,
    )

    if avro_format(spark) is None:
        pytest.skip("Avro classes absent from classpath")

    nat = load_table(spark, sf_small, "nation")
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "avro")
        write_avro(nat, p, partition_cols=["n_regionkey"])
        back = read_avro(spark, p).select("n_nationkey", "n_name", "n_regionkey")
        want = {tuple(r) for r in nat.select(*back.columns).collect()}
        got = {tuple(r) for r in back.collect()}
        assert got == want
        assert back.filter(F.col("n_regionkey") == 1).count() == nat.filter(
            F.col("n_regionkey") == 1
        ).count()
