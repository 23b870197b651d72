"""Small-file compaction + z-order layout tests (sinks/compaction.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from statcan_etl_pipeline_spark.catalog import load_table
from statcan_etl_pipeline_spark.sinks.compaction import (
    _interleave2,
    compact_parquet,
    compaction_plan,
    list_data_files,
    write_zordered_parquet,
    zorder_value,
)


def test_compaction_reduces_file_count(spark, sf_small, tmp_path):
    src = str(tmp_path / "frag_src")
    out = str(tmp_path / "compact_out")
    orders = load_table(spark, sf_small, "orders")
    # simulate a fragmented streaming sink: 64 tiny files
    orders.repartition(64).write.mode("overwrite").parquet(src)
    before_files = list_data_files(spark, src)
    assert len(before_files) == 64
    stats = compact_parquet(spark, src, out, target_bytes=1024 * 1024)
    assert stats["before"]["n_files"] == 64
    assert stats["after"]["n_files"] < 64
    assert stats["after"]["n_files"] == stats["before"]["target_files"]
    # lossless: same rows
    a = spark.read.parquet(src).count()
    b = spark.read.parquet(out).count()
    assert a == b


def test_compaction_preserves_hive_partitions(spark, sf_small, tmp_path):
    src = str(tmp_path / "frag_part_src")
    out = str(tmp_path / "compact_part_out")
    orders = load_table(spark, sf_small, "orders").withColumn(
        "status", F.col("o_orderstatus")
    )
    orders.repartition(16).write.mode("overwrite").partitionBy("status").parquet(src)
    stats = compact_parquet(
        spark, src, out, target_bytes=1024 * 1024, partition_cols=["status"]
    )
    assert stats["after"]["n_files"] <= stats["before"]["n_files"]
    back = spark.read.parquet(out)
    assert "status" in back.columns  # hive layout preserved
    assert back.count() == orders.count()


def test_compaction_splits_oversized_hive_partition(spark, sf_small, tmp_path):
    """A hive partition larger than target_bytes must split into
    multiple ~target-size files, not collapse into one file per
    partition dir."""
    src = str(tmp_path / "frag_big_src")
    out = str(tmp_path / "compact_big_out")
    orders = load_table(spark, sf_small, "orders").withColumn(
        "bucket", F.when(F.col("o_orderkey") % 20 == 0, "small").otherwise("big")
    )
    orders.repartition(8).write.mode("overwrite").partitionBy("bucket").parquet(src)
    total = sum(sz for _, sz in list_data_files(spark, src))
    # target ~1/6 of the data => the "big" (~95%) partition needs >=2 files
    stats = compact_parquet(
        spark, src, out, target_bytes=max(total // 6, 1), partition_cols=["bucket"]
    )
    big_files = [
        p for p, _ in list_data_files(spark, out) if "/bucket=big/" in p
    ]
    small_files = [
        p for p, _ in list_data_files(spark, out) if "/bucket=small/" in p
    ]
    assert len(big_files) >= 2, big_files
    assert len(small_files) == 1, small_files
    assert spark.read.parquet(out).count() == orders.count()
    assert stats["after"]["n_files"] == len(big_files) + len(small_files)


def test_compaction_keeps_null_partition_rows(spark, sf_small, tmp_path):
    """NULL partition values are legal hive partitions
    (__HIVE_DEFAULT_PARTITION__); compaction must not drop them (a
    null-unsafe equi-join against the per-partition counts would)."""
    src = str(tmp_path / "frag_null_src")
    out = str(tmp_path / "compact_null_out")
    orders = load_table(spark, sf_small, "orders").withColumn(
        "status",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None).cast("string")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    orders.repartition(8).write.mode("overwrite").partitionBy("status").parquet(src)
    n_null = orders.filter(F.col("status").isNull()).count()
    assert n_null > 0
    compact_parquet(
        spark, src, out, target_bytes=1024 * 1024, partition_cols=["status"]
    )
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    assert back.filter(F.col("status").isNull()).count() == n_null


def test_compaction_splits_exact_duplicate_rows(spark, tmp_path):
    """An oversized partition made of EXACT-duplicate rows must still
    split across files — a row-hash salt would send every copy to one
    group (and one file)."""
    src = str(tmp_path / "frag_dup_src")
    out = str(tmp_path / "compact_dup_out")
    df = (
        spark.range(0, 200_000)
        .select(
            F.lit("big").alias("bucket"),
            F.lit("same-payload-for-every-row").alias("payload"),
            F.lit(1).alias("v"),
        )
    )
    df.repartition(8).write.mode("overwrite").partitionBy("bucket").parquet(src)
    total = sum(sz for _, sz in list_data_files(spark, src))
    compact_parquet(
        spark, src, out, target_bytes=max(total // 4, 1), partition_cols=["bucket"]
    )
    out_files = list_data_files(spark, out)
    assert len(out_files) >= 2, out_files
    assert spark.read.parquet(out).count() == 200_000


def test_compaction_plan_stats():
    plan = compaction_plan([("a", 10), ("b", 20), ("c", 1000)], target_bytes=100)
    assert plan["n_files"] == 3
    assert plan["total_bytes"] == 1030
    assert plan["target_files"] == 11
    assert plan["small_files"] == 2


def test_interleave_matches_python_reference(spark):
    df = spark.range(0, 512).select(
        F.col("id").alias("a"), (F.lit(511) - F.col("id")).alias("b")
    )
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.withColumn("z", _interleave2(F.col("a"), F.col("b"))).collect()
    }

    def ref(a: int, b: int) -> int:
        z = 0
        for i in range(21):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    for (a, b), z in got.items():
        assert z == ref(a, b), (a, b)


def test_zorder_value_is_deterministic_and_bounded(spark, sf_small):
    orders = load_table(spark, sf_small, "orders")
    z = zorder_value(orders, "o_custkey", "o_orderkey")
    stats = z.agg(F.min("_zvalue"), F.max("_zvalue")).collect()[0]
    assert stats[0] >= 0
    assert stats[1] < (1 << 42)
    # deterministic across runs
    z2 = zorder_value(orders, "o_custkey", "o_orderkey")
    assert z.orderBy("o_orderkey").select("_zvalue").collect() == z2.orderBy(
        "o_orderkey"
    ).select("_zvalue").collect()


def test_zorder_layout_skips_files_on_both_columns(spark, sf_small, tmp_path):
    """The point of z-order: a filter on EITHER clustered column should
    touch a small subset of files (file-level min/max stats), unlike a
    random layout where every file matches."""
    rand_path = str(tmp_path / "layout_rand")
    z_path = str(tmp_path / "layout_z")
    orders = load_table(spark, sf_small, "orders")
    n_files = 8
    # baseline: hash-scatter (every file spans the full key range)
    orders.repartition(n_files).write.mode("overwrite").parquet(rand_path)
    write_zordered_parquet(orders, z_path, "o_custkey", "o_orderkey", n_files=n_files)

    lo, hi = 1, 30  # tight o_custkey range

    def files_touched(path: str) -> int:
        return (
            spark.read.parquet(path)
            .filter(F.col("o_custkey").between(lo, hi))
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    assert files_touched(rand_path) == n_files  # scatter: all files hit
    assert files_touched(z_path) < n_files  # z-order: most files skipped
    # and the same layout also prunes on the second column
    z_orderkey_files = (
        spark.read.parquet(z_path)
        .filter(F.col("o_orderkey") < 100)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert z_orderkey_files < n_files


def test_compaction_plan_properties():
    import math

    from hypothesis import given, strategies as st

    @given(
        sizes=st.lists(st.integers(min_value=0, max_value=10**12), max_size=50),
        target=st.integers(min_value=1, max_value=10**9),
    )
    def check(sizes, target):
        plan = compaction_plan([(f"f{i}", s) for i, s in enumerate(sizes)], target)
        assert plan["n_files"] == len(sizes)
        assert plan["total_bytes"] == sum(sizes)
        assert plan["target_files"] == max(1, math.ceil(sum(sizes) / target))
        assert 0 <= plan["small_files"] <= len(sizes)

    check()


def test_compaction_layout_is_a_function_of_content(spark, sf_small, tmp_path):
    """Partitioned compaction's output layout depends only on the rows:
    the same rows, stored in two different file layouts and read back in
    different orders, compact to identical per-file row multisets. (A
    layout that followed the input order would drift with the input's
    file layout, shuffle fetch order and task retries.)"""
    orders = load_table(spark, sf_small, "orders").withColumn(
        "bucket", F.when(F.col("o_orderkey") % 20 == 0, "small").otherwise("big")
    )
    inputs = {
        "hashed": orders.repartition(8),
        "desc": orders.orderBy(F.desc("o_orderkey")).coalesce(3),
    }

    def layout(name: str) -> list:
        src = str(tmp_path / f"{name}_src")
        out = str(tmp_path / f"{name}_out")
        inputs[name].write.mode("overwrite").partitionBy("bucket").parquet(src)
        total = sum(sz for _, sz in list_data_files(spark, src))
        # 1/6 of this input's bytes, rounded up: the row budget is then
        # rows // 6 for both inputs, whatever their byte totals
        compact_parquet(
            spark, src, out, target_bytes=-(-total // 6), partition_cols=["bucket"]
        )
        per_file = []
        for p, _ in sorted(list_data_files(spark, out)):
            rows = spark.read.parquet(p).select("o_orderkey").collect()
            bucket = p.split("/bucket=")[1].split("/")[0]
            per_file.append((bucket, tuple(sorted(r["o_orderkey"] for r in rows))))
        # file names differ run-to-run (job ids); compare the multiset of
        # (partition, row-content) file payloads
        return sorted(per_file)

    hashed = layout("hashed")
    assert len(hashed) > 2, hashed  # the "big" partition really is cut
    assert hashed == layout("desc")


def test_compaction_keeps_map_columns(spark, tmp_path):
    """A map column cannot be hashed (xxhash64 rejects MapType), so it
    stays out of the row-hash sort key; the rows still all come back."""
    src = str(tmp_path / "frag_map_src")
    out = str(tmp_path / "compact_map_out")
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 3).alias("bucket"),
        F.create_map(F.lit("k"), F.col("id")).alias("attrs"),
    )
    df.repartition(8).write.mode("overwrite").partitionBy("bucket").parquet(src)
    total = sum(sz for _, sz in list_data_files(spark, src))
    compact_parquet(
        spark, src, out, target_bytes=max(total // 4, 1), partition_cols=["bucket"]
    )
    back = spark.read.parquet(out)
    assert sorted((r["id"], r["bucket"], r["attrs"]["k"]) for r in back.collect()) == [
        (i, i % 3, i) for i in range(1000)
    ]
