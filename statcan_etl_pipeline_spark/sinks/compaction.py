"""Small-file compaction + z-order layout — table maintenance for
parquet data lakes (the Delta/Iceberg OPTIMIZE / ZORDER BY shape,
re-expressed with plain Spark primitives).

Why it matters at 100 TB: a streaming or per-batch writer leaves
thousands of KB-sized files; every downstream scan then pays one task
+ one footer read per file, and the NameNode/object-store listing cost
dominates. Compaction rewrites a directory to ~`target_bytes` files.
Z-ordering additionally makes file-level min/max stats selective on
MULTIPLE columns at once (bit-interleaved space-filling curve), so
point/range filters on any z-column skip most files entirely.

File listing goes through the JVM Hadoop FileSystem API, so the same
code works on HDFS / S3A / local paths.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, size) for every data file under `path`, via Hadoop FS
    (works on any supported filesystem, not just local)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out: list[tuple[str, int]] = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if not st.isFile() or name.startswith("_") or name.startswith("."):
            continue
        out.append((st.getPath().toString(), int(st.getLen())))
    return out


def compaction_plan(
    files: list[tuple[str, int]], target_bytes: int = DEFAULT_TARGET_BYTES
) -> dict:
    total = sum(sz for _, sz in files)
    n_target = max(1, math.ceil(total / target_bytes))
    return {
        "n_files": len(files),
        "total_bytes": total,
        "target_bytes": target_bytes,
        "target_files": n_target,
        "small_files": sum(1 for _, sz in files if sz < target_bytes // 2),
    }


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    partition_cols: list[str] | None = None,
) -> dict:
    """Rewrite `path` into ~target-size files at `out_path`; returns
    before/after stats.

    With `partition_cols` the rewrite keeps the hive layout and lets the
    parquet writer cut the files: one count turns `target_bytes` into a
    row budget (rows × target / input bytes, the input's mean row size),
    and `maxRecordsPerFile` closes a file when it reaches that budget.
    A hive partition of r rows therefore gets ceil(r / budget) files,
    exact duplicates split like any other rows (the writer counts
    records, not content), and NULL partition values
    (__HIVE_DEFAULT_PARTITION__) are kept. Each task sorts its rows by
    a hash of their content before the writer cuts them, so the
    per-file row sets are a function of the data, not of the input's
    file layout or shuffle fetch order.

    The one trade: rows are shuffled by the partition columns alone, so
    each hive partition is written by ONE task, which writes its files
    one after another; an oversized partition is not spread over
    several tasks.

    Compacting in place on object stores needs a commit protocol
    (write temp + atomic swap); this writes to a NEW path and leaves
    the swap to the caller/catalog, which is the safe default.
    """
    before = compaction_plan(list_data_files(spark, path), target_bytes)
    df = spark.read.parquet(path)
    n = before["target_files"]
    if partition_cols:
        rows_per_file = max(1, df.count() * target_bytes // before["total_bytes"])
        # xxhash64 rejects map columns, so they stay out of the sort key
        # (the partition columns are never maps, so the key is never empty).
        hashable = [
            f.name for f in df.schema.fields if not isinstance(f.dataType, MapType)
        ]
        (
            df.repartition(n, *partition_cols)
            .sortWithinPartitions(*partition_cols, F.xxhash64(*hashable))
            .write.mode("overwrite")
            .option("maxRecordsPerFile", rows_per_file)
            .partitionBy(*partition_cols)
            .parquet(out_path)
        )
    else:
        df.repartition(n).write.mode("overwrite").parquet(out_path)
    after = compaction_plan(list_data_files(spark, out_path), target_bytes)
    return {"before": before, "after": after}


# --- z-order ----------------------------------------------------------------

_ZBITS = 21  # 2 cols × 21 bits = 42-bit z-value, fits a long


def _norm_to_bits(col: Column, lo: Column, hi: Column, bits: int = _ZBITS) -> Column:
    """Rank-free normalization of a numeric column onto [0, 2^bits):
    (x - min) scaled by the column range. Monotonic, cheap, and good
    enough for min/max-stat file skipping (a rank-based variant would
    handle heavy skew better at the cost of an extra pass)."""
    span = (hi - lo).cast("double")
    unit = (col.cast("double") - lo.cast("double")) / F.when(span > 0, span).otherwise(
        F.lit(1.0)
    )
    max_code = F.lit((1 << bits) - 1)
    return F.least(F.floor(unit * max_code).cast("long"), max_code)


def _interleave2(a: Column, b: Column, bits: int = _ZBITS) -> Column:
    """Bit-interleave two `bits`-wide codes into one z-value (a gets the
    even bit positions, b the odd)."""
    parts = []
    for i in range(bits):
        bit_a = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b, i).bitwiseAND(F.lit(1))
        parts.append(F.shiftleft(bit_a, 2 * i))
        parts.append(F.shiftleft(bit_b, 2 * i + 1))
    return reduce(lambda x, y: x.bitwiseOR(y), parts)


def zorder_value(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Attach a `_zvalue` column interleaving the two columns' range-
    normalized codes. One extra aggregation pass computes the global
    min/max (broadcast scalar — no shuffle of the fact table)."""
    stats = df.agg(
        F.min(col_a).alias("_lo_a"),
        F.max(col_a).alias("_hi_a"),
        F.min(col_b).alias("_lo_b"),
        F.max(col_b).alias("_hi_b"),
    )
    joined = df.crossJoin(F.broadcast(stats))
    za = _norm_to_bits(F.col(col_a), F.col("_lo_a"), F.col("_hi_a"))
    zb = _norm_to_bits(F.col(col_b), F.col("_lo_b"), F.col("_hi_b"))
    return joined.withColumn("_zvalue", _interleave2(za, zb)).drop(
        "_lo_a", "_hi_a", "_lo_b", "_hi_b"
    )


def write_zordered_parquet(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Cluster rows along the z-curve, then range-partition into
    `n_files` so each output file covers a tight (col_a, col_b)
    rectangle — filters on EITHER column then skip most files via
    parquet min/max stats."""
    z = zorder_value(df, col_a, col_b)
    (
        z.repartitionByRange(n_files, "_zvalue")
        .sortWithinPartitions("_zvalue")
        .drop("_zvalue")
        .write.mode(mode)
        .parquet(path)
    )
