"""Table registry for the driver-generated testdata star schema.

At cluster scale these would be catalog tables (parquet on object
storage, partitioned); here they are one parquet file per table under a
scale-factor directory.

The parquet footer is each table's only schema: `_read` reads it on the
driver (pyarrow, no Spark job) and hands it to the reader, so no read
launches a schema-inference job, and a column missing from the file
still fails at plan construction naming the column. Loading stays lazy
— the reader returns a scan node, so Catalyst can still prune columns
and push filters into the parquet reader. Batch (`load_table`) and
file-stream (`stream_table`) readers share that schema and the one
event-time decoding: an INT64 TIMESTAMP(NANOS) column, which the Spark
parquet reader rejects, is read as a long and truncated to microseconds.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# (region=5 rows, nation=25 rows always; supplier/part grow slowly).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def _footer(path: str) -> pa.Schema:
    """The arrow schema in the footer of a table's file, or of the first
    file of a directory table (Spark-written). INT96, Spark's legacy
    timestamp encoding, reads as micros, so only a genuine INT64
    TIMESTAMP(NANOS) column comes back as nanos."""
    if os.path.isdir(path):
        path = min(glob.glob(os.path.join(path, "*.parquet")))
    with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as f:
        return f.schema_arrow


def _read(spark: SparkSession, reader, sf_dir: str, name: str, path: str) -> DataFrame:
    """`reader` (spark.read or spark.readStream) over `path`, with table
    `name`'s footer schema and event-time decoding."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    footer = _footer(table_path(sf_dir, name))
    nanos = [f.name for f in footer if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Timestamps map to TIMESTAMP, never TIMESTAMP_NTZ (which event-time
    # operators reject), whatever the session's inference conf.
    schema = from_arrow_schema(
        pa.schema([f.with_type(pa.int64()) if f.name in nanos else f for f in footer])
    )
    df = reader.schema(schema).parquet(path)
    for c in nanos:
        # Integer division: nanos exceed 2^53, so float math would
        # corrupt them. DuckDB does the same truncation natively.
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _read(spark, spark.read, sf_dir, name, table_path(sf_dir, name))


def stream_table(
    spark: SparkSession, sf_dir: str, name: str, source_dir: str
) -> DataFrame:
    """File stream over the parquet files in `source_dir`, read with
    table `name`'s footer schema and event-time decoding (file streams
    cannot infer a schema)."""
    return _read(spark, spark.readStream, sf_dir, name, source_dir)


def scatter(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition a NARROW input to session parallelism
    before compute-heavy derivation (shingling, md5, vector math).
    The shuffle moves kilobytes; the derived work then runs wide —
    measured 5.7× on minhash over single-row-group documents.

    Gated on input width: if the scan already yields at least
    `defaultParallelism` splits (the normal case for a 100-TB corpus
    arriving in thousands of parquet files), the repartition would be
    an unconditional full shuffle of the largest table before any work,
    so it is skipped and the df is returned untouched. Only the
    single-file / few-row-group small-SF shape (splits < parallelism)
    pays for the spread. (Do NOT blanket-apply to fact-table scans:
    the row copy + pre-repartition sort loses — see git history.)"""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
