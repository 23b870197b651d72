"""Partitioned / bucketed sinks.

At 100 TB the write layout IS the read performance: partition columns
give partition pruning on read; bucketing co-locates join keys so
downstream joins skip the shuffle entirely. Target file size matters
too — aim for 128 MB–1 GB files, never thousands of kilobyte files:
size the write with the pipeline's `repartition` step, or rewrite a
landed table with `sinks.compaction.compact_parquet`."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: joins/aggs on bucket_col read shuffle-free."""
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).options(header="true").csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_back(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink (native Spark format; same pushdown/pruning surface as
    parquet — some warehouses standardize on it)."""
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """XML sink — built into Spark 4 (the former spark-xml package).
    XML is the interchange format of several national statistics
    agencies (SDMX), so the engine keeps a first-class round-trip."""
    (
        df.write.mode(mode)
        .format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .save(path)
    )


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema=None,
) -> DataFrame:
    """XML source with optional explicit schema (schema-on-read is
    sampled inference — production readers should always pass one)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


_AVRO_CLASS = "org.apache.spark.sql.avro.AvroFileFormat"


def avro_format(spark: SparkSession) -> str | None:
    """Resolve the usable Avro data-source name, or None.

    Spark 4.1's pip distribution bundles the Avro FileFormat classes
    inside spark-sql_2.13 but ships no META-INF DataSourceRegister
    entry for them, so the short name `format("avro")` fails while the
    fully-qualified class name works. Prefer the short name (present
    when a cluster deploys --packages org.apache.spark:spark-avro);
    fall back to the class name; return None when the classes are
    absent entirely.
    """
    jvm = spark.sparkContext._jvm
    try:
        jvm.java.lang.Class.forName(_AVRO_CLASS)
    except Exception:
        return None
    try:
        jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return "avro"
    except Exception:
        return _AVRO_CLASS


def write_avro(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    compression: str = "snappy",
) -> None:
    """Avro sink — the row-oriented interchange format (Kafka schema
    registry, cross-language pipelines). Columnar analytics stays on
    parquet/ORC; Avro exists for streaming interop and schema
    evolution, so the sink keeps writer-schema fidelity."""
    fmt = avro_format(df.sparkSession)
    if fmt is None:
        raise RuntimeError("Avro data source classes not on the classpath")
    writer = df.write.mode(mode).format(fmt).option("compression", compression)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.save(path)


def read_avro(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Avro source; pass `schema` (an Avro-compatible StructType) to get
    reader-schema projection instead of file-schema inference."""
    fmt = avro_format(spark)
    if fmt is None:
        raise RuntimeError("Avro data source classes not on the classpath")
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)
