"""Schema-enforced readers. Always pass an explicit schema in
production paths — schema inference is a full extra pass over the data
(fatal at 100 TB) and type-unstable across files."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    header: bool = True,
    **options: str,
) -> DataFrame:
    return (
        spark.read.schema(schema)
        .options(header=str(header).lower(), mode="PERMISSIVE", **options)
        .csv(path)
    )


def read_json(
    spark: SparkSession, path: str, schema: StructType | str, **options: str
) -> DataFrame:
    return spark.read.schema(schema).options(**options).json(path)


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    corrupt_col: str = "_corrupt_record",
    header: bool = True,
    **options: str,
) -> tuple[DataFrame, DataFrame, "Callable[[], None]"]:
    """PERMISSIVE CSV read that SPLITS clean rows from malformed ones
    (the quarantine/dead-letter pattern): returns (good, bad, release).
    Bad rows
    keep the raw line in `corrupt_col` for replay/debugging instead of
    silently nulling (PERMISSIVE default) or dropping (DROPMALFORMED) —
    at pipeline scale you always want the reject counts observable.

    Both splits derive from ONE cached PERMISSIVE read — the two parse
    modes disagree on edge cases (DROPMALFORMED keeps type-cast
    failures that PERMISSIVE marks corrupt), so a two-read split would
    leak rows into neither/both sides. Spark also requires the cache:
    a plan referencing only the corrupt column is disallowed otherwise.
    The parsed input therefore stays cached (MEMORY_AND_DISK — spills,
    evictable) until the returned `release()` is called; call it once
    the splits are consumed/written.
    """
    with_corrupt = _schema_with_corrupt(schema, corrupt_col)
    df = (
        spark.read.schema(with_corrupt)
        .options(
            header=str(header).lower(),
            mode="PERMISSIVE",
            columnNameOfCorruptRecord=corrupt_col,
            **options,
        )
        .csv(path)
    )
    return _split_quarantine(df, corrupt_col)


def _schema_with_corrupt(schema: StructType | str, corrupt_col: str) -> StructType:
    """Copy-extend the schema (StructType.add MUTATES in place — a
    caller-owned schema object must not grow a phantom column)."""
    from pyspark.sql.types import StringType, StructField

    base = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    if corrupt_col in base.fieldNames():
        raise ValueError(f"schema already contains {corrupt_col!r}")
    return StructType(list(base.fields) + [StructField(corrupt_col, StringType())])


def _split_quarantine(df, corrupt_col: str):
    """(good, bad, release): both splits over one cached parse; call
    `release()` after consuming them to drop the cache."""
    from pyspark.sql import functions as F

    cached = df.cache()
    good = cached.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = cached.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)

    def release() -> None:
        cached.unpersist()

    return good, bad, release


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: mergeSchema unions the schemas of all
    files under `path`, so columns added by newer pipeline versions
    appear (null-filled for old files). Costs a footer read per file —
    fine for a partition directory, so prefer a catalog-stored schema
    for full-table scans at 100 TB."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_json_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    corrupt_col: str = "_corrupt_record",
    **options: str,
) -> tuple[DataFrame, DataFrame, "Callable[[], None]"]:
    """JSON twin of read_csv_with_quarantine: (good, bad, release) split
    with the raw malformed line preserved for replay."""
    with_corrupt = _schema_with_corrupt(schema, corrupt_col)
    df = spark.read.schema(with_corrupt).options(
        mode="PERMISSIVE", columnNameOfCorruptRecord=corrupt_col, **options
    ).json(path)
    return _split_quarantine(df, corrupt_col)
