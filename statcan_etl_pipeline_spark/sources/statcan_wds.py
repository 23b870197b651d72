"""StatCan Web Data Service (WDS) full-table-download ingestion.

StatCan publishes each product (PID) as a zipped CSV in a fixed long
format: one row per observation with columns REF_DATE, GEO, DGUID,
dimension members, UOM, UOM_ID, SCALAR_FACTOR, SCALAR_ID, VECTOR,
COORDINATE, VALUE, STATUS, SYMBOL, TERMINATED, DECIMALS. The ETL moves
are: type the observation records, split dimension members into
conformed dimension tables with surrogate keys, and expose
(vector, ref_date, value) series.

This module does those moves Spark-first: explicit schema (no
inference pass), dimension extraction as distinct members numbered by a
global `dense_rank` window (deterministic ids, no zipWithIndex), and
everything lazy so Catalyst prunes unused dimension columns at scan.
Revision dedup is `operators.incremental.latest_revision`, re-exported
here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.incremental import latest_revision  # noqa: F401  (re-export)

# Core columns in file order; the product dimension columns sit between
# DGUID and UOM (see wds_schema).
WDS_CORE_COLUMNS = [
    "REF_DATE", "GEO", "DGUID",
    "UOM", "UOM_ID", "SCALAR_FACTOR", "SCALAR_ID", "VECTOR", "COORDINATE",
    "VALUE", "STATUS", "SYMBOL", "TERMINATED", "DECIMALS",
]


def wds_schema(dimension_cols: list[str]) -> T.StructType:
    """Explicit schema for a WDS csv: core columns + product dimensions
    in file order, since the CSV reader maps columns by position (all
    read as string; VALUE/DECIMALS typed after parse)."""
    names = WDS_CORE_COLUMNS[:3] + list(dimension_cols) + WDS_CORE_COLUMNS[3:]
    return T.StructType([T.StructField(c, T.StringType()) for c in names])


def read_wds_csv(
    spark: SparkSession, path: str, dimension_cols: list[str]
) -> DataFrame:
    """Read + type a WDS full-table CSV. REF_DATE is monthly ('2024-01')
    or annual ('2024'); both normalize to the period's first day.
    VALUE is nullable (suppressed/confidential cells carry STATUS codes
    instead)."""
    raw = (
        spark.read.schema(wds_schema(dimension_cols))
        .options(header="true", mode="PERMISSIVE")
        .csv(path)
    )
    ref_month = F.when(
        F.length("REF_DATE") == 4, F.concat(F.col("REF_DATE"), F.lit("-01-01"))
    ).otherwise(F.concat(F.col("REF_DATE"), F.lit("-01")))
    return (
        raw.withColumn("ref_date", F.to_date(ref_month, "yyyy-MM-dd"))
        .withColumn("value", F.col("VALUE").cast("double"))
        .withColumn("decimals", F.col("DECIMALS").cast("int"))
        .withColumn("vector", F.col("VECTOR"))
        .withColumn("terminated", F.col("TERMINATED").isNotNull())
    )


def build_dimension(df: DataFrame, member_col: str, id_col: str = "member_id") -> DataFrame:
    """Conformed dimension: distinct members with deterministic dense-rank
    surrogate keys (stable across runs — no zipWithIndex/monotonic ids,
    which are partitioning-dependent)."""
    from pyspark.sql import Window as W

    w = W.orderBy(member_col)
    return (
        df.select(member_col)
        .where(F.col(member_col).isNotNull())
        .distinct()
        .withColumn(id_col, F.dense_rank().over(w).cast("long"))
    )


def vector_series(df: DataFrame) -> DataFrame:
    """(vector, ref_date, value) long series, suppression-aware."""
    return df.select("vector", "ref_date", "value", "STATUS").orderBy(
        "vector", "ref_date"
    )
