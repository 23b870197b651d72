"""statcan_etl_pipeline_spark — a PySpark-native batch+streaming ETL/analytics engine.

Re-expresses the capabilities of the reference ETL pipeline
(pmverbrugge/statcan-etl-pipeline; see SURVEY.md — the read-only checkout
at /root/reference contains only a LICENSE, so the surface is derived from
the public StatCan WDS domain plus the mandated LLM-data-pipeline ops)
as idiomatic Spark: declarative DataFrame plans, Catalyst-optimized,
designed for 100 TB scale.
"""

__version__ = "0.1.0"

from .catalog import load_table, scatter  # noqa: E402
from .plans.pipeline import run_pipeline  # noqa: E402
from .session import get_spark  # noqa: E402

__all__ = [
    "get_spark",
    "load_table",
    "run_pipeline",
    "scatter",
]
