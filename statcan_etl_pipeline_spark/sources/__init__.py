"""Sources: schema-enforced CSV/JSON readers (with malformed-row
quarantine), the mergeSchema parquet reader for evolving files, the
StatCan-WDS long-format reader, and the Kafka-shaped record parser.
Star-table parquet reads go through `catalog.load_table`."""

from .kafka_shape import kafka_events_stream, parse_kafka_events
from .readers import (
    read_csv,
    read_csv_with_quarantine,
    read_json,
    read_json_with_quarantine,
    read_parquet_evolving,
)
from .statcan_wds import (
    build_dimension,
    latest_revision,
    read_wds_csv,
    vector_series,
    wds_schema,
)

__all__ = [
    "build_dimension",
    "kafka_events_stream",
    "latest_revision",
    "read_csv",
    "read_csv_with_quarantine",
    "read_json",
    "read_json_with_quarantine",
    "read_parquet_evolving",
    "parse_kafka_events",
    "read_wds_csv",
    "vector_series",
    "wds_schema",
]
