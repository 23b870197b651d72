"""Declarative ETL pipeline spec → DataFrame execution.

A pipeline is a plain dict (JSON/YAML-friendly): a source table and a
list of steps. Every step compiles to a LAZY DataFrame transformation,
so the WHOLE pipeline is a single Catalyst plan — filters written as
late steps still push down to the scan, column pruning spans step
boundaries, and the optimizer is free to reorder. This is the
Spark-first answer to the reference's staged extract→transform→load
runner: declare, don't schedule.

Supported ops: filter, derive, select, join, aggregate, sort, limit,
distinct, union, repartition, write. `derive` exprs may contain window
functions (`... OVER (PARTITION BY ...)`), so ranked/deduped stages
need no dedicated op. `write` is the load stage: partitioned parquet
through sinks.writers, passing the DataFrame through unchanged so a
pipeline can land intermediate tables and keep going.
"""

from __future__ import annotations

from collections.abc import Mapping
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_pipeline(spec: Mapping[str, Any], tables: Mapping[str, DataFrame]) -> DataFrame:
    """Execute a declarative pipeline spec against named input tables."""
    try:
        df = tables[spec["source"]]
    except KeyError as e:
        raise KeyError(f"pipeline source {spec['source']!r} not in tables") from e

    for i, step in enumerate(spec.get("steps", [])):
        op = step.get("op")
        if op == "filter":
            df = df.filter(step["expr"])
        elif op == "derive":
            df = df.withColumn(step["name"], F.expr(step["expr"]))
        elif op == "select":
            df = df.selectExpr(*step["exprs"])
        elif op == "join":
            other = tables[step["table"]]
            df = df.join(
                F.broadcast(other) if step.get("broadcast") else other,
                on=step["on"],
                how=step.get("how", "inner"),
            )
        elif op == "aggregate":
            aggs = [F.expr(expr).alias(name) for name, expr in step["aggs"].items()]
            df = df.groupBy(*step.get("by", [])).agg(*aggs)
        elif op == "sort":
            df = df.orderBy(*[F.expr(e) for e in step["by"]])
        elif op == "limit":
            df = df.limit(int(step["n"]))
        elif op == "distinct":
            df = df.distinct()
        elif op == "union":
            df = df.unionByName(
                tables[step["table"]], allowMissingColumns=bool(step.get("allow_missing"))
            )
        elif op == "repartition":
            cols = [F.col(c) for c in step.get("by", [])]
            df = df.repartition(int(step["n"]), *cols) if cols else df.repartition(int(step["n"]))
        elif op == "write":
            from ..sinks.writers import write_partitioned_parquet

            write_partitioned_parquet(
                df,
                step["path"],
                partition_cols=step.get("partition_by"),
                mode=step.get("mode", "overwrite"),
            )
        else:
            raise ValueError(f"pipeline step {i}: unknown op {op!r}")
    return df
