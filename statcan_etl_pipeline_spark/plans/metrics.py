"""Executed-plan metric profiling: the measured (not guessed) answer
to "how much did this query actually shuffle / spill / scan?".

`.explain()` shows the plan you HOPE runs; SQLMetrics on the executed
physical plan are what DID run. This module walks the executed plan
after an action — descending through AQE wrapper nodes
(AdaptiveSparkPlanExec, *QueryStageExec), which hide the real stages
from a naive `children()` traversal — and aggregates the metrics that
matter for a 100 TB budget:

- `shuffle_bytes` / `shuffle_records` (ShuffleExchangeExec dataSize /
  shuffleRecordsWritten): every byte here crosses the network at
  scale. The shuffle-budget tests pin these per query so a refactor
  that silently adds an exchange fails CI rather than the cluster.
- `spill_bytes`: non-zero means executor memory lost the sizing bet.
- `n_exchanges` / `n_broadcasts`: plan-shape counts, sturdier than
  string-matching explain output (AQE rewrites strings freely).
- `scan_rows`: rows leaving the scans — pushdown regressions show up
  here first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _walk(node, out: list) -> None:
    cls = node.getClass().getSimpleName()
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out.append((cls, kv._1(), kv._2().value()))
    if cls == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), out)
        return
    if "QueryStageExec" in cls:
        _walk(node.plan(), out)
        return
    if cls == "ReusedExchangeExec":
        return  # metrics belong to the original exchange; don't double count
    ch = node.children()
    for i in range(ch.length()):
        _walk(ch.apply(i), out)
    # subqueries (scalar/ IN) execute their own little plans
    sq = node.subqueries()
    for i in range(sq.length()):
        _walk(sq.apply(i), out)


def execution_metrics(df: DataFrame) -> list[tuple[str, str, int]]:
    """Flat (node_class, metric_name, value) rows from the EXECUTED
    plan. Call after an action has run on `df` — before that, AQE
    stages haven't materialized and metrics are zero."""
    out: list[tuple[str, str, int]] = []
    _walk(df._jdf.queryExecution().executedPlan(), out)
    return out


def profile(df: DataFrame) -> dict[str, int]:
    """Execute `df` and summarize its execution metrics. Uses
    collect() because it runs the DataFrame's OWN cached
    QueryExecution — `df.count()` would plan and execute a *derived*
    aggregate (different pruning, different exchanges) and leave
    `df`'s executed plan untouched, reading all-zero metrics."""
    df.collect()
    rows = execution_metrics(df)
    summary = {
        "shuffle_bytes": 0,
        "shuffle_records": 0,
        "spill_bytes": 0,
        "n_exchanges": 0,
        "n_broadcasts": 0,
        "scan_rows": 0,
    }
    for cls, name, value in rows:
        if cls == "ShuffleExchangeExec":
            if name == "dataSize":
                summary["shuffle_bytes"] += value
                summary["n_exchanges"] += 1
            elif name == "shuffleRecordsWritten":
                summary["shuffle_records"] += value
        elif cls == "BroadcastExchangeExec" and name == "numOutputRows":
            summary["n_broadcasts"] += 1
        elif name == "spillSize":
            summary["spill_bytes"] += value
        elif "FileSourceScan" in cls and name == "numOutputRows":
            summary["scan_rows"] += value
    return summary


def streaming_state_metrics(query) -> dict[str, dict[str, int]]:
    """Per-operator state-store metrics from a StreamingQuery's progress
    history: {operatorName: {"rows": max numRowsTotal, "bytes": max
    memoryUsedBytes, "rows_dropped_by_watermark": total across the
    RETAINED progress entries}}.

    `recentProgress` is a bounded buffer (default ~100 entries,
    spark.sql.streaming.numRecentProgressUpdates), so on a stream with
    more batches than the buffer holds the summed drop counter covers
    only the retained window, not the stream's lifetime total. For true
    lifetime totals attach a StreamingQueryListener and accumulate per
    onQueryProgress event; the tests here run bounded availableNow
    streams where the buffer never overflows.

    State growth is the streaming twin of shuffle growth: an unbounded
    state store is the thing that kills a 100 TB stream weeks after it
    ships. Tests pin a bound on these numbers (tests/test_streaming.py)
    so a watermark regression fails CI the way a shuffle-budget
    regression already does.

    Progress entries are deduplicated by batchId before aggregating:
    `lastProgress` is normally already the final element of
    `recentProgress`, so naively appending it would double-count the
    final batch's dropped-row total (harmless for the max-aggregated
    rows/bytes, wrong for the summed drop counter).
    """
    out: dict[str, dict[str, int]] = {}
    seen_batches: set = set()
    for p in list(query.recentProgress) + ([query.lastProgress] if query.lastProgress else []):
        if p["batchId"] in seen_batches:
            continue
        seen_batches.add(p["batchId"])
        for i, op in enumerate(p["stateOperators"]):
            name = op.get("operatorName") or f"op_{i}"
            rows = op.get("numRowsTotal", 0) or 0
            mem = op.get("memoryUsedBytes", 0) or 0
            dropped = op.get("numRowsDroppedByWatermark", 0) or 0
            cur = out.setdefault(name, {"rows": 0, "bytes": 0, "rows_dropped_by_watermark": 0})
            cur["rows"] = max(cur["rows"], int(rows))
            cur["bytes"] = max(cur["bytes"], int(mem))
            cur["rows_dropped_by_watermark"] += int(dropped)
    return out
