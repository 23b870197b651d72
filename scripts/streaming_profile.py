"""Profile the stateful streaming micro-batch paths at an SF dir
(r15, VERDICT r14 item 7).

For each stateful job (tumbling window agg, session window agg,
stream-stream interval join inner/outer, dedup-within-watermark) run an
`availableNow` pass over the events table, then report per-job:
  - wall seconds for the drained run,
  - number of micro-batches,
  - state-store metrics from the LAST progress (rows total/updated,
    memory bytes),
  - shuffle partitions the state is keyed on,
  - the micro-batch physical plan's Exchange / StateStore operator
    census (from the streaming query's lastExecution explain).

Read-only: memory sinks, no bench keys touched. Output is one JSON
line per job plus a summary — paste into SCALING.md.

Usage: python scripts/streaming_profile.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from statcan_etl_pipeline_spark.catalog import table_path  # noqa: E402
from statcan_etl_pipeline_spark.session import get_spark  # noqa: E402
from statcan_etl_pipeline_spark.streaming.jobs import (  # noqa: E402
    chained_windowed_max,
    deduped_stream,
    events_stream,
    purchases_after_views,
    session_counts,
    windowed_counts,
)


_PLAN_NODES = (
    "Exchange",
    "StateStoreSave",
    "StateStoreRestore",
    "SessionWindowStateStoreSave",
    "SessionWindowStateStoreRestore",
    "StreamingSymmetricHashJoin",
    "StreamingDeduplicate",
    "StreamingDeduplicateWithinWatermark",
    "BatchEvalPython",
    "ArrowEvalPython",
)


def _stage_dir(sf_dir: str) -> str:
    d = tempfile.mkdtemp(prefix="events_stream_")
    os.symlink(table_path(sf_dir, "events"), os.path.join(d, "events.parquet"))
    return d


def _profile(spark, name: str, df) -> dict:
    spark.sparkContext.setJobDescription(f"streaming_profile: {name}")
    t0 = time.perf_counter()
    q = (
        df.writeStream.format("memory")
        .queryName(f"prof_{name}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = round(time.perf_counter() - t0, 3)
    progresses = [json.loads(p.json) for p in q.recentProgress]
    last_state = {}
    for p in reversed(progresses):
        if p.get("stateOperators"):
            last_state = p["stateOperators"]
            break
    try:
        plan = q._jsq.explainInternal(True)
    except Exception as e:
        plan = f"(plan unavailable: {e})"
    # whole node names only: "Exchange" must not count BroadcastExchange
    census = {
        node: len(re.findall(rf"\b{node}\b", plan)) for node in _PLAN_NODES
    }
    out_rows = spark.table(f"prof_{name}").count()
    q.stop()
    return {
        "job": name,
        "wall_s": wall,
        "micro_batches": len(progresses),
        "output_rows": out_rows,
        "state_operators": [
            {
                "operator": s.get("operatorName"),
                "rows_total": s.get("numRowsTotal"),
                "rows_updated": s.get("numRowsUpdated"),
                "memory_bytes": s.get("memoryUsedBytes"),
                "partitions": s.get("numShufflePartitions"),
            }
            for s in last_state
        ],
        "plan_census": census,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="streaming_profile")
    jobs = {
        "tumbling_1h": lambda s: windowed_counts(s),
        "session_window": lambda s: session_counts(s),
        "join_inner": lambda s: purchases_after_views(s),
        "join_outer": lambda s: purchases_after_views(s, "leftOuter"),
        "dedup": lambda s: deduped_stream(s, ["event_id"]),
        "chained_windowed_max": lambda s: chained_windowed_max(s),
    }
    results = []
    stage_dir = _stage_dir(sf_dir)
    try:
        for name, build in jobs.items():
            try:
                df = build(events_stream(spark, sf_dir, stage_dir))
            except Exception as e:  # job not present in this build
                results.append({"job": name, "error": str(e)[:200]})
                continue
            results.append(_profile(spark, name, df))
            print(json.dumps(results[-1]), flush=True)
    finally:
        shutil.rmtree(stage_dir)
    print(json.dumps({"sf_dir": sf_dir, "n_jobs": len(results)}))
    spark.stop()


if __name__ == "__main__":
    main()
