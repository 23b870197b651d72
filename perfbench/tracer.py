"""Spans and counts around calls into the package's layers.

Everything here lives in the benchmark: `Tracer.install()` rebinds the
package's public functions to timing wrappers, and `uninstall()` puts
the originals back, so traced and untraced passes can alternate in one
process.

A span records its name, start, end and parent. Each span runs under
its own Spark job group, so the jobs, stages and tasks it launched can
be read back from the status tracker when it ends. A parent's counts
include its children's.
"""

from __future__ import annotations

import itertools
import os
import sys
import time
from contextlib import contextmanager

PACKAGE = "statcan_etl_pipeline_spark"
JOB_GROUP = "spark.jobGroup.id"


def data_files(path: str) -> list[int]:
    """Sizes of the data files a Spark writer left under `path`."""
    sizes = []
    for d, _, names in os.walk(path):
        sizes += [os.path.getsize(os.path.join(d, n)) for n in names
                  if not n.startswith((".", "_"))]
    return sizes


def plan_counters(df) -> dict[str, int]:
    """Shuffle, spill and scan counters from `df`'s executed plan, summed
    the way `plans.metrics.profile` sums them."""
    from statcan_etl_pipeline_spark.plans.metrics import execution_metrics

    out = {"shuffle_bytes": 0, "shuffle_records": 0, "spill_bytes": 0, "scan_rows": 0}
    for cls, name, value in execution_metrics(df):
        if cls == "ShuffleExchangeExec" and name == "dataSize":
            out["shuffle_bytes"] += value
        elif cls == "ShuffleExchangeExec" and name == "shuffleRecordsWritten":
            out["shuffle_records"] += value
        elif name == "spillSize":
            out["spill_bytes"] += value
        elif "FileSourceScan" in cls and name == "numOutputRows":
            out["scan_rows"] += value
    return out


def planning_seconds(df) -> float:
    """Catalyst analysis + optimization + planning time of `df`'s own
    QueryExecution, from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total_ms = 0
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in ("analysis", "optimization", "planning"):
            total_ms += kv._2().durationMs()
    return total_ms / 1000.0


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "jobs", "stages", "tasks",
                 "failed_tasks")

    def __init__(self, sid: int, name: str, parent: "Span | None"):
        self.id, self.name, self.parent = sid, name, parent
        self.start = time.perf_counter()
        self.end = self.start
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self, t0: float) -> dict:
        return {
            "id": self.id, "name": self.name,
            "parent": self.parent.id if self.parent else None,
            "start_s": round(self.start - t0, 6), "end_s": round(self.end - t0, 6),
            "jobs": self.jobs, "stages": self.stages, "tasks": self.tasks,
            "failed_tasks": self.failed_tasks,
        }


class Tracer:
    """Span recorder for one worker process. `enabled=False` gives a
    tracer whose spans and counts cost nothing, for untraced passes."""

    def __init__(self, spark, enabled: bool = True):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans and counts ---------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent)
        group = f"perfbench-{os.getpid()}-{s.id}"
        self.sc.setLocalProperty(JOB_GROUP, group)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, f"perfbench-{os.getpid()}-{parent.id}"
                                     if parent else None)
            self._charge(s, group)
            self.spans.append(s)

    def _charge(self, s: Span, group: str) -> None:
        st = self.sc.statusTracker()
        for job_id in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job_id)
            if info is None:
                continue
            s.jobs += 1
            for stage_id in info.stageIds:
                stage = st.getStageInfo(stage_id)
                if stage is not None:
                    s.stages += 1
                    s.tasks += stage.numTasks
                    s.failed_tasks += stage.numFailedTasks
        for p in self._stack:
            p.jobs += s.jobs
            p.stages += s.stages
            p.tasks += s.tasks
            p.failed_tasks += s.failed_tasks

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def reset(self) -> None:
        """Start a new pass: keep the spans for the sidecar, zero counts."""
        self.counts = {}

    # -- wrappers around the package's public functions ---------------------

    def _rebind(self, original, wrapper) -> None:
        """Replace `original` by `wrapper` wherever a loaded package module
        binds it; query modules bind `load_table` by name, so patching
        only its home module would miss them."""
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PACKAGE or modname.startswith(PACKAGE + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._patched.append((mod, attr, original))
                    setattr(mod, attr, wrapper)

    def _timed(self, span_name: str, original, after=None):
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                result = original(*args, **kwargs)
            if after is not None:
                after(args, kwargs, result)
            return result

        wrapper.__wrapped__ = original
        return wrapper

    def install(self) -> None:
        from statcan_etl_pipeline_spark import catalog
        from statcan_etl_pipeline_spark.plans import pipeline
        from statcan_etl_pipeline_spark.sinks import compaction, writers
        from statcan_etl_pipeline_spark.sources import statcan_wds

        def after_write(args, kwargs, _):
            path = kwargs.get("path", args[1] if len(args) > 1 else None)
            sizes = data_files(path)
            self.count("sinks.files_written", len(sizes))
            self.count("sinks.bytes_written", sum(sizes))

        def after_compact(args, kwargs, stats):
            self.count("sinks.compact_files_in", stats["before"]["n_files"])
            self.count("sinks.compact_files_out", stats["after"]["n_files"])

        self._rebind(catalog.load_table, self._timed("catalog.load_table", catalog.load_table))
        self._rebind(statcan_wds.read_wds_csv,
                     self._timed("sources.read_wds_csv", statcan_wds.read_wds_csv))
        self._rebind(pipeline.run_pipeline, self._timed("pipeline.run_pipeline",
                                                        pipeline.run_pipeline))
        self._rebind(writers.write_partitioned_parquet,
                     self._timed("sinks.write", writers.write_partitioned_parquet, after_write))
        self._rebind(compaction.compact_parquet,
                     self._timed("sinks.compact", compaction.compact_parquet, after_compact))
        self._rebind(writers.read_back, self._timed("sinks.read_back", writers.read_back))

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def sidecar(self) -> list[dict]:
        return [s.as_dict(self.t0) for s in sorted(self.spans, key=lambda s: s.start)]
