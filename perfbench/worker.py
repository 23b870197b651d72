"""One fresh benchmark process: one scheduled job of the workload.

    python3 perfbench/worker.py --job JOB.json --result RESULT.json

JOB.json names the workload, its prepared inputs and reference, and
whether to trace. The process sets up and runs one cold pass, as a
scheduled job does; a `setup_only` job stops after set-up. A traced job then runs one untimed warm-up pass and
pairs of an untraced and a traced pass for the job's `seconds`. The
result goes to RESULT.json; stdout and stderr are free for Spark's
logging.

Set-up is timed from the first import of the package to the moment
`get_spark` returns, which is what every scheduled job pays.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.getcwd())

MIN_TRACED_PAIRS = 3


def _setup() -> tuple[object, dict]:
    t0 = time.perf_counter()
    import statcan_etl_pipeline_spark.registry  # noqa: F401  (imports all query modules)

    t1 = time.perf_counter()
    from statcan_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    t2 = time.perf_counter()
    return spark, {"import_s": t1 - t0, "get_spark_s": t2 - t1, "setup_s": t2 - t0}


class Process:
    """CPU, GC and memory readings of the driver JVM and this process."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def snapshot(self) -> dict:
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return {
            "wall": time.perf_counter(),
            "jvm_cpu": (int(fields[11]) + int(fields[12])) / self.tick,
            "gc": sum(b.getCollectionTime() for b in beans) / 1000.0,
            "py_cpu": time.process_time(),
        }

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0

    def confs(self) -> dict:
        conf = self.sc.getConf()
        return {
            "master": self.sc.master,
            "default_parallelism": self.sc.defaultParallelism,
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": conf.get("spark.driver.memory"),
            "adaptive": conf.get("spark.sql.adaptive.enabled"),
            "spark_version": self.sc.version,
        }


def _sum(spans, name: str, attr: str = "seconds") -> float:
    return sum(getattr(s, attr) for s in spans if s.name == name)


def layer_metrics(spans, counts: dict, before: dict, after: dict, cores: int) -> dict:
    """Per-layer metrics of one traced pass."""
    wall = after["wall"] - before["wall"]
    jvm_cpu = after["jvm_cpu"] - before["jvm_cpu"]
    build_jobs = _sum(spans, "queries.build", "jobs")
    m = {
        "catalog.load_table_calls": sum(1 for s in spans if s.name == "catalog.load_table"),
        "catalog.load_table_s": _sum(spans, "catalog.load_table"),
        "catalog.load_table_jobs": _sum(spans, "catalog.load_table", "jobs"),
        "queries.build_s": _sum(spans, "queries.build"),
        "queries.build_jobs": build_jobs,
        "queries.build_tasks": _sum(spans, "queries.build", "tasks"),
        "queries.build_tasks_per_job": (_sum(spans, "queries.build", "tasks") / build_jobs
                                        if build_jobs else 0.0),
        "exec.s": _sum(spans, "exec"),
        "exec.jobs": _sum(spans, "exec", "jobs"),
        "exec.stages": _sum(spans, "exec", "stages"),
        "exec.tasks": _sum(spans, "exec", "tasks"),
        "exec.failed_tasks": _sum(spans, "exec", "failed_tasks"),
        "sources.read_wds_csv_s": _sum(spans, "sources.read_wds_csv"),
        "pipeline.run_pipeline_s": _sum(spans, "pipeline.run_pipeline"),
        "sinks.write_s": _sum(spans, "sinks.write"),
        "sinks.write_jobs": _sum(spans, "sinks.write", "jobs"),
        "sinks.write_tasks": _sum(spans, "sinks.write", "tasks"),
        "sinks.compact_s": _sum(spans, "sinks.compact"),
        "sinks.read_back_s": _sum(spans, "sinks.read_back"),
        "jvm.cpu_s": jvm_cpu,
        "jvm.gc_s": after["gc"] - before["gc"],
        "python.cpu_s": after["py_cpu"] - before["py_cpu"],
        "host.cpu_util": jvm_cpu / (wall * cores),
        "host.loadavg_1m": os.getloadavg()[0],
    }
    for name in ("catalyst.plan_s", "exec.shuffle_bytes", "exec.shuffle_records",
                 "exec.spill_bytes", "exec.scan_rows", "sources.rows_in", "sources.bytes_in",
                 "sinks.files_written", "sinks.bytes_written", "sinks.bytes_per_input_byte",
                 "sinks.compact_files_in", "sinks.compact_files_out"):
        m[name] = counts.get(name, 0)
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    with open(args.job) as f:
        job = json.load(f)

    spark, setup = _setup()
    result = {"setup": setup}
    if not job.get("setup_only"):
        result.update(_run(spark, job))
    with open(args.result, "w") as f:
        json.dump(result, f)
    # No spark.stop(): kill the driver JVM and reap it here, so that it
    # does not outlive this process, not even as a zombie. The parent
    # kills whatever else is left of the process group.
    jvm = spark.sparkContext._gateway.proc
    jvm.kill()
    jvm.wait()
    os._exit(0)


def _run(spark, job: dict) -> dict:
    import workloads
    from tracer import Tracer

    inputs, reference = job["inputs"], job["reference"]
    work_dir = job["work_dir"]
    os.makedirs(work_dir, exist_ok=True)

    def one_pass(tracer):
        if job["workload"] == "query_mix":
            return workloads.query_mix_pass(spark, inputs, tracer, reference)
        return workloads.wds_etl_pass(spark, inputs, tracer, reference, work_dir)

    proc = Process(spark)
    plain = Tracer(spark, enabled=False)
    ops: list = []  # every operation of every pass, for the failure count

    def checked_pass(tracer) -> list:
        rows = one_pass(tracer)
        ops.extend(rows)
        return rows

    try:
        cold, cold_wall, cold_cpu = workloads.timed(lambda: checked_pass(plain))
        # A scheduled job runs the workload once: its peak memory is the
        # peak over set-up and the cold pass.
        out = {"cold_run_s": cold_wall, "cold_run_cpu_s": cold_cpu,
               "peak_rss_mb": proc.peak_rss_mb(),
               "ops": {op: {"wall_s": w, "cpu_s": c} for op, _, _, w, c in cold}}
        if job["trace"]:
            out.update(_traced_passes(spark, job["seconds"], proc, plain, checked_pass))
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    out.update(attempted=len(ops), confs=proc.confs(),
               failures=[f"{op}: {err}" for op, ok, err, *_ in ops if not ok])
    return out


def _traced_passes(spark, seconds: float, proc: Process, plain, checked_pass) -> dict:
    """Per-layer metrics: the median over traced warm passes, and the
    tracing overhead against the untraced passes between them."""
    from tracer import Tracer

    traced = Tracer(spark, enabled=True)
    cores = spark.sparkContext.defaultParallelism
    untraced_passes, traced_passes, layers = [], [], []
    # The JIT is still compiling after the cold pass; one more pass,
    # untimed, lets it settle before the warm passes are timed.
    checked_pass(plain)
    start = time.perf_counter()
    while len(untraced_passes) < MIN_TRACED_PAIRS or time.perf_counter() - start < seconds:
        # Pairs of an untraced and a traced pass, in alternating order so
        # that the warm-up trend cancels: their difference is the tracing
        # overhead.
        for trace_it in ((False, True) if len(untraced_passes) % 2 == 0 else (True, False)):
            if not trace_it:
                untraced_passes.append(checked_pass(plain))
                continue
            mark = len(traced.spans)
            traced.reset()
            traced.install()
            try:
                before = proc.snapshot()
                traced_passes.append(checked_pass(traced))
                after = proc.snapshot()
            finally:
                traced.uninstall()
            layers.append(layer_metrics(traced.spans[mark:], traced.counts, before, after,
                                        cores))
    out = {k: statistics.median(p[k] for p in layers) for k in layers[0]}
    out["trace.overhead_s"] = steady_pass_s(traced_passes) - steady_pass_s(untraced_passes)
    return {"layers": out, "spans": traced.sidecar()}


def steady_pass_s(passes: list) -> float:
    """The steady-state wall time of one pass: the sum over its
    operations of each operation's median time. A burst of load on the
    host slows a few operations of one pass, and moves none of these
    medians."""
    by_op: dict = {}
    for rows in passes:
        for op, _, _, wall, _ in rows:
            by_op.setdefault(op, []).append(wall)
    return sum(statistics.median(v) for v in by_op.values())


if __name__ == "__main__":
    sys.exit(main())
