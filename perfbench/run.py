"""Benchmark of the statcan_etl_pipeline_spark engine.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

Run it from the repository root. It

1. generates the workload's inputs from `--seed` and computes their
   DuckDB reference (cached per seed and size, never timed);
2. runs the workload as scheduled jobs, each in a fresh process that
   sets up and runs one cold pass: jobs follow one another for
   `--seconds`, and there is at least one. Fresh processes that only set
   up bring the set-ups to three. The end-to-end metrics are medians
   over the jobs and the set-ups. A traced run (`--trace 1`) is one job
   that goes on with warm passes, traced and untraced in turn;
3. checks every output against the reference;
4. prints a provenance line, then one JSON line with `correct`,
   `attempted`, `failed` and `metrics`: the end-to-end metrics with
   `--trace 0`, the per-layer metrics of the traced run with `--trace 1`.

Times that gate a change are CPU seconds of the job's processes, not
wall seconds: on a host shared with other machines, wall time follows
the neighbours' load. Wall times are in the provenance line.

Spans of a traced run, the provenance and any failures are written to
`.perfbench_cache/runs/`. Workers log to `.perfbench_cache/logs/`.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".perfbench_cache")
sys.path.insert(0, ROOT)

import workloads  # noqa: E402

RUN_DEADLINE_S = 170
MIN_SETUPS = 3


def declared_metrics() -> tuple[dict, dict]:
    """Names and units of the end-to-end and per-layer metrics, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


class BenchError(RuntimeError):
    pass


def worker_env(scratch: str) -> dict:
    """Keep the worker's and Spark's scratch files in `scratch`, inside
    the checkout."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of a worker's process group (the JVM it started)
    and wait until it has gone. The worker has written its result by
    then, so nothing needs a graceful stop; its scratch files are
    removed after."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    if proc.poll() is None:
        proc.wait()
    while _live_members(proc.pid):
        time.sleep(0.02)


def _live_members(pgid: int) -> list[int]:
    """Processes of group `pgid` that have not ended. A killed JVM whose
    parent has exited stays a zombie until init reaps it; it has ended."""
    live = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] not in ("Z", "X"):
            live.append(int(pid))
    return live


def run_worker(job: dict, tag: str, deadline: float) -> dict:
    """Run one worker process for `job` and return its result."""
    os.makedirs(os.path.join(CACHE, "jobs"), exist_ok=True)
    os.makedirs(os.path.join(CACHE, "logs"), exist_ok=True)
    base = os.path.join(CACHE, "jobs", f"{tag}-{os.getpid()}")
    job_path, result_path = base + ".job.json", base + ".result.json"
    with open(job_path, "w") as f:
        json.dump(job, f)
    if os.path.exists(result_path):
        os.remove(result_path)
    log_path = os.path.join(CACHE, "logs", f"{tag}.log")
    scratch = os.path.join(CACHE, "scratch", f"{tag}-{os.getpid()}")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), "--job", job_path,
             "--result", result_path],
            cwd=ROOT, env=worker_env(scratch), stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
            shutil.rmtree(scratch, ignore_errors=True)
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        why = "timed out" if code is None else f"exited with {code}"
        raise BenchError(f"worker {tag} {why}; log {log_path}:\n{tail}")
    with open(result_path) as f:
        result = json.load(f)
    os.remove(job_path)
    os.remove(result_path)
    return result


def cpu_steal_s() -> float | None:
    """CPU time the hypervisor has taken from this host since boot: a
    run during which it grows was slowed by neighbours."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def source_revision() -> dict:
    """The git revision when there is one, and always a digest of the
    package's sources."""
    import hashlib

    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "statcan_etl_pipeline_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(files):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(n.encode() + f.read())
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        rev = None
    return {"git_revision": rev, "source_sha1": h.hexdigest()}


def run(workload: str, seed: int, seconds: float, trace: bool, size: str = "default",
        corrupt_reference: bool = False) -> tuple[dict, dict]:
    """Run one workload; return (result line, provenance)."""
    started = time.monotonic()
    deadline = started + RUN_DEADLINE_S
    load_before, steal_before = os.getloadavg(), cpu_steal_s()
    revision = source_revision()
    inputs = workloads.prepare(workload, CACHE, seed, size, revision["source_sha1"])
    prepare_s = time.monotonic() - started
    reference = inputs.pop("reference")
    if corrupt_reference:
        for ref in reference.values():
            ref["hash"] = "0" * 32
    tag = f"{workload}-seed{seed}-trace{int(trace)}"
    end_to_end, per_layer = declared_metrics()

    def job(n: int) -> dict:
        return {"workload": workload, "inputs": inputs, "reference": reference,
                "seconds": seconds, "trace": trace,
                "work_dir": os.path.join(CACHE, "work", f"{tag}-{os.getpid()}-{n}")}

    jobs = []
    if trace:
        jobs.append(run_worker(job(0), tag, deadline))
    else:
        # Scheduled jobs, each in a fresh process, for `seconds` and at
        # least one; no job starts that might not end before the deadline.
        measuring = time.monotonic()
        while not jobs or (
                time.monotonic() - measuring < seconds
                and time.monotonic() + 2 * (time.monotonic() - measuring) / len(jobs) < deadline):
            jobs.append(run_worker(job(len(jobs)), f"{tag}-job{len(jobs)}", deadline))
    # setup_s is the median of at least MIN_SETUPS set-ups; processes
    # that stop after set-up make up the number. A second cold job would
    # cost more and steady little: two jobs of one run read alike, and
    # the cold pass varies with the host's load from run to run.
    setups = [j["setup"] for j in jobs]
    while not trace and len(setups) < MIN_SETUPS:
        setups.append(run_worker({"setup_only": True}, f"{tag}-setup{len(setups)}",
                                 deadline)["setup"])
    load_after, steal_after = os.getloadavg(), cpu_steal_s()

    failures = [f for j in jobs for f in j["failures"]]
    attempted = sum(j["attempted"] for j in jobs)
    if trace:
        values = dict(jobs[0]["layers"])
        values["session.import_s"] = jobs[0]["setup"]["import_s"]
        values["session.get_spark_s"] = jobs[0]["setup"]["get_spark_s"]
        metrics = {k: {"value": values[k], "unit": u} for k, u in per_layer.items()}
    else:
        values = {
            "setup_s": statistics.median(s["setup_s"] for s in setups),
            "cold_run_cpu_s": statistics.median(j["cold_run_cpu_s"] for j in jobs),
            "peak_rss_mb": statistics.median(j["peak_rss_mb"] for j in jobs),
            "success_rate": 1.0 - len(failures) / attempted,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in end_to_end.items()}

    provenance = {
        "workload": workload, "seed": seed, "size": size, "seconds": seconds,
        "trace": trace, **revision, "spark": jobs[0]["confs"],
        "python": platform.python_version(), "host_cpus": os.cpu_count(),
        "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_steal_s": (steal_after - steal_before) if steal_before is not None else None,
        "inputs": workloads.input_summary(workload, inputs),
        "setups": setups,
        "jobs": [{k: j[k] for k in ("cold_run_s", "cold_run_cpu_s", "peak_rss_mb", "ops")}
                 for j in jobs],
        "failures": failures[:20],
        "prepare_s": prepare_s, "wall_s": time.monotonic() - started,
    }
    os.makedirs(os.path.join(CACHE, "runs"), exist_ok=True)
    sidecar = os.path.join(CACHE, "runs", f"{tag}-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(sidecar, "w") as f:
        json.dump({"provenance": provenance, "metrics": metrics,
                   "spans": jobs[0].get("spans", [])}, f)
    provenance["sidecar"] = os.path.relpath(sidecar, ROOT)
    line = {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": metrics}
    return line, provenance


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("statcan_etl_pipeline_spark/registry.py", "scripts/gen_testdata.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from the repository root",
                  file=sys.stderr)
            return 2
    # Stopping the benchmark stops its worker too (see run_worker).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        line, provenance = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    for failure in provenance["failures"]:
        print(f"perfbench: FAILED {failure}", file=sys.stderr)
    print(json.dumps({"provenance": provenance}))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
