"""The benchmark's workloads: inputs, DuckDB references, and one pass.

A pass returns one `(operation, ok, error, wall_s, cpu_s)` row per
operation (see `timed`). For `query_mix` an operation is one query; for `wds_etl` it
is one ETL stage. An operation fails when it raises or when its
output's exact hash differs from the reference.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import sys
import time
from functools import reduce

import wds_gen
from tracer import plan_counters, planning_seconds

ROOT = os.getcwd()

# Short relational, temporal and StatCan-surface queries: each does
# little work, so catalog reads, planning and job launch dominate.
QUERY_MIX = [
    "q5_local_supplier_volume",
    "events_tumbling_1h",
    "statcan_latest_revision",
]

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]
STAR_SF = {"default": 0.01, "tiny": 0.001}

WORKLOADS = ("query_mix", "wds_etl")


def rows_hash(cols: list[str], rows) -> str:
    """The driver's exact comparison: md5 of the sorted `repr` rows, with
    columns taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return hashlib.md5(
        repr(sorted(tuple(repr(r[i]) for i in order) for r in rows)).encode()
    ).hexdigest()


def _digest(text: str) -> str:
    return hashlib.sha1(text.encode()).hexdigest()[:12]


def _cached(path: str, build) -> dict:
    """Return the manifest at `path`, building its directory first when
    absent. The manifest is written last, so a half-built directory is
    rebuilt."""
    manifest = os.path.join(path, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    data = build(path)
    with open(manifest + ".tmp", "w") as f:
        json.dump(data, f)
    os.replace(manifest + ".tmp", manifest)
    return data


# -- inputs and references (run in the parent, outside every timing) --------


def _star_inputs(cache: str, seed: int, size: str, package_digest: str) -> dict:
    sf = STAR_SF[size]
    gen_path = os.path.join(ROOT, "scripts", "gen_testdata.py")
    with open(gen_path) as f:
        key = _digest(package_digest + f.read() + repr(QUERY_MIX))

    def build(path: str) -> dict:
        import duckdb

        sys.path.insert(0, os.path.dirname(gen_path))
        from gen_testdata import gen

        from statcan_etl_pipeline_spark.registry import ORACLES

        oracles = {q: ORACLES[q] for q in QUERY_MIX}
        with contextlib.redirect_stdout(sys.stderr):
            gen(sf, path, seed)
        con = duckdb.connect()
        tables = {}
        for t in STAR_TABLES:
            p = os.path.join(path, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            rows = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            tables[t] = {"rows": rows, "bytes": os.path.getsize(p)}
        reference = {}
        for q, sql in oracles.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            reference[q] = {"hash": rows_hash(cols, rows), "rows": len(rows),
                            "columns": sorted(cols)}
        con.close()
        return {"dir": path, "sf": sf, "tables": tables, "reference": reference}

    return _cached(os.path.join(cache, "inputs", f"star-sf{sf:g}-seed{seed}-{key}"), build)


WDS_REFERENCE_SQL = """
WITH obs AS ({union}),
typed AS (
  SELECT VECTOR AS vector, CAST(REF_DATE || '-01' AS DATE) AS ref_date,
         GEO, Products,
         TRY_CAST(VALUE AS DOUBLE) AS value, STATUS, vintage
  FROM obs
),
latest AS (
  SELECT * FROM typed
  QUALIFY row_number() OVER (PARTITION BY vector, ref_date ORDER BY vintage DESC) = 1
),
geo_dim AS (SELECT GEO, dense_rank() OVER (ORDER BY GEO) AS geo_id
            FROM (SELECT DISTINCT GEO FROM typed WHERE GEO IS NOT NULL)),
product_dim AS (SELECT Products, dense_rank() OVER (ORDER BY Products) AS product_id
                FROM (SELECT DISTINCT Products FROM typed WHERE Products IS NOT NULL))
SELECT l.vector, g.geo_id, p.product_id, l.ref_date, l.value,
       l.STATUS AS status,
       l.value - lag(l.value) OVER (PARTITION BY l.vector ORDER BY l.ref_date) AS change,
       year(l.ref_date) AS year
FROM latest l
JOIN geo_dim g ON l.GEO = g.GEO
JOIN product_dim p ON l.Products = p.Products
"""


def _wds_inputs(cache: str, seed: int, size: str) -> dict:
    key = _digest(WDS_REFERENCE_SQL + open(wds_gen.__file__).read())

    def build(path: str) -> dict:
        import duckdb

        manifest = wds_gen.generate(path, seed, size)
        union = " UNION ALL ".join(
            f"SELECT *, {f['vintage']} AS vintage FROM read_csv("
            f"'{os.path.join(path, f['name'])}', header=true, all_varchar=true)"
            for f in manifest["files"]
        )
        con = duckdb.connect()
        res = con.execute(WDS_REFERENCE_SQL.format(union=union))
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        con.close()
        manifest.update(
            dir=path,
            reference={"etl_output": {"hash": rows_hash(cols, rows), "rows": len(rows),
                                      "columns": sorted(cols)}},
        )
        return manifest

    return _cached(os.path.join(cache, "inputs", f"wds-{size}-seed{seed}-{key}"), build)


def prepare(workload: str, cache: str, seed: int, size: str, package_digest: str) -> dict:
    """Generate (or reuse) the inputs of `workload` and their reference.
    The star-schema reference comes from the package's oracles, so its
    cache key includes `package_digest`."""
    if workload == "query_mix":
        return _star_inputs(cache, seed, size, package_digest)
    if workload == "wds_etl":
        return _wds_inputs(cache, seed, size)
    raise ValueError(f"unknown workload {workload!r}; known: {WORKLOADS}")


def input_summary(workload: str, inputs: dict) -> dict:
    if workload == "query_mix":
        t = inputs["tables"]
        return {"sf": inputs["sf"], "rows": sum(v["rows"] for v in t.values()),
                "bytes": sum(v["bytes"] for v in t.values()),
                "lineitem_rows": t["lineitem"]["rows"], "orders_rows": t["orders"]["rows"],
                "events_rows": t["events"]["rows"]}
    return {"vectors": inputs["vectors"], "months": inputs["months"],
            "rows": sum(f["rows"] for f in inputs["files"]),
            "bytes": sum(f["bytes"] for f in inputs["files"])}


# -- one pass (run in a worker) -----------------------------------------------


def _check(tracer, df, ref: dict) -> tuple[bool, str]:
    """Collect `df` (the DataFrame's own executed plan) and compare it
    with the reference."""
    with tracer.span("exec") as s:
        rows = [tuple(r) for r in df.collect()]
    if s is not None:
        tracer.count("catalyst.plan_s", planning_seconds(df))
        for k, v in plan_counters(df).items():
            tracer.count(f"exec.{k}", v)
    got = {"hash": rows_hash(df.columns, rows), "rows": len(rows),
           "columns": sorted(df.columns)}
    if got != ref:
        return False, f"output differs from reference: got {got}, want {ref}"
    return True, ""


def session_cpu_s() -> float:
    """CPU seconds used so far by every process of this session: the
    worker, the driver JVM it started, and any Python workers of that
    JVM. The kernel leaves out of it the time the host's hypervisor
    steals from this machine, so it measures the work, where wall time
    also measures the host's load."""
    sid, ticks = os.getsid(0), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has ended
            continue
        if int(fields[3]) == sid:
            # utime, stime, and those of children it has reaped
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def timed(fn):
    """Run `fn`; return its result, wall seconds and session CPU seconds."""
    w, c = time.perf_counter(), session_cpu_s()
    result = fn()
    return result, time.perf_counter() - w, session_cpu_s() - c


def _timed_op(op: str, fn) -> tuple[str, bool, str, float, float]:
    """Run one operation; an exception is its failure."""

    def attempt():
        try:
            return fn()
        except Exception as e:
            return False, f"{type(e).__name__}: {e}"

    (ok, err), wall, cpu = timed(attempt)
    return op, ok, err, wall, cpu


def query_mix_pass(spark, inputs: dict, tracer, reference: dict) -> list:
    from statcan_etl_pipeline_spark import registry

    def query(q: str):
        with tracer.span("queries.build"):
            df = registry.QUERIES[q](spark, inputs["dir"])
        return _check(tracer, df, reference[q])

    return [_timed_op(q, lambda: query(q)) for q in QUERY_MIX]


def etl_spec(out_path: str) -> dict:
    """The load pipeline: conform the dimensions, derive the period-over-
    period change and year, land parquet partitioned by year."""
    dims = [("geo_dim", "GEO"), ("product_dim", "Products")]
    return {
        "source": "latest",
        "steps": [{"op": "join", "table": t, "on": [c], "broadcast": True} for t, c in dims] + [
            {"op": "derive", "name": "change",
             "expr": "value - LAG(value) OVER (PARTITION BY vector ORDER BY ref_date)"},
            {"op": "derive", "name": "year", "expr": "year(ref_date)"},
            {"op": "select", "exprs": ["vector", "geo_id", "product_id",
                                       "ref_date", "value", "STATUS AS status", "change",
                                       "year"]},
            {"op": "write", "path": out_path, "partition_by": ["year"]},
        ],
    }


def wds_etl_pass(spark, inputs: dict, tracer, reference: dict, work_dir: str) -> list:
    """extract -> latest revision -> dimensions -> pipeline (join, derive,
    write) -> compaction -> read back; one operation per stage."""
    from pyspark.sql import functions as F

    from statcan_etl_pipeline_spark.plans import pipeline
    from statcan_etl_pipeline_spark.sinks import compaction, writers
    from statcan_etl_pipeline_spark.sources import statcan_wds

    written = os.path.join(work_dir, "wds_facts")
    compacted = os.path.join(work_dir, "wds_facts_compacted")
    state: dict = {}

    def extract():
        parts = []
        for f in inputs["files"]:
            tracer.count("sources.rows_in", f["rows"])
            tracer.count("sources.bytes_in", f["bytes"])
            df = statcan_wds.read_wds_csv(spark, os.path.join(inputs["dir"], f["name"]),
                                          wds_gen.DIMENSIONS)
            parts.append(df.withColumn("vintage", F.lit(f["vintage"])))
        state["obs"] = reduce(lambda a, b: a.unionByName(b), parts)
        return True, ""

    def revise():
        state["latest"] = statcan_wds.latest_revision(state["obs"], ["vector", "ref_date"],
                                                      ["vintage"])
        return True, ""

    def dimensions():
        obs = state["obs"]
        state["dims"] = {
            "geo_dim": statcan_wds.build_dimension(obs, "GEO", "geo_id"),
            "product_dim": statcan_wds.build_dimension(obs, "Products", "product_id"),
        }
        return True, ""

    def load():
        pipeline.run_pipeline(etl_spec(written), {"latest": state["latest"], **state["dims"]})
        return True, ""

    def compact():
        compaction.compact_parquet(spark, written, compacted, partition_cols=["year"])
        return True, ""

    def read():
        return _check(tracer, writers.read_back(spark, compacted), reference["etl_output"])

    out = []
    for op, stage in [("read_wds_csv", extract), ("latest_revision", revise),
                      ("build_dimension", dimensions), ("run_pipeline", load),
                      ("compact_parquet", compact), ("read_back", read)]:
        out.append(_timed_op(op, stage))
        if not out[-1][1]:  # later stages depend on this one: stop the pass
            break
    written_bytes = tracer.counts.get("sinks.bytes_written")
    if written_bytes is not None:
        tracer.count("sinks.bytes_per_input_byte",
                     written_bytes / tracer.counts["sources.bytes_in"])
    return out
