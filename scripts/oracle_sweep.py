"""Batch DuckDB-oracle parity at an arbitrary SF dir.

Compares each registered query (all of them unless --queries names
some) with its DuckDB oracle through tests/oracle.diff, the driver's
exact comparison — the tool behind the sf1/sf10 "verified at the Nx
decade" sweeps in SCALING.md.

Usage:
  python scripts/oracle_sweep.py --sf-dir /root/testdata/sf0.01
  python scripts/oracle_sweep.py --sf-dir testdata_big/sf10 \
      --queries q1_pricing_summary,dedup_exact [--timeout-s 600]

Prints one MATCH/MISMATCH/ERROR line per query and a JSON summary;
exit 1 on any mismatch/error (timeouts report as SKIP, exit 0 —
a skipped oracle is a formulation cost, not a wrong answer).
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run_oracle(sf_dir: str, name: str, q):
    """Child process: run the registered oracle in DuckDB, push rows."""
    from statcan_etl_pipeline_spark.registry import ORACLES
    from tests.oracle import duck_connection

    con = duck_connection(sf_dir)
    res = con.execute(ORACLES[name])
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    q.put((cols, rows))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--queries", default="",
                    help="comma-separated names (default: every registered query)")
    ap.add_argument("--timeout-s", type=int, default=900,
                    help="per-query DuckDB oracle budget")
    args = ap.parse_args()

    from statcan_etl_pipeline_spark.registry import QUERIES
    from statcan_etl_pipeline_spark.session import get_spark
    from tests.oracle import diff

    names = [n for n in args.queries.split(",") if n] or sorted(QUERIES)

    spark = get_spark(app_name="oracle_sweep")
    results: dict[str, dict] = {}
    bad = []
    for name in names:
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, args.sf_dir)
            spark_cols = list(sdf.columns)
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # report, keep sweeping
            results[name] = {"status": "ERROR", "err": str(e)[:200]}
            print(f"{name}: ERROR (spark) {e}", flush=True)
            bad.append(name)
            continue
        t_spark = time.time() - t0

        t0 = time.time()
        q: mp.Queue = mp.Queue()
        proc = mp.Process(target=_run_oracle, args=(args.sf_dir, name, q))
        proc.start()
        try:
            duck_cols, duck_rows = q.get(timeout=args.timeout_s)
        except Exception:
            proc.terminate()
            proc.join()
            results[name] = {
                "status": "SKIP",
                "why": f"oracle exceeded {args.timeout_s}s",
                "spark_s": round(t_spark, 1),
                "rows_spark": len(spark_rows),
            }
            print(
                f"{name}: SKIP oracle>{args.timeout_s}s "
                f"(spark={t_spark:.1f}s rows={len(spark_rows)})",
                flush=True,
            )
            continue
        proc.join()
        t_duck = time.time() - t0

        d = diff(spark_cols, spark_rows, duck_cols, duck_rows)
        ok = not d
        results[name] = {
            "status": "MATCH" if ok else "MISMATCH",
            "rows": len(spark_rows),
            "spark_s": round(t_spark, 1),
            "duck_s": round(t_duck, 1),
        }
        print(
            f"{name}: {'MATCH' if ok else 'MISMATCH'} rows={len(spark_rows)} "
            f"spark={t_spark:.1f}s duck={t_duck:.1f}s",
            flush=True,
        )
        if not ok:
            print(f"  (a=spark, b=duckdb) {d}", flush=True)
            bad.append(name)
    print(json.dumps({"sf_dir": args.sf_dir, "results": results}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
