"""r13 (VERDICT r12 item 3): OR-amplification sweep for the banded
copurchase similarity — hold band_rows=2, sweep the band count
24 → 48 → 96 (n_hashes 48/96/192) and measure, per setting:

  - recall vs the exact wedge twin at sf0.001 and sf0.01 (the r12
    shipped setting is 0.83 / 0.25; the target is ≥0.5 at sf0.01),
  - candidate-pair mass at sf0.01 and sf0.1 (the cost OR-amplification
    pays: P(band collision) is fixed by r=2, so candidates grow
    ~linearly with band count),
  - full-query wall-clock at sf0.1 (run with --timing on a QUIET
    machine; interleaved reps, min-of-2 per setting).

Decision rule (the r11 embedding-LSH precedent): adopt a setting only
if sf0.01 recall ≥ 0.5 AND the sf0.1 candidate mass + wall-clock stay
far from the wedge regime (34 s / 14.7M pairs); otherwise record the
measured refusal in SCALING.md and keep 24×2.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from statcan_etl_pipeline_spark.registry import QUERIES  # noqa: E402,F401  (loads all query modules first — direct graph import would hit the registry's circular-load guard)
from statcan_etl_pipeline_spark.queries.graph import (  # noqa: E402
    _banded_similarity,
    _hub_capped_adjacency,
    _SIM_BUCKET_CAP,
    copurchase_wedge_similarity,
)
from statcan_etl_pipeline_spark.session import get_spark  # noqa: E402

BANDS = [24, 48, 96]  # x2 rows -> n_hashes 48/96/192


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _candidates(spark, sf_dir, n_hashes):
    """Candidate-pair count for the banded index at (n_hashes, r=2) —
    the same construction as _banded_similarity up to the verify
    (r14: the slim KM-family _sim_banded_index, matching the
    registered query; the r13 sweep numbers in SCALING.md were taken
    with the md5-string family)."""
    from statcan_etl_pipeline_spark.operators.dedup import group_pairs
    from statcan_etl_pipeline_spark.queries.graph import _sim_banded_index

    _, small = _hub_capped_adjacency(spark, sf_dir)
    shingled = small.select(
        F.col("nbr").alias("doc_id"), F.col("node").cast("string").alias("sh")
    )
    banded = _sim_banded_index(shingled, n_hashes, 2)
    return (
        group_pairs(banded, ["band", "key"], "doc_id", ("doc_a", "doc_b"), _SIM_BUCKET_CAP)
        .distinct()
        .count()
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--timing", action="store_true",
                    help="also run interleaved sf0.1 wall-clock reps")
    ap.add_argument("--timing-only", action="store_true",
                    help="skip the recall/candidate phase (already "
                    "recorded) and run only the sf0.1 wall-clock A/B")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    spark = get_spark(app_name="band_sweep")
    spark.sparkContext.setLogLevel("ERROR")

    for sf in () if args.timing_only else ("0.001", "0.01"):
        d = f"/root/testdata/sf{sf}"
        exact = _rows(copurchase_wedge_similarity(spark, d))
        print(f"sf{sf}: wedge rows = {len(exact)}")
        for bands in BANDS:
            banded = _rows(_banded_similarity(spark, d, bands * 2, 2, _SIM_BUCKET_CAP))
            assert banded <= exact, f"subset violation at {bands} bands"
            cands = _candidates(spark, d, bands * 2)
            r = len(banded) / len(exact) if exact else float("nan")
            print(
                f"  bands={bands:>3} recall={len(banded)}/{len(exact)}"
                f" = {r:.3f}  candidates={cands:,}",
                flush=True,
            )

    d = "/root/testdata/sf0.1"
    if not args.timing_only:
        for bands in BANDS:
            print(f"sf0.1 bands={bands}: candidates="
                  f"{_candidates(spark, d, bands * 2):,}", flush=True)

    if args.timing or args.timing_only:
        # interleaved: one rep of every setting, then again — ambient
        # drift hits all settings equally (the house A/B discipline)
        times: dict[int, list[float]] = {b: [] for b in BANDS}
        for rep in range(args.reps):
            for bands in BANDS:
                t0 = time.perf_counter()
                _banded_similarity(
                    spark, d, bands * 2, 2, _SIM_BUCKET_CAP
                ).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                times[bands].append(dt)
                print(f"  rep{rep} bands={bands}: {dt:.1f} s", flush=True)
        for bands in BANDS:
            print(f"sf0.1 bands={bands}: min {min(times[bands]):.1f} s "
                  f"reps={[round(t, 1) for t in times[bands]]}")
    spark.stop()


if __name__ == "__main__":
    main()
