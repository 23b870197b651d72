"""r12: copurchase_part_similarity's banded candidates-then-verify
rewrite, pinned against the exact wedge-enumeration audit twin, plus
the structural guards added this round (brute-cosine input bound,
k-core checkpoint release).

The banded query is DELIBERATELY lossy (MinHash-LSH candidate
generation at τ=0.1 has sub-unit recall); the driver hash gate proves
Spark↔DuckDB parity of the banded semantics, while THESE tests prove
the banded output is an exact subset of the wedge baseline with the
measured recall floor — the contract that makes retiring the 370 s/sf1
wedge formulation safe.
"""

from __future__ import annotations

import pytest

from statcan_etl_pipeline_spark.registry import QUERIES  # loads all modules

from statcan_etl_pipeline_spark.queries.graph import (  # noqa: E402
    copurchase_wedge_similarity,
)

from .helpers import executed_plan


def _rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.mark.parametrize(
    "sf_fixture, recall_floor",
    [("sf_small", 0.95), ("sf_med", 0.60)],
)
def test_banded_subset_and_recall_vs_wedge(spark, request, sf_fixture, recall_floor):
    """Every banded row reproduces the wedge twin's row EXACTLY (the
    verify step is exact on candidates — common/deg/jaccard identical),
    and recall ≥ the pinned floor (r13 OR-amplification adoption,
    96×2-row bands, cap 256: measured 19796/19899 = 0.995 at sf0.001,
    62/88 = 0.705 at sf0.01 — up from 0.83/0.25 at the r12 24-band
    setting for a measured ×1.39 sf0.1 / ×1.96 sf1 cost; the full
    curve is in the graph.py banner and SCALING.md)."""
    sf_dir = request.getfixturevalue(sf_fixture)
    banded = _rows(QUERIES["copurchase_part_similarity"](spark, sf_dir))
    exact = _rows(copurchase_wedge_similarity(spark, sf_dir))
    assert banded <= exact, (
        f"banded rows not in the exact wedge output: "
        f"{sorted(banded - exact)[:5]}"
    )
    assert exact, "wedge baseline unexpectedly empty — recall undefined"
    recall = len(banded) / len(exact)
    assert recall >= recall_floor, (len(banded), len(exact), recall)


def test_banded_plan_has_no_wedge_stream(spark, sf_small):
    """The r12 rewrite's whole point: no wedge enumeration anywhere in
    the plan. The wedge twin's signature constructs (the ordered-tail
    slice/transform explode) must be absent; the exact verify runs as
    array_intersect on the two adjacency arrays; joins stay equi."""
    plan = executed_plan(spark, "copurchase_part_similarity", sf_small)
    assert "slice(ns" not in plan, "wedge tail-slice explode crept back in"
    assert "array_intersect" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_band_census_plan_has_no_pair_join(spark, sf_small):
    """The census reports bucket sizes only — it must never generate
    candidate pairs (no self-join of the banded index) and its
    bucket-size aggregate must partial-combine map-side."""
    plan = executed_plan(spark, "copurchase_band_census", sf_small)
    assert "array_intersect" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_" in plan


@pytest.mark.parametrize("seed, bucket_cap", [(1, 256), (2, 256), (3, 4)])
def test_banded_subset_property_on_random_graphs(spark, tmp_path, seed, bucket_cap):
    """Structural contract of candidates-then-verify on ARBITRARY
    graphs (not just the shipped corpus): because the verify step is
    exact, every banded row must appear verbatim in the exact wedge
    twin's output — for any random co-purchase incidence and ANY
    bucket cap (a tiny cap may drop recall to zero but can never
    manufacture a row; seed 3 runs with cap=4 to force hot-bucket
    exclusion)."""
    import numpy as np

    from statcan_etl_pipeline_spark.queries.graph import _banded_similarity

    rng = np.random.default_rng(seed)
    n_lines = 800
    rows = [
        (int(o), int(p))
        for o, p in zip(
            rng.integers(0, 200, n_lines), rng.integers(0, 80, n_lines)
        )
    ]
    sf_dir = str(tmp_path / f"g{seed}")
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.parquet(
        f"{sf_dir}/lineitem.parquet"
    )
    banded = _rows(_banded_similarity(spark, sf_dir, 48, 2, bucket_cap))
    exact = _rows(copurchase_wedge_similarity(spark, sf_dir))
    assert banded <= exact, sorted(banded - exact)[:5]
    if bucket_cap == 256:
        # with the production cap on a dense little graph, the banded
        # form must actually find something (vacuous-subset guard)
        assert banded, "banded output empty on a dense random graph"


def test_brute_cosine_guard_refuses_oversized_corpus(spark, sf_small):
    """dedup_embedding_cosine must raise past the documented bound
    (the MARKOV_MAX_K precedent): the O(n²) join is an audit baseline,
    never a silent scale path."""
    with pytest.raises(ValueError, match="brute-force bound"):
        QUERIES["dedup_embedding_cosine"](spark, sf_small, max_rows=10)


def test_brute_cosine_guard_admits_gate_corpora(spark, sf_small):
    """Gate-SF corpora (500 rows) sit far under the default bound —
    the guard must not change the registered query's behavior there."""
    df = QUERIES["dedup_embedding_cosine"](spark, sf_small)
    assert df.count() > 0


def test_free_local_checkpoint_releases_blocks(spark):
    """_free_local_checkpoint drops exactly the spent checkpoint's
    blocks (the k-core per-round release) and leaves non-checkpoint
    frames alone."""
    from pyspark.sql import functions as F

    from statcan_etl_pipeline_spark.queries.graph import _free_local_checkpoint

    jsc = spark.sparkContext._jsc.sc()

    def persistent_ids():
        # membership of the SPECIFIC checkpoint RDD id, not a global
        # count — the async ContextCleaner may drop other sessions'
        # spent blocks between snapshots
        it = jsc.getPersistentRDDs().keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    ck = spark.range(10_000).withColumn("x", F.col("id") * 2).localCheckpoint()
    rdd_id = ck._jdf.queryExecution().analyzed().rdd().id()
    assert rdd_id in persistent_ids()
    _free_local_checkpoint(ck)
    assert rdd_id not in persistent_ids()
    # non-checkpoint frame: no-op, frame stays usable
    plain = spark.range(100)
    _free_local_checkpoint(plain)
    assert plain.count() == 100


@pytest.mark.parametrize("sf_fixture", ["sf_small", "sf_med"])
def test_minhash_calibration_contract(spark, request, sf_fixture):
    """r14 KM-family estimator-quality contract: over the capped
    candidate set, per exact-Jaccard decile with >= 50 pairs, the
    192-hash agreement estimate is unbiased within 0.025 of the bucket
    mean and its mean absolute error stays under 0.045 — the
    theoretical per-pair sigma is sqrt(j(1-j)/192) <= 0.036, so mean
    |err| ~ 0.8*sigma <= 0.029 (measured 0.013-0.029 at the gates;
    sub-50-pair buckets are skipped as single-sample noise)."""
    sf_dir = request.getfixturevalue(sf_fixture)
    rows = QUERIES["copurchase_minhash_calibration"](spark, sf_dir).collect()
    assert rows, "calibration produced no buckets"
    judged = 0
    for r in rows:
        if r["n_pairs"] < 50:
            continue
        judged += 1
        assert abs(r["avg_est_jaccard"] - r["avg_exact_jaccard"]) <= 0.025, r
        assert r["mean_abs_err"] <= 0.045, r
    assert judged > 0, "no bucket had >= 50 pairs to judge"


def test_minhash_calibration_plan(spark, sf_small):
    """One signature aggregation feeds bands and both probe sides; no
    cartesian/NLJ; the banded self-join is the only pair generator."""
    plan = executed_plan(spark, "copurchase_minhash_calibration", sf_small)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "zip_with" in plan
