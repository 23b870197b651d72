"""Property-based invariants for the dedup operators (hypothesis)."""

from __future__ import annotations

from collections import Counter
from itertools import combinations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from statcan_etl_pipeline_spark.operators.dedup import (
    band_keys,
    exploded_shingles,
    group_pairs,
    jaccard_pairs,
    minhash_signature,
)

_word = st.sampled_from(["data", "spark", "row", "scan", "fast", "slow", "join"])
_shingle = st.text(alphabet="abcde", min_size=5, max_size=5)
_doc = st.lists(_shingle, min_size=1, max_size=12, unique=True)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_doc, min_size=2, max_size=6))
def test_jaccard_symmetric_bounded(spark, docs):
    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")
    out = jaccard_pairs(exploded_shingles(df), threshold=0.0).collect()
    for r in out:
        assert r["doc_a"] < r["doc_b"]
        assert 0.0 < r["jaccard"] <= 1.0
        assert r["common"] >= 1


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(_doc)
def test_identical_docs_are_lsh_candidates(spark, shingles):
    df = spark.createDataFrame(
        [(0, shingles), (1, shingles)], "doc_id long, shingles array<string>"
    )
    sig = minhash_signature(exploded_shingles(df))
    pairs = group_pairs(band_keys(sig), ["band", "key"], "doc_id", ("doc_a", "doc_b"))
    assert (0, 1) in {(r["doc_a"], r["doc_b"]) for r in pairs.distinct().collect()}


# every group repeats its first members, so duplicates always occur
_members = st.lists(st.integers(0, 5), min_size=1, max_size=6).map(lambda m: m + m[:2])


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_members, min_size=1, max_size=5), st.none() | st.integers(1, 5))
def test_group_pairs_equals_combinations_per_group(spark, groups, max_size):
    """One row per (group, a < b pair) over each group's sorted
    distinct members — duplicate members collapse, groups with more
    than `max_size` distinct members emit nothing."""
    rows = [(g, m) for g, members in enumerate(groups) for m in members]
    df = spark.createDataFrame(rows, "g long, m long")
    out = Counter(
        (r["a"], r["b"])
        for r in group_pairs(df, "g", "m", ("a", "b"), max_size).collect()
    )
    expected = Counter(
        pair
        for members in groups
        if max_size is None or len(set(members)) <= max_size
        for pair in combinations(sorted(set(members)), 2)
    )
    assert out == expected


def test_exact_dedup_idempotent(spark, sf_small):
    from statcan_etl_pipeline_spark.registry import QUERIES

    once = QUERIES["dedup_exact"](spark, sf_small)
    # applying the keep-first projection again changes nothing
    n_groups = once.count()
    assert once.select("fp").distinct().count() == n_groups
    total_docs = once.groupBy().sum("n_docs").collect()[0][0]
    from statcan_etl_pipeline_spark.catalog import load_table

    assert total_docs == load_table(spark, sf_small, "documents").count()


def test_hot_shingle_fanout_capped(spark):
    """One shingle shared by EVERY doc (the stop-phrase shape that emits
    C(n,2) pairs per shingle at corpus scale) is dropped from pair
    generation once its document frequency exceeds df_cap; pairs are
    then driven only by the rare shingles."""
    n = 40
    # every doc carries the hot shingle; docs 2i/2i+1 also share a rare one
    rows = [(i, ["hot!!", f"rare-{i // 2}"]) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")
    sh = exploded_shingles(df)
    uncapped = jaccard_pairs(sh, threshold=0.0, df_cap=10**9)
    assert uncapped.count() == n * (n - 1) // 2  # hot shingle links all pairs
    capped = jaccard_pairs(sh, threshold=0.0, df_cap=10)
    got = {(r["doc_a"], r["doc_b"]): r for r in capped.collect()}
    # only the rare-shingle pairs survive — bounded fan-out
    assert set(got) == {(2 * i, 2 * i + 1) for i in range(n // 2)}
    for r in got.values():
        # intersection counts only rare shingles; n_sh stays uncapped,
        # so jaccard is the conservative lower bound 1/3
        assert r["common"] == 1
        assert abs(r["jaccard"] - 1.0 / 3.0) < 1e-12


def test_scatter_gated_on_input_width(spark):
    """scatter() must be a no-op when the input already has >= session
    parallelism splits — at 100-TB scale the corpus arrives in thousands
    of files and an unconditional repartition would be a full shuffle of
    the largest table before any work."""
    from statcan_etl_pipeline_spark.catalog import scatter

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    wide = spark.range(1000).repartition(par + 4)
    assert scatter(spark, narrow).rdd.getNumPartitions() == par
    out = scatter(spark, wide)
    assert out is wide  # untouched: no Exchange added
    assert out.rdd.getNumPartitions() == par + 4


def test_mmr_selects_k_distinct_from_pool(spark, sf_small):
    """MMR returns exactly 5 distinct winners per query, and step 1 is
    the pure-relevance argmax (its rel is the max rel among winners)."""
    from statcan_etl_pipeline_spark.registry import QUERIES

    rows = QUERIES["mmr_diversified_topk"](spark, sf_small).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    assert len(by_q) == 5
    for qid, sel in by_q.items():
        assert sorted(r["step"] for r in sel) == [1, 2, 3, 4, 5]
        assert len({r["cid"] for r in sel}) == 5
        first = next(r for r in sel if r["step"] == 1)
        assert first["rel"] == max(r["rel"] for r in sel)


def test_pca_loading_normalized_and_eigval_positive(spark, sf_small):
    """Power iteration normalizes by max-abs: exactly one |loading| of
    1.0 must survive, and the Rayleigh eigenvalue is positive."""
    from statcan_etl_pipeline_spark.registry import QUERIES

    rows = QUERIES["embedding_pca_top_component"](spark, sf_small).collect()
    assert len(rows) == 64
    mx = max(abs(r["loading"]) for r in rows)
    assert mx == 1.0
    assert all(r["eigval"] > 0 for r in rows)


def test_raking_calibrates_final_margin(spark, sf_small):
    """After the final region IPF pass the region margins must match
    their targets to within accumulated micro-quantization error."""
    from statcan_etl_pipeline_spark.registry import QUERIES

    rows = QUERIES["survey_raking_calibration"](spark, sf_small).collect()
    reg = [r for r in rows if r["margin"] == "region" and r["n_sample"] > 0]
    assert reg
    for r in reg:
        assert abs(r["gap"]) < 0.01, r


def test_markov_mass_conserved(spark, sf_small):
    """8 quantized pi*P steps lose at most ~K^2*8 half-nanos of mass:
    the distribution must still sum to 1 within 1e-3."""
    from statcan_etl_pipeline_spark.registry import QUERIES

    rows = QUERIES["events_markov_stationary"](spark, sf_small).collect()
    total = sum(r["pi8"] for r in rows)
    assert 0.999 < total < 1.001, total


def test_contributions_sum_to_laspeyres_change(spark, sf_small):
    """price_index_contributions must decompose price_index_fisher's
    Laspeyres index exactly: sum of per-type contribution_pp per year
    equals laspeyres - 100 (up to the two queries' 4-dp roundings)."""
    from statcan_etl_pipeline_spark.registry import QUERIES

    contrib = QUERIES["price_index_contributions"](spark, sf_small).collect()
    fisher = {r["yr"]: r["laspeyres"] for r in QUERIES["price_index_fisher"](spark, sf_small).collect()}
    by_yr = {}
    for r in contrib:
        by_yr[r["yr"]] = by_yr.get(r["yr"], 0.0) + r["contribution_pp"]
    for yr, s in by_yr.items():
        assert abs(s - (fisher[yr] - 100.0)) < 0.01, (yr, s, fisher[yr])


def test_allocation_sums_exactly_to_total(spark, sf_small):
    """Hamilton apportionment must hand out exactly 1000 units, with
    every nation getting either its floor quota or quota+1."""
    from statcan_etl_pipeline_spark.registry import QUERIES

    rows = QUERIES["statcan_allocation_largest_remainder"](spark, sf_small).collect()
    assert sum(r["allocated"] for r in rows) == 1000
    for r in rows:
        assert r["allocated"] in (r["base"], r["base"] + 1)


def test_theil_sen_pairs_bounded_by_cap(spark, sf_small):
    """The per-type pair count can never exceed C(100, 2) regardless of
    how many parts a type has — the documented Theil-Sen scale bound."""
    from statcan_etl_pipeline_spark.registry import QUERIES

    rows = QUERIES["theil_sen_price_qty_by_type"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["n_parts_used"] <= 100
        assert r["n_pairs"] <= 100 * 99 // 2


def test_chunk_dedup_detects_planted_duplicate(spark, tmp_path):
    """Two docs sharing an 8-token chunk are both flagged; a doc with
    all-unique chunks is not."""
    import shutil

    src = "/root/testdata/sf0.001"
    d = tmp_path / "sf"
    d.mkdir()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings",
    ]:
        shutil.copy(f"{src}/{t}.parquet", d / f"{t}.parquet")
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, shared + " one two three four five six seven eight", "en", "s", 1),
        (1, shared + " nine ten eleven twelve thirteen fourteen fifteen sixteen", "en", "s", 1),
        (2, "only unique words here that repeat nowhere else at all", "en", "s", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    from statcan_etl_pipeline_spark.registry import QUERIES

    got = {
        r["doc_id"]: r
        for r in QUERIES["interdoc_chunk_dedup"](spark, str(d)).collect()
    }
    assert got[0]["n_dup_chunks"] >= 1
    assert got[1]["n_dup_chunks"] >= 1
    assert got[2]["n_dup_chunks"] == 0


def test_sniff_media_kind_short_buffers(spark):
    """Buffers shorter than any magic prefix must classify as
    octet-stream, not crash."""
    from statcan_etl_pipeline_spark.operators.multimodal import sniff_media_kind

    df = spark.createDataFrame(
        [(1, b""), (2, b"\x89"), (3, b"GI")], "i long, payload binary"
    )
    kinds = [r["k"] for r in df.select(sniff_media_kind("payload").alias("k")).collect()]
    assert kinds == ["application/octet-stream"] * 3


def test_kcore_converges_and_is_consistent(spark, sf_small):
    """12 peels must reach the fixed point at test scale, the core can't
    exceed the node count, and every core node needs >= k core-edge
    endpoints (so 2*edges >= k*core_nodes)."""
    from statcan_etl_pipeline_spark.registry import QUERIES

    r = QUERIES["part_kcore_decomposition"](spark, sf_small).collect()[0]
    assert r["converged"] == 1
    assert 0 <= r["n_core_nodes"] <= r["n_nodes"]
    if r["n_core_nodes"] > 0:
        assert 2 * r["n_core_edges_in"] >= r["k"] * r["n_core_nodes"]


def test_attribution_credit_bounded_by_purchases(spark, sf_small):
    """Each purchase hands out < 1 total credit (sum of 2^-k), so the
    corpus-wide credit must be strictly less than the purchase count;
    credits are dyadic-exact, so equality tests are safe."""
    from pyspark.sql import functions as F

    from statcan_etl_pipeline_spark.catalog import load_table
    from statcan_etl_pipeline_spark.registry import QUERIES

    rows = QUERIES["events_multitouch_attribution"](spark, sf_small).collect()
    total_credit = sum(r["credit"] for r in rows)
    n_purchases = (
        load_table(spark, sf_small, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert 0 < total_credit < n_purchases
    # dyadic exactness: every credit times 2^20 must be an integer
    for r in rows:
        scaled = r["credit"] * (1 << 20)
        assert scaled == int(scaled), r


def test_median_polish_final_col_medians_are_zero(spark, sf_small):
    """After the final column sweep, the discrete median of residuals
    within every priority must be EXACTLY zero (integer medians
    subtracted from integers — float-free)."""
    import statistics

    from statcan_etl_pipeline_spark.registry import QUERIES

    rows = QUERIES["orders_median_polish"](spark, sf_small).collect()
    by_col = {}
    for r in rows:
        by_col.setdefault(r["priority"], []).append(round(r["residual"] * 100))
    for prio, res in by_col.items():
        assert statistics.median_low(sorted(res)) == 0 or statistics.median_high(
            sorted(res)
        ) == 0, (prio, sorted(res)[:5])


def test_wilson_lower_bound_never_exceeds_rate(spark, sf_small):
    """The Wilson lower bound must sit at or below the raw return rate
    for every brand, and within [0, 1]."""
    from statcan_etl_pipeline_spark.registry import QUERIES

    for r in QUERIES["brand_return_rate_wilson"](spark, sf_small).collect():
        assert 0.0 <= r["wilson_lb"] <= r["return_rate"] <= 1.0, r


def test_qq_deciles_monotone(spark, sf_small):
    """Matched QQ deciles must be non-decreasing in the decile index
    for both priorities."""
    from statcan_etl_pipeline_spark.registry import QUERIES

    rows = sorted(
        QUERIES["orders_latency_qq_by_priority"](spark, sf_small).collect(),
        key=lambda r: r["decile"],
    )
    for a, b in zip(rows, rows[1:]):
        assert a["urgent_days"] <= b["urgent_days"]
        assert a["low_days"] <= b["low_days"]


def test_pchart_limits_bracket_pooled_rate(spark, sf_small):
    """Every day's control limits must bracket the pooled rate, and any
    out_of_control flag must match the p-vs-limits comparison."""
    from statcan_etl_pipeline_spark.registry import QUERIES

    rows = QUERIES["events_error_pchart"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["lcl"] <= r["ucl"]
        flagged = r["p"] > r["ucl"] or r["p"] < r["lcl"]
        assert r["out_of_control"] == (1 if flagged else 0), r
