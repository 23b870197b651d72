"""Checks for the ANN path beyond the DuckDB oracles: bucket
containment, cosine agreement with brute force, rank ordering, and the
measured recall contracts (quality as a tested number, not structure)."""

from __future__ import annotations

from statcan_etl_pipeline_spark.registry import QUERIES


def _recall_at_k(spark, sf, name: str, k: int = 10) -> float:
    """Mean fraction of brute-force top-k neighbors the ANN query
    recovers per query id."""
    brute = QUERIES["knn_bruteforce_cosine"](spark, sf).collect()
    ann = QUERIES[name](spark, sf).collect()
    truth: dict[int, set] = {}
    for r in brute:
        if r["rank"] <= k:
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict[int, set] = {}
    for r in ann:
        if r["rank"] <= k:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(nbrs & got.get(qid, set())) / len(nbrs) for qid, nbrs in truth.items()
    ]
    return sum(recalls) / len(recalls)


def test_ann_results_subset_of_bruteforce_cosines(spark, sf_small):
    ann = QUERIES["ann_lsh_cosine"](spark, sf_small).collect()
    assert len(ann) > 0, "4-bit LSH over 500 vectors must produce some candidates"
    brute = QUERIES["knn_bruteforce_cosine"](spark, sf_small).collect()
    brute_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in brute}
    for r in ann:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute_cos:  # same pair → identical cosine value
            assert r["cosine"] == brute_cos[key]


def test_ann_ranks_are_dense_and_ordered(spark, sf_small):
    ann = QUERIES["ann_lsh_cosine"](spark, sf_small).collect()
    by_q: dict[int, list] = {}
    for r in ann:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        cosines = [r["cosine"] for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        # all candidates share the query's bucket
        assert len({r["bucket"] for r in rows}) == 1


def test_ivf_results_structurally_sound(spark, sf_small):
    ann = QUERIES["ann_ivf_cosine"](spark, sf_small).collect()
    assert len(ann) > 0
    brute = QUERIES["knn_bruteforce_cosine"](spark, sf_small).collect()
    brute_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in brute}
    for r in ann:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute_cos:
            assert r["cosine"] == brute_cos[key]
    # each query returns at most TOP_K per probed arrangement and ranks are dense
    by_q = {}
    for r in ann:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_pq_encode_is_deterministic_and_bounded(spark, sf_small):
    from statcan_etl_pipeline_spark.catalog import load_table
    from statcan_etl_pipeline_spark.queries.similarity import PQ_K, PQ_M, pq_encode

    emb = load_table(spark, sf_small, "embeddings")
    codes = pq_encode(emb).select(
        "vec_id", *[f"code_{m}" for m in range(PQ_M)]
    )
    rows = codes.orderBy("vec_id").collect()
    for r in rows:
        for m in range(PQ_M):
            assert 0 <= r[f"code_{m}"] < PQ_K
    assert rows == pq_encode(emb).select(
        "vec_id", *[f"code_{m}" for m in range(PQ_M)]
    ).orderBy("vec_id").collect()


def test_pq_roundtrip_exact_on_centroid_vectors(spark):
    """A vector that IS a codebook centroid concatenation must encode to
    those codes and decode back to itself exactly."""
    from statcan_etl_pipeline_spark.queries.similarity import (
        PQ_M,
        _pq_codebook,
        pq_decode,
        pq_encode,
    )

    want_codes = [3, 0, 7, 5]
    vec = []
    for m, k in enumerate(want_codes):
        vec.extend(_pq_codebook(m)[k])
    df = spark.createDataFrame([(1, vec)], "vec_id bigint, embedding array<double>")
    out = pq_decode(pq_encode(df)).collect()[0]
    assert [out[f"code_{m}"] for m in range(PQ_M)] == want_codes
    assert out["reconstructed"] == vec


def test_ann_pq_shape_and_rank_contract(spark, sf_small):
    from statcan_etl_pipeline_spark.registry import QUERIES

    out = QUERIES["ann_pq_cosine"](spark, sf_small).collect()
    assert len(out) > 0
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        ranks = [r["rank"] for r in rows]
        assert ranks == list(range(1, len(ranks) + 1))
        cosines = [r["approx_cosine"] for r in rows]
        assert all(-1.0 <= c <= 1.0 for c in cosines)
        assert cosines == sorted(cosines, reverse=True)


def test_quantized_ann_recall_floors_vs_bruteforce(spark, sf_small):
    """ANN quality as tested numbers. Measured recall@10 on the seeded
    sf0.001 embeddings: ann_sq 0.96 (0.90 at sf0.01) — the Lloyd-Max
    scalar quantizer loses almost no ranking signal; ann_pq 0.06 and
    ann_ivfpq 0.08 — untrained md5 codebooks in 16-dim sub-spaces can't
    quantize isotropic unit vectors, which is exactly why ann_sq exists
    (see queries/similarity.py). Floors sit under measurement by enough
    to absorb seed noise while still catching a broken quantizer
    (broken ⇒ recall ≈ k/n ≈ 0.02 for sq, ≈ 0 overlap shifts for
    pq/ivfpq)."""
    assert _recall_at_k(spark, sf_small, "ann_sq_cosine") >= 0.80
    assert _recall_at_k(spark, sf_small, "ann_pq_cosine") >= 0.03
    assert _recall_at_k(spark, sf_small, "ann_ivfpq_cosine") >= 0.03


def test_ivfpq_agrees_with_ivf_cells_and_pq_scores(spark, sf_small):
    """IVF-PQ must search exactly the IVF query's candidate cells and
    score with exactly the PQ approximation: every (query, neighbor)
    pair shared with ann_pq_cosine carries an identical approx_cosine,
    and every returned cell appears in ann_ivf's probed cells."""
    ivfpq = QUERIES["ann_ivfpq_cosine"](spark, sf_small).collect()
    assert len(ivfpq) > 0
    pq = QUERIES["ann_pq_cosine"](spark, sf_small).collect()
    pq_cos = {(r["query_id"], r["neighbor_id"]): r["approx_cosine"] for r in pq}
    ivf_cells = {
        (r["query_id"], r["cell"])
        for r in QUERIES["ann_ivf_cosine"](spark, sf_small).collect()
    }
    for r in ivfpq:
        key = (r["query_id"], r["neighbor_id"])
        if key in pq_cos:
            assert r["approx_cosine"] == pq_cos[key]
        assert (r["query_id"], r["cell"]) in ivf_cells


def test_dedup_embedding_lsh_pairs_are_true_near_dups(spark, sf_small):
    """Every LSH-verified pair must appear in the brute-force near-dup
    output with the identical cosine (precision = 1 by construction;
    recall < 1 is the documented LSH trade)."""
    brute = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in QUERIES["dedup_embedding_cosine"](spark, sf_small).collect()
    }
    lsh = QUERIES["dedup_embedding_lsh"](spark, sf_small).collect()
    assert len(lsh) > 0
    for r in lsh:
        assert brute[(r["vec_a"], r["vec_b"])] == r["cosine"]


def test_dedup_embedding_lsh_recall_floor(spark, sf_small):
    """RECALL CONTRACT (r11): the shipped (T=3, p=4) configuration must
    keep ≥ 35% of the brute-force near-dup pairs at the gate SF
    (measured 0.458 at sf0.01, 0.434 at sf0.1 — this corpus's true
    pairs sit at cosine 0.40–0.60, the weak-ρ regime for sign-LSH; the
    measured (T, p) frontier is in dedup_embedding_lsh's docstring).
    If a config change trips this floor, the candidate savings were
    bought with recall — surface it, don't ship it silently."""
    brute = {
        (r["vec_a"], r["vec_b"])
        for r in QUERIES["dedup_embedding_cosine"](spark, sf_small).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in QUERIES["dedup_embedding_lsh"](spark, sf_small).collect()
    }
    assert len(brute) > 0
    recall = len(lsh & brute) / len(brute)
    assert recall >= 0.35, f"embedding-LSH recall {recall:.3f} < 0.35 floor"


def test_embedding_lsh_amplification_knobs(spark, sf_small):
    """The (n_tables, n_planes) knobs must behave per LSH theory on the
    live data: more planes (AND) shrinks the candidate set; the shipped
    OR-amplified default's candidates are a strict subset of brute
    force's pair space and every returned pair still exact-verifies."""
    from pyspark.sql import functions as F

    from statcan_etl_pipeline_spark.catalog import load_table
    from statcan_etl_pipeline_spark.queries.dedup import _embedding_lsh_pairs
    from statcan_etl_pipeline_spark.queries.similarity import lsh_bucket

    emb = load_table(spark, sf_small, "embeddings")
    n = emb.count()

    def n_candidates(n_planes: int) -> int:
        b = emb.select(
            "vec_id", lsh_bucket("embedding", "tbl0", n_planes=n_planes).alias("bk")
        )
        sizes = [r["c"] for r in b.groupBy("bk").agg(F.count("*").alias("c")).collect()]
        return sum(s * (s - 1) // 2 for s in sizes)

    c4, c8 = n_candidates(4), n_candidates(8)
    assert c8 < c4, f"AND-amplification must prune: p=8 {c8} !< p=4 {c4}"
    assert c4 < n * (n - 1) // 2, "bucketed candidates must beat all-pairs"
    # the parameterized producer at the shipped defaults == the query
    got = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in _embedding_lsh_pairs(spark, sf_small).collect()
    }
    want = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in QUERIES["dedup_embedding_lsh"](spark, sf_small).collect()
    }
    assert got == want


def test_relation_codebooks_match_inline_helpers(spark, sf_small):
    """The r11 broadcast-relation formulations must be BIT-equal to the
    inline literal-expression helpers they replaced in the registered
    queries: _ivf_cell_ranked(rnk=1) == assign_cells(nprobe=1) and
    _pq_reconstructed == pq_decode(pq_encode(...)) — same argmax/argmin
    values AND the same first-match tie-breaks. This pins the two
    formulations together so neither drifts (the inline helpers remain
    the definitional spec; the relation path is the production shape)."""
    from pyspark.sql import functions as F

    from statcan_etl_pipeline_spark.catalog import load_table
    from statcan_etl_pipeline_spark.queries.similarity import (
        _ivf_cell_ranked,
        _pq_reconstructed,
        assign_cells,
        pq_decode,
        pq_encode,
    )

    emb = load_table(spark, sf_small, "embeddings")
    inline_cells = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(emb, "embedding", nprobe=1)
        .select("vec_id", F.element_at("cells", 1).alias("cell"))
        .collect()
    }
    rel_cells = {
        r["vec_id"]: r["cell"]
        for r in _ivf_cell_ranked(spark, emb)
        .filter(F.col("rnk") == 1)
        .select("vec_id", "cell")
        .collect()
    }
    assert rel_cells == inline_cells
    inline_recon = {
        r["vec_id"]: tuple(r["reconstructed"])
        for r in pq_decode(pq_encode(emb)).select("vec_id", "reconstructed").collect()
    }
    rel_recon = {
        r["vec_id"]: tuple(r["reconstructed"])
        for r in _pq_reconstructed(spark, emb).collect()
    }
    assert rel_recon == inline_recon


def test_kmeans_matches_numpy_lloyd(spark, sf_small):
    """Engine-independent semantics check: replicate the fixed-point
    Lloyd iterations in numpy (same init, same rounding, same
    tie-break) and compare the final cluster census."""
    import numpy as np

    from statcan_etl_pipeline_spark.catalog import load_table
    from statcan_etl_pipeline_spark.queries.embeddings import KM_ITERS, KM_K

    from .helpers import load_sf1_checker

    pround6 = load_sf1_checker().pround6
    rows = (
        load_table(spark, sf_small, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)

    def fixed_sqdist(X, c):  # int64 nano-units, rounded per term
        d = X - c[None, :]
        return np.floor(d * d * 1e9 + 0.5).astype(np.int64).sum(axis=1)

    cents = {int(i): X[ids == i][0] for i in sorted(ids) if i < KM_K}
    for it in range(KM_ITERS):
        cids = sorted(cents)
        D = np.stack([fixed_sqdist(X, cents[c]) for c in cids], axis=1)
        assign = np.array(cids)[np.argmin(D, axis=1)]  # argmin takes first = smallest cid on ties
        d_best = D.min(axis=1)
        if it < KM_ITERS - 1:
            cents = {}
            for c in np.unique(assign):
                comp_micro = np.where(
                    X[assign == c] >= 0,
                    np.floor(X[assign == c] * 1e6 + 0.5),
                    -np.floor(-X[assign == c] * 1e6 + 0.5),
                ).astype(np.int64)
                cents[int(c)] = pround6(
                    comp_micro.sum(axis=0) / 1e6 / (assign == c).sum()
                )
    want = {
        int(c): (
            int((assign == c).sum()),
            float(
                pround6(
                    np.array([d_best[assign == c].sum() / 1e9 / (assign == c).sum()])
                )[0]
            ),
        )
        for c in np.unique(assign)
    }
    got = {
        int(r["cluster_id"]): (int(r["n_vecs"]), float(r["avg_sqdist"]))
        for r in QUERIES["embedding_kmeans"](spark, sf_small).collect()
    }
    assert got == want


def test_ann_recall_vs_cost_contract_table(spark, sf_small):
    """ONE comparable grading artifact for the five ANN variants:
    recall@10 vs brute force AND the mean per-query candidate-set size
    (the scale cost — how many vectors each query actually scores).
    Floors match the per-method docs; the cost column pins that the
    bucketed methods (lsh/ivf/ivfpq) search a strict subset of the
    corpus while the compressed full-scan methods (pq/sq) trade
    candidate pruning for cheaper arithmetic."""
    from pyspark.sql import functions as F

    from statcan_etl_pipeline_spark.catalog import load_table
    from statcan_etl_pipeline_spark.queries.similarity import (
        N_QUERIES,
        assign_cells,
        lsh_bucket,
    )

    emb = load_table(spark, sf_small, "embeddings")
    n_vec = emb.count()

    # mean candidate count per query, per method
    bucketed = emb.withColumn("bucket", lsh_bucket("embedding"))
    bucket_sizes = {
        r["bucket"]: r["n"]
        for r in bucketed.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    q_buckets = [
        r["bucket"]
        for r in bucketed.filter(F.col("vec_id") < N_QUERIES).collect()
    ]
    lsh_cost = sum(bucket_sizes[b] - 1 for b in q_buckets) / len(q_buckets)

    cells1 = assign_cells(emb, "embedding", nprobe=1).select(
        "vec_id", F.element_at("cells", 1).alias("cell")
    )
    cell_sizes = {
        r["cell"]: r["n"]
        for r in cells1.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    q_cells = {
        r["vec_id"]: r["cells"]
        for r in assign_cells(
            emb.filter(F.col("vec_id") < N_QUERIES), "embedding", nprobe=2
        ).collect()
    }
    ivf_cost = sum(
        sum(cell_sizes.get(c, 0) for c in cells) - 1
        for cells in q_cells.values()
    ) / len(q_cells)

    methods = {
        "ann_lsh_cosine": (None, lsh_cost),
        "ann_ivf_cosine": (None, ivf_cost),
        "ann_sq_cosine": (0.80, float(n_vec - 1)),
        "ann_pq_cosine": (0.03, float(n_vec - 1)),
        "ann_ivfpq_cosine": (0.03, ivf_cost),
    }
    rows = []
    for name, (floor, cost) in methods.items():
        rec = _recall_at_k(spark, sf_small, name)
        rows.append((name, rec, cost))
        if floor is not None:
            assert rec >= floor, f"{name}: recall@10 {rec:.3f} < floor {floor}"
    print("\nmethod               recall@10  mean_candidates (n_vec=%d)" % n_vec)
    for name, rec, cost in rows:
        print(f"{name:<20s} {rec:9.3f}  {cost:14.1f}")
    # bucketed methods must prune: strictly fewer candidates than full scan
    assert lsh_cost < n_vec - 1
    assert ivf_cost < n_vec - 1
    # bucketed recall is nonzero (buckets aren't empty/broken)
    by_name = dict((n, r) for n, r, _ in rows)
    assert by_name["ann_lsh_cosine"] > 0.0
    assert by_name["ann_ivf_cosine"] > 0.0
