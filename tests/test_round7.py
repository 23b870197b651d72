"""Round-7 batch-2 assurance: independent brute-force recomputation of
the new survey/stat estimators (different algorithm, pure Python) plus
the physical-plan properties their docstrings claim."""

from __future__ import annotations

import shutil

import duckdb

from statcan_etl_pipeline_spark.registry import QUERIES

from .helpers import executed_plan


def _cents(x: float) -> int:
    return int(x * 100.0 + 0.5) if x >= 0 else -int(-x * 100.0 + 0.5)


# --- Kruskal–Wallis: recompute with direct sort-based midranks -------------


def test_kruskal_wallis_matches_bruteforce(spark, sf_small):
    rows = duckdb.sql(
        f"SELECT o_totalprice, o_orderpriority FROM '{sf_small}/orders.parquet'"
    ).fetchall()
    data = sorted((_cents(p), g) for p, g in rows)
    n = len(data)
    # direct midranks via positional scan (a different algorithm from the
    # query's cumulative-count construction)
    ranks: dict[str, float] = {}
    counts: dict[str, int] = {}
    i = 0
    tie3 = 0
    while i < n:
        j = i
        while j < n and data[j][0] == data[i][0]:
            j += 1
        mid = (i + 1 + j) / 2.0
        t = j - i
        tie3 += t * t * t - t
        for k in range(i, j):
            g = data[k][1]
            ranks[g] = ranks.get(g, 0.0) + mid
            counts[g] = counts.get(g, 0) + 1
        i = j
    h = 12.0 / (n * (n + 1.0)) * sum(
        r * r / counts[g] for g, r in ranks.items()
    ) - 3.0 * (n + 1.0)
    c = 1.0 - tie3 / (float(n) ** 3 - n)
    got = QUERIES["kruskal_wallis_order_value"](spark, sf_small).collect()[0]
    assert got["k"] == len(counts) and got["n_orders"] == n
    assert abs(got["h_stat"] - h) < 1e-4
    assert abs(got["h_corrected"] - h / c) < 1e-4


# --- Jackknife: recompute from the replicate-estimate definition -----------


def test_jackknife_matches_direct_replicates(spark, sf_small):
    import hashlib

    g_n = 10
    rows = duckdb.sql(
        f"""SELECT c.c_mktsegment, o.o_custkey, o.o_totalprice
            FROM '{sf_small}/orders.parquet' o
            JOIN '{sf_small}/customer.parquet' c ON o.o_custkey = c.c_custkey"""
    ).fetchall()
    per: dict[str, dict[int, int]] = {}
    for seg, ck, price in rows:
        jk = int(hashlib.md5(str(ck).encode()).hexdigest()[:2], 16) % g_n
        per.setdefault(seg, {}).setdefault(jk, 0)
        per[seg][jk] += _cents(price)
    got = {r["segment"]: r for r in QUERIES["survey_jackknife_variance"](spark, sf_small).collect()}
    assert set(got) == set(per)
    for seg, groups in per.items():
        t = sum(groups.values())
        # v = (G-1)/G * Σ_g (T_(g) - T)^2 with T_(g) = G/(G-1)·(T - t_g)
        reps = [g_n / (g_n - 1.0) * (t - groups.get(g, 0)) for g in range(g_n)]
        v = (g_n - 1.0) / g_n * sum((r - t) ** 2 for r in reps)
        se = v**0.5 / 100.0
        assert abs(got[seg]["se"] - se) < max(1e-2, abs(se) * 1e-6)
        assert abs(got[seg]["total"] - t / 100.0) < 1e-6


# --- Neyman: allocations integerize to exactly n ---------------------------


def test_neyman_allocations_sum_exactly(spark, sf_small):
    out = QUERIES["survey_neyman_allocation"](spark, sf_small).collect()
    assert sum(r["alloc"] for r in out) == 1000
    assert all(r["alloc"] >= 0 for r in out)
    # allocation never deviates from the exact share by ≥1 unit
    assert all(abs(r["alloc"] - r["exact_alloc"]) < 1.0 for r in out)


# --- Atkinson: direct recompute + bounds + equality case -------------------


def test_atkinson_matches_direct_and_bounds(spark, sf_small):
    rows = duckdb.sql(
        f"""SELECT n.n_name, o.o_custkey, sum({{}}) FROM '{sf_small}/orders.parquet' o
            JOIN '{sf_small}/customer.parquet' c ON o.o_custkey = c.c_custkey
            JOIN '{sf_small}/nation.parquet' n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2""".format(
            "CAST(CASE WHEN o_totalprice >= 0 THEN floor(o_totalprice*100.0+0.5) "
            "ELSE -floor(-o_totalprice*100.0+0.5) END AS BIGINT)"
        )
    ).fetchall()
    spend: dict[str, list[int]] = {}
    for nation, _ck, x in rows:
        if x > 0:
            spend.setdefault(nation, []).append(int(x))
    got = {r["nation"]: r for r in QUERIES["atkinson_inequality_by_nation"](spark, sf_small).collect()}
    assert set(got) == set(spend)
    for nation, xs in spend.items():
        mean = sum(xs) / len(xs)
        # the query's exact-integer harmonic mean: 10^15 div x per row
        sinv = sum(10**15 // x for x in xs)
        hm = len(xs) * len(xs) * 1e15 / sinv
        a2 = 1.0 - hm / sum(xs)
        assert abs(got[nation]["atkinson2"] - a2) < 1e-6
        assert 0.0 <= got[nation]["atkinson2"] < 1.0
        assert abs(got[nation]["mean_spend"] - mean / 100.0) < 1e-2


# --- Containment: planted subset duplicate scores 1.0 ----------------------


def test_containment_detects_planted_subset(spark, tmp_path):
    src = "/root/testdata/sf0.001"
    d = tmp_path / "sf"
    d.mkdir()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings",
    ]:
        shutil.copy(f"{src}/{t}.parquet", d / f"{t}.parquet")
    inner = "quark lepton boson hadron meson baryon photon gluon"
    rows = [
        (0, inner, "en", "s", len(inner)),
        (1, "preamble words first " + inner + " trailing words afterwards here", "en", "s", 1),
        (2, "entirely different vocabulary with no overlap at all present", "en", "s", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = {(r["doc_a"], r["doc_b"]): r for r in QUERIES["doc_shingle_containment"](spark, str(d)).collect()}
    assert (0, 1) in got
    assert got[(0, 1)]["containment"] == 1.0  # every shingle of 0 is in 1
    assert not any(2 in pair for pair in got)


# --- RRF: score is exactly the integer fusion of the returned ranks --------


def test_rrf_score_consistent_with_ranks(spark, sf_small):
    out = QUERIES["doc_rrf_quality_fusion"](spark, sf_small).collect()
    assert out
    for r in out:
        expect = sum(
            10**9 // (60 + r[k]) for k in ("rank_length", "rank_ttr", "rank_mwl")
        )
        assert r["rrf_score"] == expect


# --- Bounce rate: exact ratio of its own counts ----------------------------


def test_bounce_rate_consistent(spark, sf_small):
    for r in QUERIES["events_bounce_rate_daily"](spark, sf_small).collect():
        assert 0 <= r["n_bounce"] <= r["n_sessions"]
        assert abs(r["bounce_rate"] - r["n_bounce"] / r["n_sessions"]) < 1e-6


# --- Trigrams: shape + conservation against a no-limit recount -------------


def test_trigrams_well_formed(spark, sf_small):
    out = QUERIES["event_type_trigrams"](spark, sf_small).collect()
    assert out and all(len(r["trigram"].split(">")) == 3 for r in out)
    ns = [r["n"] for r in out]
    assert ns == sorted(ns, reverse=True)


# --- DSIR: English sources should score positive under the en-target model -


def test_dsir_weights_separate_target_language(spark, sf_small):
    out = QUERIES["doc_dsir_importance_weights"](spark, sf_small).collect()
    assert len(out) == 20  # every source reported
    assert all(0.0 <= r["pos_share"] <= 1.0 for r in out)


# --- plan properties -------------------------------------------------------


def test_winsorized_caps_are_broadcast(spark, sf_small):
    plan = executed_plan(spark, "survey_winsorized_total", sf_small)
    assert plan.count("BroadcastHashJoin") >= 2  # customer dim + 5-row caps
    assert "CartesianProduct" not in plan


def test_jackknife_partial_agg_and_broadcast(spark, sf_small):
    plan = executed_plan(spark, "survey_jackknife_variance", sf_small)
    assert "partial_" in plan  # map-side combine on the cents sums
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


def test_dsir_model_join_is_broadcast(spark, sf_small):
    plan = executed_plan(spark, "doc_dsir_importance_weights", sf_small)
    assert "BroadcastHashJoin" in plan  # ≤256-row log-ratio model
    assert "CartesianProduct" not in plan


def test_containment_no_cartesian(spark, sf_small):
    plan = executed_plan(spark, "doc_shingle_containment", sf_small)
    assert "CartesianProduct" not in plan


def test_trigrams_single_window_shuffle(spark, sf_small):
    plan = executed_plan(spark, "event_type_trigrams", sf_small)
    assert "CartesianProduct" not in plan and "Generate" not in plan  # no explode


# --- chain ladder: factors ≥ 1 ⇒ completion ≤ 100, mature = exactly 100 ----


def test_chain_ladder_completion_bounds(spark, sf_small):
    rows = QUERIES["orders_chain_ladder_completion"](spark, sf_small).collect()
    assert rows
    for r in rows:
        # cumulative counts are nondecreasing so every factor ≥ 1
        assert r["completion_pct"] <= 100.0 + 1e-9, r
        assert r["ultimate"] >= r["observed"] - 1e-9, r
        if r["max_dev"] == 4:  # fully developed: no factors left to apply
            assert r["completion_pct"] == 100.0, r


# --- Tukey: verdicts follow from the emitted diff/hsd columns --------------


def test_tukey_pairs_complete_and_consistent(spark, sf_small):
    rows = QUERIES["tukey_hsd_pairwise"](spark, sf_small).collect()
    assert len(rows) == 10  # C(5,2) priority pairs
    for r in rows:
        assert r["hsd"] > 0
        if abs(r["mean_diff"] - r["hsd"]) > 0.02:  # outside rounding fuzz
            assert r["significant"] == (r["mean_diff"] > r["hsd"]), r


# --- RAKE: multi-word phrases beat their own words' count, scores exact ----


def test_rake_scores_positive_and_formed(spark, sf_small):
    rows = QUERIES["text_rake_keywords"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["score_micro"] > 0 and r["n_occ"] >= 1
        assert 1 <= len(r["phrase"].split(" ")) <= 4


# --- Kaplan–Meier: brute-force recompute + monotone nonincreasing ----------


def test_kaplan_meier_matches_bruteforce(spark, sf_small):
    lags = duckdb.sql(
        f"""SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
                     CAST(min(l.l_shipdate) AS DATE)) AS lat
            FROM '{sf_small}/orders.parquet' o
            JOIN '{sf_small}/lineitem.parquet' l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, o.o_orderdate"""
    ).fetchall()
    obs = [min(lat, 60) if lat > 60 else lat for (lat,) in lags if lat >= 0]
    events: dict[int, int] = {}
    for (lat,) in lags:
        if 0 <= lat <= 60:
            events[lat] = events.get(lat, 0) + 1
    n = len(obs)
    got = QUERIES["orders_kaplan_meier_ship_latency"](spark, sf_small).collect()
    s, removed = 1.0, 0
    prev = 1.1
    by_t = {r["t_days"]: r for r in got}
    assert set(by_t) == set(events)
    for t in sorted(events):
        n_risk = n - removed
        s *= 1.0 - events[t] / n_risk
        removed += events[t]
        r = by_t[t]
        assert r["n_risk"] == n_risk and r["d_events"] == events[t]
        assert abs(r["survival"] - s) < 1e-6, (t, r["survival"], s)
        assert r["survival"] <= prev + 1e-12  # monotone nonincreasing
        prev = r["survival"]


# --- LPA: census is a partition of the node set ----------------------------


def test_lpa_census_bounded_by_nodes(spark, sf_small):
    n_nodes = duckdb.sql(
        f"SELECT count(DISTINCT l_partkey) FROM '{sf_small}/lineitem.parquet'"
    ).fetchone()[0]
    rows = QUERIES["part_label_propagation_communities"](spark, sf_small).collect()
    assert rows
    assert sum(r["n_parts"] for r in rows) <= n_nodes
    # every community label is a real part id (labels only propagate)
    labs = {r["community"] for r in rows}
    parts = {
        p
        for (p,) in duckdb.sql(
            f"SELECT DISTINCT l_partkey FROM '{sf_small}/lineitem.parquet'"
        ).fetchall()
    }
    assert labs <= parts


def test_round7_exchange_budgets(spark, sf_small):
    """Measured exchange counts at tuning time — a refactor that adds a
    shuffle to an iterative/bounded-cell op fails here first."""
    from statcan_etl_pipeline_spark.plans.metrics import profile

    budgets = {
        # 4 Pregel rounds: per-round label-join + nb groupBy, plus edge build
        "part_label_propagation_communities": 16,
        # all math on the bounded (months x 5) cell table
        "orders_chain_ladder_completion": 10,
        # 3 documents scans (raw/target/doc-weights) + bounded model joins
        "doc_dsir_importance_weights": 10,
        # fact collapses to <=61 cells before any per-row fold
        "orders_kaplan_meier_ship_latency": 5,
    }
    for name, budget in budgets.items():
        got = profile(QUERIES[name](spark, sf_small))["n_exchanges"]
        assert got <= budget, f"{name}: {got} exchanges > budget {budget}"


# --- BM25: brute-force recompute of the integer scoring pipeline -----------


def test_bm25_matches_bruteforce(spark, sf_small):
    import math
    import re

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_small}/documents.parquet'"
    ).fetchall()
    terms = ("hash", "join", "vector", "stream", "window")
    toks = {d: re.sub(r"\s+", " ", t).strip().lower().split(" ") for d, t in docs}
    n = len(toks)
    tot = sum(len(v) for v in toks.values())
    tf = {d: {t: v.count(t) for t in terms if t in v} for d, v in toks.items()}
    df = {t: sum(1 for d in tf if t in tf[d]) for t in terms}
    idf_micro = {
        t: math.floor(math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0) * 1e6 + 0.5)
        for t in terms if df[t]
    }
    scores = {}
    for d, m in tf.items():
        s = 0
        for t, f in m.items():
            sat = (f * 2.2) / (f + 1.2 * (1 - 0.75 + 0.75 * len(toks[d]) * n / tot))
            s += idf_micro[t] * math.floor(sat * 1e6 + 0.5) // 10**6
        if m:
            scores[d] = (s, len(m))
    want = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:15]
    got = QUERIES["doc_bm25_search"](spark, sf_small).collect()
    assert [(r["doc_id"], (r["bm25_micro"], r["n_terms_hit"])) for r in got] == want


# --- GVF: residual relvar model explains most cell variance ----------------


def test_gvf_fit_sane(spark, sf_small):
    r = QUERIES["statcan_gvf_cv_model"](spark, sf_small).collect()[0]
    assert r["n_cells"] >= 50  # 93 of 125 cells pass n>=2 at sf0.001
    assert r["b"] > 0  # smaller totals → larger relative variance
    assert 0.0 <= r["r2"] <= 1.0


# --- RR5: published cells are multiples of 5, bias bounded per cell --------


def test_rr5_cells_published_mod5(spark, sf_small):
    import pyspark.sql.functions as F

    from statcan_etl_pipeline_spark.catalog import load_table

    rows = QUERIES["statcan_random_rounding_base5"](spark, sf_small).collect()
    assert rows
    for r in rows:
        # net bias over k cells can never exceed 4 per cell
        assert abs(r["net_bias"]) < 5 * r["n_cells"]
        assert 0 <= r["n_rounded_up"] <= r["n_cells"]
    # recompute cell-level: every published cell is ≡ 0 (mod 5) and
    # within 4 of the raw count
    orders = load_table(spark, sf_small, "orders").select("o_custkey", "o_orderpriority")
    cust = load_table(spark, sf_small, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_small, "nation").select("n_nationkey", "n_name")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nat, cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    import hashlib

    for cell in cells:
        c = cell["c"]
        r5 = c % 5
        coin = int(
            hashlib.md5(f"{cell['n_name']}|{cell['o_orderpriority']}".encode())
            .hexdigest()[:2],
            16,
        ) % 5
        pub = c if r5 == 0 else (c - r5 + 5 if coin < r5 else c - r5)
        assert pub % 5 == 0 and abs(pub - c) <= 4


# --- perplexity buckets: terciles partition the corpus ---------------------


def test_perplexity_buckets_partition(spark, sf_small):
    rows = QUERIES["doc_perplexity_buckets"](spark, sf_small).collect()
    n_total = sum(r["n_docs"] for r in rows)
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{sf_small}/documents.parquet'"
    ).fetchone()[0]
    assert n_total == n_docs  # every doc lands in exactly one bucket
    by_bucket: dict[str, int] = {}
    for r in rows:
        by_bucket[r["bucket"]] = by_bucket.get(r["bucket"], 0) + r["n_docs"]
        assert r["mean_neglogprob"] > 0
    assert set(by_bucket) == {"head", "middle", "tail"}
    # discrete terciles: head gets >= 1/3 (ties inflate), tail <= 1/3 + slack
    assert by_bucket["head"] >= n_docs // 3


# --- temperature sampling: shares normalize, small sources up-sampled ------


def test_temperature_sampling_flattens(spark, sf_small):
    rows = QUERIES["corpus_temperature_sampling"](spark, sf_small).collect()
    assert len(rows) == 20
    assert abs(sum(r["raw_share"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["temp_share"] for r in rows) - 1.0) < 1e-3
    smallest = min(rows, key=lambda r: r["n_toks"])
    largest = max(rows, key=lambda r: r["n_toks"])
    # tau < 1 up-samples small sources and down-samples large ones
    assert smallest["temp_share"] >= smallest["raw_share"]
    assert largest["temp_share"] <= largest["raw_share"]
    assert smallest["effective_epochs"] >= largest["effective_epochs"]


# --- CUPED: theta/rho2 match a direct covariance recompute -----------------


def test_cuped_matches_direct(spark, sf_small):
    rows = duckdb.sql(
        f"""SELECT user_id,
              sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(floor(value*100.0+0.5) AS BIGINT) ELSE 0 END),
              sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN CAST(floor(value*100.0+0.5) AS BIGINT) ELSE 0 END)
            FROM '{sf_small}/events.parquet' GROUP BY user_id"""
    ).fetchall()
    xs = [float(x) for _, x, _ in rows]
    ys = [float(y) for _, _, y in rows]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    vx = sum((x - mx) ** 2 for x in xs)
    vy = sum((y - my) ** 2 for y in ys)
    got = QUERIES["events_cuped_variance_reduction"](spark, sf_small).collect()[0]
    assert got["n_users"] == n
    assert abs(got["theta"] - cov / vx) < 1e-4
    assert abs(got["var_reduction_pct"] - 100.0 * cov * cov / (vx * vy)) < 1e-2


# --- Matryoshka: overlap bounded, recall consistent with its count ---------


def test_matryoshka_recall_consistent(spark, sf_small):
    rows = QUERIES["embedding_matryoshka_recall"](spark, sf_small).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["n_overlap"] <= 10
        assert abs(r["recall_at_10"] - r["n_overlap"] / 10.0) < 1e-9


# --- incremental dedup: only delta docs reported, matches are real dups ----


def test_incremental_dedup_delta_side_only(spark, sf_small):
    rows = QUERIES["dedup_incremental_delta"](spark, sf_small).collect()
    assert rows
    for r in rows:
        assert r["doc_delta"] % 10 == 7  # reported docs are all delta-side
        assert r["matched_doc"] != r["doc_delta"]
        assert r["best_jaccard"] >= 0.05
    # a delta doc that IS a near-dup of an index doc per the batch
    # pipeline must also be caught by the incremental path
    batch = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_minhash_lsh"](spark, sf_small).collect()
    }
    from statcan_etl_pipeline_spark.operators.dedup import (
        band_keys,
        exploded_shingles,
        minhash_signature,
    )
    from statcan_etl_pipeline_spark.catalog import load_table
    from statcan_etl_pipeline_spark.functions.text import char_shingles, norm_text
    import pyspark.sql.functions as F

    docs = (
        load_table(spark, sf_small, "documents")
        .withColumn("norm", norm_text("text"))
        .withColumn("shingles", char_shingles("norm", 5))
    )
    bands = band_keys(minhash_signature(exploded_shingles(docs)))
    # band_keys is the exact decomposition lsh_candidate_pairs uses:
    # joining it to itself reproduces the batch candidate set
    a, b = bands.alias("a"), bands.alias("b")
    rebuilt = {
        (r["doc_a"], r["doc_b"])
        for r in a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .collect()
    }
    assert rebuilt == batch
