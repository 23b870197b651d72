"""Unit tests for operators with tiny inline frames: edge cases the
oracle suite can't reach (empty inputs, ties, nulls, unicode)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from statcan_etl_pipeline_spark.operators.dedup import (
    band_keys,
    exploded_shingles,
    group_pairs,
    jaccard_pairs,
    lsh_census_from_index,
    minhash_signature,
)
from statcan_etl_pipeline_spark.operators.multimodal import (
    attach_binary_payload,
    fake_decode_features,
)
from statcan_etl_pipeline_spark.operators.temporal import (
    asof_join_backward,
    sessionize,
)
from statcan_etl_pipeline_spark.plans.pipeline import run_pipeline


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def _lsh_pairs(sig, max_bucket_size=None) -> set[tuple[int, int]]:
    """Distinct banded-LSH candidate pairs of `sig`."""
    pairs = group_pairs(
        band_keys(sig), ["band", "key"], "doc_id", ("doc_a", "doc_b"), max_bucket_size
    )
    return {(r["doc_a"], r["doc_b"]) for r in pairs.distinct().collect()}


def test_asof_join_exact_timestamp_matches(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "L1")], "user_id long, ts timestamp, l string"
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), "R-same"),
            (1, _ts("2024-01-01T09:00:00"), "R-before"),
            (1, _ts("2024-01-01T11:00:00"), "R-after"),
        ],
        "user_id long, ts timestamp, r string",
    )
    out = asof_join_backward(left, right, on=["user_id"]).collect()
    assert len(out) == 1
    assert out[0]["matched_r"] == "R-same"  # <= semantics: equal ts matches


def test_asof_join_no_match_is_null(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T08:00:00"), "L1")], "user_id long, ts timestamp, l string"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:00:00"), "R1")], "user_id long, ts timestamp, r string"
    )
    out = asof_join_backward(left, right, on=["user_id"]).collect()
    assert out[0]["matched_r"] is None


def test_asof_join_key_isolation(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "L1")], "user_id long, ts timestamp, l string"
    )
    right = spark.createDataFrame(
        [(2, _ts("2024-01-01T09:00:00"), "other-user")],
        "user_id long, ts timestamp, r string",
    )
    out = asof_join_backward(left, right, on=["user_id"]).collect()
    assert out[0]["matched_r"] is None


def test_sessionize_gap_boundary(spark):
    # events exactly gap apart stay in ONE session (strict > starts new)
    rows = [
        (1, _ts("2024-01-01T10:00:00"), 1),
        (1, _ts("2024-01-01T10:30:00"), 2),   # exactly 1800s later
        (1, _ts("2024-01-01T11:00:01"), 3),   # 1801s later → new session
        (2, _ts("2024-01-01T10:00:00"), 4),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = sessionize(df, gap_seconds=1800, tiebreak=["event_id"]).collect()
    by_event = {r["event_id"]: r["session_id"] for r in out}
    assert by_event[1] == by_event[2] == 1
    assert by_event[3] == 2
    assert by_event[4] == 1  # per-user numbering


def test_jaccard_identical_docs(spark):
    docs = spark.createDataFrame(
        [(1, ["a b c", "b c d"]), (2, ["a b c", "b c d"]), (3, ["x y z"])],
        "doc_id long, shingles array<string>",
    )
    sh = exploded_shingles(docs)
    out = jaccard_pairs(sh, threshold=0.99).collect()
    assert len(out) == 1
    assert (out[0]["doc_a"], out[0]["doc_b"], out[0]["jaccard"]) == (1, 2, 1.0)


def test_minhash_identical_docs_always_candidates(spark):
    docs = spark.createDataFrame(
        [(1, ["aaaaa", "bbbbb", "ccccc"]), (2, ["aaaaa", "bbbbb", "ccccc"]), (3, ["zzzzz"])],
        "doc_id long, shingles array<string>",
    )
    sig = minhash_signature(exploded_shingles(docs))
    pairs = _lsh_pairs(sig)
    assert (1, 2) in pairs  # identical signature → all bands collide
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lsh_bucket_cap_drops_hot_bucket_keeps_cold(spark):
    # docs 1-6 identical → one 6-doc bucket per band (C(6,2)=15 pairs);
    # docs 10-11 identical → one 2-doc bucket per band. cap=4 must drop
    # ALL hot-bucket pairs and keep the cold pair.
    rows = [(i, ["aaaaa", "bbbbb", "ccccc"]) for i in range(1, 7)]
    rows += [(10, ["xxxxx", "yyyyy"]), (11, ["xxxxx", "yyyyy"])]
    docs = spark.createDataFrame(rows, "doc_id long, shingles array<string>")
    sig = minhash_signature(exploded_shingles(docs))
    uncapped = _lsh_pairs(sig)
    capped = _lsh_pairs(sig, max_bucket_size=4)
    assert len(uncapped) == 16  # 15 hot + 1 cold
    assert capped == {(10, 11)}
    # cap >= bucket size is a no-op
    assert _lsh_pairs(sig, max_bucket_size=6) == uncapped


def test_lsh_bucket_census_reports_capped_mass(spark):
    rows = [(i, ["aaaaa", "bbbbb", "ccccc"]) for i in range(1, 7)]
    rows += [(10, ["xxxxx", "yyyyy"]), (11, ["xxxxx", "yyyyy"])]
    docs = spark.createDataFrame(rows, "doc_id long, shingles array<string>")
    sig = minhash_signature(exploded_shingles(docs))
    census = {
        r["bucket_size"]: r
        for r in lsh_census_from_index(band_keys(sig), max_bucket_size=4).collect()
    }
    # 2 bands: each has one 6-doc bucket and one 2-doc bucket
    assert census[6]["n_buckets"] == 2
    assert census[6]["candidate_pairs"] == 2 * 15
    assert census[6]["capped"] == 1
    assert census[2]["n_buckets"] == 2
    assert census[2]["candidate_pairs"] == 2 * 1
    assert census[2]["capped"] == 0
    # the census's capped mass is exactly what the cap drops (per-band,
    # pre-distinct: 15 unique pairs dropped, both bands agree)
    assert len(_lsh_pairs(sig)) - len(_lsh_pairs(sig, max_bucket_size=4)) == 15


def test_pipeline_runner_ops(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)], "id long, k string, v double"
    )
    spec = {
        "source": "t",
        "steps": [
            {"op": "filter", "expr": "v > 5"},
            {"op": "derive", "name": "v2", "expr": "v * 2"},
            {"op": "aggregate", "by": ["k"], "aggs": {"total": "sum(v2)", "n": "count(*)"}},
            {"op": "sort", "by": ["k"]},
            {"op": "limit", "n": 10},
        ],
    }
    out = run_pipeline(spec, {"t": df}).collect()
    assert [(r["k"], r["total"], r["n"]) for r in out] == [("a", 60.0, 2), ("b", 60.0, 1)]


def test_pipeline_unknown_op_raises(spark):
    df = spark.createDataFrame([(1,)], "id long")
    try:
        run_pipeline({"source": "t", "steps": [{"op": "explode_all"}]}, {"t": df})
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "explode_all" in str(e)


def test_multimodal_fake_decode(spark):
    docs = spark.createDataFrame(
        [(1, "abc"), (2, "Ω unicode"), (3, "")], "doc_id long, text string"
    )
    feats = fake_decode_features(attach_binary_payload(docs)).collect()
    by_id = {r["doc_id"]: r for r in feats}
    assert by_id[1]["n_bytes"] == 3 and by_id[1]["first_byte"] == ord("a")
    assert abs(by_id[1]["mean_byte"] - (ord("a") + ord("b") + ord("c")) / 3) < 1e-9
    assert by_id[2]["n_bytes"] == len("Ω unicode".encode())  # bytes, not chars
    assert by_id[3]["n_bytes"] == 0 and by_id[3]["first_byte"] == -1


def test_simhash_identical_docs_collide_all_bands(spark):
    from statcan_etl_pipeline_spark.operators.simhash import (
        simhash_candidate_pairs,
        simhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "aaaaa"), (1, "bbbbb"), (2, "aaaaa"), (2, "bbbbb"), (3, "zzzzz")],
        "doc_id long, sh string",
    )
    sig = simhash_signatures(docs)
    rows = {r["doc_id"]: r for r in sig.collect()}
    assert rows[1]["simhash"] == rows[2]["simhash"]
    assert len(rows[1]["simhash"]) == 16
    pairs = {(r["doc_a"], r["doc_b"]) for r in simhash_candidate_pairs(sig).collect()}
    assert (1, 2) in pairs


def test_upsert_insert_update_keep(spark):
    from statcan_etl_pipeline_spark.operators.incremental import upsert

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    updates = spark.createDataFrame([(2, "B"), (3, "C")], "k long, v string")
    out = {(r["k"], r["v"]) for r in upsert(base, updates, ["k"]).collect()}
    assert out == {(1, "a"), (2, "B"), (3, "C")}


def test_upsert_tiebreak_among_updates(spark):
    from statcan_etl_pipeline_spark.operators.incremental import upsert

    base = spark.createDataFrame([(1, "a", 0)], "k long, v string, ver long")
    updates = spark.createDataFrame(
        [(1, "u1", 1), (1, "u2", 2)], "k long, v string, ver long"
    )
    out = upsert(base, updates, ["k"], order_col="ver").collect()
    assert len(out) == 1 and out[0]["v"] == "u2"


def test_scd2_ranges_chain(spark):
    from statcan_etl_pipeline_spark.operators.incremental import scd2_history

    df = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (1, "2024-01-05", 20.0), (2, "2024-02-01", 5.0)],
        "k long, d string, v double",
    )
    out = {(r["k"], r["valid_from"], r["valid_to"]) for r in
           scd2_history(df, ["k"], "d").collect()}
    assert out == {
        (1, "2024-01-01", "2024-01-05"),
        (1, "2024-01-05", "9999-12-31"),
        (2, "2024-02-01", "9999-12-31"),
    }


def test_salted_join_equals_plain_join(spark, sf_small):
    from statcan_etl_pipeline_spark.catalog import load_table
    from statcan_etl_pipeline_spark.operators.joins import salted_join

    ev = load_table(spark, sf_small, "events").select("event_id", "user_id", "value")
    dim = spark.range(0, 200).select(
        F.col("id").alias("user_id"), (F.col("id") * 10).alias("score")
    )
    plain = ev.join(dim, "user_id").select("event_id", "score")
    salted = salted_join(ev, dim, "user_id", salt=4).select("event_id", "score")
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_multimodal_resize_and_frame_sample(spark):
    from statcan_etl_pipeline_spark.operators.multimodal import (
        attach_binary_payload,
        fake_frame_sample,
        fake_resize,
    )

    docs = spark.createDataFrame(
        [(1, "x" * 200), (2, "short")], "doc_id long, text string"
    )
    payloads = attach_binary_payload(docs)
    resized = {r["doc_id"]: r for r in fake_resize(payloads, target_bytes=64).collect()}
    assert resized[1]["n_bytes"] == 64 and resized[2]["n_bytes"] == 5

    frames = fake_frame_sample(payloads, stride=16, max_frames=4).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 4  # 200 bytes / 16 stride capped at 4 frames
    assert len(by_doc[2]) == 1  # short payload → 1 frame
    assert bytes(by_doc[1][0]["frame"]) == b"x" * 16


def test_asof_forward_matches_next_event(spark):
    from statcan_etl_pipeline_spark.operators.temporal import asof_join_forward

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "a"), (1, "2024-01-01 12:00:00", "b"),
         (2, "2024-01-01 10:30:00", "c")],
        "k long, ts string, lv string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "exact"), (1, "2024-01-01 11:00:00", "later"),
         (2, "2024-01-01 09:00:00", "before_only")],
        "k long, ts string, rv string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (r["k"], str(r["ts"]), r["lv"]): r["matched_rv"]
        for r in asof_join_forward(left, right, on=["k"]).collect()
    }
    assert got[(1, "2024-01-01 10:00:00", "a")] == "exact"   # same-ts matches
    assert got[(1, "2024-01-01 12:00:00", "b")] is None      # nothing after
    assert got[(2, "2024-01-01 10:30:00", "c")] is None      # only earlier rows


def test_asof_nearest_prefers_closest_then_backward(spark):
    from statcan_etl_pipeline_spark.operators.temporal import asof_join_nearest

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "mid"),   # 30min to prev, 10min to next -> fwd
         (1, "2024-01-01 12:00:00", "tie"),   # 50min each way -> backward wins tie
         (2, "2024-01-01 10:00:00", "only_fwd")],
        "k long, ts string, lv string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", "p1"), (1, "2024-01-01 10:10:00", "p2"),
         (1, "2024-01-01 11:10:00", "p3"), (1, "2024-01-01 12:50:00", "p4"),
         (2, "2024-01-01 10:45:00", "f1")],
        "k long, ts string, rv string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (r["k"], r["lv"]): r["matched_rv"]
        for r in asof_join_nearest(left, right, on=["k"]).collect()
    }
    assert got[(1, "mid")] == "p2"       # 10 min forward beats 30 min back
    assert got[(1, "tie")] == "p3"       # exact tie -> backward
    assert got[(2, "only_fwd")] == "f1"  # no backward candidate


def test_asof_forward_agrees_with_pandas_merge_asof(spark, sf_small):
    import pandas as pd

    from statcan_etl_pipeline_spark.catalog import load_table
    from statcan_etl_pipeline_spark.operators.temporal import asof_join_forward

    ev = load_table(spark, sf_small, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    got = (
        asof_join_forward(purchases, views, on=["user_id"])
        .select("user_id", "purchase_id", "matched_view_id")
        .toPandas()
        .sort_values(["user_id", "purchase_id"])
        .reset_index(drop=True)
    )
    lp = purchases.toPandas().sort_values("ts").reset_index(drop=True)
    rp = views.toPandas().sort_values("ts").reset_index(drop=True)
    want = pd.merge_asof(
        lp, rp, on="ts", by="user_id", direction="forward",
        allow_exact_matches=True,
    ).sort_values(["user_id", "purchase_id"]).reset_index(drop=True)
    merged = got.merge(
        want[["user_id", "purchase_id", "view_id"]],
        on=["user_id", "purchase_id"],
        how="outer",
        indicator=True,
    )
    assert (merged["_merge"] == "both").all()
    # NaN == NaN for the no-match rows; compare with fillna sentinel
    assert (
        merged["matched_view_id"].fillna(-1) == merged["view_id"].fillna(-1)
    ).all()


def test_check_freshness_flags_stale_and_empty(spark):
    from statcan_etl_pipeline_spark.operators.quality import check_freshness

    df = spark.createDataFrame(
        [("2024-01-01 10:00:00",), ("2024-01-01 11:00:00",)], "ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    fresh = check_freshness(df, "ts", "2024-01-01 11:30:00", 3600).collect()[0]
    assert fresh["violations"] == 0
    stale = check_freshness(df, "ts", "2024-01-02 00:00:00", 3600).collect()[0]
    assert stale["violations"] == 1
    empty = check_freshness(
        df.filter(F.lit(False)), "ts", "2024-01-01 11:30:00", 3600
    ).collect()[0]
    assert empty["violations"] == 1  # empty table is NOT fresh


def test_asof_nearest_keeps_rows_with_null_payload(spark):
    """Regression: every left row comes back exactly once. A left row
    with a NULL payload column used to vanish, and two identical left
    rows used to match each other and multiply (3 rows in, 5 out),
    when the backward and forward passes were joined on every left
    column."""
    from statcan_etl_pipeline_spark.operators.temporal import asof_join_nearest

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", None), (1, "2024-01-01 11:00:00", "x"),
         (1, "2024-01-01 11:00:00", "x")],
        "k long, ts string, lv string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:30:00", "r1")], "k long, ts string, rv string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = asof_join_nearest(left, right, on=["k"]).collect()
    assert sorted((r["lv"] or "", r["matched_rv"]) for r in rows) == [
        ("", "r1"), ("x", "r1"), ("x", "r1"),
    ]



def test_star_components_single_label_even_unconverged(spark):
    """Regression: with an exhausted iteration budget the star CC must
    still return exactly one label per vertex (it may warn)."""
    import warnings as w

    from statcan_etl_pipeline_spark.operators.components import (
        connected_components_star,
    )

    n = 30
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    with w.catch_warnings():
        w.simplefilter("ignore")
        out = connected_components_star(verts, chain, max_iter=1).collect()
    assert len(out) == n  # one row per vertex, converged or not
    assert len({r["vertex"] for r in out}) == n


def test_snapshot_diff_null_key_rows(spark):
    """Regression (ADVICE r2): keys compare null-safely — an unchanged
    NULL-keyed row must NOT be reported, and an updated NULL-keyed row
    is a single update, never a delete+insert pair."""
    from statcan_etl_pipeline_spark.operators.incremental import snapshot_diff

    old = spark.createDataFrame(
        [(None, "same"), (1, "a"), (2, "gone")], "k long, v string"
    )
    new = spark.createDataFrame(
        [(None, "same"), (1, "b"), (3, "new")], "k long, v string"
    )
    rows = {(r["k"], r["change_type"]) for r in snapshot_diff(old, new, ["k"]).collect()}
    assert rows == {(1, "update"), (2, "delete"), (3, "insert")}

    new2 = spark.createDataFrame([(None, "CHANGED"), (1, "a"), (2, "gone")], "k long, v string")
    rows2 = {(r["k"], r["change_type"]) for r in snapshot_diff(old, new2, ["k"]).collect()}
    assert rows2 == {(None, "update")}


def test_doc_token_chunks_no_contained_chunk(spark):
    """Regression (ADVICE r2): the final stride start must not land past
    len-overlap, which yielded a trailing chunk fully contained in the
    previous one. Every non-first chunk now carries > overlap tokens
    (i.e. at least one token the previous chunk doesn't end with), and
    the last chunk still reaches the document's end."""
    from statcan_etl_pipeline_spark.queries.text import _CHUNK, _OVERLAP
    from statcan_etl_pipeline_spark.registry import QUERIES

    out = QUERIES["doc_token_chunks"](spark, "/root/testdata/sf0.001")
    bad = out.filter((F.col("chunk_idx") > 0) & (F.col("n_tokens") <= _OVERLAP))
    assert bad.count() == 0
    # coverage: per doc, tokens spanned = stride*(n_chunks-1) + last size
    stride = _CHUNK - _OVERLAP
    per_doc = out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.max(F.col("chunk_idx") * stride + F.col("n_tokens")).alias("span_end"),
        F.sum(F.col("n_tokens")).alias("tok_total"),
    )
    # every chunked doc spans a contiguous prefix [1, span_end]; chunks
    # overlap by exactly `overlap` tokens except possibly the last
    chk = per_doc.filter(
        F.col("tok_total") != (F.col("n_chunks") - 1) * F.lit(_OVERLAP) + F.col("span_end")
    )
    assert chk.count() == 0


def test_pii_scrub_redacts_all_kinds(spark):
    """scrub() replaces emails/IPs/phones/digit-runs with class tags
    and leaves clean text untouched (functions/pii.py)."""
    from statcan_etl_pipeline_spark.functions.pii import pii_counts, scrub

    rows = [
        (1, "mail me at jane.doe+spam@example.co.uk please"),
        (2, "server 10.0.255.3 rebooted"),
        (3, "call 555-867-5309 or 555 123 4567"),
        (4, "order id 123456789 confirmed"),
        (5, "totally clean text with the number 42"),
    ]
    df = spark.createDataFrame(rows, ["id", "s"])
    out = {r["id"]: r["red"] for r in df.select("id", scrub("s").alias("red")).collect()}
    assert out[1] == "mail me at [EMAIL] please"
    assert out[2] == "server [IP] rebooted"
    assert "[PHONE]" in out[3] and not any(ch.isdigit() for ch in out[3])
    assert out[4] == "order id [NUM] confirmed"
    assert out[5] == rows[4][1]
    counts = df.select("id", *pii_counts("s").values()).collect()
    by_id = {r["id"]: r for r in counts}
    assert by_id[1]["n_email"] == 1 and by_id[1]["n_digit_run"] == 0
    assert by_id[2]["n_ipv4"] == 1
    assert by_id[3]["n_phone"] == 2
    assert by_id[4]["n_digit_run"] == 1
    assert all(by_id[5][c] == 0 for c in by_id[5].asDict() if c.startswith("n_"))


def test_binary_file_ingest_to_payload_contract(spark, tmp_path):
    """binaryFile source → payload/media_meta contract: bytes survive,
    glob filters prune files, and the decode stub runs downstream."""
    from statcan_etl_pipeline_spark.operators.multimodal import (
        fake_decode_features,
        ingest_binary_files,
    )

    d = tmp_path / "media"
    d.mkdir()
    (d / "a.bin").write_bytes(b"\x00\x01\x02payload-a")
    (d / "b.bin").write_bytes(b"payload-b")
    (d / "skip.txt").write_bytes(b"not media")
    df = ingest_binary_files(spark, str(d), glob="*.bin", kind="test/bin")
    rows = {r["uri"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"]["payload"]) == b"\x00\x01\x02payload-a"
    assert rows["b.bin"]["media_meta"]["n_bytes"] == 9
    assert rows["b.bin"]["media_meta"]["kind"] == "test/bin"
    feat = fake_decode_features(
        df.select(F.xxhash64("uri").alias("doc_id"), "media_meta", "payload")
    )
    got = {r["n_bytes"] for r in feat.collect()}
    assert got == {12, 9}


def test_observe_metrics_piggyback_on_action(spark, sf_small):
    """observe() collects row/null/min/max metrics during the caller's
    own action — no second scan — and they match explicit aggregates."""
    from statcan_etl_pipeline_spark.catalog import load_table
    from statcan_etl_pipeline_spark.operators.quality import observed_metrics

    nat = load_table(spark, sf_small, "nation")
    instrumented, obs = observed_metrics(nat, "natdq")
    instrumented.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["n_rows"] == nat.count()
    assert got["nulls__n_name"] == 0
    assert got["min__n_nationkey"] == 0
    assert got["max__n_nationkey"] == nat.agg(F.max("n_nationkey")).collect()[0][0]


def test_text_source_regex_log_parse(spark, tmp_path):
    """text source + regexp_extract: the log-file ingest shape — raw
    lines become typed columns, malformed lines quarantine as NULLs."""
    p = tmp_path / "logs"
    p.mkdir()
    (p / "a.log").write_text(
        "2026-08-14 01:02:03 INFO job=etl rows=120\n"
        "2026-08-14 01:02:04 WARN job=etl rows=7\n"
        "garbage line without structure\n"
    )
    raw = spark.read.text(str(p))
    pat = r"^(\S+ \S+) (\w+) job=(\w+) rows=(\d+)$"
    parsed = raw.select(
        F.regexp_extract("value", pat, 1).alias("ts_raw"),
        F.regexp_extract("value", pat, 2).alias("level"),
        F.regexp_extract("value", pat, 3).alias("job"),
        F.nullif(F.regexp_extract("value", pat, 4), F.lit("")).cast("long").alias("rows"),
    )
    good = parsed.filter(F.col("rows").isNotNull())
    bad = parsed.filter(F.col("rows").isNull())
    assert good.count() == 2 and bad.count() == 1
    assert {r["level"] for r in good.collect()} == {"INFO", "WARN"}
    assert good.agg(F.sum("rows")).collect()[0][0] == 127


def test_scalar_pandas_udf_matches_jvm_expression(spark, sf_small):
    """Arrow-batched scalar pandas_udf surface: vectorized Python equals
    the JVM expression bit-for-bit on the same frame (the escape hatch
    for logic F.* can't express — NOT used in any hot query path)."""
    from pyspark.sql.functions import pandas_udf

    # no type hints: this module uses postponed annotation evaluation
    # (PEP 563), which stringifies hints and breaks pandas_udf inference
    @pandas_udf("double")
    def squash(v):
        return v / (1.0 + v.abs())

    from statcan_etl_pipeline_spark.catalog import load_table

    orders = load_table(spark, sf_small, "orders").limit(500)
    got = orders.select(squash("o_totalprice").alias("s")).collect()
    want = orders.select(
        (F.col("o_totalprice") / (F.lit(1.0) + F.abs("o_totalprice"))).alias("s")
    ).collect()
    assert [r["s"] for r in got] == [r["s"] for r in want]


def test_sniff_media_kind_magic_bytes(spark):
    """Magic-bytes sniffing classifies PNG/JPEG/GIF/WAV/MP4/PDF headers
    and falls back to octet-stream — all JVM-side (no UDF in plan)."""
    from statcan_etl_pipeline_spark.operators.multimodal import sniff_media_kind

    rows = [
        (1, bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A]) + b"xxxx"),
        (2, bytes([0xFF, 0xD8, 0xFF, 0xE0]) + b"JFIF"),
        (3, b"GIF89a" + b"\x00" * 4),
        (4, b"RIFF\x24\x08\x00\x00WAVE"),
        (5, b"\x00\x00\x00\x20ftypisom"),
        (6, b"%PDF-1.7\n"),
        (7, b"plain text bytes"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: r["kind"]
        for r in df.select(
            "doc_id", sniff_media_kind("payload").alias("kind")
        ).collect()
    }
    assert got == {
        1: "image/png",
        2: "image/jpeg",
        3: "image/gif",
        4: "audio/wav",
        5: "video/mp4",
        6: "application/pdf",
        7: "application/octet-stream",
    }
    plan = (
        df.select(sniff_media_kind("payload").alias("kind"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_two_pass_desc_ranks_equals_global_sort(spark):
    """two_pass_desc_ranks == plain global-window row_number on
    adversarial distributions: duplicates everywhere, all-equal metric
    (single degenerate band), single row, negative values, values
    straddling band boundaries, and a range smaller than n_bands."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from statcan_etl_pipeline_spark.operators.ranks import two_pass_desc_ranks

    import random

    rng = random.Random(42)
    cases = {
        "dups": [(i, rng.randint(-50, 50)) for i in range(500)],
        "all_equal": [(i, 7) for i in range(100)],
        "single": [(0, 123)],
        "negatives": [(i, -rng.randint(0, 10**9)) for i in range(200)],
        "narrow_range": [(i, rng.randint(0, 3)) for i in range(300)],
        "wide_sparse": [(i, rng.choice([-(10**12), 0, 10**12])) for i in range(100)],
        # r10 (ADVICE): nulls must rank LAST like desc-nulls-last, not
        # silently drop; all-null degenerates to one sentinel band
        "with_nulls": [(i, rng.choice([None, rng.randint(-50, 50)])) for i in range(300)],
        "all_null": [(i, None) for i in range(50)],
    }
    for label, rows in cases.items():
        df = spark.createDataFrame(rows, "id long, m long")
        fast = two_pass_desc_ranks(df, [("m", "r")], tie_col="id")
        slow = df.withColumn(
            "r_ref",
            F.row_number().over(W.orderBy(F.desc("m"), F.asc("id"))).cast("int"),
        )
        joined = fast.join(slow.select("id", "r_ref"), "id")
        assert joined.count() == len(rows), f"case {label}: rows lost"
        bad = joined.filter(F.col("r") != F.col("r_ref")).count()
        assert bad == 0, f"case {label}: {bad} rank mismatches"


def test_two_pass_desc_ranks_int32_metric_no_overflow(spark):
    """IntegerType metrics near int32 extremes must band without
    wrapping (ADVICE r9: the band expr used to multiply in the metric's
    native type, overflowing at ~2^31/n_bands)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from statcan_etl_pipeline_spark.operators.ranks import two_pass_desc_ranks

    rows = [(0, -(2**31)), (1, 2**31 - 1), (2, 0), (3, 2**30), (4, -(2**30))]
    df = spark.createDataFrame(rows, "id long, m int")
    fast = two_pass_desc_ranks(df, [("m", "r")], tie_col="id")
    slow = df.withColumn(
        "r_ref",
        F.row_number().over(W.orderBy(F.desc("m"), F.asc("id"))).cast("int"),
    )
    joined = fast.join(slow.select("id", "r_ref"), "id")
    assert joined.filter(F.col("r") != F.col("r_ref")).count() == 0
