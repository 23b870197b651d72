"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH.

Scale design (100 TB of documents):
- EXACT dedup is a hash-groupBy on a 16-byte fingerprint — one shuffle
  on the fingerprint, map-side partial agg. Never compares full texts.
- N-GRAM JACCARD builds an inverted index shingle→doc and joins on
  shingle, so only pairs sharing ≥1 shingle are generated — never the
  O(n²) cross join. Word k-grams keep shingles rare (bounded fan-out).
  For high-commonality shingle spaces (char n-grams), use MinHash+LSH.
- MINHASH is computed with a PORTABLE hash: the lexicographic MIN of
  md5(seed || ':' || shingle) per seed. md5 is identical everywhere,
  so the oracle can reproduce signatures exactly. Banded LSH then
  joins docs on (band_index, band_key) — candidate generation is one
  shuffle on band keys; per-bucket fan-out is bounded by bucket size.

All expressions are built-in (codegen'd); no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 8 hashes as 2 bands × 4 rows: P(candidate) ≈ s^4 per band — tuned for
# a high-similarity corpus (char-5-gram jaccard ~0.4 between random
# same-vocab docs would flood r=2 banding with ~20% of all pairs).
N_HASHES = 8
BAND_ROWS = 4


def exploded_shingles(docs: DataFrame, shingles_col: str = "shingles") -> DataFrame:
    """(doc_id, sh) — distinct shingles per doc. Per-doc dedup happens
    in `array_distinct` BEFORE the explode, so no global distinct (a
    full extra shuffle of the exploded rows) is needed."""
    return docs.select(
        "doc_id", F.explode(F.array_distinct(F.col(shingles_col))).alias("sh")
    )


def _mh_expr(k: int) -> str:
    """Portable minhash k: an 8-hex-char chunk of md5(seed:shingle),
    seed = k div 4, chunk = k mod 4 — four minhashes per md5 call
    (4× fewer digests than one md5 per hash)."""
    seed, chunk = divmod(k, 4)
    return f"min(substr(md5('{seed}:' || sh), {1 + 8 * chunk}, 8))"


def minhash_signature(shingled: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, mh_0..mh_{n-1}): per-seed lexicographic min of md5
    chunks. One shuffle (groupBy doc_id); map-side partial min."""
    aggs = [F.expr(_mh_expr(k)).alias(f"mh_{k}") for k in range(n_hashes)]
    return shingled.groupBy("doc_id").agg(*aggs)


def band_keys(
    signatures: DataFrame, n_hashes: int = N_HASHES, band_rows: int = BAND_ROWS
) -> DataFrame:
    """(doc_id, band, key) banded LSH keys — the persistable INDEX shape
    for incremental (delta-vs-index) dedup: store this for the corpus,
    band-join each day's delta against it, and the corpus never
    self-joins again."""
    n_bands = n_hashes // band_rows
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat(
                        *[F.col(f"mh_{b * band_rows + r}") for r in range(band_rows)]
                    ).cast("binary")
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_hashes: int = N_HASHES,
    band_rows: int = BAND_ROWS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct (doc_a, doc_b) sharing at least one LSH band.

    BAND-BUCKET CAP (`max_bucket_size`, off by default): pair
    generation emits C(n, 2) pairs per (band, key) bucket, so bucket
    density — not row count — is what its cost tracks. On a corpus
    whose true near-dup density is quadratic (measured at sf1 on the
    fixed-vocabulary synthetic corpus: Σ C(n, 2) grew 92.7× for 10×
    docs, with the 74 buckets above 64 docs carrying 79% of all 1.27M
    candidate pairs), buckets above the cap are excluded from PAIR
    GENERATION, bounding per-bucket fan-out at C(cap, 2). A giant
    bucket means either a giant duplicate cluster (for which pairwise
    enumeration is the wrong output shape — census it and treat it as
    one cluster) or band-collision flooding; either way its pairs are
    the quadratic term. The cap is ALSO a recall cap: a true near-dup
    pair whose only colliding band landed in a hot bucket is lost, not
    deferred. NO SILENT CAP: callers must surface the skipped mass via
    `lsh_bucket_census` (registered as the dedup_lsh_bucket_census
    query), which upper-bounds the dropped pairs per bucket size.
    Exclusion is a filter on each bucket's sorted doc-array length in
    `lsh_pairs_from_index`, so the banded index has exactly one
    consumer."""
    return lsh_pairs_from_index(
        band_keys(signatures, n_hashes, band_rows), max_bucket_size
    )


def lsh_pairs_from_index(
    banded: DataFrame, max_bucket_size: int | None = None,
    dedup: bool = True,
) -> DataFrame:
    """The pair-generation stage of `lsh_candidate_pairs`, split out
    (r14) so callers that build the (doc_id, band, key) index
    themselves — e.g. the copurchase queries' slim agg-time banding in
    queries/graph.py, which never materializes the n_hashes
    minhash columns — reuse the identical capped pair emit instead of
    duplicating it. See `lsh_candidate_pairs` for the cap rationale.

    r14 (guide §2.3 — the _copurchase_edges precedent): each bucket's
    SORTED doc array (one groupBy shuffle) emits exactly C(n, 2)
    doc_a < doc_b rows via posexplode + suffix slice, replacing the
    (band, key) self-join. The bucket cap becomes a filter on the
    array length — the same bucket exclusion the old hot-bucket
    broadcast anti-join computed, without the extra aggregate pass or
    the localCheckpoint (the index now has exactly ONE consumer).
    Per-row memory is O(bucket size), bounded by the cap when one is
    given. Pair set bit-identical (parity-checked exact at sf0.1,
    11,278 capped pairs); won all four interleaved A/B pairs.

    `dedup=False` (r15, guide §2.4) skips the cross-band distinct and
    returns the RAW emit — one row per (pair, colliding band). A caller
    whose downstream per-pair computation is deterministic can
    deduplicate AFTER its own verify instead, turning the emit into one
    unbroken pipeline into the verify joins (no 16-byte-per-pair
    shuffle, no HashAggregate barrier over the candidate stream). Only
    correct when the caller DOES dedup before anything that counts
    rows; the default keeps the distinct-pairs contract every existing
    consumer relies on."""
    per_bucket = banded.groupBy("band", "key").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    if max_bucket_size is not None:
        per_bucket = per_bucket.filter(F.size("ds") <= max_bucket_size)
    raw = (
        per_bucket.select(F.posexplode("ds").alias("i", "doc_a"), F.col("ds"))
        .select(
            "doc_a",
            F.explode(F.slice("ds", F.col("i") + F.lit(2), F.size("ds"))).alias(
                "doc_b"
            ),
        )
    )
    return raw.distinct() if dedup else raw


def lsh_bucket_census(
    signatures: DataFrame,
    n_hashes: int = N_HASHES,
    band_rows: int = BAND_ROWS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Census of banded-LSH bucket sizes — the companion report that
    makes `max_bucket_size` a DOCUMENTED cap rather than a silent one.

    One row per distinct bucket size: how many (band, key) buckets have
    that size, the candidate pairs they would generate (n_buckets ·
    C(size, 2)), and — when a cap is given — whether pair generation
    skips them (`capped`). Sum of candidate_pairs where capped=1 is an
    UPPER BOUND on the distinct pairs `lsh_candidate_pairs` drops
    (exact per band, pre-dedup): a pair skipped in a hot bucket in one
    band can still survive via a cold bucket in another band, so reports
    built on the census must not read it as exact recall loss.
    O(distinct sizes) output rows; one shuffle on (band, key) plus one
    on the tiny size column."""
    return lsh_census_from_index(
        band_keys(signatures, n_hashes, band_rows), max_bucket_size
    )


def lsh_census_from_index(
    banded: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """The census stage of `lsh_bucket_census`, split out (r14) for
    callers with a self-built banded index — same split rationale as
    `lsh_pairs_from_index`. Body is exactly the pre-split aggregation."""
    sizes = banded.groupBy("band", "key").agg(
        F.count(F.lit(1)).cast("long").alias("bucket_size")
    )
    out = sizes.groupBy("bucket_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets")
    )
    pairs = (
        F.col("bucket_size") * (F.col("bucket_size") - 1) / 2 * F.col("n_buckets")
    ).cast("long")
    capped = (
        F.lit(False)
        if max_bucket_size is None
        else (F.col("bucket_size") > max_bucket_size)
    )
    return out.select(
        "bucket_size",
        "n_buckets",
        pairs.alias("candidate_pairs"),
        capped.cast("int").alias("capped"),
    )


DF_CAP = 1000


def jaccard_pairs(
    shingled: DataFrame, threshold: float, df_cap: int = DF_CAP
) -> DataFrame:
    """(doc_a, doc_b, common, jaccard) for pairs sharing ≥1 shingle with
    Jaccard ≥ threshold, via the shingle inverted index.

    HOT-SHINGLE CAP: the self-join emits C(df, 2) pairs per shingle, so
    one stop-phrase shingle shared by 10⁶ docs would generate ~5·10¹¹
    pairs — a scale-killer no small-SF test ever sees. Shingles with
    document frequency > df_cap carry ~no Jaccard information (they are
    corpus boilerplate) and are dropped from PAIR GENERATION and the
    intersection count; per-doc totals n_sh stay uncapped, so the
    reported jaccard is a conservative lower bound for pairs that
    shared a dropped shingle. Per-shingle fan-out is thus bounded by
    C(df_cap, 2). Corpora where near-dup pairs share ONLY ultra-common
    shingles should use the MinHash+LSH path, which has no such cap.
    The oracle SQL mirrors the cap exactly, so parity is unaffected
    (max df at sf0.1 is 25 — far under the cap)."""
    counts = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # r14 (guide §2.3 — the _copurchase_edges precedent): the inverted
    # index is each shingle's SORTED doc array (one groupBy shuffle);
    # posexplode + suffix slice emits exactly C(df, 2) doc_a < doc_b
    # rows per shingle, replacing the hot-shingle df aggregate, the
    # broadcast anti-join AND the sh self-join. The df cap becomes a
    # filter on the array length — identical exclusion (df = array
    # size: shingled is distinct per (doc, sh)). Per-row memory is
    # O(df), bounded by df_cap. Pair set bit-identical (parity-checked
    # exact at sf0.1, 590 scored pairs); won all four interleaved A/B
    # pairs (avg-of-mins 1.93 → 1.37 s).
    per_sh = shingled.groupBy("sh").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    common = (
        per_sh.filter(F.size("ds") <= df_cap)
        .select(F.posexplode("ds").alias("i", "doc_a"), F.col("ds"))
        .select(
            "doc_a",
            F.explode(F.slice("ds", F.col("i") + F.lit(2), F.size("ds"))).alias(
                "doc_b"
            ),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    ).cast("double")
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "jaccard")
    )
