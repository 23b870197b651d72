"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH.

Scale design (100 TB of documents):
- EXACT dedup is a hash-groupBy on a 16-byte fingerprint — one shuffle
  on the fingerprint, map-side partial agg. Never compares full texts.
- N-GRAM JACCARD builds an inverted index shingle→doc and emits the
  doc pairs of each shingle, so only pairs sharing ≥1 shingle are
  generated — never the O(n²) cross join. Word k-grams keep shingles rare (bounded fan-out).
  For high-commonality shingle spaces (char n-grams), use MinHash+LSH.
- MINHASH is computed with a PORTABLE hash: the lexicographic MIN of
  md5(seed || ':' || shingle) per seed. md5 is identical everywhere,
  so the oracle can reproduce signatures exactly. Banded LSH then
  pairs docs within each (band_index, band_key) bucket — candidate
  generation is one shuffle on band keys; per-bucket fan-out is
  bounded by bucket size.
- Both pair stages are `group_pairs`, the one C(n, 2) emit.

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


def group_pairs(
    df: DataFrame,
    by: str | list[str],
    member: str,
    names: tuple[str, str],
    max_size: int | None = None,
) -> DataFrame:
    """(names[0], names[1]): every a < b pair of distinct `member`
    values that share a `by` group — the C(n, 2) emit behind LSH
    candidate pairs, shingle Jaccard and the co-purchase graph. One row
    per (group, pair), NOT deduplicated: a pair shared by k groups is
    emitted k times, so callers that need a pair set add `.distinct()`
    and callers that count groups per pair aggregate directly.

    Each group's SORTED distinct member array (one groupBy shuffle)
    emits exactly C(n, 2) rows via posexplode + suffix slice — no
    self-join, and per-row memory is O(n).

    GROUP-SIZE CAP (`max_size`): groups of more than `max_size`
    distinct members emit nothing. Fan-out is then bounded at C(cap, 2) per
    group, but the cap is also a RECALL cap: a pair whose only shared
    group is over the cap is lost, not deferred. For banded LSH (groups
    = (band, key) buckets) callers surface the skipped mass with
    `lsh_census_from_index`; registered queries do so as
    dedup_lsh_bucket_census and copurchase_band_census."""
    a, b = names
    grouped = df.groupBy(by).agg(
        F.sort_array(F.array_distinct(F.collect_list(member))).alias("__ms")
    )
    if max_size is not None:
        grouped = grouped.filter(F.size("__ms") <= max_size)
    return grouped.select(F.posexplode("__ms").alias("__i", a), "__ms").select(
        a,
        F.explode(F.slice("__ms", F.col("__i") + F.lit(2), F.size("__ms"))).alias(b),
    )


def lsh_census_from_index(
    banded: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Census of banded-LSH bucket sizes over a (doc_id, band, key)
    index — the companion report that makes a `group_pairs` size cap a
    DOCUMENTED cap rather than a silent one.

    One row per distinct bucket size: how many (band, key) buckets have
    that size, the candidate pairs they would generate (n_buckets ·
    C(size, 2)), and — when a cap is given — whether pair generation
    skips them (`capped`). Sum of candidate_pairs where capped=1 is an
    UPPER BOUND on the distinct pairs the cap drops (exact per band,
    pre-dedup): a pair skipped in a hot bucket in one band can still
    survive via a cold bucket in another band, so reports built on the
    census must not read it as exact recall loss. O(distinct sizes)
    output rows; one shuffle on (band, key) plus one on the tiny size
    column."""
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

    HOT-SHINGLE CAP: the index emits C(df, 2) pairs per shingle, so
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
    # the df cap is the group-size cap of the shingle→doc emit (df =
    # group size: shingled is distinct per (doc, sh)); per-shingle
    # fan-out is O(df), bounded by df_cap
    common = (
        group_pairs(shingled, "sh", "doc_id", ("doc_a", "doc_b"), df_cap)
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
