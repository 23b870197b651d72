"""Dedup queries over `documents` / `embeddings` with DuckDB oracles.

The MinHash oracle reproduces signatures EXACTLY because the minhash
is defined portably: lexicographic min of md5(seed:shingle) — see
operators/dedup.py for the scale rationale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, scatter
from ..functions.portable import pround, sql_round as R
from ..functions.text import (
    char_shingles,
    norm_text,
    sql_char_shingles,
    sql_norm_text,
    sql_tokens,
    sql_word_shingles,
    tokens,
    word_shingles,
)
from ..functions.vectors import cosine, sql_cosine
from ..operators.dedup import (
    BAND_ROWS,
    DF_CAP,
    N_HASHES,
    band_keys,
    exploded_shingles,
    group_pairs,
    jaccard_pairs,
    lsh_census_from_index,
    minhash_signature,
)
from ..operators.simhash import simhash_oracle_sql, simhash_signatures
from ..registry import query
from .similarity import lsh_bucket, sql_lsh_bucket

_NORM_SQL = sql_norm_text("text")
JACCARD_TAU = 0.05
COS_TAU = 0.4


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scatter before the md5/shingle work so it runs wide (5.7× at sf0.1)
    return scatter(spark, load_table(spark, sf_dir, "documents"))


def _char_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with normalized `norm` text and its char-5-gram
    `shingles` — the input of every MinHash and SimHash query."""
    return (
        _docs(spark, sf_dir)
        .withColumn("norm", norm_text("text"))
        .withColumn("shingles", char_shingles("norm", 5))
    )


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on normalized-text fingerprint
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle=f"""
WITH base AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents)
SELECT md5(norm) AS fp, min(doc_id) AS keep_doc_id, count(*) AS n_docs
FROM base
GROUP BY fp
ORDER BY fp
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("norm", norm_text("text"))
    return (
        docs.select("doc_id", F.md5(F.col("norm").cast("binary")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )  # no trailing sort: driver hash is order-insensitive


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup via shingle inverted index (word 3-grams)
# ---------------------------------------------------------------------------
@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {sql_tokens(_NORM_SQL)} AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest({sql_word_shingles("toks", 3)}) AS sh FROM base
), counts AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), rare AS (
  -- hot-shingle cap mirrored from operators/dedup.py:jaccard_pairs
  SELECT sh AS rsh FROM sh GROUP BY rsh HAVING count(*) <= {DF_CAP}
), idx AS (
  SELECT doc_id, sh FROM sh JOIN rare ON sh = rsh
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM idx a JOIN idx b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, common,
       (CAST(common AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - common AS DOUBLE)) AS jaccard
FROM pairs
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE (CAST(common AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - common AS DOUBLE)) >= {JACCARD_TAU}
ORDER BY doc_a, doc_b
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        _docs(spark, sf_dir)
        .withColumn("norm", norm_text("text"))
        .withColumn("toks", tokens("norm"))
        .withColumn("shingles", word_shingles("toks", 3))
    )
    shingled = exploded_shingles(docs)
    return jaccard_pairs(shingled, JACCARD_TAU)


# ---------------------------------------------------------------------------
# MinHash + banded LSH candidate pairs (char 5-gram shingles)
# ---------------------------------------------------------------------------
def _mh_pairs_ctes(max_bucket_size: int | None = None) -> str:
    """CTE chain `base, sh, sig, bands, pairs` reproducing the banded
    MinHash-LSH candidate pairs — shared by the pairs oracle and the
    connected-groups recursive oracle. With `max_bucket_size`, mirrors
    the operator's band-bucket cap: (band, key) buckets holding more
    docs than the cap are excluded from pair generation."""
    from ..operators.dedup import _mh_expr

    mh = ", ".join(f"{_mh_expr(k)} AS mh_{k}" for k in range(N_HASHES))
    n_bands = N_HASHES // BAND_ROWS
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || ".join(f"mh_{b * BAND_ROWS + r}" for r in range(BAND_ROWS))
        + ") AS key FROM sig"
        for b in range(n_bands)
    )
    if max_bucket_size is None:
        pair_src = "bands"
        cap_ctes = ""
    else:
        pair_src = "kept"
        cap_ctes = f"""), cold AS (
  -- band-bucket cap mirrored from _lsh_pairs
  SELECT band, key FROM bands GROUP BY band, key
  HAVING count(*) <= {max_bucket_size}
), kept AS (
  SELECT b.doc_id, b.band, b.key
  FROM bands b JOIN cold c ON b.band = c.band AND b.key = c.key
"""
    return f"""base AS (
  SELECT doc_id, {_NORM_SQL} AS norm FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest({sql_char_shingles("norm", 5)}) AS sh FROM base
), sig AS (
  SELECT doc_id, {mh} FROM sh GROUP BY doc_id
), bands AS (
  {band_selects}
{cap_ctes}), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM {pair_src} a JOIN {pair_src} b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)"""


# Band buckets above this size are excluded from pair generation
# (r10): at sf1 the 74 buckets over 64 docs carried 79% of all 1.27M
# candidate pairs (SCALING.md) — the quadratic term on a corpus with
# saturating shingle space. C(64,2)=2016 bounds per-bucket fan-out. At
# sf0.01 (the oracle gate) and sf0.001 no bucket reaches the cap, so
# small-SF results are unchanged; the oracle mirrors the cap exactly so
# parity holds at every SF regardless. Skipped mass is NOT silent:
# dedup_lsh_bucket_census reports it (pinned in tests/test_operators.py and
# recorded per-SF in SCALING.md).
LSH_BUCKET_CAP = 64


def _lsh_pairs(sig: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) sharing a banded-LSH bucket of at most
    LSH_BUCKET_CAP docs — the capped candidate set every MinHash query
    consumes."""
    return group_pairs(
        band_keys(sig, N_HASHES, BAND_ROWS),
        ["band", "key"],
        "doc_id",
        ("doc_a", "doc_b"),
        LSH_BUCKET_CAP,
    ).distinct()


def _mh_sql() -> str:
    return f"""
WITH {_mh_pairs_ctes(max_bucket_size=LSH_BUCKET_CAP)}
SELECT doc_a, doc_b FROM pairs
ORDER BY doc_a, doc_b
"""


@query("dedup_minhash_lsh", oracle=_mh_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidate pairs with the band-bucket cap.

    RECALL TRADEOFF of the cap (r11, per the operator contract): a
    bucket above LSH_BUCKET_CAP contributes NO pairs, so a true
    near-dup pair whose only colliding band landed in a hot bucket is
    LOST, not just deferred — the cap trades bounded fan-out
    (≤ C(cap, 2) per bucket) for recall on corpora whose duplicate
    clusters exceed the cap. Production runs surface the skipped mass
    with the registered dedup_lsh_bucket_census query (same SF, same
    signatures); its capped=1 rows bound the loss. The oracle mirrors
    the cap exactly, so parity holds at every SF."""
    docs = _char_docs(spark, sf_dir)
    # explode + partial-agg min: measured ~3x faster than a per-row
    # array_min(transform(...)) signature, whose lambdas skip codegen
    return _lsh_pairs(minhash_signature(exploded_shingles(docs), N_HASHES))


# ---------------------------------------------------------------------------
# Band-bucket census (r11, the cap's companion report — ADVICE): one
# row per distinct (band, key) bucket size with the candidate-pair mass
# it would generate and whether LSH_BUCKET_CAP excludes it from pair
# generation. Registered as a first-class query so production runs
# REPORT the dropped mass instead of pinning it only in pytest.
# ---------------------------------------------------------------------------
@query(
    "dedup_lsh_bucket_census",
    oracle=f"""
WITH {_mh_pairs_ctes()},
sizes AS (
  SELECT band, key, CAST(count(*) AS BIGINT) AS bucket_size
  FROM bands GROUP BY band, key
),
census AS (
  SELECT bucket_size, CAST(count(*) AS BIGINT) AS n_buckets
  FROM sizes GROUP BY bucket_size
)
SELECT bucket_size, n_buckets,
       CAST(bucket_size * (bucket_size - 1) / 2 * n_buckets AS BIGINT)
         AS candidate_pairs,
       CAST(bucket_size > {LSH_BUCKET_CAP} AS INT) AS capped
FROM census
ORDER BY bucket_size
""",
)
def dedup_lsh_bucket_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-size census for the banded MinHash-LSH index: for each
    distinct bucket size, how many (band, key) buckets have it, the
    per-band candidate pairs they generate (n_buckets · C(size, 2)),
    and whether dedup_minhash_lsh's LSH_BUCKET_CAP excludes them
    (capped=1). Sum of candidate_pairs where capped=1 is an UPPER
    BOUND on the distinct pairs the cap drops (exact per band,
    pre-dedup — a pair skipped in a hot bucket can still survive via a
    cold bucket in another band). O(distinct sizes) output rows; the
    bands shuffle is the same exchange the pair emit uses."""
    docs = _char_docs(spark, sf_dir)
    sig = minhash_signature(exploded_shingles(docs), N_HASHES)
    return lsh_census_from_index(
        band_keys(sig, N_HASHES, BAND_ROWS), LSH_BUCKET_CAP
    ).orderBy("bucket_size")


# ---------------------------------------------------------------------------
# Near-dup GROUPS: connected components over minhash candidate pairs.
# The Spark side is iterative min-label propagation; the DuckDB oracle
# computes the same fixpoint with a recursive CTE (min reachable doc_id
# = the component representative), so this iterative operator is fully
# hash-checked, not rows-only. Python union-find cross-check stays in
# tests/test_components.py.
# ---------------------------------------------------------------------------
@query(
    "dedup_connected_groups",
    oracle=f"""
WITH RECURSIVE {_mh_pairs_ctes(max_bucket_size=LSH_BUCKET_CAP)},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach (doc_id, r) AS (
  SELECT doc_id, doc_id FROM base
  UNION
  SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT doc_id, min(r) AS group_rep
FROM reach GROUP BY doc_id ORDER BY doc_id
""",
)
def dedup_connected_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup groups over capped banded-LSH candidate pairs.

    r11: (a) candidate generation carries LSH_BUCKET_CAP (mirrored in
    the recursive oracle) so the quadratic hot-bucket term measured at
    sf1 — 79% of 1.27M pairs from 74 over-cap buckets — is bounded on
    the components path too, with the skipped mass census-reported by
    dedup_lsh_bucket_census (the cap is also a RECALL cap: a true
    near-dup pair whose only colliding band hit a hot bucket is lost);
    (b) components run large-star/small-star (O(log² n) rounds vs
    O(diameter)) — the oracle's min-reachable-id fixpoint is
    formulation-agnostic, so hashes are unchanged."""
    from ..operators.components import connected_components_star

    docs = _char_docs(spark, sf_dir)
    pairs = _lsh_pairs(minhash_signature(exploded_shingles(docs), N_HASHES))
    comp = connected_components_star(docs.select("doc_id"), pairs)
    return comp.select(
        F.col("vertex").alias("doc_id"), F.col("component").alias("group_rep")
    )


# ---------------------------------------------------------------------------
# SimHash signatures + bands (char 5-gram shingles)
# ---------------------------------------------------------------------------
_SIMHASH_SHINGLE_CTE = f"""
  SELECT DISTINCT doc_id, unnest({sql_char_shingles(f"({_NORM_SQL})", 5)}) AS sh
  FROM documents
"""


@query("dedup_simhash", oracle=simhash_oracle_sql(_SIMHASH_SHINGLE_CTE))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _char_docs(spark, sf_dir)
    return simhash_signatures(exploded_shingles(docs))


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (brute force; LSH variant = ann_lsh_cosine)
# ---------------------------------------------------------------------------

# r12 (verdict): structural input-size guard on the brute O(n²) pair
# join — the MARKOV_MAX_K precedent (queries/survey.py) applied to
# corpus size. 25k rows ≈ 3.1·10⁸ pair folds, chosen to ADMIT the sf1
# audit (n=20,000 → 2·10⁸ folds, measured 178.9 s single-node in
# SCALING.md) and REFUSE anything larger: past this point the exact
# all-pairs join is hours-to-impossible and dedup_embedding_lsh is the
# production path. Audit runs on bigger corpora must opt in explicitly
# with max_rows=None (or a larger bound) — there is no silent fallback.
BRUTE_COSINE_MAX_ROWS = 25_000


@query(
    "dedup_embedding_cosine",
    oracle=f"""
WITH pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {R(sql_cosine("a.embedding", "b.embedding"), 6)} AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM pairs
WHERE cosine >= {COS_TAU}
ORDER BY vec_a, vec_b
""",
)
def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, max_rows: int | None = BRUTE_COSINE_MAX_ROWS
) -> DataFrame:
    # Brute-force O(n²) — correct baseline and the oracle target for
    # SMALL inputs only. The scale path is dedup_embedding_lsh below:
    # same verify step, but candidates come from LSH buckets instead of
    # an all-pairs join. r10: the two SELF-dot products are hoisted out
    # of the pair join (n folds instead of 2·C(n,2) — bit-identical);
    # r11: the cross-dot is materialized once per pair too
    # (with_pair_cosine — the rounding wrapper was evaluating it 3×);
    # r12: the guard below makes "small inputs only" ENFORCED, not
    # advisory — nothing structurally stopped this audit baseline from
    # being pointed at a 100 TB corpus. The count probe is a real (if
    # cheap) Spark job — a column-less parquet scan that aggregates the
    # footer row counts per file task; it is NOT a driver-side
    # metadata-only read, and it runs on every invocation (r13,
    # ADVICE). No shuffle: counted BEFORE scatter.
    from ..functions.vectors import dot_fixed, with_pair_cosine

    raw = load_table(spark, sf_dir, "embeddings")
    if max_rows is not None:
        n = raw.count()
        if n > max_rows:
            raise ValueError(
                f"dedup_embedding_cosine: {n} embedding rows exceed the "
                f"brute-force bound ({max_rows}) — the O(n²) pair join "
                f"({n * (n - 1) // 2} cosine folds) is an audit baseline, "
                f"not a scale path. Use dedup_embedding_lsh, or pass "
                f"max_rows explicitly to opt in to a bigger audit."
            )
    emb = scatter(spark, raw).select(
        "vec_id",
        "embedding",
        (dot_fixed("embedding", "embedding") / F.lit(1e9)).alias("self_dot"),
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("self_dot").alias("daa"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("self_dot").alias("dbb"),
    )
    joined = a.join(b, F.col("vec_a") < F.col("vec_b"))
    return (
        with_pair_cosine(
            joined, "emb_a", "emb_b", "cosine",
            daa="daa", dbb="dbb", min_value=COS_TAU,
        )
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# Embedding near-dup at scale (round 3): multi-table LSH candidates →
# exact-cosine verify within candidates only. T independent hyperplane
# tables OR-amplify recall (a pair is a candidate if ANY table buckets
# it together); the plan is T bucket-equi-joins + a distinct — no
# cartesian product anywhere. The oracle reproduces the md5-derived
# buckets in SQL, so this is a fully hash-checked scale path (unlike
# the brute-force baseline above, which stays as the small-input check).
# ---------------------------------------------------------------------------
LSH_TABLES = 3


def _lsh_table_prefix(t: int) -> str:
    return f"tbl{t}"


_SQL_LSH_BUCKETS = ", ".join(
    f"{sql_lsh_bucket('embedding', _lsh_table_prefix(t))} AS b{t}"
    for t in range(LSH_TABLES)
)


_EMB_LSH_CTES = f"""buck AS (
  SELECT vec_id, embedding, {_SQL_LSH_BUCKETS}
  FROM embeddings
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buck a JOIN buck b
    ON a.vec_id < b.vec_id
   AND ({" OR ".join(f"a.b{t} = b.b{t}" for t in range(LSH_TABLES))})
),
verified AS (
  SELECT cand.vec_a, cand.vec_b,
         {R(sql_cosine("ea.embedding", "eb.embedding"), 6)} AS cosine
  FROM cand
  JOIN embeddings ea ON ea.vec_id = cand.vec_a
  JOIN embeddings eb ON eb.vec_id = cand.vec_b
)"""


@query(
    "dedup_embedding_lsh",
    oracle=f"""
WITH {_EMB_LSH_CTES}
SELECT vec_a, vec_b, cosine FROM verified
WHERE cosine >= {COS_TAU}
ORDER BY vec_a, vec_b
""",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup: candidates from T=3 independent
    sign-bucket tables, exact cosine verify on the candidate set only.
    ONE shuffle on the exploded (table, bucket) key (r11 — was one
    join per table) plus two id-equi-joins for the verify — survives
    100× where the brute-force baseline's inequality join cannot.

    CANDIDATE PRECISION, measured honestly (r11): on this corpus the
    true pairs sit at cosine 0.40–0.60 (θ ≈ 53–66°; median 0.419 at
    sf0.1 — marginal-angle pairs, NOT near-identical duplicates), where
    sign-LSH's amplification exponent ρ = ln(1−θ/π)/ln(1/2) ≈ 0.65 is
    weak. The (T, p) frontier measured at sf0.1 (920 true pairs):
    (3,4) = 361k cands / recall 0.434 (shipped); (3,8) = 27k / 0.088;
    (6,10) = 15k / 0.080; holding recall at 0.434 needs T ≈ 21 tables
    of p = 8 for only ≈ 2.2× fewer candidates. A ≥5× candidate cut at
    unchanged recall is NOT reachable for this family on this pair-
    angle distribution — the knobs exist (`n_tables`/`n_planes` on
    _embedding_lsh_pairs) and pay off precisely on corpora whose dups
    are high-cosine (p = 16, T = 4 at cos ≥ 0.95: per-table collision
    0.18, OR-4 recall 0.55, candidates ~n²/2¹⁶·4). Recall floor is
    pinned in tests/test_similarity.py."""
    return _embedding_lsh_pairs(spark, sf_dir)


def _embedding_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    n_tables: int = LSH_TABLES,
    n_planes: int = 4,
) -> DataFrame:
    """(vec_a, vec_b, cosine) near-dup pairs via multi-table LSH +
    exact verify — the shared edge-producer for dedup_embedding_lsh
    and dedup_embedding_groups. `n_tables` OR-amplifies recall,
    `n_planes` AND-amplifies precision (defaults = the registered
    queries' oracle constants; see dedup_embedding_lsh's docstring for
    the measured frontier).

    Plan shape (r11): each vector explodes into `n_tables` (t, bucket)
    keys — the same banded-index architecture as the MinHash path — so
    candidate generation is ONE self-equi-join on (t, bucket) after a
    single exchange that AQE reuses for both sides, instead of
    n_tables separate joins that each re-derived the bucket columns.

    r10 perf (results bit-identical, parity-proven): the cosine's two
    SELF-dot products are computed once per vector and joined onto the
    candidate pairs (2·|candidates| folds → n). r11: the cross-dot is
    materialized once per pair as well — the rounding wrapper was
    expression-copying it 3× (with_pair_cosine)."""
    from ..functions.vectors import dot_fixed, with_pair_cosine

    emb = scatter(spark, load_table(spark, sf_dir, "embeddings"))
    keys = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                lsh_bucket(
                    "embedding", _lsh_table_prefix(t), n_planes=n_planes
                ).alias("bk"),
            )
            for t in range(n_tables)
        ]
    )
    banded = emb.select("vec_id", F.explode(keys).alias("k")).select(
        "vec_id", F.col("k.t").alias("t"), F.col("k.bk").alias("bk")
    )
    a = banded.select(F.col("vec_id").alias("vec_a"), "t", "bk")
    b = banded.select(F.col("vec_id").alias("vec_b"), "t", "bk")
    # r15 (guide §2.4 — remove the exchange outright): the cross-table
    # dedup moves BELOW the verify. The OR-3 duplicate rate is ~2.6%
    # at sf0.1 (370,588 raw vs 361,099 distinct bucket pairs), so
    # deduplicating BEFORE the verify paid a full shuffle + two hash
    # aggregates over every candidate to save 2.6% of the cosine folds;
    # the cosine is deterministic per pair, so a dedup on the output's
    # pair key (~400 survivor rows after the τ filter; never on the
    # float column) collapses the duplicates to the identical pair set. Pair set + output parity-checked
    # exact; both consumers (dedup_embedding_lsh, dedup_embedding_
    # groups) oracle-MATCH at sf0.001/sf0.01.
    cand = (
        a.join(b, ["t", "bk"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
    )
    with_norm = emb.select(
        "vec_id",
        "embedding",
        (dot_fixed("embedding", "embedding") / F.lit(1e9)).alias("self_dot"),
    )
    ea = with_norm.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("self_dot").alias("daa"),
    )
    eb = with_norm.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("self_dot").alias("dbb"),
    )
    joined = cand.join(ea, ["vec_a"]).join(eb, ["vec_b"])
    return (
        with_pair_cosine(
            joined, "emb_a", "emb_b", "cosine",
            daa="daa", dbb="dbb", min_value=COS_TAU,
        )
        .select("vec_a", "vec_b", "cosine")
        .dropDuplicates(["vec_a", "vec_b"])
    )


# ---------------------------------------------------------------------------
# Semantic-dedup END-TO-END (round 5): LSH near-dup pairs → connected
# components → canonical keep/drop per vector. This is the shape a
# curation run actually consumes: one row per vector with its dedup
# group and a keep flag (keep = group representative = min vec_id in
# the component). The recursive-CTE oracle replays the exact pipeline,
# so the full composition is hash-checked.
# ---------------------------------------------------------------------------
@query(
    "dedup_embedding_groups",
    oracle=f"""
WITH RECURSIVE {_EMB_LSH_CTES},
epairs AS (
  SELECT vec_a, vec_b FROM verified WHERE cosine >= {COS_TAU}
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM epairs
  UNION
  SELECT vec_b AS src, vec_a AS dst FROM epairs
),
reach (vec_id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT reach.vec_id, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT vec_id, min(r) AS group_rep,
       CAST(vec_id = min(r) AS INT) AS keep
FROM reach GROUP BY vec_id ORDER BY vec_id
""",
)
def dedup_embedding_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop decision per embedding: near-dup pairs (LSH + exact
    verify) grouped into components; the minimum vec_id in each
    component is kept, the rest dropped. Components run large-star/
    small-star (O(log² n) rounds) so chain-shaped dup clusters don't
    stall the iteration."""
    from ..operators.components import connected_components_star

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    pairs = _embedding_lsh_pairs(spark, sf_dir)
    comp = connected_components_star(
        emb, pairs, vertex_col="vec_id", src_col="vec_a", dst_col="vec_b"
    )
    return comp.select(
        F.col("vertex").alias("vec_id"),
        F.col("component").alias("group_rep"),
        (F.col("vertex") == F.col("component")).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Dedup impact census (round 6): the distribution of near-dup cluster
# sizes — the dashboard a curation run reads to decide "how duplicated
# is this corpus" before committing to a dedup pass. Components from
# the MinHash-LSH pairs (same pipeline as dedup_connected_groups),
# then one tiny aggregate: for each cluster size, how many clusters
# and how many docs, plus how many docs a keep-one-per-cluster pass
# would drop. The census itself is O(distinct sizes) rows; everything
# upstream is the already-bounded banded-LSH + star-components path.
# ---------------------------------------------------------------------------
@query(
    "dedup_cluster_size_census",
    oracle=f"""
WITH RECURSIVE {_mh_pairs_ctes(max_bucket_size=LSH_BUCKET_CAP)},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach (doc_id, r) AS (
  SELECT doc_id, doc_id FROM base
  UNION
  SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
comp AS (
  SELECT doc_id, min(r) AS group_rep FROM reach GROUP BY doc_id
),
sizes AS (
  SELECT group_rep, CAST(count(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY group_rep
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_dropped_if_deduped
FROM sizes
GROUP BY cluster_size
ORDER BY cluster_size
""",
)
def dedup_cluster_size_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: candidate pairs carry LSH_BUCKET_CAP (oracle mirrored) and
    # components run large-star/small-star — see dedup_connected_groups.
    from ..operators.components import connected_components_star

    docs = _char_docs(spark, sf_dir)
    pairs = _lsh_pairs(minhash_signature(exploded_shingles(docs), N_HASHES))
    comp = connected_components_star(docs.select("doc_id"), pairs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("long")
            .alias("n_dropped_if_deduped"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# MinHash calibration: for every LSH candidate pair, the ESTIMATED
# Jaccard (fraction of agreeing signature components — the number the
# sketch is betting on) against the EXACT char-5-gram Jaccard. This is
# the sketch-quality audit a production dedup pipeline runs before
# trusting a τ threshold at corpus scale. The exact side joins the
# small candidate-pair set to per-doc shingle SETS (arrays bounded by
# doc length, per-row intersect/union — the quadratic join happens
# only on the already-bounded candidates, never all pairs). n_match/8
# and common/union are exact-int divisions → identical doubles both
# engines.
# ---------------------------------------------------------------------------


def _calibration_sql() -> str:
    agree = " + ".join(
        f"(CASE WHEN sa.mh_{k} = sb.mh_{k} THEN 1 ELSE 0 END)"
        for k in range(N_HASHES)
    )
    return f"""
WITH {_mh_pairs_ctes(max_bucket_size=LSH_BUCKET_CAP)},
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT p.doc_a, p.doc_b, count(*) AS common
  FROM pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b AND b.sh = a.sh
  GROUP BY p.doc_a, p.doc_b
), agree AS (
  SELECT p.doc_a, p.doc_b, ({agree}) AS n_match
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b
)
SELECT g.doc_a, g.doc_b, CAST(g.n_match AS BIGINT) AS n_match,
       {R(f"CAST(g.n_match AS DOUBLE) / {N_HASHES}", 6)} AS est_jaccard,
       {R("CAST(coalesce(c.common, 0) AS DOUBLE)"
          " / (ca.n + cb.n - coalesce(c.common, 0))", 6)} AS exact_jaccard
FROM agree g
LEFT JOIN common c ON c.doc_a = g.doc_a AND c.doc_b = g.doc_b
JOIN counts ca ON ca.doc_id = g.doc_a
JOIN counts cb ON cb.doc_id = g.doc_b
ORDER BY g.doc_a, g.doc_b
"""


@query("minhash_jaccard_calibration", oracle=_calibration_sql())
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: calibration runs over the SAME capped candidate set the
    # production pair generator emits (oracle mirrored) — auditing
    # pairs the cap excludes would grade a set nothing downstream sees.
    docs = _char_docs(spark, sf_dir)
    sig = minhash_signature(exploded_shingles(docs), N_HASHES)
    pairs = _lsh_pairs(sig)
    n_match = sum(
        F.when(F.col(f"a.mh_{k}") == F.col(f"b.mh_{k}"), 1).otherwise(0)
        for k in range(N_HASHES)
    )
    # One per-doc relation carrying BOTH the signature columns and the
    # shingle set: the pair stream is probed twice (a/b side), not four
    # times (sig a/b + sets a/b as before) — halves the per-pair join
    # builds. `common` is materialized as its OWN projection column
    # before the ratio: exact_jaccard references it twice inside pround
    # (which itself embeds its argument ~4×), so the un-hoisted tree
    # carried the array_intersect up to 8× per pair (the shared-fold
    # shape with_pair_cosine fixed for cosines). Honest measurement
    # (interleaved same-session A/B at sf1, 266,223 pairs): warm
    # min-of-3 is a WASH (4.2 vs 4.1 s — whole-stage codegen's
    # subexpression elimination already deduped the intersect in the
    # old tree); the win is first-run only (15.6 vs 4.6 s, less codegen
    # over 4 fewer join branches) plus plan hygiene for interpreted
    # fallback paths. CollapseProject keeps multi-referenced
    # non-cheap expressions split, so the hoist survives optimization.
    per_doc = sig.join(
        docs.select(
            "doc_id", F.array_distinct("shingles").alias("shs")
        ).withColumn("n", F.size("shs")),
        "doc_id",
    )
    return (
        pairs.join(per_doc.alias("a"), F.col("a.doc_id") == F.col("doc_a"))
        .join(per_doc.alias("b"), F.col("b.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            n_match.cast("long").alias("n_match"),
            F.size(F.array_intersect(F.col("a.shs"), F.col("b.shs"))).alias(
                "common"
            ),
            (F.col("a.n") + F.col("b.n")).alias("n_sum"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_match",
            pround(F.col("n_match").cast("double") / N_HASHES, 6).alias("est_jaccard"),
            pround(
                F.col("common").cast("double")
                / (F.col("n_sum") - F.col("common")),
                6,
            ).alias("exact_jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Dedup impact report (round 6): the number every dedup pipeline must
# publish before anyone trusts it — per SOURCE, how many documents and
# how many TOKENS would near-dup dedup remove? Composition of the
# existing scale path end-to-end: MinHash-LSH candidates → label-prop
# components → keep the component representative (min doc_id), drop
# the rest; token counts from the same normalized text. The recursive
# reachability oracle makes this full-pipeline aggregate hash-checked
# (not rows-only) just like dedup_connected_groups.
# ---------------------------------------------------------------------------
@query(
    "dedup_token_savings_by_source",
    oracle=f"""
WITH RECURSIVE {{CTES}},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach (doc_id, r) AS (
  SELECT doc_id, doc_id FROM base
  UNION
  SELECT reach.doc_id, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
rep AS (
  SELECT doc_id, min(r) AS group_rep FROM reach GROUP BY doc_id
),
tok AS (
  SELECT b.doc_id, d.source,
         CAST(len(string_split(b.norm, ' ')) AS BIGINT) AS n_tok
  FROM base b JOIN documents d ON b.doc_id = d.doc_id
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN r.group_rep <> r.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(sum(t.n_tok) AS BIGINT) AS tokens_total,
       CAST(sum(CASE WHEN r.group_rep <> r.doc_id THEN t.n_tok ELSE 0 END) AS BIGINT)
         AS tokens_dropped,
       {{PCT}} AS savings_pct
FROM tok t JOIN rep r ON t.doc_id = r.doc_id
GROUP BY t.source
ORDER BY t.source
""".replace("{CTES}", _mh_pairs_ctes(max_bucket_size=LSH_BUCKET_CAP)).replace(
        "{PCT}",
        R(
            "CAST(sum(CASE WHEN r.group_rep <> r.doc_id THEN t.n_tok ELSE 0 END)"
            " AS DOUBLE) / CAST(sum(t.n_tok) AS DOUBLE)",
            6,
        ),
    ),
)
def dedup_token_savings_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11: candidate pairs carry LSH_BUCKET_CAP (oracle mirrored) and
    # components run large-star/small-star — see dedup_connected_groups.
    from ..operators.components import connected_components_star

    docs = _char_docs(spark, sf_dir)
    pairs = _lsh_pairs(minhash_signature(exploded_shingles(docs), N_HASHES))
    comp = connected_components_star(docs.select("doc_id"), pairs)
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(norm_text("text"), " ")).cast("long").alias("n_tok"),
    )
    dropped = F.when(F.col("component") != F.col("vertex"), 1).otherwise(0)
    return (
        tok.join(
            comp.select(F.col("vertex"), F.col("component")),
            tok.doc_id == F.col("vertex"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(dropped).cast("long").alias("n_dropped"),
            F.sum("n_tok").cast("long").alias("tokens_total"),
            F.sum(F.when(F.col("component") != F.col("vertex"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_dropped"),
            pround(
                F.sum(
                    F.when(F.col("component") != F.col("vertex"), F.col("n_tok")).otherwise(0)
                ).cast("double")
                / F.sum("n_tok").cast("double"),
                6,
            ).alias("savings_pct"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# INCREMENTAL delta-vs-index dedup — the production shape at corpus
# scale: the existing corpus's banded MinHash keys are a persisted
# INDEX (operators.dedup.band_keys); each arriving delta batch (here
# the deterministic doc_id % 10 == 7 slice, ≈10%) band-joins against
# that index plus itself, and THE CORPUS NEVER SELF-JOINS. Candidates
# are then exact-verified with char-5-gram shingle Jaccard, and each
# duplicate delta doc reports its best corpus match (max Jaccard, ties
# to the smallest doc_id via the max(struct) trick). Every score is an
# exact integer ratio rounded once.
# ---------------------------------------------------------------------------
def _inc_sql() -> str:
    from ..operators.dedup import _mh_expr

    mh = ", ".join(f"{_mh_expr(k)} AS mh_{k}" for k in range(N_HASHES))
    n_bands = N_HASHES // BAND_ROWS
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || ".join(f"mh_{b * BAND_ROWS + r}" for r in range(BAND_ROWS))
        + ") AS key FROM sig"
        for b in range(n_bands)
    )
    return f"""
WITH base AS (
  SELECT doc_id, {_NORM_SQL} AS norm FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest({sql_char_shingles("norm", 5)}) AS sh FROM base
), counts AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id
), sig AS (
  SELECT doc_id, {mh} FROM sh GROUP BY doc_id
), bands AS (
  {band_selects}
), idxb AS (
  SELECT * FROM bands WHERE doc_id % 10 <> 7
), delb AS (
  SELECT * FROM bands WHERE doc_id % 10 = 7
), cand AS (
  SELECT DISTINCT i.doc_id AS doc_idx, d.doc_id AS doc_delta
  FROM idxb i JOIN delb d ON i.band = d.band AND i.key = d.key
  UNION
  SELECT DISTINCT a.doc_id AS doc_idx, b.doc_id AS doc_delta
  FROM delb a JOIN delb b ON a.band = b.band AND a.key = b.key
   AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.doc_idx, c.doc_delta, CAST(count(*) AS BIGINT) AS common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_idx
  JOIN sh sb ON sb.doc_id = c.doc_delta AND sb.sh = sa.sh
  GROUP BY c.doc_idx, c.doc_delta
), scored AS (
  SELECT i.doc_idx, i.doc_delta, i.common,
         (i.common * 1000000) // (ca.n_sh + cb.n_sh - i.common) AS j_micro
  FROM inter i
  JOIN counts ca ON ca.doc_id = i.doc_idx
  JOIN counts cb ON cb.doc_id = i.doc_delta
), best AS (
  SELECT doc_delta,
         CAST(-struct_extract(max(struct_pack(j := j_micro, nd := -doc_idx)), 'nd')
              AS BIGINT) AS matched_doc,
         CAST(max(j_micro) AS BIGINT) AS j_micro
  FROM scored WHERE j_micro >= {int(JACCARD_TAU * 1000000)}
  GROUP BY doc_delta
)
SELECT doc_delta, matched_doc,
       {R("CAST(j_micro AS DOUBLE) / 1000000.0", 6)} AS best_jaccard
FROM best
ORDER BY doc_delta
"""


@query("dedup_incremental_delta", oracle=_inc_sql())
def dedup_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _char_docs(spark, sf_dir)
    sh = exploded_shingles(docs)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    bands = band_keys(minhash_signature(sh, N_HASHES), N_HASHES, BAND_ROWS)
    is_delta = F.col("doc_id") % 10 == 7
    idxb = bands.filter(~is_delta)
    delb = bands.filter(is_delta)
    i = idxb.alias("i")
    d = delb.alias("d")
    cand_cross = (
        i.join(d, (F.col("i.band") == F.col("d.band")) & (F.col("i.key") == F.col("d.key")))
        .select(F.col("i.doc_id").alias("doc_idx"), F.col("d.doc_id").alias("doc_delta"))
    )
    a = delb.alias("a")
    b = delb.alias("b")
    cand_delta = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_idx"), F.col("b.doc_id").alias("doc_delta"))
    )
    cand = cand_cross.unionByName(cand_delta).distinct()
    sa = sh.select(F.col("doc_id").alias("doc_idx"), F.col("sh").alias("s1"))
    sb = sh.select(F.col("doc_id").alias("d2"), F.col("sh").alias("s2"))
    inter = (
        cand.join(sa, "doc_idx")
        .join(sb, (F.col("doc_delta") == F.col("d2")) & (F.col("s1") == F.col("s2")))
        .groupBy("doc_idx", "doc_delta")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_idx"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_delta"), F.col("n_sh").alias("n_b"))
    scored = (
        inter.join(ca, "doc_idx")
        .join(cb, "doc_delta")
        .select(
            "doc_idx",
            "doc_delta",
            F.expr("(common * 1000000) div (n_a + n_b - common)").alias("j_micro"),
        )
    )
    best = (
        scored.filter(F.col("j_micro") >= int(JACCARD_TAU * 1000000))
        .groupBy("doc_delta")
        .agg(
            (-F.max(F.struct(F.col("j_micro").alias("j"), (-F.col("doc_idx")).alias("nd")))[
                "nd"
            ])
            .cast("long")
            .alias("matched_doc"),
            F.max("j_micro").cast("long").alias("j_micro"),
        )
    )
    return best.select(
        "doc_delta",
        "matched_doc",
        pround(F.col("j_micro").cast("double") / F.lit(1000000.0), 6).alias(
            "best_jaccard"
        ),
    ).orderBy("doc_delta")
