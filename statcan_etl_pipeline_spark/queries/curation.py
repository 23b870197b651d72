"""Corpus-curation operators for an LLM training-data pipeline: unigram
rarity scoring (the rational perplexity proxy) and perplexity buckets,
deterministic global training shuffle, temperature sampling across
sources, per-source length winsorisation, a PII scan over every
text-bearing column, cross-document repeated-chunk dedup (the
chunk-granular "exact substring dedup"), exact shingle containment
(subset-duplication detection), the shingle document-frequency
spectrum (the empirical basis for the hot-shingle cap), DSIR-style
importance weights, reciprocal-rank-fusion quality ranking, BPE merges,
feature-hash embeddings, RAKE keywords, PMI collocations, Simpson token
diversity, charset / stopword QA, a vocabulary coverage curve, and the
corpus dataset card (the single-row summary a dataset release ships
with — one pass over the documents table plus one vocabulary
aggregate, crossJoined as broadcast singletons).

House rules: JVM-side expressions only, rational arithmetic (no ln/exp
— libm vs JVM transcendentals differ by 1 ulp; sqrt IS exact per
IEEE-754 and allowed), exact int64 fixed-point sums before any
division, and a mirrored DuckDB oracle per query.

Cross-engine exactness: every score that feeds a hash comparison is
either an exact integer (micro-quantized per ROW before any sum, so
accumulation order cannot matter) or a fixed sequence of IEEE double
ops on identical inputs. The one math-library call (`ln` in the DSIR
log-ratio) is quantized to 1e-6 per BUCKET (256 values, each a single
ln of a generic ratio — no systematic alignment with the quantization
grid, unlike floor(log2(2^k)) which sits exactly ON the discontinuity;
a 1-ulp library divergence at 1e-16 relative cannot move a 1e-6
rounding except on a knife-edge that the bucket-count construction
never produces).

Scale notes (100 TB): chunking is a linear explode (no pairwise work);
chunk frequencies are a two-stage exact-distinct aggregate on the
16-byte fingerprint; the join back to occurrences is an equi-join on
the same key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import cents, pround, sql_cents, sql_round as R
from ..functions.text import (
    STOPWORDS,
    norm_text,
    sql_char_shingles,
    sql_norm_text,
    sql_tokens,
    tokens,
)
from ..registry import query
from .text import _DOC_BASE_SQL, _doc_base

# ---------------------------------------------------------------------------
# Unigram rarity — the rational stand-in for a unigram-LM perplexity
# score (CCNet-style quality signal). For each document: the exact sum
# of corpus frequencies of its tokens, the mean token frequency, and
# the share of "rare" tokens (corpus count * 1000 < corpus token total
# — an integer cross-multiplication, no float threshold). The vocab
# table is tiny (it is an aggregate over tokens) and broadcast into
# the per-token join; the only wide shuffles are the two token
# aggregations, both with map-side partial aggregation.
# ---------------------------------------------------------------------------


@query(
    "doc_unigram_rarity",
    oracle=f"""
WITH base AS ({_DOC_BASE_SQL}),
toks AS (
  SELECT doc_id, unnest(toks) AS word FROM base
), vocab AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY word
), tot AS (
  SELECT CAST(sum(freq) AS BIGINT) AS t FROM vocab
), flagged AS (
  SELECT t.doc_id, v.freq,
         CASE WHEN v.freq * 1000 < tot.t THEN 1 ELSE 0 END AS is_rare
  FROM toks t JOIN vocab v ON t.word = v.word CROSS JOIN tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_toks,
       CAST(sum(freq) AS BIGINT) AS sum_freq,
       {R("(CAST(sum(freq) AS DOUBLE) / CAST(count(*) AS DOUBLE))", 4)}
         AS mean_tok_freq,
       {R("(CAST(sum(is_rare) AS DOUBLE) / CAST(count(*) AS DOUBLE))", 6)}
         AS rare_ratio
FROM flagged
GROUP BY doc_id
""",
)
def doc_unigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _doc_base(spark, sf_dir)
    toks = base.select("doc_id", F.explode("toks").alias("word"))
    vocab = toks.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    # corpus token total: singleton aggregate, broadcast cross join
    tot = vocab.agg(F.sum("freq").cast("long").alias("t"))
    flagged = (
        toks.join(F.broadcast(vocab), "word")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "freq",
            F.when(F.col("freq") * 1000 < F.col("t"), 1).otherwise(0).alias("is_rare"),
        )
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.sum("freq").cast("long").alias("sum_freq"),
            pround(
                F.sum("freq").cast("double") / F.count(F.lit(1)).cast("double"), 4
            ).alias("mean_tok_freq"),
            pround(
                F.sum("is_rare").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("rare_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic global training shuffle. Every epoch-shuffle in an LLM
# data pipeline needs a reproducible total order that does NOT sort the
# corpus through one task. Two-pass distributed prefix sum (same
# pattern as doc_greedy_packing_sharded / abc_part_classification):
# md5(doc_id) is the shuffle key; its first hex pair is one of 256
# ordered buckets; rank within bucket via a bucket-partitioned window;
# bucket offsets from an exclusive prefix sum over the 256-row count
# aggregate. shuffle_pos is the exact global rank the full sort would
# give — without a global sort.
# ---------------------------------------------------------------------------


@query(
    "doc_global_shuffle",
    oracle="""
WITH keyed AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS skey,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
  FROM documents
), counts AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM keyed GROUP BY bucket
), offsets AS (
  SELECT bucket,
         CAST(coalesce(sum(n) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS off
  FROM counts
)
SELECT k.doc_id, k.bucket,
       CAST(o.off + row_number() OVER (PARTITION BY k.bucket
         ORDER BY k.skey, k.doc_id) AS BIGINT) AS shuffle_pos
FROM keyed k JOIN offsets o ON k.bucket = o.bucket
ORDER BY shuffle_pos
""",
)
def doc_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("skey"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2).alias("bucket"),
    )
    counts = keyed.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # exclusive prefix sum over <=256 rows — bounded single-partition window
    woff = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket", F.coalesce(F.sum("n").over(woff), F.lit(0)).cast("long").alias("off")
    )
    wrank = W.partitionBy("bucket").orderBy("skey", "doc_id")
    return (
        keyed.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "bucket",
            (F.col("off") + F.row_number().over(wrank)).cast("long").alias(
                "shuffle_pos"
            ),
        )
        .orderBy("shuffle_pos")
    )


# ---------------------------------------------------------------------------
# Per-source length winsorisation report: exact p05/p95 of n_chars per
# source, then a kept / too-short / too-long census against those
# fences — the outlier-trim step of a curation funnel. The percentile
# aggregate shuffles once on source; the classification join broadcasts
# the per-source fences back onto the scan.
# ---------------------------------------------------------------------------


@query(
    "corpus_length_trim",
    oracle=f"""
WITH fences AS (
  SELECT source,
         {R("quantile_cont(n_chars, 0.05)", 4)} AS p05,
         {R("quantile_cont(n_chars, 0.95)", 4)} AS p95
  FROM documents GROUP BY source
)
SELECT d.source,
       any_value(f.p05) AS p05,
       any_value(f.p95) AS p95,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN d.n_chars < f.p05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_too_short,
       CAST(sum(CASE WHEN d.n_chars > f.p95 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_too_long,
       CAST(sum(CASE WHEN d.n_chars >= f.p05 AND d.n_chars <= f.p95
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents d JOIN fences f ON d.source = f.source
GROUP BY d.source
ORDER BY d.source
""",
)
def corpus_length_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    fences = docs.groupBy("source").agg(
        pround(F.expr("percentile(n_chars, 0.05)"), 4).alias("p05"),
        pround(F.expr("percentile(n_chars, 0.95)"), 4).alias("p95"),
    )
    return (
        docs.join(F.broadcast(fences), "source")
        .groupBy("source")
        .agg(
            F.any_value("p05").alias("p05"),
            F.any_value("p95").alias("p95"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n_chars") < F.col("p05"), 1).otherwise(0))
            .cast("long")
            .alias("n_too_short"),
            F.sum(F.when(F.col("n_chars") > F.col("p95"), 1).otherwise(0))
            .cast("long")
            .alias("n_too_long"),
            F.sum(
                F.when(
                    (F.col("n_chars") >= F.col("p05"))
                    & (F.col("n_chars") <= F.col("p95")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# PII scan across every text-bearing column (documents.text,
# customer.c_name, events.props). Patterns are kept to the regex
# subset Java's engine and DuckDB's RE2 agree on (no lookaround, no
# backrefs). The redaction counterpart lives in functions/pii.py and
# is unit-tested on synthetic PII; this query is the fleet-wide scan
# report a pipeline runs before export.
# ---------------------------------------------------------------------------

from ..functions.pii import PII_PATTERNS  # noqa: E402


def _pii_scan_sql(table: str, col: str) -> str:
    kinds = ",\n".join(
        f"      ('{kind}', len(regexp_extract_all({col}, '{pat}'))) "
        for kind, pat in PII_PATTERNS.items()
    )
    return f"""
  SELECT '{table}' AS tbl, k.kind AS kind,
         CAST(sum(CASE WHEN k.n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rows_hit,
         CAST(sum(k.n) AS BIGINT) AS n_matches
  FROM {table}, LATERAL (VALUES
{kinds}
  ) AS k(kind, n)
  GROUP BY k.kind
"""


@query(
    "pii_scan_tables",
    oracle=(
        _pii_scan_sql("documents", "text")
        + "UNION ALL"
        + _pii_scan_sql("customer", "c_name")
        + "UNION ALL"
        + _pii_scan_sql("events", "props")
        + "ORDER BY tbl, kind"
    ),
)
def pii_scan_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    def scan(table: str, col: str) -> DataFrame:
        df = load_table(spark, sf_dir, table).select(F.col(col).alias("s"))
        per_kind = [
            df.select(
                F.lit(table).alias("tbl"),
                F.lit(kind).alias("kind"),
                F.size(F.regexp_extract_all("s", F.lit(pat), 0)).alias("n"),
            )
            for kind, pat in PII_PATTERNS.items()
        ]
        out = per_kind[0]
        for p in per_kind[1:]:
            out = out.unionAll(p)
        return out

    scans = scan("documents", "text").unionAll(scan("customer", "c_name")).unionAll(
        scan("events", "props")
    )
    return (
        scans.groupBy("tbl", "kind")
        .agg(
            F.sum(F.when(F.col("n") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_rows_hit"),
            F.sum("n").cast("long").alias("n_matches"),
        )
        .orderBy("tbl", "kind")
    )


# ---------------------------------------------------------------------------
# Crawl novelty (round 6): per document, the fraction of its word
# 3-gram shingles that no EARLIER document (doc_id order = ingest
# order) contains — the incremental-crawl signal for "is this batch
# adding new content or re-crawling what we have". A shingle's first
# owner is min(doc_id): one map-combinable aggregate over the
# inverted index, then an equi-join back — no per-pair work at all,
# so the operator is linear in corpus shingle volume and immune to
# hot shingles (contrast jaccard_pairs' capped self-join).
# ---------------------------------------------------------------------------

from ..functions.text import sql_word_shingles, word_shingles  # noqa: E402


@query(
    "doc_novelty_by_order",
    oracle=f"""
WITH base AS ({_DOC_BASE_SQL}),
sh AS (
  SELECT DISTINCT doc_id, unnest({sql_word_shingles("toks", 3)}) AS sh FROM base
), first AS (
  SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       {R("(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)"
          " / CAST(count(*) AS DOUBLE))", 6)} AS novelty_ratio
FROM sh s JOIN first f ON s.sh = f.sh
GROUP BY s.doc_id
ORDER BY s.doc_id
""",
)
def doc_novelty_by_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _doc_base(spark, sf_dir).withColumn("shingles", word_shingles("toks", 3))
    sh = base.select(
        "doc_id", F.explode(F.array_distinct("shingles")).alias("sh")
    )
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty_ratio",
            pround(
                F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"),
                6,
            ),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source overlap (round 6): EXACT shingle-set Jaccard between
# every pair of sources — "how much of source B is already in source
# A" for dataset-mixing decisions. The per-shingle source list is the
# inverted index again; pair fan-out per shingle is bounded by the
# SOURCE count (not doc count), so the self-join is C(n_sources, 2)
# per shingle at worst — safe at any corpus size for catalog-scale
# source counts. Output is O(n_sources²) rows.
# ---------------------------------------------------------------------------


@query(
    "corpus_cross_source_overlap",
    oracle=f"""
WITH base AS ({_DOC_BASE_SQL}),
sh AS (
  SELECT DISTINCT source, unnest({sql_word_shingles("toks", 3)}) AS sh FROM base
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
  GROUP BY src_a, src_b
)
SELECT src_a, src_b, common, sa.n AS n_a, sb.n AS n_b,
       {R("(CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE))", 6)}
         AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY src_a, src_b
""",
)
def corpus_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _doc_base(spark, sf_dir).withColumn("shingles", word_shingles("toks", 3))
    sh = base.select(
        "source", F.explode(F.array_distinct("shingles")).alias("sh")
    ).distinct()
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "common",
            "n_a",
            "n_b",
            pround(
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Exact stratified sampling (round 6): EXACTLY ceil(10%) of every
# (lang, source) stratum, selected deterministically by md5(doc_id)
# rank — the eval-split builder where binomial drift is unacceptable
# (contrast doc_train_val_split / corpus_mixture_resample, whose
# hash-threshold selection is O(1) per row but only approximately
# sized). Exact-k NEEDS a per-stratum rank: the window partitions by
# stratum, so this is for bounded-size eval strata; for corpus-scale
# strata use the threshold samplers (documented trade). Selection
# test `10*rk <= n+9` is the integer form of rk <= ceil(n/10) — no
# float thresholds anywhere.
# ---------------------------------------------------------------------------


@query(
    "stratified_sample_exact",
    oracle="""
WITH ranked AS (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
         count(*) OVER (PARTITION BY lang, source) AS n_stratum
  FROM documents
)
SELECT doc_id, lang, source,
       CAST(n_stratum AS BIGINT) AS n_stratum,
       CAST(CASE WHEN 10 * rk <= n_stratum + 9 THEN 1 ELSE 0 END AS INT)
         AS is_sampled
FROM ranked
ORDER BY doc_id
""",
)
def stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    w = W.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    wc = W.partitionBy("lang", "source")
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .withColumn("n_stratum", F.count(F.lit(1)).over(wc).cast("long"))
        .select(
            "doc_id",
            "lang",
            "source",
            "n_stratum",
            (F.lit(10) * F.col("rk") <= F.col("n_stratum") + 9)
            .cast("int")
            .alias("is_sampled"),
        )
    )


# ---------------------------------------------------------------------------
# Simpson diversity of each document's token distribution:
# 1 − Σ cᵢ² / n² — the rational stand-in for token entropy (no
# transcendentals, so it cross-checks bit-exactly). High values ≈
# diverse vocabulary; boilerplate and keyword-stuffed spam score low.
# Two map-combinable aggregations over the exploded token stream.
# ---------------------------------------------------------------------------


@query(
    "doc_simpson_diversity",
    oracle=f"""
WITH base AS ({_DOC_BASE_SQL}),
toks AS (
  SELECT doc_id, unnest(toks) AS word FROM base
), wc AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY doc_id, word
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_toks,
       CAST(count(*) AS BIGINT) AS n_distinct,
       {R("(1.0 - CAST(sum(c * c) AS DOUBLE) / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)))", 6)}
         AS simpson
FROM wc
GROUP BY doc_id
ORDER BY doc_id
""",
)
def doc_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _doc_base(spark, sf_dir)
    wc = (
        base.select("doc_id", F.explode("toks").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n = F.sum("c").cast("long")
    return (
        wc.groupBy("doc_id")
        .agg(
            n.alias("n_toks"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            pround(
                F.lit(1.0)
                - F.sum(F.col("c") * F.col("c")).cast("double")
                / (n.cast("double") * n.cast("double")),
                6,
            ).alias("simpson"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# PMI collocations: the top word bigrams by pointwise-mutual-
# information LIFT = P(xy) / (P(x)·P(y)) = c_xy·T² / (B·c_x·c_y) —
# linear lift instead of log-PMI so the score is a ratio of exact
# integer products (the same no-transcendental trick as tfidf's linear
# idf). The min-support filter (c_xy ≥ 10) runs BEFORE the unigram
# joins, so at corpus scale the join left side is the small filtered
# bigram vocabulary, never the token stream; totals attach via a
# broadcast 1-row aggregate. Both engines evaluate the identical
# double expression left-to-right → bit-identical scores.
# At 100-TB corpus scale c_xy·T² can exceed int64 — both sides compute
# in DOUBLE after exact integer counts, which is the standard PMI
# contract (counts exact, score a ratio).
# ---------------------------------------------------------------------------


@query(
    "ngram_pmi_collocations",
    oracle=f"""
WITH base AS (
  SELECT string_split({sql_norm_text('text')}, ' ') AS toks FROM documents
), uni AS (
  SELECT unnest(toks) AS w FROM base
), uc AS (
  SELECT w, count(*) AS cx FROM uni GROUP BY w
), tot AS (
  SELECT sum(cx) AS t FROM uc
), bi AS (
  SELECT unnest(list_zip(toks[1:len(toks) - 1], toks[2:len(toks)])) AS z
  FROM base WHERE len(toks) >= 2
), bc AS (
  SELECT z[1] AS w1, z[2] AS w2, count(*) AS cxy
  FROM bi GROUP BY 1, 2
), btot AS (
  SELECT sum(cxy) AS b FROM bc
), filtered AS (
  SELECT w1, w2, cxy FROM bc WHERE cxy >= 10
), scored AS (
  SELECT f.w1 || ' ' || f.w2 AS bigram, f.cxy AS n_xy,
         {R("CAST(f.cxy AS DOUBLE) * t * t / (CAST(b AS DOUBLE) * u1.cx * u2.cx)", 4)} AS lift
  FROM filtered f
  JOIN uc u1 ON u1.w = f.w1
  JOIN uc u2 ON u2.w = f.w2
  CROSS JOIN tot CROSS JOIN btot
)
SELECT bigram, CAST(n_xy AS BIGINT) AS n_xy, lift
FROM scored
ORDER BY lift DESC, bigram
LIMIT 25
""",
)
def ngram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(norm_text("text").alias("norm")).select(
        tokens("norm").alias("toks")
    )
    uc = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cx"))
    )
    tot = uc.agg(F.sum("cx").alias("t"))
    bi = base.filter(F.size("toks") >= 2).select(
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.size("toks") - 1),
                F.slice(F.col("toks"), 2, F.size("toks") - 1),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("z")
    )
    bc = bi.groupBy(F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2")).agg(
        F.count(F.lit(1)).alias("cxy")
    )
    btot = bc.agg(F.sum("cxy").alias("b"))
    filtered = bc.filter(F.col("cxy") >= 10)
    scored = (
        filtered.join(uc.withColumnRenamed("w", "w1").withColumnRenamed("cx", "cx1"), "w1")
        .join(uc.withColumnRenamed("w", "w2").withColumnRenamed("cx", "cx2"), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("cxy").cast("long").alias("n_xy"),
            pround(
                F.col("cxy").cast("double")
                * F.col("t")
                * F.col("t")
                / (F.col("b").cast("double") * F.col("cx1") * F.col("cx2")),
                4,
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("lift"), "bigram").limit(25)


@query(
    "corpus_dataset_card",
    oracle=f"""
WITH base AS (
  SELECT doc_id, lang, source, n_chars,
         string_split({sql_norm_text("text")}, ' ') AS toks
  FROM documents
), doc_stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
         CAST(min(len(toks)) AS BIGINT) AS min_tokens,
         CAST(max(len(toks)) AS BIGINT) AS max_tokens
  FROM base
), vocab AS (
  SELECT CAST(count(DISTINCT w) AS BIGINT) AS vocab_size
  FROM (SELECT unnest(toks) AS w FROM base)
)
SELECT d.n_docs, d.n_langs, d.n_sources, d.total_chars, d.total_tokens,
       d.min_tokens, d.max_tokens, v.vocab_size,
       {R("CAST(d.total_tokens AS DOUBLE) / CAST(d.n_docs AS DOUBLE)", 4)}
         AS mean_tokens_per_doc,
       {R("CAST(v.vocab_size AS DOUBLE) / CAST(d.total_tokens AS DOUBLE)", 6)}
         AS type_token_ratio
FROM doc_stats d, vocab v
""",
)
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.split(norm_text("text"), " ").alias("toks"),
    )
    doc_stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.size("toks")).cast("long").alias("total_tokens"),
        F.min(F.size("toks")).cast("long").alias("min_tokens"),
        F.max(F.size("toks")).cast("long").alias("max_tokens"),
    )
    vocab = (
        base.select(F.explode("toks").alias("w"))
        .agg(F.countDistinct("w").cast("long").alias("vocab_size"))
    )
    return doc_stats.crossJoin(F.broadcast(vocab)).select(
        "n_docs",
        "n_langs",
        "n_sources",
        "total_chars",
        "total_tokens",
        "min_tokens",
        "max_tokens",
        "vocab_size",
        pround(
            F.col("total_tokens").cast("double") / F.col("n_docs").cast("double"), 4
        ).alias("mean_tokens_per_doc"),
        pround(
            F.col("vocab_size").cast("double") / F.col("total_tokens").cast("double"),
            6,
        ).alias("type_token_ratio"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve: what fraction of all token OCCURRENCES do
# the top-10/100/1000 vocabulary words cover? The top-k set comes from
# an ordered LIMIT (TakeOrdered with a lexical tie-break — never a
# global rank window over the unbounded vocabulary), the cumulative
# rank window runs over the bounded 1000-row top set, and totals are a
# broadcast singleton. Exact integer counts, one division per row.
# ---------------------------------------------------------------------------


@query(
    "vocab_coverage_curve",
    oracle=f"""
WITH words AS (
  SELECT unnest(string_split({sql_norm_text("text")}, ' ')) AS w FROM documents
), vocab AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY w
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS t FROM vocab
), top AS (
  SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rk
  FROM vocab ORDER BY c DESC, w LIMIT 1000
), cum AS (
  SELECT rk, sum(c) OVER (ORDER BY rk) AS cc FROM top
)
SELECT CAST(k.k AS BIGINT) AS top_k,
       {R("CAST(c.cc AS DOUBLE) / CAST(t.t AS DOUBLE)", 6)} AS coverage
FROM (VALUES (10), (100), (1000)) k(k)
JOIN cum c ON c.rk = k.k
CROSS JOIN tot t
ORDER BY top_k
""",
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.split(norm_text("text"), " ").alias("toks")
    )
    vocab = docs.select(F.explode("toks").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    from pyspark.sql import Window as W

    tot = vocab.agg(F.sum("c").cast("long").alias("t"))
    # ordered LIMIT first (TakeOrdered over the vocabulary), THEN the
    # rank window over the bounded 1000-row result
    top = (
        vocab.orderBy(F.desc("c"), F.asc("w"))
        .limit(1000)
        .withColumn("rk", F.row_number().over(W.orderBy(F.desc("c"), F.asc("w"))))
    )
    cum = top.select(
        "rk", F.sum("c").over(W.orderBy("rk").rowsBetween(W.unboundedPreceding, 0)).alias("cc")
    )
    ks = spark.createDataFrame([(10,), (100,), (1000,)], "top_k long")
    return (
        ks.join(cum, ks.top_k == cum.rk)
        .crossJoin(F.broadcast(tot))
        .select(
            "top_k",
            pround(F.col("cc").cast("double") / F.col("t").cast("double"), 6).alias(
                "coverage"
            ),
        )
        .orderBy("top_k")
    )


# ---------------------------------------------------------------------------
# Charset-class corpus QA: per language, how much of the text is
# lowercase letters vs digits vs spaces vs "other"? The classic cheap
# garbage detector (mojibake / binary spill shows up as `other`).
# regexp_replace-based counting is identical in both engines; ratios
# are portable-rounded. Linear single pass.
# ---------------------------------------------------------------------------
@query(
    "doc_script_mix",
    oracle=f"""
WITH c AS (
  SELECT lang,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_letters,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits,
         CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(n_letters) AS BIGINT) AS total_letters,
       CAST(sum(n_digits) AS BIGINT) AS total_digits,
       CAST(sum(n_spaces) AS BIGINT) AS total_spaces,
       CAST(sum(n_chars - n_letters - n_digits - n_spaces) AS BIGINT) AS total_other,
       {R("CAST(sum(n_letters) AS DOUBLE) / CAST(sum(n_chars) AS DOUBLE)", 6)}
         AS letter_ratio
FROM c GROUP BY lang
ORDER BY lang
""",
)
def doc_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.select(
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.length(F.regexp_replace("text", "[^a-z]", "")).cast("long").alias(
            "n_letters"
        ),
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("long").alias(
            "n_digits"
        ),
        (F.length("text") - F.length(F.regexp_replace("text", " ", "")))
        .cast("long")
        .alias("n_spaces"),
    )
    return (
        c.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_letters").cast("long").alias("total_letters"),
            F.sum("n_digits").cast("long").alias("total_digits"),
            F.sum("n_spaces").cast("long").alias("total_spaces"),
            F.sum(
                F.col("n_chars")
                - F.col("n_letters")
                - F.col("n_digits")
                - F.col("n_spaces")
            )
            .cast("long")
            .alias("total_other"),
            pround(
                F.sum("n_letters").cast("double") / F.sum("n_chars").cast("double"),
                6,
            ).alias("letter_ratio"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Stopword-profile per source: whitespace tokens vs a fixed function-
# word list, counted with array higher-order functions — no explode, no
# shuffle of a token stream; the filter runs inside the row. Shared
# list constant keeps both engines literally identical.
# ---------------------------------------------------------------------------
_STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "on", "for", "with", "by", "at",
)


_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"


@query(
    "text_stopword_profile",
    oracle=f"""
WITH t AS (
  SELECT source,
         {sql_tokens(sql_norm_text("text"))} AS toks
  FROM documents
), c AS (
  SELECT source,
         CAST(len(toks) AS BIGINT) AS n_toks,
         CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS BIGINT) AS n_stop
  FROM t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       CAST(sum(n_stop) AS BIGINT) AS stopword_tokens,
       {R("CAST(sum(n_stop) AS DOUBLE) / CAST(sum(n_toks) AS DOUBLE)", 6)}
         AS stop_ratio
FROM c GROUP BY source
ORDER BY source
""",
)
def text_stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", norm_text("text").alias("norm")
    )
    c = docs.select(
        "source",
        F.size(tokens("norm")).cast("long").alias("n_toks"),
        F.size(F.expr(f"filter(split(norm, ' '), x -> x IN {_STOP_SQL})"))
        .cast("long")
        .alias("n_stop"),
    )
    return (
        c.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.sum("n_stop").cast("long").alias("stopword_tokens"),
            pround(
                F.sum("n_stop").cast("double") / F.sum("n_toks").cast("double"), 6
            ).alias("stop_ratio"),
        )
        .orderBy("source")
    )


_CHUNK = 8  # tokens per non-overlapping chunk


# ---------------------------------------------------------------------------
# Cross-document repeated-chunk scan: split each document into
# non-overlapping 8-token chunks, fingerprint each chunk (md5), count
# distinct documents per fingerprint, and report each document's
# duplicated-chunk fraction — the chunk-level exact-dedup signal used
# to strip boilerplate/mirrored spans before training. Linear in
# corpus size: explode → groupBy(fp) → join(fp); never compares texts
# pairwise.
# ---------------------------------------------------------------------------


@query(
    "interdoc_chunk_dedup",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {sql_norm_text("text")} AS norm FROM documents
), tk AS (
  SELECT doc_id, string_split(norm, ' ') AS toks FROM base
), ch AS (
  SELECT doc_id, i AS chunk_idx,
         md5(array_to_string(toks[(i * {_CHUNK} + 1):(i * {_CHUNK} + {_CHUNK})], ' ')) AS fp
  FROM tk, unnest(range(0, len(toks) // {_CHUNK})) AS t(i)
  WHERE len(toks) >= {_CHUNK}
), freq AS (
  SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM ch GROUP BY fp
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       {R("CAST(sum(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)} AS dup_ratio
FROM ch c JOIN freq f USING (fp)
GROUP BY c.doc_id
""",
)
def interdoc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", norm_text("text").alias("norm")
    )
    tk = docs.select("doc_id", F.split("norm", " ").alias("toks")).filter(
        F.size("toks") >= _CHUNK
    )
    ch = tk.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), (F.size("toks") / _CHUNK).cast("long") - 1),
                lambda i: F.struct(
                    i.alias("chunk_idx"),
                    F.md5(
                        F.concat_ws(
                            " ", F.slice(F.col("toks"), i * _CHUNK + 1, _CHUNK)
                        ).cast("binary")
                    ).alias("fp"),
                ),
            )
        ).alias("c"),
    ).select("doc_id", F.col("c.chunk_idx").alias("chunk_idx"), F.col("c.fp").alias("fp"))
    freq = ch.groupBy("fp").agg(F.countDistinct("doc_id").cast("long").alias("df"))
    dup = F.when(F.col("df") > 1, 1).otherwise(0)
    return (
        ch.join(freq, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(dup).cast("long").alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            pround(
                F.col("n_dup_chunks").cast("double") / F.col("n_chunks").cast("double"),
                4,
            ).alias("dup_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge discovery (first 3 merges), computed distributively — the
# tokenizer-training primitive. BPE iterates on the WORD-FREQUENCY
# table, not the corpus: vocab rows are (word, count, spelled-out
# symbol string), pair frequencies are a weighted bigram explode over
# the bounded vocabulary, the winning pair is an ordered LIMIT 1
# (TakeOrdered with a lexical tie-break), and the merge itself is a
# space-delimited string replace (left-to-right non-overlapping in
# both engines — the greedy-left BPE convention). Three fixed
# iterations chained lazily; the winner is broadcast into the next
# pass, so nothing but the 1-row argmax ever leaves the executors.
# ---------------------------------------------------------------------------


def _bpe_oracle(iters: int = 3) -> str:
    spell = (
        "array_to_string(list_transform(range(1, length(word) + 1), "
        "i -> substr(word, CAST(i AS BIGINT), 1)), ' ')"
    )
    parts = [
        f"""
WITH vocab AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wc
  FROM (SELECT unnest(string_split({sql_norm_text("text")}, ' ')) AS word
        FROM documents)
  WHERE length(word) >= 1
  GROUP BY word
), v0 AS (
  SELECT word, wc, {spell} AS s FROM vocab
)"""
    ]
    prev = "v0"
    for k in range(1, iters + 1):
        parts.append(
            f""", pc{k} AS (
  SELECT ss[i] || ' ' || ss[i + 1] AS p, CAST(sum(wc) AS BIGINT) AS c
  FROM (SELECT string_split(s, ' ') AS ss, wc FROM {prev}
        WHERE len(string_split(s, ' ')) >= 2),
       unnest(range(1, len(ss))) AS t(i)
  GROUP BY p
), t{k} AS (
  SELECT p, c FROM pc{k} ORDER BY c DESC, p LIMIT 1
), v{k} AS (
  SELECT v.word, v.wc,
         trim(replace(' ' || v.s || ' ', ' ' || t.p || ' ',
                      ' ' || replace(t.p, ' ', '') || ' ')) AS s
  FROM {prev} v, t{k} t
)"""
        )
        prev = f"v{k}"
    union = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS step, p AS pair, "
        f"replace(p, ' ', '') AS merged, c AS pair_count FROM t{k}"
        for k in range(1, iters + 1)
    )
    parts.append(f"\nSELECT * FROM ({union}) ORDER BY step")
    return "".join(parts)


@query("corpus_bpe_merges", oracle=_bpe_oracle())
def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        norm_text("text").alias("norm")
    )
    vocab = (
        docs.select(F.explode(F.split("norm", " ")).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    v = vocab.withColumn(
        "s",
        F.expr(
            "array_join(transform(sequence(1, length(word)), "
            "i -> substring(word, i, 1)), ' ')"
        ),
    ).select("word", "wc", "s")

    tops = []
    for k in range(1, 4):
        ss = F.split("s", " ")
        pairs = (
            v.filter(F.size(ss) >= 2)
            .select(
                F.col("wc"),
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(split(s, ' ')) - 1), "
                        "i -> concat(element_at(split(s, ' '), i), ' ', "
                        "element_at(split(s, ' '), i + 1)))"
                    )
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.sum("wc").cast("long").alias("c"))
        )
        top1 = pairs.orderBy(F.desc("c"), F.asc("p")).limit(1)
        tops.append(
            top1.select(
                F.lit(k).cast("long").alias("step"),
                F.col("p").alias("pair"),
                F.replace(F.col("p"), F.lit(" "), F.lit("")).alias("merged"),
                F.col("c").alias("pair_count"),
            )
        )
        v = v.crossJoin(F.broadcast(top1)).select(
            "word",
            "wc",
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("s"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("p"), F.lit(" ")),
                    F.concat(
                        F.lit(" "),
                        F.replace(F.col("p"), F.lit(" "), F.lit("")),
                        F.lit(" "),
                    ),
                )
            ).alias("s"),
        )
    out = tops[0]
    for t in tops[1:]:
        out = out.unionByName(t)
    return out.orderBy("step")


# ---------------------------------------------------------------------------
# Feature-hashing document vectors (the hashing trick): each token is
# mapped to one of 64 dimensions (md5-derived index) with an
# md5-derived ±1 sign, giving a model-free 64-dim bag-of-words
# embedding — the featurization step of a model-less similarity /
# clustering pipeline, reproducible on any engine (no RNG, no
# vocabulary broadcast). The per-doc summary (nnz, exact-integer L1
# norm, argmax dimension with deterministic tie-break) is emitted
# instead of the raw vector so every column stays hash-comparable.
# Linear: explode tokens → per-(doc, dim) signed counts → per-doc agg.
# ---------------------------------------------------------------------------

_FH_DIM = 64


@query(
    "doc_feature_hash_embedding",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({sql_norm_text("text")}, ' ')) AS t
  FROM documents
), feat AS (
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(t), 1, 2) AS INTEGER) % {_FH_DIM} AS BIGINT)
           AS dim,
         CASE WHEN substr(md5(t), 3, 1) IN ('0','1','2','3','4','5','6','7')
              THEN 1 ELSE -1 END AS sgn
  FROM toks
), vec AS (
  SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS v
  FROM feat GROUP BY doc_id, dim
)
SELECT doc_id,
       CAST(sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz,
       CAST(sum(abs(v)) AS BIGINT) AS l1,
       CAST(-struct_extract(max(struct_pack(a := abs(v), nd := -dim)), 'nd')
            AS BIGINT) AS top_dim
FROM vec
GROUP BY doc_id
""",
)
def doc_feature_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(norm_text("text"), " ")).alias("t")
    )
    feat = docs.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("t")), 1, 2), 16, 10).cast("long")
            % _FH_DIM
        ).alias("dim"),
        F.when(
            F.substring(F.md5(F.col("t")), 3, 1).isin(*"01234567"), 1
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    vec = feat.groupBy("doc_id", "dim").agg(F.sum("sgn").cast("long").alias("v"))
    return vec.groupBy("doc_id").agg(
        F.sum(F.when(F.col("v") != 0, 1).otherwise(0)).cast("long").alias("nnz"),
        F.sum(F.abs("v")).cast("long").alias("l1"),
        (-F.max(F.struct(F.abs("v").alias("a"), (-F.col("dim")).alias("nd")))["nd"])
        .cast("long")
        .alias("top_dim"),
    )


# ---------------------------------------------------------------------------
# Shingle document-frequency spectrum: how many distinct char-5-gram
# shingles appear in exactly-1, 2, 3–4, 5–8, … documents (power-of-2
# bins)? This is the distribution that justifies (and calibrates) the
# jaccard hot-shingle df cap: mass in high-df bins is corpus
# boilerplate, not similarity signal. Linear explode → exact distinct
# df per shingle → bounded bin census; pure integer arithmetic.
#
# r12 NOTE on the r11 map-side-dedup rewrite (ADVICE): array_distinct-
# before-explode is equivalent to the old explode + .distinct() ONLY
# because doc_id is unique in `documents` — with duplicate doc_ids the
# old global distinct would merge the duplicates' shingle rows while
# the per-row array_distinct would double-count them. The precondition
# holds by construction (scripts/gen_testdata.py emits arange doc_ids)
# and is NOT silent: the oracle keeps the global SELECT DISTINCT, so a
# duplicate doc_id would surface as a driver hash mismatch (verified:
# oracle parity MATCH at sf0.01), not as silent drift.
# ---------------------------------------------------------------------------


@query(
    "shingle_df_spectrum",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({sql_char_shingles(f"({sql_norm_text('text')})", 5)}) AS s
  FROM documents
), df AS (
  SELECT s, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY s
), binned AS (
  -- integer bit-length, NOT floor(log2(df)): Spark computes LOG2 as
  -- ln(x)/ln(2) while DuckDB calls std::log2, and a 1-ulp difference at
  -- df = 2^k would flip the floor and shift the bin. length(bin(df))-1
  -- is integer-derived in both engines, so the bin is exact by
  -- construction.
  SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS bin, df FROM df
)
SELECT bin,
       CAST(power(2, bin) AS BIGINT) AS df_from,
       CAST(power(2, bin + 1) - 1 AS BIGINT) AS df_to,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(df) AS BIGINT) AS occurrences
FROM binned
GROUP BY bin
ORDER BY bin
""",
)
def shingle_df_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import char_shingles

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", norm_text("text").alias("norm")
    )
    # r11: per-(doc, shingle) dedup happens MAP-SIDE via array_distinct
    # before the explode — identical semantics to exploding then
    # .distinct() (the dedup key was (doc_id, s) and every row of one
    # doc's array is in one task), but it removes a full shuffle of the
    # ~100M-row exploded shingle stream (sf1: the .distinct() exchange
    # was the single widest in the plan); groupBy(s) is now the only
    # wide exchange.
    sh = (
        docs.withColumn("shingles", F.array_distinct(char_shingles("norm", 5)))
        .select("doc_id", F.explode("shingles").alias("s"))
    )
    df = sh.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # integer bit-length (length(bin(df)) - 1), mirroring the oracle: no
    # math-library log2 in either engine, so power-of-two df values can
    # never straddle a bin boundary by 1 ulp.
    binned = df.select(
        (F.length(F.bin("df")) - 1).cast("long").alias("bin"), "df"
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum("df").cast("long").alias("occurrences"),
        )
        .select(
            "bin",
            F.pow(F.lit(2.0), F.col("bin").cast("double")).cast("long").alias("df_from"),
            (F.pow(F.lit(2.0), (F.col("bin") + 1).cast("double")) - 1)
            .cast("long")
            .alias("df_to"),
            "n_shingles",
            "occurrences",
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# DSIR-lite importance weights (Data Selection via Importance
# Resampling, Xie et al. 2023): hashed-unigram bag-of-words language
# models for a TARGET domain (lang = 'en') vs the RAW corpus, with
# add-one smoothing over 256 md5 buckets. Each bucket's log-ratio is
# ONE ln call micro-quantized to an integer; a document's importance
# weight is then the EXACT integer Σ count_doc(b) · lr_micro(b).
# Reported per source: docs, mean weight, share of positive weights.
# Scale: token explode → two bounded (≤256-row) bucket aggregates
# broadcast back — the per-doc weighting is a map-side join.
# ---------------------------------------------------------------------------
_DSIR_B = 256


@query(
    "doc_dsir_importance_weights",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, lang,
         CAST(CAST('0x' || substr(md5(unnest(string_split({sql_norm_text("text")}, ' '))), 1, 2)
              AS INTEGER) % {_DSIR_B} AS BIGINT) AS b
  FROM documents
), raw AS (
  SELECT b, CAST(count(*) AS BIGINT) AS cr FROM toks GROUP BY b
), tgt AS (
  SELECT b, CAST(count(*) AS BIGINT) AS ct FROM toks WHERE lang = 'en' GROUP BY b
), tots AS (
  SELECT CAST(sum(cr) AS BIGINT) AS r_tot,
         (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS t_tot
  FROM raw
), lr AS (
  SELECT raw.b,
         {sql_cents(
             f"ln((CAST(coalesce(ct, 0) + 1 AS DOUBLE) / CAST(t_tot + {_DSIR_B} AS DOUBLE))"
             f" * (CAST(r_tot + {_DSIR_B} AS DOUBLE) / CAST(cr + 1 AS DOUBLE)))",
             6,
         )} AS lr_micro
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tots
), docw AS (
  SELECT t.doc_id, t.source,
         CAST(sum(lr_micro) AS BIGINT) AS w_micro
  FROM toks t JOIN lr ON t.b = lr.b
  GROUP BY t.doc_id, t.source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       {R("CAST(sum(w_micro) AS DOUBLE) / count(*) / 1000000.0", 4)} AS mean_weight,
       {R("CAST(sum(CASE WHEN w_micro > 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 4)} AS pos_share
FROM docw
GROUP BY source
ORDER BY source
""",
)
def doc_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        "lang",
        F.explode(F.split(norm_text("text"), " ")).alias("t"),
    ).select(
        "doc_id",
        "source",
        "lang",
        (F.conv(F.substring(F.md5("t"), 1, 2), 16, 10).cast("long") % _DSIR_B).alias(
            "b"
        ),
    )
    raw = toks.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("cr"))
    tgt = (
        toks.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    tots = raw.agg(F.sum("cr").cast("long").alias("r_tot")).crossJoin(
        tgt.agg(F.sum("ct").cast("long").alias("t_tot"))
    )
    ratio = (
        (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
        / (F.col("t_tot") + _DSIR_B).cast("double")
    ) * (
        (F.col("r_tot") + _DSIR_B).cast("double")
        / (F.col("cr") + 1).cast("double")
    )
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select("b", cents(F.log(ratio), 6).cast("long").alias("lr_micro"))
    )
    docw = (
        toks.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(F.sum("lr_micro").cast("long").alias("w_micro"))
    )
    return (
        docw.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            pround(
                F.sum("w_micro").cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0),
                4,
            ).alias("mean_weight"),
            pround(
                F.sum(F.when(F.col("w_micro") > 0, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("pos_share"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Exact shingle CONTAINMENT — the asymmetric near-dup measure that
# catches subset duplication (doc A pasted inside doc B), which
# symmetric Jaccard under-scores: C = |A∩B| / min(|A|,|B|). Candidate
# pairs come from sharing a non-stop shingle (document frequency ≤ 50
# — the stop-shingle filter is what keeps the self-join from exploding
# on boilerplate at scale); the score is the exact integer
# inter·10⁶ div min(|A|,|B|).
# ---------------------------------------------------------------------------
@query(
    "doc_shingle_containment",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {sql_tokens(sql_norm_text("text"))} AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest({sql_word_shingles("toks", 3)}) AS s FROM base
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id
), keep AS (
  SELECT s FROM sh GROUP BY s HAVING count(*) <= 50
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM sh a JOIN keep USING (s) JOIN sh b USING (s)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), scored AS (
  SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
         (inter * 1000000) // least(sa.sz, sb.sz) AS c_micro
  FROM pairs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, inter, sz_a, sz_b,
       {R("CAST(c_micro AS DOUBLE) / 1000000.0", 6)} AS containment
FROM scored
WHERE c_micro >= 300000
ORDER BY doc_a, doc_b
""",
)
def doc_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(norm_text("text"), " ").alias("toks")
    )
    sh = docs.select(
        "doc_id", F.explode(word_shingles("toks", 3)).alias("s")
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    keep = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= 50
    ).select("s")
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(keep, "s")
        .join(b, "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    scored = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "c_micro",
            F.expr("(inter * 1000000) div least(sz_a, sz_b)"),
        )
    )
    return (
        scored.filter(F.col("c_micro") >= 300000)
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "sz_a",
            "sz_b",
            pround(F.col("c_micro").cast("double") / F.lit(1000000.0), 6).alias(
                "containment"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of three document quality signals — the
# standard way to combine heterogeneous rankers without score
# calibration. Every signal is an exact INTEGER sort key (length;
# type-token ratio and mean word length in micro units via integer
# division), ranks come from row_number with doc_id tie-break, and the
# RRF score Σ 10⁹ div (60 + rank) stays an exact integer.
#
# Scale (r9): each global rank is a TWO-PASS range-banded rank, not a
# single-partition window — 256 equal-width integer bands off a 1-row
# broadcast min/max aggregate (band monotone DESC in the metric, so
# equal values share a band), row_number within band (bounded
# partitions), plus an exclusive prefix-sum offset over the ≤256-row
# band census (broadcast back). Exact same ranks as the global sort —
# the r9 registry-wide plan audit found this query was the only one
# still single-partitioning a raw fact scan under a window. The DuckDB
# oracle keeps the plain row_number formulation: single-node, and
# mathematically identical.
# ---------------------------------------------------------------------------
@query(
    "doc_rrf_quality_fusion",
    oracle=f"""
WITH feats AS (
  SELECT doc_id, n_chars,
         len({sql_tokens(sql_norm_text("text"))}) AS n_toks,
         len(list_distinct({sql_tokens(sql_norm_text("text"))})) AS n_dist
  FROM documents
), keys AS (
  SELECT doc_id, n_chars,
         (n_dist * 1000000) // n_toks AS ttr_micro,
         ((n_chars - n_toks + 1) * 1000000) // n_toks AS mwl_micro
  FROM feats WHERE n_toks > 0
), ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r1,
         row_number() OVER (ORDER BY ttr_micro DESC, doc_id) AS r2,
         row_number() OVER (ORDER BY mwl_micro DESC, doc_id) AS r3
  FROM keys
)
SELECT doc_id,
       CAST(1000000000 // (60 + r1)
          + 1000000000 // (60 + r2)
          + 1000000000 // (60 + r3) AS BIGINT) AS rrf_score,
       CAST(r1 AS BIGINT) AS rank_length,
       CAST(r2 AS BIGINT) AS rank_ttr,
       CAST(r3 AS BIGINT) AS rank_mwl
FROM ranked
ORDER BY rrf_score DESC, doc_id
LIMIT 25
""",
)
def doc_rrf_quality_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.split(norm_text("text"), " ").alias("toks")
    )
    feats = docs.select(
        "doc_id",
        "n_chars",
        F.size("toks").alias("n_toks"),
        F.size(F.array_distinct("toks")).alias("n_dist"),
    )
    keys = feats.filter(F.col("n_toks") > 0).select(
        "doc_id",
        "n_chars",
        F.expr("(n_dist * 1000000) div n_toks").alias("ttr_micro"),
        F.expr("((n_chars - n_toks + 1) * 1000000) div n_toks").alias("mwl_micro"),
    )
    from ..operators.ranks import two_pass_desc_ranks

    # exact global DESC ranks via the two-pass range-banded operator
    # (operators/ranks.py) — equal ranks to a global sort, every
    # window bounded; equivalence property-pinned in tests.
    ranked = two_pass_desc_ranks(
        keys,
        [("n_chars", "r1"), ("ttr_micro", "r2"), ("mwl_micro", "r3")],
        tie_col="doc_id",
    )
    return (
        ranked.select(
            "doc_id",
            F.expr(
                "1000000000 div (60 + r1) + 1000000000 div (60 + r2)"
                " + 1000000000 div (60 + r3)"
            )
            .cast("long")
            .alias("rrf_score"),
            F.col("r1").cast("long").alias("rank_length"),
            F.col("r2").cast("long").alias("rank_ttr"),
            F.col("r3").cast("long").alias("rank_mwl"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rapid Automatic Keyword Extraction, Rose et
# al. 2010): candidate phrases are maximal stopword-free token runs
# (delimited by the 20-word multilingual stopword list, phrase length
# ≤ 4); each word scores degree/frequency where degree sums the
# lengths of every phrase the word occurs in, and a phrase scores the
# sum of its words' scores. Every score is an exact integer
# (degree·10⁶ div frequency), so ranking is engine-exact. Scale:
# posexplode → two bounded groupBys + one broadcast join of the word
# score table; no pairwise joins anywhere.
# ---------------------------------------------------------------------------
_RAKE_STOPS = tuple(w for ws in STOPWORDS.values() for w in ws)


def _rake_stop_list() -> str:
    return ", ".join(f"'{w}'" for w in _RAKE_STOPS)


@query(
    "text_rake_keywords",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(t, 1) AS idx, unnest(t) AS tok
  FROM (SELECT doc_id, {sql_tokens(sql_norm_text("text"))} AS t FROM documents)
), flagged AS (
  SELECT doc_id, idx, tok,
         CASE WHEN tok IN ({_rake_stop_list()}) THEN 1 ELSE 0 END AS stop
  FROM toks
), pids AS (
  -- pid must be computed over ALL tokens (stopwords included) BEFORE
  -- dropping the stopword rows, or every run would collapse to pid 0
  SELECT doc_id, idx, tok, stop,
         sum(stop) OVER (PARTITION BY doc_id ORDER BY idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
  FROM flagged
), runs AS (
  SELECT doc_id, idx, tok, pid FROM pids WHERE stop = 0
), phr AS (
  SELECT doc_id, pid, string_agg(tok, ' ' ORDER BY idx) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM runs GROUP BY doc_id, pid
  HAVING count(*) <= 4
), occ AS (
  SELECT r.tok, p.plen, p.doc_id, p.pid, p.phrase
  FROM runs r JOIN phr p ON r.doc_id = p.doc_id AND r.pid = p.pid
), wscore AS (
  SELECT tok, (CAST(sum(plen) AS BIGINT) * 1000000) // count(*) AS s_micro
  FROM occ GROUP BY tok
), pscore AS (
  SELECT o.doc_id, o.pid, o.phrase,
         CAST(sum(w.s_micro) AS BIGINT) AS score_micro
  FROM occ o JOIN wscore w ON o.tok = w.tok
  GROUP BY o.doc_id, o.pid, o.phrase
)
SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
       CAST(max(score_micro) AS BIGINT) AS score_micro
FROM pscore
GROUP BY phrase
ORDER BY score_micro DESC, phrase
LIMIT 25
""",
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(norm_text("text"), " ").alias("t")
    )
    toks = docs.select(
        "doc_id", F.posexplode("t").alias("pos", "tok")
    ).select("doc_id", (F.col("pos") + 1).alias("idx"), "tok")
    flagged = toks.select(
        "doc_id",
        "idx",
        "tok",
        F.when(F.col("tok").isin(*_RAKE_STOPS), 1).otherwise(0).alias("stop"),
    )
    wrun = (
        W.partitionBy("doc_id")
        .orderBy("idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    runs = flagged.select(
        "doc_id", "idx", "tok", "stop", F.sum("stop").over(wrun).alias("pid")
    ).filter(F.col("stop") == 0)
    phr = (
        runs.groupBy("doc_id", "pid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
        .filter(F.col("plen") <= 4)
    )
    occ = runs.join(phr, ["doc_id", "pid"]).select("tok", "plen", "doc_id", "pid", "phrase")
    wscore = occ.groupBy("tok").agg(
        F.expr("(CAST(sum(plen) AS BIGINT) * 1000000) div count(*)").alias("s_micro")
    )
    pscore = (
        occ.join(F.broadcast(wscore), "tok")
        .groupBy("doc_id", "pid", "phrase")
        .agg(F.sum("s_micro").cast("long").alias("score_micro"))
    )
    return (
        pscore.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.max("score_micro").cast("long").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), "phrase")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
# document by its mean token negative-logprob under a hashed-unigram
# (256-bucket) corpus LM with add-one smoothing, then split the corpus
# into head / middle / tail quality terciles by the GLOBAL discrete
# tercile thresholds — the standard quality-gate before LLM training.
# Exactness: per-bucket −ln p is micro-quantized once (≤256 ln calls —
# the DSIR argument), each doc's score is the exact integer
# (Σ neglogp_micro · 1000) div n_tokens, and the tercile cuts are
# quantile_disc picks of those INTEGER scores (actual stored values —
# bit-exact). Scale: bounded LM broadcast, one explode, one groupBy.
# ---------------------------------------------------------------------------
@query(
    "doc_perplexity_buckets",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(CAST('0x' || substr(md5(unnest(string_split({sql_norm_text("text")}, ' '))), 1, 2)
              AS INTEGER) % {_DSIR_B} AS BIGINT) AS b
  FROM documents
), lm AS (
  SELECT b, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY b
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS t FROM lm
), nlp AS (
  SELECT b,
         CAST(floor(-ln(CAST(c + 1 AS DOUBLE) / CAST(t + {_DSIR_B} AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS nlp_micro
  FROM lm CROSS JOIN tot
), docsc AS (
  SELECT t.doc_id, t.source,
         (CAST(sum(n.nlp_micro) AS BIGINT) * 1000) // count(*) AS ce_nano
  FROM toks t JOIN nlp n ON n.b = t.b
  GROUP BY t.doc_id, t.source
), cuts AS (
  SELECT quantile_disc(ce_nano, 1.0/3.0) AS c1,
         quantile_disc(ce_nano, 2.0/3.0) AS c2
  FROM docsc
), bucketed AS (
  SELECT source,
         CASE WHEN ce_nano <= c1 THEN 'head'
              WHEN ce_nano <= c2 THEN 'middle'
              ELSE 'tail' END AS bucket,
         ce_nano
  FROM docsc CROSS JOIN cuts
)
SELECT source, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       {R("CAST(sum(ce_nano) AS DOUBLE) / count(*) / 1e9", 4)} AS mean_neglogprob
FROM bucketed
GROUP BY source, bucket
ORDER BY source, bucket
""",
)
def doc_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(norm_text("text"), " ")).alias("t"),
    ).select(
        "doc_id",
        "source",
        (F.conv(F.substring(F.md5("t"), 1, 2), 16, 10).cast("long") % _DSIR_B).alias(
            "b"
        ),
    )
    lm = toks.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = lm.agg(F.sum("c").cast("long").alias("t"))
    nlp = lm.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(
            -F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("t") + _DSIR_B).cast("double")
            )
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("nlp_micro"),
    )
    docsc = (
        toks.join(F.broadcast(nlp), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.expr("(CAST(sum(nlp_micro) AS BIGINT) * 1000) div count(*)").alias(
                "ce_nano"
            )
        )
    )
    cuts = docsc.agg(
        F.expr(
            "percentile_disc(0.3333333333333333) WITHIN GROUP (ORDER BY ce_nano)"
        ).alias("c1"),
        F.expr(
            "percentile_disc(0.6666666666666666) WITHIN GROUP (ORDER BY ce_nano)"
        ).alias("c2"),
    )
    bucketed = docsc.crossJoin(F.broadcast(cuts)).select(
        "source",
        F.when(F.col("ce_nano") <= F.col("c1"), "head")
        .when(F.col("ce_nano") <= F.col("c2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
        "ce_nano",
    )
    return (
        bucketed.groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            pround(
                F.sum("ce_nano").cast("double") / F.count(F.lit(1)) / F.lit(1e9), 4
            ).alias("mean_neglogprob"),
        )
        .orderBy("source", "bucket")
    )


# ---------------------------------------------------------------------------
# Temperature-based source sampling (the multilingual/multi-source
# mixing rule used for LLM training corpora): sampling weight
# p_s ∝ n_s^τ with τ = 0.7 flattens the source distribution so small
# sources are up-sampled. n^0.7 = exp(0.7·ln n) is micro-quantized
# ONCE per source (20 bounded values — the DSIR ln argument); shares
# and effective epochs (p_s·T/n_s — how many times each source repeats
# in one pass of the resampled corpus) are then fixed double
# sequences over exact integers. The Σ n^τ normalizer folds in
# source-sorted order (ANOVA precedent).
# ---------------------------------------------------------------------------
_TEMP_TAU = 0.7


@query(
    "corpus_temperature_sampling",
    oracle=f"""
WITH src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({sql_tokens(sql_norm_text("text"))})) AS BIGINT) AS n_toks
  FROM documents GROUP BY source
), pw AS (
  SELECT source, n_docs, n_toks,
         CAST(floor(exp({_TEMP_TAU} * ln(CAST(n_toks AS DOUBLE))) * 1000000.0 + 0.5)
              AS BIGINT) AS w_micro
  FROM src
), tot AS (
  SELECT CAST(sum(n_toks) AS BIGINT) AS t_toks,
         CAST(sum(w_micro) AS BIGINT) AS w_all
  FROM pw
)
SELECT source, n_docs, n_toks,
       {R("CAST(n_toks AS DOUBLE) / CAST(t_toks AS DOUBLE)", 6)} AS raw_share,
       {R("CAST(w_micro AS DOUBLE) / CAST(w_all AS DOUBLE)", 6)} AS temp_share,
       {R(
           "(CAST(w_micro AS DOUBLE) / CAST(w_all AS DOUBLE))"
           " * CAST(t_toks AS DOUBLE) / CAST(n_toks AS DOUBLE)",
           4,
       )} AS effective_epochs
FROM pw CROSS JOIN tot
ORDER BY source
""",
)
def corpus_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.size(F.split(norm_text("text"), " ")).alias("ntok")
    )
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("n_toks"),
    )
    pw = src.select(
        "source",
        "n_docs",
        "n_toks",
        F.floor(
            F.exp(F.lit(_TEMP_TAU) * F.log(F.col("n_toks").cast("double")))
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("w_micro"),
    )
    tot = pw.agg(
        F.sum("n_toks").cast("long").alias("t_toks"),
        F.sum("w_micro").cast("long").alias("w_all"),
    )
    t_d = F.col("t_toks").cast("double")
    share = F.col("w_micro").cast("double") / F.col("w_all").cast("double")
    return (
        pw.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_toks",
            pround(F.col("n_toks").cast("double") / t_d, 6).alias("raw_share"),
            pround(share, 6).alias("temp_share"),
            pround(share * t_d / F.col("n_toks").cast("double"), 4).alias(
                "effective_epochs"
            ),
        )
        .orderBy("source")
    )
