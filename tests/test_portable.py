"""Direct cross-engine pins for functions/portable.py — the bedrock
every oracle hash comparison stands on. The 275 query parities exercise
these indirectly; here an ADVERSARIAL value grid (exact half-boundaries,
binary-unrepresentable decimals, powers of two, negatives, extremes)
goes through Spark pround/cents and DuckDB sql_round/sql_cents side by
side and must agree bit-for-bit."""

from __future__ import annotations

import math
import random

import duckdb
import pyspark.sql.functions as F

from statcan_etl_pipeline_spark.functions.portable import (
    cents,
    money_sum,
    pround,
    sql_cents,
    sql_round,
)


def _grid() -> list[float]:
    vals: list[float] = []
    # exact half-boundaries at 2dp (k/200 hits .xx5 exactly when k odd)
    vals += [k / 200.0 for k in range(-1000, 1001, 7)]
    # classic binary traps: stored value is NOT the decimal literal
    vals += [2.675, 0.125, -0.125, 1.005, -1.005, 2.5, -2.5, 0.5, -0.5]
    # powers of two and neighbors (exactly representable)
    vals += [2.0**k for k in range(-20, 40, 3)]
    vals += [-(2.0**k) for k in range(-20, 40, 5)]
    # price-like magnitudes
    vals += [12345.6789, 99999.99, -99999.99, 0.0, 1e-9, -1e-9, 1e12 + 0.005]
    return vals


def test_pround_and_cents_match_duckdb_bit_for_bit(spark):
    vals = _grid()
    sdf = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, x double")
    got = {
        r["i"]: (r["p2"], r["p6"], r["c"])
        for r in sdf.select(
            "i",
            pround(F.col("x"), 2).alias("p2"),
            pround(F.col("x"), 6).alias("p6"),
            cents(F.col("x")).cast("long").alias("c"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(vals)))
    want = {
        i: (p2, p6, c)
        for i, p2, p6, c in con.execute(
            f"SELECT i, {sql_round('x', 2)}, {sql_round('x', 6)}, {sql_cents('x')} FROM t"
        ).fetchall()
    }
    assert set(got) == set(want)
    for i in got:
        # bit-for-bit: repr equality, not approx
        assert repr(got[i][0]) == repr(want[i][0]), (vals[i], got[i], want[i])
        assert repr(got[i][1]) == repr(want[i][1]), (vals[i], got[i], want[i])
        assert got[i][2] == want[i][2], (vals[i], got[i], want[i])


def test_pround_is_half_away_from_zero_on_exact_inputs(spark):
    # values chosen to be EXACTLY representable so decimal intuition holds
    cases = [(2.5, 0, 3.0), (-2.5, 0, -3.0), (0.5, 0, 1.0), (-0.5, 0, -1.0),
             (1.25, 1, 1.3), (-1.25, 1, -1.3), (0.125, 2, 0.13), (-0.125, 2, -0.13)]
    sdf = spark.createDataFrame([(x, n, e) for x, n, e in cases], "x double, n int, e double")
    for x, n, e in cases:
        got = (
            spark.createDataFrame([(x,)], "x double")
            .select(pround(F.col("x"), n).alias("r"))
            .collect()[0]["r"]
        )
        assert got == e, (x, n, got, e)


def test_money_sum_is_accumulation_order_independent(spark):
    rng = random.Random(7)
    vals = [rng.uniform(-1e5, 1e5) for _ in range(2000)]
    expect = sum(
        int(v * 100 + 0.5) if v >= 0 else -int(-v * 100 + 0.5) for v in vals
    ) / 100.0

    def run(order):
        df = spark.createDataFrame([(v,) for v in order], "x double").repartition(13)
        return df.agg(money_sum("x").alias("s")).collect()[0]["s"]

    a = run(vals)
    shuffled = vals[:]
    rng.shuffle(shuffled)
    b = run(shuffled)
    assert repr(a) == repr(b)  # bit-identical regardless of order/partitioning
    assert math.isclose(a, expect, rel_tol=0, abs_tol=1e-9)


def test_text_twins_match_duckdb_on_adversarial_strings(spark):
    """norm_text/tokens/word_shingles and their sql_* twins are the
    substrate of every text oracle — fuzz them directly: unicode,
    multi-whitespace runs, tabs/newlines, empty, single char, accents,
    CJK, emoji, strings shorter than the shingle width."""
    from statcan_etl_pipeline_spark.functions.text import (
        norm_text,
        sql_norm_text,
        sql_tokens,
        sql_word_shingles,
        word_shingles,
    )

    texts = [
        "", " ", "   ", "\t", "a", "A  B\tC\nD", "  leading and trailing  ",
        "Ünïcôde Òh MY", "çédille français élève", "中文 分词 测试 字符",
        "MiXeD CaSe WoRdS here", "one", "one two", "one two three",
        "one two three four five", "emoji 🙂 in 🙂 text 🙂 stream",
        "tab\tand\nnewline\r\nmix", "double  space   triple    quad",
        "punct, still. splits? only! on-whitespace;", "ALLCAPS SENTENCE",
    ]
    sdf = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {
        r["i"]: (r["norm"], r["toks"], r["sh"])
        for r in sdf.withColumn("norm", norm_text("text"))
        .withColumn("toks", F.split(F.col("norm"), " "))
        .withColumn("sh", word_shingles("toks", 3))
        .select("i", "norm", "toks", "sh")
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    want = {
        i: (norm, toks, sh)
        for i, norm, toks, sh in con.execute(
            f"""SELECT i, {sql_norm_text('text')} AS norm,
                 {sql_tokens(sql_norm_text('text'))} AS toks,
                 {sql_word_shingles(sql_tokens(sql_norm_text('text')), 3)} AS sh
               FROM t"""
        ).fetchall()
    }
    assert set(got) == set(want)
    for i in got:
        assert got[i][0] == want[i][0], (texts[i], got[i][0], want[i][0])
        assert list(got[i][1]) == list(want[i][1]), (texts[i], got[i][1], want[i][1])
        assert list(got[i][2]) == list(want[i][2]), (texts[i], got[i][2], want[i][2])


def test_ln_micro_quantization_matches_duckdb_bit_for_bit(spark):
    """The LAST two math-library dependencies in the oracle surface:
    doc_bm25_search's idf (retrieval.py) and doc_dsir_importance_weights'
    log-ratio (curation.py) both micro-quantize a natural log as
    floor(ln(x)*1e6 + 0.5). Cross-engine hash equality there rests on
    JVM StrictMath.log and DuckDB std::log agreeing to within the
    half-ulp guard at every argument either query can produce. Pin it
    on an adversarial grid: every BM25 idf argument shape
    (N - df + 0.5)/(df + 0.5) + 1 over a dense (N, df) lattice, DSIR
    rational ratios (a/b)*(c/d) over small-integer lattices, exact
    powers of e's nearest double, values microscopically adjacent to
    quantization boundaries, and a broad random log-uniform sweep."""
    import itertools

    vals: list[float] = []
    # BM25 idf arguments: (N - df + 0.5) / (df + 0.5) + 1.0
    for n in [1, 2, 3, 5, 10, 100, 500, 5000, 10**6, 10**9]:
        for df in [1, 2, 3, 7, 50, 499, 4999]:
            if df <= n:
                vals.append((n - df + 0.5) / (df + 0.5) + 1.0)
    # DSIR ratios: ((ct+1)/(t_tot+B)) * ((r_tot+B)/(cr+1)), B = 256
    for ct, cr in itertools.product([0, 1, 5, 100, 10**4], repeat=2):
        for t_tot, r_tot in [(10**3, 10**4), (5 * 10**4, 5 * 10**4), (7, 11)]:
            vals.append(((ct + 1) / (t_tot + 256)) * ((r_tot + 256) / (cr + 1)))
    # ln(x) exactly k: x = double nearest e^k — the floor-boundary trap
    for k in range(-12, 13):
        x = math.exp(k)
        for bump in (-2, -1, 0, 1, 2):
            vals.append(math.nextafter(x, math.inf if bump > 0 else -math.inf)
                        if bump else x)
    # boundary-adjacent: x where ln(x)*1e6 + 0.5 is within ~1 ulp of int
    for m in range(-20, 2000, 37):
        vals.append(math.exp((m + 0.5 - 0.5) / 1e6))  # ln ~ m/1e6 exactly-ish
        vals.append(math.exp((m + 0.4999995) / 1e6))
    # broad random log-uniform sweep over the plausible argument range
    rng = random.Random(42)
    vals += [math.exp(rng.uniform(-15, 25)) for _ in range(3000)]
    vals = [v for v in vals if v > 0]

    sdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, x double"
    )
    got = {
        r["i"]: r["lnm"]
        for r in sdf.select(
            "i",
            F.floor(F.log("x") * 1000000.0 + 0.5).cast("long").alias("lnm"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(vals)))
    want = {
        i: lnm
        for i, lnm in con.execute(
            "SELECT i, CAST(floor(ln(x) * 1000000.0 + 0.5) AS BIGINT) FROM t"
        ).fetchall()
    }
    assert set(got) == set(want)
    mismatches = [(vals[i], got[i], want[i]) for i in got if got[i] != want[i]]
    assert not mismatches, mismatches[:10]


def test_vector_twins_match_duckdb_on_adversarial_vectors(spark):
    """dot_fixed / cosine and their sql_* twins power every similarity
    and ANN oracle. Adversarial cases: zero vectors (cosine NULL on
    both engines), negatives, tiny and large components, antiparallel
    and identical vectors."""
    from statcan_etl_pipeline_spark.functions.portable import pround as _pr
    from statcan_etl_pipeline_spark.functions.vectors import (
        cosine,
        dot_fixed,
        sql_cosine,
        sql_dot_fixed,
    )

    vecs = [
        ([0.0, 0.0, 0.0, 0.0], [1.0, 2.0, 3.0, 4.0]),       # zero vs x -> NULL
        ([1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 3.0, 4.0]),       # identical -> 1
        ([1.0, 2.0, 3.0, 4.0], [-1.0, -2.0, -3.0, -4.0]),   # antiparallel -> -1
        ([0.5, -0.25, 0.125, -0.0625], [0.1, 0.2, -0.3, 0.4]),
        ([1e-6, 2e-6, -3e-6, 4e-6], [5.0, -6.0, 7.0, -8.0]),
        ([100.5, -200.25, 300.125, -0.005], [1.0, 1.0, 1.0, 1.0]),
    ]
    sdf = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(vecs)],
        "i long, a array<double>, b array<double>",
    )
    got = {
        r["i"]: (r["d"], r["c"])
        for r in sdf.select(
            "i",
            dot_fixed("a", "b").alias("d"),
            _pr(cosine("a", "b"), 6).alias("c"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE v(i BIGINT, a DOUBLE[], b DOUBLE[])")
    con.executemany("INSERT INTO v VALUES (?, ?, ?)", [(i, a, b) for i, (a, b) in enumerate(vecs)])
    want = {
        i: (d, c)
        for i, d, c in con.execute(
            f"SELECT i, {sql_dot_fixed('a', 'b')}, {sql_round(sql_cosine('a', 'b'), 6)} FROM v"
        ).fetchall()
    }
    assert set(got) == set(want)
    for i in got:
        assert got[i][0] == want[i][0], (vecs[i], got[i], want[i])
        assert repr(got[i][1]) == repr(want[i][1]), (vecs[i], got[i], want[i])
    assert got[0][1] is None          # zero vector -> NULL cosine, both engines
    assert got[1][1] == 1.0 and got[2][1] == -1.0
