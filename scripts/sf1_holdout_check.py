"""Independent sf1 verification for the 10 queries whose DuckDB oracles
are infeasible at sf1 (SCALING.md: recursive reach CTEs materialize
Σ|cluster|², the brute/OR-join pair oracles are O(n²) in DuckDB, the
unrolled 4-round LPA CTE spills past temp disk, and the r12 copurchase
banded oracles' 48-column minhash hash-agg spills >65 GB).

Each holdout gets an INDEPENDENT expected-result computation that
avoids the oracle formulation's blow-up while keeping bit-exact
semantics (the repo's fixed-point arithmetic is engine-portable by
construction, so the checkers replicate it in numpy/Python exactly):

- components family (dedup_connected_groups, dedup_cluster_size_census,
  dedup_token_savings_by_source): capped candidate pairs computed by
  DuckDB (the exact CTE formulation already sf1-HASH-VERIFIED in r10
  via dedup_minhash_lsh), fixpoint by a PYTHON UNION-FIND (a third
  formulation — neither Spark's star-contraction nor the reach CTE),
  final aggregates in pandas/DuckDB.
- embedding family (dedup_embedding_cosine, dedup_embedding_lsh,
  dedup_embedding_groups): numpy replication of the fixed-point
  dot/cosine semantics (functions/vectors.py) — BLAS prefilter with a
  1e-5 margin (the elementwise-rounding deviation is ≤ 64·0.5e-9 ≈
  3.2e-8 on unit vectors), exact fixed-point recompute on every
  surviving pair, groups again by union-find.
- minhash_jaccard_calibration: pairs + signatures from DuckDB, exact
  char-5-gram Jaccard via Python set intersection per candidate pair
  (the oracle's shingle×shingle join is what spilled).
- part_label_propagation_communities: the SAME oracle SQL executed
  round-by-round with materialized temp tables (sequential DuckDB —
  the unrolled single-statement plan is what spilled, not the rounds).
- copurchase banded family (copurchase_part_similarity,
  copurchase_band_census — r12): the SAME oracle formulation with
  materialized stages and the signature aggregate computed in 16
  hash-partition passes (the single statement's 48-column minhash
  projection is what spilled, not the algebra).

Usage:
  python scripts/sf1_holdout_check.py [--sf-dir testdata_big/sf1]
      [--queries name1,name2] [--skip-spark-secs N]

Prints one MATCH/MISMATCH line per query plus a JSON summary; exits 1
on any mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


# ---------------------------------------------------------------------------
# exact fixed-point replication (functions/vectors.py, portable.py)
# ---------------------------------------------------------------------------
def _fixed(p: np.ndarray) -> np.ndarray:
    """Round half-away-from-zero to 1e-9 units (float64-exact ints)."""
    return np.where(p >= 0, np.floor(p * 1e9 + 0.5), -np.floor(-p * 1e9 + 0.5))


def dot_fixed_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot_fixed of paired rows (n, d) x (n, d) -> (n,) int-valued
    float64 (each term ≤ ~2^31, 64 terms — exact in float64)."""
    return _fixed(A * B).sum(axis=1)


def pround6(x: np.ndarray) -> np.ndarray:
    """pround(x, 6): floor(x·1e6 + 0.5)/1e6, half-away-from-zero."""
    return np.where(
        x >= 0,
        np.floor(x * 1e6 + 0.5) / 1e6,
        -(np.floor(-x * 1e6 + 0.5) / 1e6),
    )


def exact_pair_cosine(V: np.ndarray, daa: np.ndarray, ia, ib):
    """Bit-exact replication of with_pair_cosine for pairs (ia, ib):
    dab = dot_fixed/1e9; cos = dab / (sqrt(daa)·sqrt(dbb)); all float64
    ops in the same order as the Spark/DuckDB expressions."""
    dab = dot_fixed_rows(V[ia], V[ib]) / 1e9
    return dab / (np.sqrt(daa[ia]) * np.sqrt(daa[ib]))


# ---------------------------------------------------------------------------
# Python text pipeline twins (functions/text.py)
# ---------------------------------------------------------------------------
def norm_text_py(t: str) -> str:
    return re.sub(r"\s+", " ", t).strip().lower()


def char_shingles_py(norm: str, n: int = 5) -> set[str]:
    if len(norm) >= n:
        return {norm[i : i + n] for i in range(len(norm) - n + 1)}
    return {norm}


# ---------------------------------------------------------------------------
# union-find with min-id representatives
# ---------------------------------------------------------------------------
def min_id_components(vertices: np.ndarray, src: np.ndarray, dst: np.ndarray):
    """vertex -> min id of its connected component (singletons -> self)."""
    idx = {int(v): i for i, v in enumerate(vertices)}
    parent = np.arange(len(vertices), dtype=np.int64)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, int(parent[x])
        return root

    for s, d in zip(src, dst):
        rs, rd = find(idx[int(s)]), find(idx[int(d)])
        if rs != rd:
            parent[rs] = rd
    roots = np.array([find(i) for i in range(len(vertices))])
    rep = {}
    order = np.argsort(vertices)  # ascending ids → first hit is the min
    for i in order:
        r = roots[i]
        if r not in rep:
            rep[r] = int(vertices[i])
    return np.array([rep[r] for r in roots], dtype=np.int64)


# ---------------------------------------------------------------------------
# shared inputs
# ---------------------------------------------------------------------------
class Ctx:
    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.con = duckdb.connect()
        # sf1's LPA rounds grow a ~20M-edge join state; unbounded,
        # DuckDB's default (80% of RAM) OOM-killed the process on a
        # 128 GB box alongside the Spark JVM. Cap + spill instead.
        self.con.execute("SET memory_limit = '40GB'")
        self.con.execute("SET temp_directory = '/tmp/duckdb_spill'")
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
        self._pairs = None
        self._emb = None
        self._lsh_pairs = None

    def capped_pairs(self) -> pd.DataFrame:
        """Capped banded MinHash-LSH candidate pairs via DuckDB — the
        CTE formulation sf1-hash-verified in r10 (dedup_minhash_lsh)."""
        if self._pairs is None:
            from statcan_etl_pipeline_spark.queries.dedup import (
                LSH_BUCKET_CAP,
                _mh_pairs_ctes,
            )

            sql = (
                f"WITH {_mh_pairs_ctes(max_bucket_size=LSH_BUCKET_CAP)} "
                "SELECT doc_a, doc_b FROM pairs"
            )
            self._pairs = self.con.execute(sql).df()
        return self._pairs

    def embeddings(self):
        if self._emb is None:
            tab = self.con.execute(
                "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
            ).fetch_arrow_table()
            ids = tab.column("vec_id").to_numpy()
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in tab.column("embedding").to_pylist()]
            )
            daa = dot_fixed_rows(V, V) / 1e9
            self._emb = (ids.astype(np.int64), V, daa)
        return self._emb

    def embedding_lsh_verified_pairs(self) -> pd.DataFrame:
        """(vec_a, vec_b, cosine) — numpy replication of
        _embedding_lsh_pairs: deterministic md5 hyperplane sign buckets
        per table, within-bucket candidates, exact fixed-point verify."""
        if self._lsh_pairs is not None:
            return self._lsh_pairs
        from statcan_etl_pipeline_spark.queries.dedup import COS_TAU, LSH_TABLES
        from statcan_etl_pipeline_spark.queries.similarity import _hyperplanes

        ids, V, daa = self.embeddings()
        n = len(ids)
        keys = []
        for t in range(LSH_TABLES):
            planes = np.array(_hyperplanes(n_planes=4, prefix=f"tbl{t}"))
            # sign of exact fixed dot per (vector, plane)
            sgn = np.zeros((n, 4), dtype=np.int64)
            for j in range(4):
                sgn[:, j] = (dot_fixed_rows(V, np.broadcast_to(planes[j], V.shape)) >= 0)
            code = (sgn * (2 ** np.arange(4))).sum(axis=1)
            for b in np.unique(code):
                members = np.where(code == b)[0]
                if len(members) > 1:
                    ia, ib = np.triu_indices(len(members), k=1)
                    keys.append(members[ia].astype(np.int64) * n + members[ib])
        uniq = np.unique(np.concatenate(keys))
        ca, cb = uniq // n, uniq % n
        # exact verify in blocks
        keep_a, keep_b, keep_c = [], [], []
        thr = int(round(COS_TAU * 1e6))
        for s in range(0, len(ca), 2_000_000):
            ia, ib = ca[s : s + 2_000_000], cb[s : s + 2_000_000]
            raw = exact_pair_cosine(V, daa, ia, ib)
            m = (raw >= 0) & (np.floor(raw * 1e6 + 0.5) >= thr)
            keep_a.append(ids[ia[m]])
            keep_b.append(ids[ib[m]])
            keep_c.append(pround6(raw[m]))
        va = np.concatenate(keep_a)
        vb = np.concatenate(keep_b)
        lo, hi = np.minimum(va, vb), np.maximum(va, vb)
        self._lsh_pairs = pd.DataFrame(
            {"vec_a": lo, "vec_b": hi, "cosine": np.concatenate(keep_c)}
        )
        return self._lsh_pairs


# ---------------------------------------------------------------------------
# expected-result builders (one per holdout)
# ---------------------------------------------------------------------------
def _doc_components(ctx: Ctx) -> pd.DataFrame:
    pairs = ctx.capped_pairs()
    doc_ids = ctx.con.execute(
        "SELECT doc_id FROM documents ORDER BY doc_id"
    ).df()["doc_id"].to_numpy()
    rep = min_id_components(
        doc_ids, pairs["doc_a"].to_numpy(), pairs["doc_b"].to_numpy()
    )
    return pd.DataFrame({"doc_id": doc_ids.astype(np.int64), "group_rep": rep})


def exp_dedup_connected_groups(ctx: Ctx) -> pd.DataFrame:
    return _doc_components(ctx)


def exp_dedup_cluster_size_census(ctx: Ctx) -> pd.DataFrame:
    comp = _doc_components(ctx)
    sizes = comp.groupby("group_rep").size()
    census = sizes.value_counts().sort_index()
    cs = census.index.to_numpy(dtype=np.int64)
    nc = census.to_numpy(dtype=np.int64)
    return pd.DataFrame(
        {
            "cluster_size": cs,
            "n_clusters": nc,
            "n_docs": cs * nc,
            "n_dropped_if_deduped": (cs - 1) * nc,
        }
    )


def exp_dedup_token_savings_by_source(ctx: Ctx) -> pd.DataFrame:
    comp = _doc_components(ctx)
    tok = ctx.con.execute(
        "SELECT doc_id, source, CAST(len(string_split("
        "lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT)"
        " AS n_tok FROM documents"
    ).df()
    m = tok.merge(comp, on="doc_id")
    m["dropped"] = (m["group_rep"] != m["doc_id"]).astype(np.int64)
    g = m.groupby("source", sort=True).apply(
        lambda d: pd.Series(
            {
                "n_docs": np.int64(len(d)),
                "n_dropped": np.int64(d["dropped"].sum()),
                "tokens_total": np.int64(d["n_tok"].sum()),
                "tokens_dropped": np.int64((d["n_tok"] * d["dropped"]).sum()),
            }
        ),
        include_groups=False,
    )
    g = g.reset_index()
    pct = g["tokens_dropped"].to_numpy(np.float64) / g["tokens_total"].to_numpy(
        np.float64
    )
    g["savings_pct"] = pround6(pct)
    return g


def exp_dedup_embedding_cosine(ctx: Ctx) -> pd.DataFrame:
    from statcan_etl_pipeline_spark.queries.dedup import COS_TAU

    ids, V, daa = ctx.embeddings()
    n = len(ids)
    norms = np.sqrt(daa)
    thr = int(round(COS_TAU * 1e6))
    out_a, out_b, out_c = [], [], []
    for s in range(0, n, 2000):
        G = V[s : s + 2000] @ V.T  # BLAS prefilter
        C = G / (norms[s : s + 2000, None] * norms[None, :])
        ii, jj = np.where(C >= COS_TAU - 1e-5)
        gi = ii + s
        m = gi < jj  # vec_a < vec_b
        gi, jj = gi[m], jj[m]
        raw = exact_pair_cosine(V, daa, gi, jj)
        keep = (raw >= 0) & (np.floor(raw * 1e6 + 0.5) >= thr)
        out_a.append(ids[gi[keep]])
        out_b.append(ids[jj[keep]])
        out_c.append(pround6(raw[keep]))
    return pd.DataFrame(
        {
            "vec_a": np.concatenate(out_a),
            "vec_b": np.concatenate(out_b),
            "cosine": np.concatenate(out_c),
        }
    )


def exp_dedup_embedding_lsh(ctx: Ctx) -> pd.DataFrame:
    return ctx.embedding_lsh_verified_pairs().copy()


def exp_dedup_embedding_groups(ctx: Ctx) -> pd.DataFrame:
    ids, _, _ = ctx.embeddings()
    pairs = ctx.embedding_lsh_verified_pairs()
    rep = min_id_components(
        ids, pairs["vec_a"].to_numpy(), pairs["vec_b"].to_numpy()
    )
    return pd.DataFrame(
        {
            "vec_id": ids,
            "group_rep": rep,
            "keep": (ids == rep).astype(np.int32),
        }
    )


def exp_minhash_jaccard_calibration(ctx: Ctx) -> pd.DataFrame:
    from statcan_etl_pipeline_spark.operators.dedup import N_HASHES, _mh_expr
    from statcan_etl_pipeline_spark.queries.dedup import _NORM_SQL

    pairs = ctx.capped_pairs()
    mh = ", ".join(f"{_mh_expr(k)} AS mh_{k}" for k in range(N_HASHES))
    from statcan_etl_pipeline_spark.functions.text import sql_char_shingles

    sig = ctx.con.execute(
        f"WITH base AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents), "
        f"sh AS (SELECT DISTINCT doc_id, "
        f"unnest({sql_char_shingles('norm', 5)}) AS sh FROM base) "
        f"SELECT doc_id, {mh} FROM sh GROUP BY doc_id"
    ).df().set_index("doc_id")
    used = np.unique(
        np.concatenate([pairs["doc_a"].to_numpy(), pairs["doc_b"].to_numpy()])
    )
    texts = ctx.con.execute(
        "SELECT doc_id, text FROM documents WHERE doc_id IN "
        f"({','.join(map(str, used.tolist()))})"
    ).df()
    shs = {
        int(r.doc_id): char_shingles_py(norm_text_py(r.text))
        for r in texts.itertuples()
    }
    sa = sig.loc[pairs["doc_a"]].to_numpy()
    sb = sig.loc[pairs["doc_b"]].to_numpy()
    n_match = (sa == sb).sum(axis=1).astype(np.int64)
    exact = np.empty(len(pairs), dtype=np.float64)
    for i, (a, b) in enumerate(zip(pairs["doc_a"], pairs["doc_b"])):
        A, B = shs[int(a)], shs[int(b)]
        c = len(A & B)
        exact[i] = c / (len(A) + len(B) - c)
    return pd.DataFrame(
        {
            "doc_a": pairs["doc_a"].to_numpy(np.int64),
            "doc_b": pairs["doc_b"].to_numpy(np.int64),
            "n_match": n_match,
            "est_jaccard": pround6(n_match.astype(np.float64) / N_HASHES),
            "exact_jaccard": pround6(exact),
        }
    )


def exp_part_label_propagation_communities(ctx: Ctx) -> pd.DataFrame:
    from statcan_etl_pipeline_spark.queries.graph import (
        _LPA_ORDER_CAP,
        _LPA_ROUNDS,
    )

    c = ctx.con
    c.execute(
        "CREATE TEMP TABLE pp AS SELECT DISTINCT l_orderkey AS ok, "
        "l_partkey AS part FROM lineitem"
    )
    c.execute(
        "CREATE TEMP TABLE lpa_edges AS WITH small AS ("
        f"SELECT ok FROM pp GROUP BY ok HAVING count(*) <= {_LPA_ORDER_CAP}"
        "), pairs AS (SELECT a.part AS src, b.part AS dst, "
        "CAST(count(*) AS BIGINT) AS w FROM pp a JOIN small USING (ok) "
        "JOIN pp b USING (ok) WHERE a.part < b.part GROUP BY a.part, b.part) "
        "SELECT src, dst, w FROM pairs UNION ALL "
        "SELECT dst AS src, src AS dst, w FROM pairs"
    )
    c.execute(
        "CREATE TEMP TABLE labels0 AS SELECT DISTINCT part AS node, "
        "CAST(part AS BIGINT) AS lab FROM pp"
    )
    # The oracle's -max(struct_pack(w, -lab)) arg-max is decomposed
    # into plain max + min-over-ties (identical tie-break: largest
    # wsum, then smallest lab): in DuckDB 1.0.0 a struct-max over the
    # ~20M (dst, lab) groups at sf1 ignores memory_limit and OOMs a
    # 128 GB box; max/min aggregates + a join stay under 3 GB.
    for k in range(1, _LPA_ROUNDS + 1):
        c.execute(
            "CREATE TEMP TABLE nb AS "
            f"SELECT e.dst AS node, l.lab AS lab, CAST(sum(e.w) AS BIGINT)"
            f" AS wsum FROM lpa_edges e JOIN labels{k - 1} l ON l.node = e.src"
            " GROUP BY e.dst, l.lab"
        )
        c.execute(
            f"CREATE TEMP TABLE labels{k} AS WITH mx AS ("
            "SELECT node, max(wsum) AS mw FROM nb GROUP BY node"
            "), pick AS (SELECT n.node, min(n.lab) AS newlab FROM nb n "
            "JOIN mx ON n.node = mx.node AND n.wsum = mx.mw GROUP BY n.node) "
            f"SELECT l.node, CAST(coalesce(p.newlab, l.lab) AS BIGINT) AS lab "
            f"FROM labels{k - 1} l LEFT JOIN pick p ON p.node = l.node"
        )
        c.execute("DROP TABLE nb")
    return c.execute(
        f"SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_parts "
        f"FROM labels{_LPA_ROUNDS} GROUP BY lab "
        "ORDER BY n_parts DESC, community LIMIT 25"
    ).df()


# ---------------------------------------------------------------------------
# copurchase banded family (r12): the registered single-statement
# oracle spills >65 GB at sf1 — DuckDB's hash agg materializes the
# minhash projection (48 columns then; 192 since the r13 band
# adoption) of the 44M-row adjacency stream before aggregating. The
# checker executes the SAME formulation with materialized stages (the
# LPA round-by-round precedent): `small` and `deg` as temp tables, the
# signature table built in hash-partition passes sized so each pass's
# agg state stays at the proven r12 level (16 passes × 48 columns ⇒
# 16·(n_hashes/48) passes), then bands/cap/candidates/verify from the
# ~200k-row materialized sig.
# ---------------------------------------------------------------------------
def _copurchase_stage_tables(ctx: Ctx) -> None:
    if getattr(ctx, "_copurchase_staged", False):
        return
    from statcan_etl_pipeline_spark.queries.graph import (
        _SIM_HUB_CAP,
        _SIM_KM_PRIME,
        _SIM_N_HASHES,
        _sim_km_consts,
    )

    ctx.con.execute(
        """CREATE TEMP TABLE cop_edges AS
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"""
    )
    ctx.con.execute(
        """CREATE TEMP TABLE cop_deg AS
SELECT node, CAST(count(*) AS BIGINT) AS d
FROM (SELECT u AS node FROM cop_edges UNION ALL SELECT v FROM cop_edges)
GROUP BY node"""
    )
    ctx.con.execute(
        f"""CREATE TEMP TABLE cop_small AS
SELECT a.node, a.nbr
FROM (SELECT u AS node, v AS nbr FROM cop_edges
      UNION ALL SELECT v AS node, u AS nbr FROM cop_edges) a
JOIN cop_deg ON cop_deg.node = a.node
WHERE cop_deg.d <= {_SIM_HUB_CAP}"""
    )
    # r14 KM scheme (queries/graph._sim_banded_index): one md5 per
    # shingle, mh_k = min((a_k·h + b_k) % P) as BIGINT — same constants,
    # same arithmetic, staged with the same hash-partition pass machinery
    # (BIGINT agg state is ~8× slimmer than the r13 192-string version,
    # but the pass count is kept; extra passes are cheap).
    p = _SIM_KM_PRIME
    mh = ", ".join(
        "min(({a} * h + {b}) % {p}) AS mh_{k}".format(
            a=_sim_km_consts(k)[0], b=_sim_km_consts(k)[1], p=p, k=k
        )
        for k in range(_SIM_N_HASHES)
    )
    hashed = (
        "SELECT nbr, CAST(('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % {p} AS h FROM cop_small"
    )
    ctx.con.execute(
        "CREATE TEMP TABLE cop_sig AS "
        f"SELECT nbr AS part, {mh} FROM ({hashed}) WHERE 1 = 0 GROUP BY part"
    )
    n_passes = 16 * max(1, _SIM_N_HASHES // 48)
    for i in range(n_passes):
        ctx.con.execute(
            "INSERT INTO cop_sig "
            f"SELECT nbr AS part, {mh} FROM ({hashed} "
            f"WHERE nbr % {n_passes} = {i}) "
            "GROUP BY part"
        )
    ctx._copurchase_staged = True


def _copurchase_bands_sql() -> str:
    from statcan_etl_pipeline_spark.queries.graph import (
        _SIM_BAND_ROWS,
        _SIM_KM_PRIME,
        _SIM_N_HASHES,
    )

    n_bands = _SIM_N_HASHES // _SIM_BAND_ROWS
    return " UNION ALL ".join(
        f"SELECT part, {b} AS band, "
        f"mh_{b * _SIM_BAND_ROWS} * {_SIM_KM_PRIME} "
        f"+ mh_{b * _SIM_BAND_ROWS + 1} AS key FROM cop_sig"
        for b in range(n_bands)
    )


def exp_copurchase_part_similarity(ctx: Ctx) -> pd.DataFrame:
    from statcan_etl_pipeline_spark.queries.graph import _SIM_BUCKET_CAP

    _copurchase_stage_tables(ctx)
    df = ctx.con.execute(
        f"""
WITH bands AS ({_copurchase_bands_sql()}),
cold AS (
  SELECT band, key FROM bands GROUP BY band, key
  HAVING count(*) <= {_SIM_BUCKET_CAP}
), kept AS (
  SELECT b.part, b.band, b.key
  FROM bands b JOIN cold c ON b.band = c.band AND b.key = c.key
), cand AS (
  SELECT DISTINCT a.part AS part_x, b.part AS part_y
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.key = b.key AND a.part < b.part
), common AS (
  SELECT c.part_x, c.part_y, CAST(count(*) AS BIGINT) AS common
  FROM cand c
  JOIN cop_small sa ON sa.nbr = c.part_x
  JOIN cop_small sb ON sb.nbr = c.part_y AND sb.node = sa.node
  GROUP BY c.part_x, c.part_y
)
SELECT part_x, part_y, common, dx.d AS deg_x, dy.d AS deg_y,
       (CAST(common AS DOUBLE) / CAST(dx.d + dy.d - common AS DOUBLE))
         AS jaccard_raw
FROM common
JOIN cop_deg dx ON dx.node = part_x
JOIN cop_deg dy ON dy.node = part_y
WHERE common >= 3
  AND (CAST(common AS DOUBLE) / CAST(dx.d + dy.d - common AS DOUBLE)) >= 0.1
ORDER BY part_x, part_y
"""
    ).df()
    df["jaccard"] = pround6(df["jaccard_raw"].to_numpy(np.float64))
    return df.drop(columns=["jaccard_raw"])


def exp_copurchase_band_census(ctx: Ctx) -> pd.DataFrame:
    from statcan_etl_pipeline_spark.queries.graph import _SIM_BUCKET_CAP

    _copurchase_stage_tables(ctx)
    return ctx.con.execute(
        f"""
WITH bands AS ({_copurchase_bands_sql()}),
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
       CAST(bucket_size > {_SIM_BUCKET_CAP} AS INT) AS capped
FROM census
ORDER BY bucket_size
"""
    ).df()


def exp_copurchase_minhash_calibration(ctx: Ctx) -> pd.DataFrame:
    """r14: the KM estimator-quality report from the SAME staged
    cop_sig/cop_small tables — agree count via the balanced CASE-sum
    (graph._balanced_sum, DuckDB binder-depth safe), micro-unit
    integer sums, floor bucketing; mirrors the registered oracle with
    the single-statement sig agg replaced by the staged table."""
    from statcan_etl_pipeline_spark.queries.graph import (
        _SIM_BUCKET_CAP,
        _SIM_N_HASHES,
        _balanced_sum,
    )

    _copurchase_stage_tables(ctx)
    agree = _balanced_sum(
        [
            f"(CASE WHEN sa.mh_{k} = sb.mh_{k} THEN 1 ELSE 0 END)"
            for k in range(_SIM_N_HASHES)
        ]
    )
    return ctx.con.execute(
        f"""
WITH bands AS MATERIALIZED ({_copurchase_bands_sql()}),
cold AS (
  SELECT band, key FROM bands GROUP BY band, key
  HAVING count(*) <= {_SIM_BUCKET_CAP}
), kept AS MATERIALIZED (
  SELECT b.part, b.band, b.key
  FROM bands b JOIN cold c ON b.band = c.band AND b.key = c.key
), cand AS MATERIALIZED (
  SELECT DISTINCT a.part AS part_x, b.part AS part_y
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.key = b.key AND a.part < b.part
), counts AS (
  SELECT nbr AS part, CAST(count(*) AS BIGINT) AS n
  FROM cop_small GROUP BY nbr
), common AS (
  SELECT c.part_x, c.part_y, CAST(count(*) AS BIGINT) AS common
  FROM cand c
  JOIN cop_small sa ON sa.nbr = c.part_x
  JOIN cop_small sb ON sb.nbr = c.part_y AND sb.node = sa.node
  GROUP BY c.part_x, c.part_y
), per_pair AS (
  SELECT CAST(floor(({agree}) * 1000000.0 / {_SIM_N_HASHES} + 0.5) AS BIGINT)
           AS est_u,
         CAST(floor(coalesce(cm.common, 0) * 1000000.0
                    / (ca.n + cb.n - coalesce(cm.common, 0)) + 0.5) AS BIGINT)
           AS exact_u
  FROM cand c
  JOIN cop_sig sa ON sa.part = c.part_x
  JOIN cop_sig sb ON sb.part = c.part_y
  LEFT JOIN common cm ON cm.part_x = c.part_x AND cm.part_y = c.part_y
  JOIN counts ca ON ca.part = c.part_x
  JOIN counts cb ON cb.part = c.part_y
)
SELECT CAST(floor(exact_u / 100000.0) AS INT) AS j_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       sum(est_u) / (count(*) * 1000000.0) AS avg_est_raw,
       sum(exact_u) / (count(*) * 1000000.0) AS avg_exact_raw,
       sum(abs(est_u - exact_u)) / (count(*) * 1000000.0) AS err_raw
FROM per_pair
GROUP BY j_bucket
ORDER BY j_bucket
"""
    ).df().assign(
        avg_est_jaccard=lambda d: pround6(d.pop("avg_est_raw").to_numpy(np.float64)),
        avg_exact_jaccard=lambda d: pround6(
            d.pop("avg_exact_raw").to_numpy(np.float64)
        ),
        mean_abs_err=lambda d: pround6(d.pop("err_raw").to_numpy(np.float64)),
    )


HOLDOUTS = {
    "copurchase_part_similarity": exp_copurchase_part_similarity,
    "copurchase_band_census": exp_copurchase_band_census,
    "copurchase_minhash_calibration": exp_copurchase_minhash_calibration,
    "dedup_connected_groups": exp_dedup_connected_groups,
    "dedup_cluster_size_census": exp_dedup_cluster_size_census,
    "dedup_token_savings_by_source": exp_dedup_token_savings_by_source,
    "dedup_embedding_cosine": exp_dedup_embedding_cosine,
    "dedup_embedding_lsh": exp_dedup_embedding_lsh,
    "dedup_embedding_groups": exp_dedup_embedding_groups,
    "minhash_jaccard_calibration": exp_minhash_jaccard_calibration,
    "part_label_propagation_communities": exp_part_label_propagation_communities,
}


def _aligned(col: pd.Series) -> np.ndarray:
    if col.dtype.kind in "iu":
        return col.to_numpy(np.int64)
    if col.dtype.kind == "f":
        return col.to_numpy(np.float64)
    return col.astype(str).to_numpy()


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> tuple[bool, str]:
    if list(got.columns) != list(exp.columns):
        return False, f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return False, f"rows {len(got)} != {len(exp)}"
    cols = list(got.columns)
    g = got.sort_values(cols).reset_index(drop=True)
    e = exp.sort_values(cols).reset_index(drop=True)
    for c in cols:
        a, b = _aligned(g[c]), _aligned(e[c])
        if a.dtype.kind == "f":
            ok = ((a == b) | (np.isnan(a) & np.isnan(b))).all()
        else:
            ok = (a == b).all()
        if not ok:
            i = int(np.nonzero(~(a == b))[0][0])
            return False, f"col {c} first diff at sorted row {i}: {a[i]!r} != {b[i]!r}"
    return True, ""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="testdata_big/sf1")
    ap.add_argument("--queries", default=None)
    args = ap.parse_args()
    names = args.queries.split(",") if args.queries else list(HOLDOUTS)

    from statcan_etl_pipeline_spark.registry import QUERIES
    from statcan_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="sf1_holdout_check")
    ctx = Ctx(args.sf_dir)
    results = {}
    failed = []
    for name in names:
        t0 = time.time()
        got = QUERIES[name](spark, args.sf_dir).toPandas()
        t_spark = time.time() - t0
        t0 = time.time()
        exp = HOLDOUTS[name](ctx)
        t_check = time.time() - t0
        ok, why = compare(got, exp)
        results[name] = {
            "match": ok,
            "rows": len(got),
            "spark_s": round(t_spark, 1),
            "checker_s": round(t_check, 1),
        }
        status = "MATCH" if ok else f"MISMATCH ({why})"
        print(
            f"{name}: {status} rows={len(got)} "
            f"spark={t_spark:.1f}s checker={t_check:.1f}s",
            flush=True,
        )
        if not ok:
            failed.append(name)
    print(json.dumps({"sf_dir": args.sf_dir, "results": results}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
