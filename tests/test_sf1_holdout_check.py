"""Pin scripts/sf1_holdout_check.py's independent checkers against the
REGISTERED DuckDB oracles at the gate SF.

The checker script verifies, at sf1, the 10 queries whose oracle
formulations are infeasible there (recursive reach CTEs, O(n²) pair
joins, the unrolled 4-round LPA plan, the r12 copurchase banded
oracles' spilling minhash hash-agg — see SCALING.md). Its evidence is
only as good as the checkers' semantics, so this test proves each
checker reproduces its query's registered oracle EXACTLY where the
oracle does run: expected-result builder vs `ORACLES[name]` in DuckDB,
row-for-row, at sf0.001 (documents/embeddings there are the SAME
500-row tables sf0.01 ships — TESTDATA.md — so only the LPA rounds see
fewer lineitem rows; the driver gate covers sf0.01 itself). No Spark
session involved — this pins checker == oracle; the driver gate pins
spark == oracle; sf1 then closes spark == checker at the 990× decade.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from .helpers import load_sf1_checker
from .oracle import diff

SF_DIR = os.environ.get("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.001")


chk = load_sf1_checker()


# The two embedding-pair queries' oracles are O(n²·dim) in DuckDB (the
# OR-join candidate CTE is re-evaluated inside the recursive reach) —
# 500 vectors cost ~200 s. Their semantics don't need all 500 rows to
# pin, so they run against a 120-vector view; everything else runs on
# the full gate tables.
_SMALL_EMB = {"dedup_embedding_lsh", "dedup_embedding_groups"}


@pytest.fixture(scope="module")
def ctx():
    return chk.Ctx(SF_DIR)


@pytest.fixture(scope="module")
def ctx_small():
    c = chk.Ctx(SF_DIR)
    c.con.execute(
        "CREATE OR REPLACE VIEW embeddings AS SELECT * FROM ("
        f"SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet') "
        "ORDER BY vec_id LIMIT 120)"
    )
    return c


@pytest.mark.parametrize("name", sorted(chk.HOLDOUTS))
def test_checker_matches_registered_oracle(ctx, ctx_small, name):
    from statcan_etl_pipeline_spark.registry import ORACLES

    c = ctx_small if name in _SMALL_EMB else ctx
    res = c.con.execute(ORACLES[name])
    cols = [d[0] for d in res.description]
    oracle = res.fetchall()
    expected = chk.HOLDOUTS[name](c)
    assert list(expected.columns) == cols
    why = diff(cols, oracle, cols, chk.rows(expected))
    assert not why, f"{name}: checker != oracle at {SF_DIR}: {why}"


def test_fixed_point_helpers_match_portable_semantics():
    """pround6 / dot_fixed replicas: half-away-from-zero at the exact
    boundary, negative branch, and integer-exact accumulation."""
    x = np.array([0.1234565, -0.1234565, 0.4, 1e-7, -1e-7])
    assert chk.pround6(x).tolist() == [0.123457, -0.123457, 0.4, 0.0, -0.0]
    a = np.array([[0.5, -0.25, 1.0]])
    b = np.array([[1.0, 1.0, 1e-10]])
    # per-element: 0.5e9, -0.25e9, round(0.1) = 0 -> sum 0.25e9
    assert chk.dot_fixed_rows(a, b).tolist() == [0.25e9]


def test_min_id_components_basic():
    verts = np.array([5, 3, 9, 7, 1])
    rep = chk.min_id_components(
        verts, np.array([5, 9]), np.array([3, 7])
    )
    # {5,3} -> 3, {9,7} -> 7, {1} -> 1
    assert rep.tolist() == [3, 3, 7, 7, 1]
