"""Arrow execution surfaces: cogrouped applyInPandas + mapInArrow.

The parity suite already hash-checks both queries against DuckDB; here
we pin (a) semantic equivalence of the cogrouped merge_asof against the
JVM-native union+carry as-of operator, and (b) that the intended Arrow
exec nodes actually appear in the physical plans.
"""

from __future__ import annotations

from statcan_etl_pipeline_spark.registry import QUERIES

from .helpers import executed_plan


def test_cogrouped_asof_matches_jvm_asof(spark, sf_small):
    """pandas.merge_asof inside a cogroup must reproduce the JVM
    union+carry as-of join row-for-row (same backward/exact-match/
    max-view_id-tie contract)."""
    cg = {
        tuple(r)
        for r in QUERIES["asof_join_cogrouped"](spark, sf_small).collect()
    }
    jvm = {
        tuple(r)
        for r in QUERIES["asof_join_purchase_to_view"](spark, sf_small).collect()
    }
    assert cg == jvm
    assert len(cg) > 0


def test_cogrouped_asof_plan_has_cogroup_node(spark, sf_small):
    plan = executed_plan(spark, "asof_join_cogrouped", sf_small)
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan


def test_map_in_arrow_plan_has_arrow_node(spark, sf_small):
    plan = executed_plan(spark, "doc_token_arrow_stats", sf_small)
    assert "MapInArrow" in plan, plan
    # the per-source aggregation still gets a map-side partial combine
    assert "partial_" in plan


def test_map_in_arrow_prunes_unused_columns(spark, sf_small):
    """The documents scan under mapInArrow must read only (source,
    text) — lang / n_chars / doc_id stay pruned."""
    plan = executed_plan(spark, "doc_token_arrow_stats", sf_small)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all("n_chars" not in ln and "lang" not in ln for ln in read)


def test_grouped_apply_in_pandas_matches_jvm_agg(spark, sf_small):
    """Plain grouped-map applyInPandas (the non-cogroup batch surface):
    per-segment order stats computed in pandas must equal the JVM
    groupBy aggregate exactly — integer cents make the comparison
    bit-safe. Completes the Python-exec matrix: scalar pandas_udf,
    mapInPandas, mapInArrow, cogrouped applyInPandas,
    applyInPandasWithState are each pinned elsewhere."""
    import pyspark.sql.functions as F

    from statcan_etl_pipeline_spark.catalog import load_table
    from statcan_etl_pipeline_spark.functions.portable import cents

    orders = load_table(spark, sf_small, "orders")
    cust = load_table(spark, sf_small, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), cents("o_totalprice").alias("pc")
    )

    def stats(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "segment": [pdf["segment"].iloc[0]],
                "n": [len(pdf)],
                "total_c": [int(pdf["pc"].sum())],
                "max_c": [int(pdf["pc"].max())],
            }
        )

    got = {
        tuple(r)
        for r in j.groupBy("segment")
        .applyInPandas(stats, "segment string, n long, total_c long, max_c long")
        .collect()
    }
    want = {
        tuple(r)
        for r in j.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pc").cast("long").alias("total_c"),
            F.max("pc").cast("long").alias("max_c"),
        )
        .collect()
    }
    assert got == want and got

    plan = (
        j.groupBy("segment")
        .applyInPandas(stats, "segment string, n long, total_c long, max_c long")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapGroupsInPandas" in plan, plan
