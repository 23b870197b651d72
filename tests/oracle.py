"""DuckDB-oracle parity, compared exactly as the driver compares:
same column set, same row count, and the same md5 over the sorted
`repr` rows with columns taken in name order."""

from __future__ import annotations

import duckdb

from statcan_etl_pipeline_spark.catalog import TABLES, table_path


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def canonical_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    """The exact list the driver hashes: `md5(repr(canonical_rows(...)))`.
    Equal lists give equal hashes, so comparing them is the driver's verdict."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(r[i]) for i in order) for r in rows)


def diff(a_cols: list[str], a_rows: list[tuple],
         b_cols: list[str], b_rows: list[tuple]) -> str:
    """Empty when the two results match under the driver's comparison,
    else the first difference: column set, row count, or canonical row."""
    if sorted(a_cols) != sorted(b_cols):
        return (f"columns differ: only in a={sorted(set(a_cols) - set(b_cols))} "
                f"only in b={sorted(set(b_cols) - set(a_cols))}")
    if len(a_rows) != len(b_rows):
        return f"row count a={len(a_rows)} b={len(b_rows)}"
    ca, cb = canonical_rows(a_cols, a_rows), canonical_rows(b_cols, b_rows)
    for i, (ra, rb) in enumerate(zip(ca, cb)):
        if ra != rb:
            return f"canonical row {i} of {sorted(a_cols)} differs\n a={ra}\n b={rb}"
    return ""


def assert_parity(spark, name: str, sf_dir: str) -> None:
    from statcan_etl_pipeline_spark.registry import ORACLES, QUERIES

    sdf = QUERIES[name](spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duck_connection(sf_dir)
    res = con.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()

    d = diff(list(sdf.columns), spark_rows, duck_cols, duck_rows)
    assert not d, f"{name} (a=spark, b=duckdb): {d}"
