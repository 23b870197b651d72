"""Query + oracle registry.

Every operator from SURVEY.md §2 registers a (spark, sf_dir) -> DataFrame
callable and, when SQL-expressible, a DuckDB oracle SQL string with the
SAME output column names. The driver (and our pytest parity suite) runs
both and compares row counts, schemas, and order-insensitive value
hashes.

Conventions that keep cross-engine hashes stable:
- every computed column is aliased identically on both sides;
- doubles are rounded *inside the query* on both sides;
- timestamps/dates are rendered to ISO strings on both sides;
- integer-valued computed columns are cast to BIGINT on both sides;
- any LIMIT/top-k is ordered with a unique tie-break key.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; `oracle` is DuckDB SQL over the pre-registered
    views (region nation customer supplier part orders lineitem events
    documents embeddings). Omit for non-SQL-expressible ops (driver then
    records a weaker rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _load_all() -> None:
    """Import every module under queries/ for its registration side
    effects; the directory is the only list of query modules."""
    from . import queries

    for mod in sorted(m.name for m in pkgutil.iter_modules(queries.__path__)):
        importlib.import_module(f"{queries.__name__}.{mod}")


_load_all()
