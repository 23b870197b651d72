"""Helpers shared by several test modules."""

from __future__ import annotations

import importlib.util
import os
import sys

from statcan_etl_pipeline_spark.registry import QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def executed_plan(spark, name, sf_dir) -> str:
    """The executed physical plan of registered query `name`, as text."""
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def load_sf1_checker():
    """Import scripts/sf1_holdout_check.py (not a package module) once
    per process."""
    if "sf1_holdout_check" in sys.modules:
        return sys.modules["sf1_holdout_check"]
    spec = importlib.util.spec_from_file_location(
        "sf1_holdout_check", os.path.join(REPO, "scripts", "sf1_holdout_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["sf1_holdout_check"] = mod
    spec.loader.exec_module(mod)
    return mod
