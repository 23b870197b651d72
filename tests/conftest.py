from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from statcan_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_MED = os.environ.get("SPARK_GRAFT_SF_MED", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    s = get_spark(
        app_name="pytest",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        extra_conf={
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("spark_warehouse"))
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_med() -> str:
    return SF_MED
