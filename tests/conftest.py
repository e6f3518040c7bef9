from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from fund_data_etl_pipeline_spark.session import get_spark

    # Small core count keeps test startup fast; plans must not depend on
    # parallelism anyway.
    spark = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
