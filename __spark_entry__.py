"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``fund_data_etl_pipeline_spark`` package; this
module only re-exports the plan registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fund_data_etl_pipeline_spark import plans  # noqa: E402

plans.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    sf_dir = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
    return plans.QUERIES["pricing_summary"](spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order."""
    return plans.QUERIES


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each SQL-expressible query."""
    return plans.ORACLES
