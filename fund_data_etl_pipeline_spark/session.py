"""SparkSession factory.

Local development runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
settings are chosen so the plans survive a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast);
- ``spark.sql.shuffle.partitions`` sized to cores locally — on a real
  cluster AQE's coalescePartitions makes the initial number forgiving;
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas);
- session timezone pinned to UTC so date arithmetic is reproducible and
  matches the DuckDB oracle;
- the JVM-wide cache of generated (Janino) classes,
  ``spark.sql.codegen.cache.maxEntries``, sized to keep every class a
  session compiles (``CODEGEN_CACHE_MAX``). At Spark's default of 100
  entries a second ``run_all`` recompiled about 105 of the 119 classes
  its first run compiled, and a second toolkit pass 235 of its 266:
  each recompile pays Janino CPU and fresh JIT work again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated-class cache entries (a static conf: set before the session
# starts). One session over every registered query at sf0.01 (the
# tools/check_correctness.py set) compiles 1,185 distinct classes, and a
# run_all after it 87 more: 1,272 in all, on Spark 4.1. The cap leaves
# room for the other scale factor's AQE shapes and new queries.
CODEGEN_CACHE_MAX = 2048


def get_spark(
    app_name: str = "fund-data-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SQL_SHUFFLE_PARTITIONS", str(cpus))
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
