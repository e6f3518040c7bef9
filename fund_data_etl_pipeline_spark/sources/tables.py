"""Parquet loaders for the synthetic star schema (TESTDATA.md).

All reads are plain ``spark.read.parquet`` — Catalyst pushes filters and
prunes columns into the scan, so loaders never pre-select; callers declare
what they need and the optimizer trims the ``ReadSchema``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# vector width per (parquet part file realpath, mtime_ns) — a plain
# str/int dict, deliberately NOT keyed by any Spark plan object (the r12
# semanticHash-keyed memo was reverted over a suspected session
# coupling; r13 root-caused that as host-VM noise — BASELINE.md
# lesson 19, OPTIMIZATION_r13.md — but a filesystem key is
# still the right key: it invalidates exactly when the data changes)
_VEC_WIDTH_CACHE: dict[tuple[str, int], int] = {}


def _vector_width(path: str, column: str) -> int | None:
    """Width of the list column's first value, read DRIVER-SIDE with
    pyarrow (one 1-row batch from one part file — no Spark job). Feeds
    the ``dims`` StructField metadata that lets
    operators/similarity.check_dims take its schema-first branch
    instead of a per-build LIMIT-1 Spark job (VERDICT r12 #3). Returns
    None (callers then leave metadata off and check_dims probes) on any
    read problem or an empty/NULL first value — never raises: width
    validation has a fallback path, loading must not."""
    try:
        import pyarrow.parquet as pq

        part = path
        if os.path.isdir(path):
            part = next(
                (
                    os.path.join(root, f)
                    for root, _dirs, files in os.walk(path)
                    for f in sorted(files)
                    if f.endswith(".parquet")
                ),
                None,
            )
            if part is None:
                return None
        key = (os.path.realpath(part), os.stat(part).st_mtime_ns)
        if key in _VEC_WIDTH_CACHE:
            return _VEC_WIDTH_CACHE[key]
        pf = pq.ParquetFile(part)
        batch = next(pf.iter_batches(batch_size=1, columns=[column]), None)
        if batch is None or batch.num_rows == 0:
            return None
        val = batch.column(0)[0].as_py()
        if val is None:
            return None
        _VEC_WIDTH_CACHE[key] = len(val)
        return len(val)
    except Exception:  # noqa: BLE001 — any failure falls back to the probe
        return None


def table_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count of a testdata table from its parquet FOOTERS,
    read driver-side with pyarrow — no Spark job. The footer num_rows
    is exact metadata (written by the producer), so this equals
    ``load_table(...).count()`` by the parquet spec; callers that size
    an adaptive parameter from an unfiltered corpus count (e.g. the
    slsh_planes signature-width ladder) use it to skip a driver-blocked
    COUNT job per build (guide §1.2: the cheapest job is the one whose
    answer was already on disk — the dims-metadata precedent). Returns
    None on any read problem; callers then fall back to ``.count()``."""
    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isfile(path):
            parts = [path]
        else:
            parts = [
                os.path.join(root, f)
                for root, _dirs, files in os.walk(path)
                for f in files
                if f.endswith(".parquet")
            ]
            if not parts:
                return None
        return sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    except Exception:  # noqa: BLE001 — metadata is an optimization only
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "embeddings":
        df = spark.read.parquet(path)
        # Attach the vector width as column metadata so downstream
        # check_dims callers validate schema-first with NO Spark job.
        # PRODUCER CONTRACT (similarity.check_dims docstring): this
        # metadata is only attached here, where the width is read from
        # the same files the DataFrame scans; any transform that
        # changes the vector width must strip/refresh it.
        w = _vector_width(path, "embedding")
        if w is not None:
            df = df.withMetadata("embedding", {"dims": w})
        return df
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark's
        # vectorized reader rejects) in some generator versions and as plain
        # TIMESTAMP(MICROS) in others. Enable the nanos-as-long fallback
        # (a no-op for micros) and adapt on the decoded type so both
        # generations load to a microsecond timestamp.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":  # raw nanos from the legacy fallback
            df = df.withColumn(
                "ts", F.expr("timestamp_micros(cast(ts / 1000 as long))")
            )
        elif ts_type == "timestamp_ntz":
            # session tz is pinned to UTC (session.py), so this cast is a
            # pure type-system normalization with identical wall-clock values
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
