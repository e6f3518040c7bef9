"""Sinks (SURVEY.md §2.1 S6-S8).

Canonical sink: date-partitioned parquet (the reference's one-Excel-per-
job-per-day output folder, e.g. dividend_extractor.py:1445-1453, becomes
``partitionBy(date)``). Excel is a driver-side compat shim over small
outputs only — gated on openpyxl, CSV fallback otherwise. The quarantine
sink persists the failure side-channel (S7) instead of a log line.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import CN_NAMES


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("biz_date",),
    mode: str = "overwrite",
) -> bool:
    """S6 — canonical parquet sink. Returns False on an empty result (the
    reference's empty-result guard Q2 aborts the job instead of writing an
    empty file, dividend_extractor.py:1440-1442).

    The plan executes once: the row count is observed on the write itself
    (no ``isEmpty`` probe re-running the plan first), and on a zero count
    whatever this call wrote is deleted again — the whole path when the
    call created or replaced it, only the new top-level entries (an empty
    write adds no partition directories) when it appended to, ignored or
    dynamically overwrote an existing path, so older data is never
    removed."""
    from pyspark.sql import Observation

    spark = df.sparkSession
    cols = [c for c in partition_cols if c in df.columns]
    replaces = mode.lower() == "overwrite" and not (
        cols
        and spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        == "dynamic"
    )
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    before = None if replaces or not fs.exists(hpath) else _entries(fs, hpath)
    rows = Observation()
    observed = df.observe(rows, F.count(F.lit(1)).alias("n"))
    writer = observed.write.mode(mode)
    if cols:
        writer = writer.partitionBy(*cols)
    writer.parquet(path)
    if rows.get["n"]:
        return True
    if before is None:
        fs.delete(hpath, True)
    else:
        for name, entry in _entries(fs, hpath).items():
            if name not in before:
                fs.delete(entry, True)
    return False


def _entries(fs, hpath) -> dict:
    """The entries directly under a directory: name -> Hadoop Path."""
    return {s.getPath().getName(): s.getPath() for s in fs.listStatus(hpath)}


def write_excel_compat(
    df: DataFrame, path: str, cn_headers: bool = True, max_rows: int = 100_000
) -> str:
    """Excel-compat shim (reference parity, dividend_extractor.py:
    1445-1453): collects to pandas — small outputs only — renames to the
    reference's Chinese headers, and NULL -> '' (the reference's
    empty-string placeholders live ONLY here, §1.2). Returns the written
    path.

    Engine choice: a ``.xls`` target uses the built-in pure-Python BIFF8
    writer (operators/xls_writer.py — true legacy format, matching the
    reference's filenames); ``.xlsx`` uses openpyxl when available; CSV
    is the last-resort fallback.
    """
    pdf = df.limit(max_rows).toPandas()
    if cn_headers:
        pdf = pdf.rename(columns=CN_NAMES)
    pdf = pdf.fillna("")
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    if path.lower().endswith(".xls"):
        from .xls_writer import write_xls

        pdf = pdf.iloc[:65535]  # BIFF8 hard row limit (65536 incl. header)
        return write_xls(
            path, list(pdf.columns), pdf.itertuples(index=False, name=None)
        )
    try:
        import openpyxl  # noqa: F401

        pdf.to_excel(path, sheet_name="Sheet1", index=False, engine="openpyxl")
        return path
    except ImportError:
        csv_path = os.path.splitext(path)[0] + ".csv"
        pdf.to_csv(csv_path, index=False)
        return csv_path


# Per-job output filenames, matching the reference's one-Excel-per-job
# convention (dividend_extractor.py:1449,1478; purchase_extractor.py:1132;
# purchase_confirm_extractor.py:1632; redemption_extractor.py:1351;
# conversion_extractor.py:343; manual_*_extractor.py:367-370).
EXCEL_JOB_FILENAMES = {
    "dividend": "【境内基金业务】红利再投.xls",
    "dividend_merged": "【境内基金业务】红利再投_合并后.xls",
    "purchase_apply": "【境内基金业务】申购申请.xls",
    "purchase_confirm": "【境内基金业务】申购确认.xls",
    "redemption_confirm": "【境内基金业务】赎回确认.xls",
    "conversion": "【境内基金业务】超级转换确认.xls",
    "manual_apply": "【境内理财产品】申购申请.xlsx",
    "manual_confirm": "【境内理财产品】申购确认.xlsx",
    "manual_redemption": "【境内理财产品】赎回确认.xlsx",
    "manual_dividend": "【境内理财产品】红利除权.xlsx",
}


def excel_job_path(out_dir: str, job: str) -> str:
    """The reference-parity Excel path for a job's compat output."""
    return os.path.join(out_dir, EXCEL_JOB_FILENAMES.get(job, f"{job}.xlsx"))


def write_quarantine(df: DataFrame, path: str) -> int:
    """S7 — persist failed/unmatched rows with their reason; returns the
    quarantined row count (the reference's failed-files counter,
    dividend_extractor.py:1432-1438). The count is observed on the write:
    one execution of the upstream plan, no read-back."""
    from pyspark.sql import Observation

    rows = Observation()
    df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(path)
    return rows.get["n"]


def audit_summary(parsed: DataFrame) -> DataFrame:
    """A2 — per-status counts over the parsed corpus."""
    return parsed.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


def write_sized(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = (),
    target_rows_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> int:
    """Small-file-aware parquet sink: coalesce output into files of
    ~``target_rows_per_file`` rows (tune so files land near the
    100-200 MB parquet sweet spot for the schema at hand).

    The 100 TB problem this solves: a 1000-task stage writing into N
    hive partitions produces up to 1000*N files; downstream scans then
    pay per-file open/footer costs and the namenode holds the metadata.
    The fix is a row-count-driven repartition BEFORE the write:

    - unpartitioned: one count (cheap columnless scan) sizes a
      round-robin ``repartition(ceil(n/target))`` — every file lands
      within rounding of the target. The count doubles as the Q2
      empty-result guard, so the upstream plan runs twice total (count +
      write), not three times (the old isEmpty/count/write chain).
    - hive-partitioned: repartition on (partition key, file slot) where
      the slot count is sized from THAT PARTITION VALUE's row count (a
      tiny per-value count table broadcast back onto the rows,
      NULL-safe on the keys). Sizing every value from the largest
      (the pre-r11 form) shattered small partitions into `slots`
      near-empty files each — one 50M-row day next to 364 1k-row days
      wrote ~50 files per small day, the very pathology this sink
      exists to prevent. Each output task writes at most one file per
      partition value it holds; ``maxRecordsPerFile`` backstops
      residual skew inside a slot.

    Returns the number of files THIS CALL wrote (before/after listing
    diff, so ``mode='append'`` doesn't count pre-existing files). This
    is the batch analogue of Delta/Iceberg OPTIMIZE file compaction,
    expressed with nothing but repartition + maxRecordsPerFile."""
    import math

    spark = df.sparkSession

    def _files() -> set[str]:
        from pyspark.errors import AnalysisException

        try:
            return {
                r["path"]
                for r in spark.read.format("binaryFile")
                .option("pathGlobFilter", "*.parquet")
                .option("recursiveFileLookup", "true")
                .load(path)
                .select("path")
                .collect()
            }
        except AnalysisException as e:
            # only "path does not exist yet" is expected; a transient
            # listing failure must propagate, not read as a 0 file count.
            # Match the STRUCTURED error class, not the rendered message
            # (ADVICE r12: the message text is a Spark-version artifact);
            # the substring check remains only as the fallback for a
            # build where the condition accessor returns None.
            cond = None
            for attr in ("getCondition", "getErrorClass"):
                fn = getattr(e, attr, None)
                if callable(fn):
                    try:
                        cond = fn()
                    except Exception:  # noqa: BLE001 — accessor drift
                        cond = None
                    if cond is not None:
                        break
            if cond == "PATH_NOT_FOUND" or (
                cond is None and "PATH_NOT_FOUND" in str(e)
            ):
                return set()
            raise

    cols = [c for c in partition_cols if c in df.columns]
    if not cols:
        n = df.count()
        if n == 0:
            return 0
        writer_df = df.repartition(max(1, math.ceil(n / target_rows_per_file)))
    else:
        from pyspark.sql.types import IntegerType, StructField, StructType

        counts = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__n"))
        # collect the tiny per-partition-value counts table ONCE (one row
        # per partition value — bounded by the sink's layout, not the
        # data): it serves both the Q2 emptiness guard and the broadcast
        # join, so the upstream plan executes twice total (counts + the
        # write), not three times (guard-count + join-recompute + write)
        count_rows = counts.collect()
        if not count_rows:
            return 0
        key_fields = [
            StructField(f"__k_{f.name}", f.dataType, True)
            for f in counts.schema.fields
            if f.name != "__n"
        ]
        slot_tbl = spark.createDataFrame(
            [
                tuple(r[c] for c in cols)
                + (max(1, math.ceil(r["__n"] / target_rows_per_file)),)
                for r in count_rows
            ],
            StructType(key_fields + [StructField("__slots", IntegerType(), False)]),
        )
        cond = None
        for c in cols:
            e = F.col(c).eqNullSafe(F.col(f"__k_{c}"))
            cond = e if cond is None else (cond & e)
        writer_df = (
            df.join(F.broadcast(slot_tbl), cond)
            .withColumn(
                "__slot",
                F.pmod(F.abs(F.hash(*df.columns)), F.col("__slots")),
            )
            .repartition(*cols, F.col("__slot"))
            .drop("__slot", "__slots", *[f"__k_{c}" for c in cols])
        )
    before = _files() if mode == "append" else set()
    writer = writer_df.write.mode(mode).option(
        "maxRecordsPerFile", target_rows_per_file
    )
    if cols:
        writer = writer.partitionBy(*cols)
    writer.parquet(path)
    return len(_files() - before)
