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

