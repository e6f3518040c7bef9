"""The reference's 9 job pipelines, re-expressed as single-scan Spark plans
(SURVEY.md §3, §7).

Scale design: each job is ONE declarative pipeline over the document
corpus —

    scan -> filename prefilter (S2, before any parsing)
         -> classify (C1 ordered CASE -> ``platform``)
         -> per-platform record extraction compiled into ONE
            ``array<struct>`` column via a second CASE (CASE WHEN
            evaluates only the matched branch per row), multi-record
            platforms (F1-F4) produce >1 element
         -> a single ``explode`` (the flatMap)
         -> normalize (clean/cast/round/dates/constants)
         -> broadcast dimension join (J1)
         -> target-schema select (N5)

No per-platform branch re-scans the corpus, no Python UDFs anywhere, and
the only shuffles are the optional final aggregation (A1) — at 100 TB the
whole extract stage is a map-only pass.

The reference dispatches to ~80 hand-written parser functions
(dividend_extractor.py:1326-1396 etc.); here each platform is a row of a
job table in platforms.py — field -> SQL extractor from
functions/extract.py — compiled by one generic compiler (SURVEY §7.0
"platforms are data, not code").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import extract as X
from .functions.cleaning import (
    clean_name,
    clean_number,
    complete_name_suffix,
    correct_fund_code,
    yyyymmdd,
)
from .functions.extract import NULL, q
from .functions.numeric import round2
from .functions.text import sql_column
from .operators.classify import classify, line_has
from .operators.normalize import dim_join, require_fields, to_target
from .platforms import (
    CONVERSION,
    CONVERSION_RULES,
    DIVIDEND,
    DIVIDEND_RULES,
    PURCHASE_APPLY,
    PURCHASE_APPLY_RULES,
    PURCHASE_CONFIRM,
    PURCHASE_CONFIRM_RULES,
    REDEMPTION,
    REDEMPTION_RULES,
    JobSpec,
    records_sql,
)
from .schemas import (
    BT_PURCHASE_APPLY,
    BT_PURCHASE_CONFIRM,
    BT_REDEMPTION_CONFIRM,
    CONVERSION_COLS,
    DIVIDEND_COLS,
    MANUAL_APPLY_COLS,
    MANUAL_CONFIRM_COLS,
    MANUAL_DIVIDEND_COLS,
    MANUAL_REDEMPTION_COLS,
    MARKET_INTERBANK,
    TXN_COLS,
)


def _prep(docs: DataFrame) -> DataFrame:
    return docs.withColumn("lines", F.split(F.col("text"), "\n"))


def _explode_records(df: DataFrame, job: JobSpec) -> DataFrame:
    """One row per extracted record: the job table's records CASE picks
    the matched platform's array<struct>, and one explode flattens it."""
    return df.withColumn("rec", sql_column(f"explode({records_sql(job)})")).select(
        "doc_id", "filename", "platform", *[F.col(f"rec.{f}").alias(f) for f in job.fields]
    )


def _run_date(run_date: str) -> str:
    return f"to_date({q(run_date)})"


def _cleaned(df: DataFrame, *numbers: str) -> DataFrame:
    """N2 — suffix-completed clean product name, cleaned money columns."""
    df = df.withColumn(
        "product_name", complete_name_suffix(F.expr(clean_name("product_name")))
    )
    for c in numbers:
        df = df.withColumn(c, F.expr(clean_number(c)))
    return df


# ==========================================================================
# Dividend-reinvest job (dividend_extractor.py:9-1488)
# ==========================================================================


def dividend_records(docs: DataFrame) -> DataFrame:
    """Classify + extract, one row per extracted dividend record (pre
    normalization). Unmatched docs keep platform NULL and are split off by
    the caller via split_quarantine."""
    return _explode_records(classify(_prep(docs), DIVIDEND_RULES), DIVIDEND)


def dividend_job(
    docs: DataFrame, dim: DataFrame, run_date: str = "2026-01-15"
) -> DataFrame:
    """Full dividend pipeline -> 11-col target (SURVEY §1.4 schema 1)."""
    rd = _run_date(run_date)
    recs = require_fields(dividend_records(docs), ["fund_code", "amount", "shares"])
    norm = (
        _cleaned(recs, "amount", "shares")
        .withColumn("cutoff_date", F.expr(f"coalesce(cutoff_date, {yyyymmdd(f'date_sub({rd}, 1)')})"))
        .withColumn("market", F.lit(MARKET_INTERBANK))
        .withColumn("biz_date", F.expr(yyyymmdd(rd)))
    )
    joined = dim_join(norm, dim.filter(F.col("map_kind") == "default"))
    return to_target(joined, DIVIDEND_COLS).withColumns(
        {
            "amount": F.col("amount").cast("double"),
            "shares": F.col("shares").cast("double"),
        }
    )


# ==========================================================================
# Purchase-apply / purchase-confirm / redemption-confirm (txn 16-col jobs)
# ==========================================================================

PURCHASE_APPLY_EXCLUDES = ("赎回", "超级", "转换", "分红方式", "分红设置", "失效")
PURCHASE_CONFIRM_EXCLUDES = ("强行调", "调增", "超级转换", "转换", "分红方式")
# the reference additionally drops 赎回-named files UNLESS they are
# 江苏银行/融联创 confirms (purchase_confirm_extractor.py:1451-1459)
PURCHASE_CONFIRM_KEEP_DESPITE = ("赎回", ("江苏银行", "融联创"))
REDEMPTION_EXCLUDES = ("强行调", "调增", "分红方式")
# 申购-named files are dropped unless they are 江苏银行/融联创 redemptions
# (redemption_extractor.py:1196-1201)
REDEMPTION_KEEP_DESPITE = ("申购", ("江苏银行", "融联创"))


def _txn_job(
    docs: DataFrame,
    dim: DataFrame,
    run_date: str,
    rules,
    job: JobSpec,
    excludes,
    business_type: str,
    required: list[str],
    redemption: bool = False,
    keep_despite: tuple[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    rd = _run_date(run_date)
    pre = _prep(docs)
    for sub in excludes:  # S2: cheap filename pruning BEFORE any extraction
        pre = pre.filter(~F.col("filename").contains(sub))
    if keep_despite is not None:
        # conditional exclusion: drop `sub`-named files UNLESS the name
        # also carries an allowlisted platform marker
        # (purchase_confirm_extractor.py:1457-1459)
        sub, unless = keep_despite
        keep = F.lit(False)
        for u in unless:
            keep = keep | F.col("filename").contains(u)
        pre = pre.filter(~F.col("filename").contains(sub) | keep)
    recs = require_fields(_explode_records(classify(pre, rules), job), required)
    # N3 — est_date is either an absolute yyyymmdd the platform printed
    # (好买/利得/长量/交行/盈米/联泰/京东 forms, hyphens already stripped
    # in the spec) or a bare T+n day count (平安,
    # redemption_extractor.py:662-672: arrival = today + (n-1))
    arrival = (
        "CASE WHEN est_date RLIKE '^[0-9]{8}$' THEN est_date "
        f"WHEN est_date IS NOT NULL THEN {yyyymmdd(f'date_add({rd}, try_cast(est_date AS INT) - 1)')} "
        f"ELSE {yyyymmdd(rd)} END"
        if redemption
        else NULL
    )
    norm = (
        _cleaned(recs, "qty", "amount", "fee")
        .withColumn("market", F.lit(MARKET_INTERBANK))
        .withColumn("biz_date", F.expr(yyyymmdd(rd)))
        .withColumn("business_type", F.lit(business_type))
        .withColumn("redemption_arrival_date", F.expr(arrival))
    )
    joined = dim_join(norm, dim.filter(F.col("map_kind") == "default"))
    return to_target(joined, TXN_COLS).withColumns(
        {
            "qty": F.col("qty").cast("double"),
            "amount": F.col("amount").cast("double"),
            "fee": F.col("fee").cast("double"),
        }
    )


def purchase_apply_job(docs, dim, run_date: str = "2026-01-15") -> DataFrame:
    return _txn_job(
        docs, dim, run_date, PURCHASE_APPLY_RULES, PURCHASE_APPLY,
        PURCHASE_APPLY_EXCLUDES, BT_PURCHASE_APPLY, required=["fund_code", "amount"],
    )


def purchase_confirm_job(docs, dim, run_date: str = "2026-01-15") -> DataFrame:
    return _txn_job(
        docs, dim, run_date, PURCHASE_CONFIRM_RULES, PURCHASE_CONFIRM,
        PURCHASE_CONFIRM_EXCLUDES, BT_PURCHASE_CONFIRM, required=["fund_code", "amount"],
        keep_despite=PURCHASE_CONFIRM_KEEP_DESPITE,
    )


def redemption_confirm_job(docs, dim, run_date: str = "2026-01-15") -> DataFrame:
    return _txn_job(
        docs, dim, run_date, REDEMPTION_RULES, REDEMPTION,
        REDEMPTION_EXCLUDES, BT_REDEMPTION_CONFIRM,
        required=["fund_code"], redemption=True,
        keep_despite=REDEMPTION_KEEP_DESPITE,
    )


# ==========================================================================
# Super-conversion job (conversion_extractor.py)
# ==========================================================================


def conversion_job(docs, dim, run_date: str = "2026-01-15") -> DataFrame:
    """19-col conversion output; N4 derived in_amount = out_amount -
    in_fee with fallback to out_amount (conversion_extractor.py:212-219
    for JD, :215-222 for 天天)."""
    pre = _prep(docs).filter(
        F.col("filename").contains("超级") | F.col("filename").contains("转换")
    )
    extracted = _explode_records(classify(pre, CONVERSION_RULES), CONVERSION)
    derived = extracted.withColumns(
        {
            # N4: in_amount = out_amount - in_fee, fallback out_amount
            "in_amount": F.coalesce(
                round2(F.col("out_amount") - F.col("in_fee"), 2),
                F.col("out_amount"),
            ),
            "out_market": F.lit(MARKET_INTERBANK),
            "in_market": F.lit(MARKET_INTERBANK),
        }
    )
    # a JD doc without the conversion block (e.g. pure forced-redemption,
    # handled by the redemption job) must not emit an empty conversion row
    derived = require_fields(derived, ["out_fund_code", "in_fund_code"])
    # conversion uses the SECOND dimension map -> product_code
    # (conversion_extractor.py:300)
    joined = dim_join(
        derived, dim.filter(F.col("map_kind") == "conversion"), code_col="ledger_code"
    ).withColumnRenamed("ledger_code", "product_code")
    out = to_target(joined, CONVERSION_COLS)
    return out.withColumns(
        {
            c: F.col(c).cast("double")
            for c in ["out_shares", "out_amount", "out_fee", "in_shares", "in_amount", "in_fee"]
        }
    )


# ==========================================================================
# Manual (OCR) jobs — manual_*_extractor.py; the OCR adapter itself is an
# I/O concern (S4) stubbed behind the documents table (SURVEY §7.4.6)
# ==========================================================================

MANUAL_PRODUCT = "万联资管万事如意FOF1号单一资产管理计划"
MANUAL_CASH_ACCOUNT = "051010100102026063"
_AMT = r"[\d,，]+\.\d{2}"


def _manual_base(docs: DataFrame, marker: str) -> DataFrame:
    """C3 doc-type detection: filename must contain 万事如意 and the first
    5 lines must contain the job marker (manual_purchase_apply_extractor.py:
    283,301)."""
    df = _prep(docs).filter(F.col("filename").contains("万事如意"))
    return df.filter(F.expr(line_has(marker, 0, 5)))


def _manual_code():
    """P13 OCR code repair after extraction."""
    return correct_fund_code(
        F.expr(X.label_value("基金代码", r"[0-9A-Za-z8l]{6}"))
    ).alias("fund_code")


def manual_purchase_apply_job(docs, dim, run_date: str = "2026-01-15") -> DataFrame:
    base = _manual_base(docs, "基金交易申请受理单")
    out = base.select(
        F.expr(yyyymmdd(_run_date(run_date))).alias("biz_date"),
        _manual_code(),
        F.lit(MANUAL_PRODUCT).alias("product_name"),
        # P12 candidate-max across OCR-noisy duplicated amounts
        F.expr(X.candidate_max(_AMT)).alias("amount"),
        F.lit("申购申请").alias("business_type"),
        F.lit(MANUAL_CASH_ACCOUNT).alias("cash_account"),
        F.lit(None).cast("string").alias("counterparty"),
        F.lit("万事如意直销").alias("platform"),
    )
    return require_fields(out.select(*MANUAL_APPLY_COLS), ["fund_code", "amount"])


def manual_purchase_confirm_job(docs, dim, run_date: str = "2026-01-15") -> DataFrame:
    base = _manual_base(docs, "交易确认单")
    apply_amt = F.expr(X.candidate_max(rf"申请金额[：: ]*({_AMT})"))
    confirm_amt = F.expr(X.candidate_max(rf"确认金额[：: ]*({_AMT})"))
    out = base.select(
        F.expr(yyyymmdd(_run_date(run_date))).alias("biz_date"),
        _manual_code(),
        F.lit(MANUAL_PRODUCT).alias("product_name"),
        apply_amt.alias("amount"),
        confirm_amt.alias("confirm_amount"),
        # N4: refund = apply - confirm (manual_purchase_confirm_extractor.py:348-354)
        round2(apply_amt - confirm_amt, 2).alias("refund"),
        F.expr(X.label_value("业务类型", r"[^\n 　]+")).alias("business_type"),
        F.lit(MANUAL_CASH_ACCOUNT).alias("cash_account"),
        F.lit(None).cast("string").alias("counterparty"),
        F.lit("万事如意直销").alias("platform"),
    )
    # Q1 business-type whitelist (manual_purchase_confirm_extractor.py:407)
    out = out.filter(F.col("business_type").isin("申购确认", "认购确认"))
    return require_fields(out.select(*MANUAL_CONFIRM_COLS), ["fund_code"])


def manual_redemption_job(docs, dim, run_date: str = "2026-01-15") -> DataFrame:
    today = F.expr(yyyymmdd(_run_date(run_date)))
    base = _manual_base(docs, "交易确认单")
    out = base.select(
        today.alias("biz_date"),
        _manual_code(),
        F.lit(MANUAL_PRODUCT).alias("product_name"),
        F.expr(X.candidate_max(rf"确认份额[：: ]*({_AMT})")).alias("shares"),
        F.expr(X.candidate_max(rf"确认金额[：: ]*({_AMT})")).alias("amount"),
        F.expr(X.label_value("业务类型", r"[^\n 　]+")).alias("business_type"),
        F.lit("否").alias("carry_over_income"),   # :367
        F.lit("1").alias("redemption_type"),       # :368
        F.lit(MANUAL_CASH_ACCOUNT).alias("cash_account"),
        F.lit(None).cast("string").alias("counterparty"),
        today.alias("arrival_date"),
        F.lit("万事如意直销").alias("platform"),
    )
    out = out.filter(F.col("business_type").isin("赎回确认", "强制赎回"))
    return require_fields(out.select(*MANUAL_REDEMPTION_COLS), ["fund_code"])


def manual_dividend_job(docs, dim, run_date: str = "2026-01-15") -> DataFrame:
    base = _manual_base(docs, "分红")
    # manual_dividen_extractor.py:329-330
    ex_right = F.expr(yyyymmdd(f"date_sub({_run_date(run_date)}, 1)"))
    out = base.select(
        ex_right.alias("voucher_date"),
        ex_right.alias("register_date"),
        _manual_code(),
        F.lit(MANUAL_PRODUCT).alias("product_name"),
        F.expr(X.candidate_max(rf"分红份额[：: ]*({_AMT})")).alias("shares"),
        F.expr(X.candidate_max(rf"分红金额[：: ]*({_AMT})")).alias("amount"),
        F.lit("万事如意直销").alias("platform"),
    )
    return require_fields(out.select(*MANUAL_DIVIDEND_COLS), ["fund_code"])


# ==========================================================================
# Run-all entry point (SURVEY §3.1: the reference's 9-job sequential plan,
# main - 基金单提取程序.py:471-548)
# ==========================================================================


def run_all(
    spark,
    corpus_root: str,
    dim: DataFrame,
    run_date: str,
    out_dir: str,
    excel: bool = False,
) -> dict[str, object]:
    """Scan the corpus ONCE, fan out into the 9 job pipelines, write each
    to a date-partitioned parquet sink plus one shared quarantine sink.

    The reference runs 9 sequential jobs each re-walking the share
    (main:501-527); here a single binaryFile scan + parse stage is
    persisted and every job is a filter over it — at 100 TB this is the
    difference between 9 corpus reads and 1. The parse has as many
    partitions as ``load_corpus`` gives the decode (one per
    ``FILES_PER_TASK`` statements, at most one per core), and every stage
    below inherits them: a day of about a hundred statements runs the
    audit, each job and the quarantine as one task each, instead of
    paying a task's fixed cost, such as deserializing the job's plan, once
    per core. The audit count materializes
    the persisted parse; then the nine jobs run concurrently, one driver
    thread each (build -> write -> Excel copy), so one job's Python plan
    build overlaps the others' execution, while this thread writes the
    quarantine sink. Each sink executes its plan once: the row count is
    observed on the write, and an output whose observed count is zero is
    deleted again (the reference's empty-result guard). ``dividend_merged``
    and the Excel copies read the written parquet back, so nothing
    re-executes a job's plan. ``dim`` is read once per run: it is cached
    beside the parse and filled before the jobs start, so the five fund
    jobs' broadcasts read JVM blocks instead of each re-reading the
    caller's plan (for a ``createDataFrame(list)`` that is a Python-worker
    scan). Both caches are released in the same ``finally``, even when a
    job fails; a cache the caller had put on ``dim`` is released with it.
    Every job is waited for, then the first failure in job order is
    raised.
    Returns {job: output path | False (empty)} plus audit counts.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from .operators import aggregate
    from .operators.caching import persist_tracked
    from .operators.sinks import (
        audit_summary,
        excel_job_path,
        write_excel_compat,
        write_partitioned,
        write_quarantine,
    )
    from .sources.corpus import load_corpus

    # eager consumers: the audit below materializes the parse cache and
    # a no-op write the dimension's, every pipeline reads them, and the
    # finally reclaims both; persist_tracked is the exception-path
    # backstop when run under a registry collector
    parsed = persist_tracked(load_corpus(spark, corpus_root))
    dim = persist_tracked(dim)
    try:
        audit = {r["status"]: r["n"] for r in audit_summary(parsed).collect()}
        # filled here, before the five broadcasts would race to fill it;
        # a no-op write is one Spark job (a count would add its shuffle's)
        dim.write.format("noop").mode("overwrite").save()
        ok = parsed.filter(F.col("status") == "ok").select(
            "doc_id", "filename", "rel_path", "text"
        )
        errors = parsed.filter(F.col("status") == "error")

        def sub(keyword: str) -> DataFrame:
            return ok.filter(F.col("rel_path").contains(keyword))

        # builders are looked up when the pool thread calls them
        builders = {
            "dividend": lambda: dividend_job(sub("分红"), dim, run_date),
            "purchase_apply": lambda: purchase_apply_job(sub("受理"), dim, run_date),
            "purchase_confirm": lambda: purchase_confirm_job(sub("确认"), dim, run_date),
            "redemption_confirm": lambda: redemption_confirm_job(sub("确认"), dim, run_date),
            "conversion": lambda: conversion_job(sub("确认"), dim, run_date),
            "manual_apply": lambda: manual_purchase_apply_job(ok, dim, run_date),
            "manual_confirm": lambda: manual_purchase_confirm_job(ok, dim, run_date),
            "manual_redemption": lambda: manual_redemption_job(ok, dim, run_date),
            "manual_dividend": lambda: manual_dividend_job(ok, dim, run_date),
        }

        def sink(name: str, df: DataFrame) -> str | bool:
            path = f"{out_dir}/{name}"
            return path if write_partitioned(df, path) else False

        def run_job(name: str, build) -> dict[str, object]:
            df = build()
            out: dict[str, object] = {name: sink(name, df)}
            if not out[name] or not (excel or name == "dividend"):
                return out
            # the tiny written parquet, typed by the job's own schema (a
            # yyyyMMdd biz_date partition stays a string)
            written = (
                spark.read.schema(df.schema).parquet(out[name]).select(*df.columns)
            )
            if excel:
                out[f"{name}_excel"] = write_excel_compat(
                    written, excel_job_path(out_dir, name)
                )
            if name == "dividend":
                out["dividend_merged"] = sink(
                    "dividend_merged", aggregate.dividend_merge(written)
                )
            return out

        status: dict[str, object] = {}
        task = inheritable_thread_target(spark)(run_job)
        with ThreadPoolExecutor(max_workers=len(builders)) as pool:
            futures = [pool.submit(task, n, b) for n, b in builders.items()]
            try:
                quarantined = write_quarantine(errors, f"{out_dir}/quarantine")
            finally:
                # leaving the pool waits for every job; result() re-raises
                # the first failure in job order
                for future in futures:
                    status.update(future.result())
        # the merge follows the nine jobs' keys; False when no dividends
        status["dividend_merged"] = status.pop("dividend_merged", False)
        status["quarantined"] = quarantined
        status["audit"] = audit
        return status
    finally:
        parsed.unpersist()
        dim.unpersist()
