"""Golden tests for the fund-ETL job pipelines (FIXTURES.md §3).

The same fixtures/goldens back the driver-facing queries in
plans/fundetl.py; these tests assert them in-process plus scheme-level
invariants the value compare can't express (classifier order, quarantine
routing, single-explode plan shape).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from fund_data_etl_pipeline_spark import jobs
from fund_data_etl_pipeline_spark.operators.aggregate import dividend_merge
from fund_data_etl_pipeline_spark.operators.classify import classify
from fund_data_etl_pipeline_spark.schemas import DIVIDEND_COLS, TXN_COLS
from fund_data_etl_pipeline_spark.testing import fixtures as FX


def norm(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def rows_set(df):
    from collections import Counter

    return Counter(tuple(norm(v) for v in row) for row in df.collect())


def expected_set(rows):
    from collections import Counter

    return Counter(tuple(norm(v) for v in row) for row in rows)


def test_dividend_job_golden(spark):
    df = jobs.dividend_job(
        FX.docs_df(spark, FX.DIVIDEND_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )
    assert df.columns == DIVIDEND_COLS
    assert rows_set(df) == expected_set(FX.EXPECTED_DIVIDEND)


def test_classifier_first_match_and_unmatched(spark):
    docs = jobs._prep(FX.docs_df(spark, FX.DIVIDEND_DOCS))
    got = {
        r["doc_id"]: r["platform"]
        for r in classify(docs, jobs.DIVIDEND_RULES).collect()
    }
    assert got == dict(FX.EXPECTED_CLASSIFY)


def test_cascade_cache_content_keyed_and_bounded(spark, monkeypatch):
    # Regression (ADVICE r7): the cascade's cache key is the rules'
    # CONTENT (their compiled SQL text), so in-place mutation of a cached
    # list yields a fresh cascade (an id()-based key served a stale
    # tree), and the LRU cap bounds callers that build fresh rule objects
    # per call.
    from collections import OrderedDict

    from fund_data_etl_pipeline_spark.functions import text as T
    from fund_data_etl_pipeline_spark.operators import classify as C

    monkeypatch.setattr(T, "_COL_CACHE", OrderedDict())
    docs = jobs._prep(FX.docs_df(spark, FX.DIVIDEND_DOCS))
    rules = list(jobs.DIVIDEND_RULES)
    before = classify(docs, rules).select("platform").distinct().count()
    assert before > 1
    # mutate IN PLACE: same list identity, different content
    rules[:] = rules[:1]
    one_rule = {
        r["platform"]
        for r in classify(docs, rules).select("platform").distinct().collect()
    }
    assert one_rule <= {rules[0].name, None}
    # LRU stays bounded under fresh-objects-per-call churn
    for i in range(T.COL_CACHE_MAX + 10):
        fresh = [
            C.PlatformRule(f"p{i}", C.fname_has(f"sub{i}")),
        ]
        C.classify(docs, fresh)
    assert len(T._COL_CACHE) <= T.COL_CACHE_MAX


def test_dividend_merge_groups_and_platform_concat(spark):
    df = jobs.dividend_job(
        FX.docs_df(spark, FX.DIVIDEND_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )
    merged = dividend_merge(df)
    row = merged.filter(
        (F.col("ledger_code") == "1001") & (F.col("fund_code") == "000001")
    ).collect()
    assert len(row) == 1
    r = row[0]
    assert math.isclose(r["shares"], 1050.5)
    assert math.isclose(r["amount"], 1290.11)
    assert r["platform"] == "天天基金、好买基金"


def test_purchase_apply_excludes_redemption_filenames(spark):
    df = jobs.purchase_apply_job(
        FX.docs_df(spark, FX.PURCHASE_APPLY_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )
    assert df.columns == TXN_COLS
    codes = {r["fund_code"] for r in df.collect()}
    assert "100009" not in codes  # doc 203: filename contains 赎回 (S2)
    assert rows_set(df) == expected_set(FX.EXPECTED_PURCHASE_APPLY)


def test_confirm_rejects_superconversion_content(spark):
    """Reference changelog 2025-10-22 regression (更新日志.txt:24-25):
    confirm jobs must not ingest 天天/好买 super-conversion docs even when
    the FILENAME looks like a confirm."""
    df = jobs.purchase_confirm_job(
        FX.docs_df(spark, FX.PURCHASE_CONFIRM_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )
    assert "200099" not in {r["fund_code"] for r in df.collect()}


def test_purchase_confirm_negative_guard(spark):
    df = jobs.purchase_confirm_job(
        FX.docs_df(spark, FX.PURCHASE_CONFIRM_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )
    # doc 303 (好买 + 转换) must be rejected by the C2 guard
    assert "200003" not in {r["fund_code"] for r in df.collect()}
    assert rows_set(df) == expected_set(FX.EXPECTED_PURCHASE_CONFIRM)


def test_redemption_tn_arrival(spark):
    df = jobs.redemption_confirm_job(
        FX.docs_df(spark, FX.REDEMPTION_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )
    by_code = {r["fund_code"]: r for r in df.collect()}
    assert by_code["300001"]["redemption_arrival_date"] == "20260117"  # T+3
    assert by_code["300002"]["redemption_arrival_date"] == "20260115"  # default
    assert rows_set(df) == expected_set(FX.EXPECTED_REDEMPTION)


def test_conversion_derived_amount(spark):
    df = jobs.conversion_job(
        FX.docs_df(spark, FX.CONVERSION_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )
    r = df.collect()[0]
    assert math.isclose(r["in_amount"], 9990.0)  # out_amount - in_fee
    assert r["product_code"] == "C100"  # conversion dim map, not default
    assert rows_set(df) == expected_set(FX.EXPECTED_CONVERSION)


def test_manual_jobs_golden(spark):
    docs = FX.docs_df(spark, FX.MANUAL_DOCS)
    dim = FX.dim_df(spark)
    assert rows_set(jobs.manual_purchase_apply_job(docs, dim, FX.RUN_DATE)) == \
        expected_set(FX.EXPECTED_MANUAL_APPLY)
    assert rows_set(jobs.manual_purchase_confirm_job(docs, dim, FX.RUN_DATE)) == \
        expected_set(FX.EXPECTED_MANUAL_CONFIRM)
    assert rows_set(jobs.manual_redemption_job(docs, dim, FX.RUN_DATE)) == \
        expected_set(FX.EXPECTED_MANUAL_REDEMPTION)
    assert rows_set(jobs.manual_dividend_job(docs, dim, FX.RUN_DATE)) == \
        expected_set(FX.EXPECTED_MANUAL_DIVIDEND)


def test_dividend_plan_single_scan(spark):
    """The whole job must compile to ONE scan of the corpus — per-platform
    branches are CASE WHEN arms, not unioned re-scans."""
    df = jobs.dividend_job(
        FX.docs_df(spark, FX.DIVIDEND_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") <= 2  # corpus + broadcast dim, no re-scans
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in physical


def test_suffix_completion_idempotent(spark):
    from fund_data_etl_pipeline_spark.functions.cleaning import complete_name_suffix

    df = spark.createDataFrame(
        [("万联资管臻选3号FOF集",), ("某某单一",), ("某资产管理计",), ("完整资产管理计划",)],
        "name string",
    )
    once = df.select(complete_name_suffix(F.col("name")).alias("n"))
    twice = once.select(complete_name_suffix(F.col("n")).alias("n"))
    assert [r["n"] for r in once.collect()] == [r["n"] for r in twice.collect()]
    vals = [r["n"] for r in once.collect()]
    assert vals[0] == "万联资管臻选3号FOF集合资产管理计划"
    assert vals[1] == "某某单一资产管理计划"
    assert vals[2] == "某资产管理计划"
    assert vals[3] == "完整资产管理计划"
