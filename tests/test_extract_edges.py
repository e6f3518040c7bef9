"""Extraction-builder edge semantics pinned by the r11 review fixes, and
the SQL-literal quoting every builder's output goes through."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from fund_data_etl_pipeline_spark.functions.extract import (
    label_value,
    label_value_until,
    q,
    stitched_name,
)


def _one(spark, sql):
    return spark.range(1).select(F.expr(sql).alias("v")).first()["v"]


def _lines(text):
    return f"split({q(text)}, {q(chr(10))})"


def test_label_value_never_crosses_lines(spark):
    """A label with no same-line value yields NULL — the old \\s*
    separator captured the first number on a FOLLOWING line (a date or
    account masquerading as a money amount)."""
    doc = q("红利金额：\n20240101 对账单")
    assert _one(spark, label_value("红利金额", src=doc)) is None
    doc2 = q("红利金额：\n\n 99.50元")
    assert _one(spark, label_value("红利金额", src=doc2)) is None
    # same-line values still extract, with or without the colon
    assert _one(spark, label_value("红利金额", src=q("红利金额： 99.50元"))) == "99.50"
    assert _one(spark, label_value("红利金额", src=q("红利金额 99.50"))) == "99.50"


def test_label_value_until_multiple_stops(spark):
    """Every stop keyword cuts the line, not just the last one in the
    alternation (the precedence bug attached [^\\n]* to the final stop
    only)."""
    line = q("客户名称：张三 基金账号 12345")
    got = _one(spark, label_value_until("客户名称", stops=("基金账号", "电话"), src=line))
    assert got == "张三"
    got2 = _one(spark, label_value_until("客户名称", stops=("电话", "基金账号"), src=line))
    assert got2 == "张三"


def test_stitched_name_empty_stop_list_stitches(spark):
    """No stop keywords means only the empty-line / lookahead bounds end
    the stitch — the bare ''.join built an always-matching empty regex
    that stopped before the first appended line."""
    lines = _lines("客户名称：华泰\n资产管理计划\n\n尾部行")
    assert _one(spark, stitched_name("客户名称", [], src=lines)) == "华泰资产管理计划"
    # a stop keyword containing an ASCII regex metachar matches literally
    lines2 = _lines("客户名称：华泰\nA(B\n资产")
    assert _one(spark, stitched_name("客户名称", ["A(B"], src=lines2)) == "华泰"


# a string literal as q() writes it: every backslash pairs with the
# backslash or quote it escapes
_LITERAL = re.compile(r"'((?:[^'\\]|\\[\\'])*)'")


def test_quoting_round_trips_every_emitted_pattern(spark, monkeypatch):
    """Every string literal of the five compiled platform tables and rule
    lists, and every one the nine job builders hand to F.expr (cleaners,
    manual-job extractors), plus literals holding a quote, a backslash,
    \\Q…\\E and a literal newline, reads back through the SQL parser as
    exactly the Python string."""
    from fund_data_etl_pipeline_spark import jobs
    from fund_data_etl_pipeline_spark import platforms as P
    from fund_data_etl_pipeline_spark.operators.classify import platform_sql
    from fund_data_etl_pipeline_spark.testing import fixtures as FX
    from test_run_all_fanout import FUND_JOBS, MANUAL_JOBS

    emitted = [
        P.records_sql(job)
        for job in (P.DIVIDEND, P.PURCHASE_APPLY, P.PURCHASE_CONFIRM, P.REDEMPTION, P.CONVERSION)
    ] + [
        platform_sql(rules)
        for rules in (
            P.DIVIDEND_RULES, P.PURCHASE_APPLY_RULES, P.PURCHASE_CONFIRM_RULES,
            P.REDEMPTION_RULES, P.CONVERSION_RULES,
        )
    ]
    expr = F.expr

    def spy(sql):
        emitted.append(sql)
        return expr(sql)

    monkeypatch.setattr(F, "expr", spy)
    docs, dim = FX.docs_df(spark, FX.DIVIDEND_DOCS), FX.dim_df(spark)
    for name in FUND_JOBS + MANUAL_JOBS:
        getattr(jobs, name)(docs, dim, FX.RUN_DATE)
    monkeypatch.setattr(F, "expr", expr)
    values = {
        re.sub(r"\\([\\'])", r"\1", m)
        for sql in emitted
        for m in _LITERAL.findall(sql)
    }
    assert len(values) > 200  # the tables' patterns, not just a few constants
    values |= {"it's", "a\\b", "\\Q(a|b)\\E", "x\ny", "trailing\\", "''\\'"}
    values = sorted(values)
    row = spark.range(1).select(
        *[F.expr(q(v)).alias(f"c{i}") for i, v in enumerate(values)]
    ).first()
    assert [row[f"c{i}"] for i in range(len(values))] == values
