"""The reference's 9 job pipelines, re-expressed as single-scan Spark plans
(SURVEY.md §3, §7).

Scale design: each job is ONE declarative pipeline over the document
corpus —

    scan -> filename prefilter (S2, before any parsing)
         -> classify (C1 ordered when-cascade -> ``platform``)
         -> per-platform record extraction compiled into ONE
            ``array<struct>`` column via a second when-cascade (CASE WHEN
            evaluates only the matched branch per row), multi-record
            platforms (F1-F4) produce >1 element
         -> a single ``explode`` (the flatMap)
         -> normalize (clean/cast/round/dates/constants)
         -> broadcast dimension join (J1)
         -> target-schema select (N5)

No per-platform branch re-scans the corpus, no Python UDFs anywhere, and
the only shuffles are the optional final aggregation (A1) — at 100 TB the
whole extract stage is a map-only pass inside whole-stage codegen.

The reference dispatches to ~80 hand-written parser functions
(dividend_extractor.py:1326-1396 etc.); here each platform is a SPEC — a
dict of field -> expression built from functions/extract.py — interpreted
by the same generic machinery (SURVEY §7.0 "platforms are data, not code").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions import extract as X
from .functions.numeric import round2
from .functions.cleaning import (
    clean_name,
    clean_number,
    complete_name_suffix,
    correct_fund_code,
    strip_currency,
)
from .functions.text import cached_columns
from .operators.classify import (
    PlatformRule,
    all_of,
    any_of,
    classify,
    fname_has,
    fname_not,
    line_has,
    not_,
    text_has,
)
from .operators.normalize import dim_join, require_fields, split_quarantine, to_target
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

NAME = r"[^\n　 ]+"  # single-line product-name capture


def _prep(docs: DataFrame) -> DataFrame:
    return docs.withColumn("lines", F.split(F.col("text"), "\n"))


def _rec(fields: dict[str, Column], all_fields: list[str]) -> Column:
    """One extraction record as a fixed-shape struct; absent fields NULL."""
    return F.struct(
        *[
            (fields[f] if f in fields else F.lit(None).cast("string")).alias(f)
            for f in all_fields
        ]
    )


def _single(fields: dict[str, Column], all_fields: list[str]) -> Column:
    return F.array(_rec(fields, all_fields))


def _records_column(
    specs: list[tuple[str, Column]], platform: Column
) -> Column:
    """Second when-cascade: platform -> its array<struct> of records."""
    expr = None
    for name, records in specs:
        cond = platform == name
        expr = F.when(cond, records) if expr is None else expr.when(cond, records)
    return expr


def _explode_records(
    df: DataFrame, specs_fn, all_fields: list[str]
) -> DataFrame:
    """One row per extracted record: ``specs_fn(text, lines, filename)``
    gives each platform's array<struct> of records, and the
    platform->records when-cascade picks the matched one. Spec trees are
    pure functions of fixed column NAMES, and building them is
    py4j-round-trip bound (~8.8k gateway calls for the dividend specs),
    so the cascade and the rec.* select list are built once per context
    (text.cached_columns) and reused by every rebuilt plan."""

    def build():
        specs = specs_fn(F.col("text"), F.col("lines"), F.col("filename"))
        rec = F.explode(_records_column(specs, F.col("platform")))
        return rec, [F.col(f"rec.{f}").alias(f) for f in all_fields]

    rec, sel = cached_columns(("records", specs_fn, tuple(all_fields)), build)
    return df.withColumn("rec", rec).select(
        "doc_id", "filename", "platform", *sel
    )


def _run_date(run_date: str) -> Column:
    return F.to_date(F.lit(run_date))


def _yyyymmdd(col: Column) -> Column:
    return F.date_format(col, "yyyyMMdd")


# ==========================================================================
# Dividend-reinvest job (dividend_extractor.py:9-1488)
# ==========================================================================

# ordered as the reference's elif chain (dividend_extractor.py:1326-1394:
# 好买 天天 兴证 利得 长量 盈米 招赢通 邮储 平安 交行 和讯 建行 腾元 网金
# 京东 融联创 民生 证达通 联泰 基煜 宁波 国信嘉利 攀赢) — first-match order
# IS the spec
DIVIDEND_RULES = [
    PlatformRule("好买基金", line_has("好买基金", 0, 2)),
    PlatformRule("天天基金", fname_has("天天基金")),
    PlatformRule("兴证全球基金", text_has("兴证全球基金")),
    PlatformRule("利得基金", text_has("利得基金")),
    PlatformRule("长量基金", text_has("长量基金")),
    PlatformRule("盈米基金", line_has("盈米", 0, 3)),
    PlatformRule("招赢通基金", text_has("招赢通")),
    PlatformRule("邮储银行", text_has("邮储银行")),
    PlatformRule("平安行E通", line_has("行E通", 5)),
    PlatformRule("交通银行", any_of(fname_has("交行"), text_has("交通银行"))),
    PlatformRule("交e通", text_has("交e通")),
    PlatformRule("和讯科技", text_has("和讯")),
    PlatformRule("建行直销", text_has("建设银行")),
    PlatformRule("腾元基金", text_has("腾元")),
    # P15 dual-format original (dividend_extractor.py:615-716, :1314)
    PlatformRule("网金基金", any_of(fname_has("网金"), line_has("网金基金", 5))),
    PlatformRule(
        "京东肯特瑞", any_of(fname_has("肯特瑞基金"), line_has("肯特瑞", 0, 2))
    ),
    PlatformRule("融联创同业交易平台", text_has("融联创")),
    PlatformRule("民生同业e+", text_has("民生同业")),
    PlatformRule("证达通基金", text_has("证达通")),
    # F2 in the dividend context (dividend_extractor.py:825-876, :1317)
    PlatformRule(
        "联泰基金", any_of(fname_has("北极星"), line_has("联泰", 0, 2))
    ),
    PlatformRule("基煜基金", text_has("基煜")),
    # C2 compound guard: 宁波 file that is NOT a 北极星 doc
    # (purchase_extractor.py:1004)
    PlatformRule("宁波银行", all_of(fname_has("宁波"), fname_not("北极星"))),
    PlatformRule(
        "国信嘉利基金", any_of(fname_has("国信嘉利"), text_has("国信嘉利"))
    ),
    PlatformRule("攀赢基金", text_has("攀赢")),
]

_DIV_FIELDS = ["product_name", "fund_code", "amount", "shares", "cutoff_date"]

# 证达通 tabular dividend row (P8, dividend_extractor.py:946-983)
_ZDT_DIV_ROW = r"(?m)^\d+\s+\d{10,}\s+(\S+)\s+([0-9]{6})\s+红利再投资\s+([\d,.]+)\s+([\d,.]+)[ \t]*$"


def _wj_div_value(text: Column) -> Column:
    """网金 dividend value: 红利再投份额 on the same line, else on the next
    line (dividend_extractor.py:680-716)."""
    return F.coalesce(
        X.rx(text, r"红利再投份额\s*([0-9][\d,]*\.?\d*)"),
        X.rx(text, r"(?m)红利再投份额[^0-9\n]*\n\s*([\d,]+\.?\d*)"),
    )


def _dividend_specs(text: Column, lines: Column, filename: Column):
    shares_xz = X.label_value(text, "再投资份额")
    gxjl_row = F.try_element_at(
        F.filter(lines, lambda l: l.contains("分红")), F.lit(1)
    )
    gxjl_shares = X.positional_value(lines, "分红", 5)
    zdt_rows = X.row_table_records(text, _ZDT_DIV_ROW)

    def zdt_rec(row: Column) -> Column:
        return _rec(
            {
                "product_name": F.regexp_extract(row, _ZDT_DIV_ROW.replace("(?m)", ""), 1),
                "fund_code": F.regexp_extract(row, _ZDT_DIV_ROW.replace("(?m)", ""), 2),
                "amount": F.regexp_extract(row, _ZDT_DIV_ROW.replace("(?m)", ""), 3),
                "shares": F.regexp_extract(row, _ZDT_DIV_ROW.replace("(?m)", ""), 4),
            },
            _DIV_FIELDS,
        )

    ym_segments = X.marker_records(text, r"序号:\d+\n")

    def ym_rec(seg: Column) -> Column:
        return _rec(
            {
                "product_name": X.label_value(text, "产品名称", NAME),
                "fund_code": X.label_value(seg, "基金代码", X.CODE6),
                "amount": X.label_value(seg, "确认金额"),
                "shares": X.label_value(seg, "确认份额"),
            },
            _DIV_FIELDS,
        )

    return [
        (
            "好买基金",
            _single(
                {
                    "product_name": X.label_value(text, "产品名称", NAME),
                    "fund_code": X.label_value(text, "基金代码", X.CODE6),
                    "amount": X.label_value(text, "红利总金额"),
                    "shares": strip_currency(
                        X.label_value(text, "再投资份额", rf"(?:CNY\s*)?{X.NUM}")
                    ),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "天天基金",
            _single(
                {
                    "product_name": X.label_value(text, "产品名称", NAME),
                    "fund_code": X.label_value(text, "基金代码", X.CODE6),
                    "amount": X.next_line_value(text, "红利资金（元）"),
                    "shares": X.next_line_value(text, "再投资份额（份）", lookahead=2),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "兴证全球基金",
            _single(
                {
                    "product_name": X.label_value(
                        text, "产品名称", NAME, tolerate_spacing=True
                    ),
                    "fund_code": X.label_value(
                        text, "基金代码", X.CODE6, tolerate_spacing=True
                    ),
                    # P10 value aliasing: amount := reinvested shares
                    "amount": shares_xz,
                    "shares": shares_xz,
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "交通银行",
            _single(
                {
                    "product_name": X.label_value(text, "产品名称", NAME),
                    "fund_code": X.label_value(text, "基金代码", X.CODE6),
                    "amount": X.label_value(text, "红利金额"),
                    "shares": X.label_value(text, "再投资份额"),
                    # N3: 交行 cutoff = confirm_date - 1 day
                    # (dividend_extractor.py:443-456)
                    "cutoff_date": _yyyymmdd(
                        F.date_sub(
                            F.to_date(
                                X.label_value(text, "确认日期", r"\d{8}"), "yyyyMMdd"
                            ),
                            1,
                        )
                    ),
                },
                _DIV_FIELDS,
            ),
        ),
        ("盈米基金", F.transform(ym_segments, ym_rec)),
        ("证达通基金", F.transform(zdt_rows, zdt_rec)),
        (
            "国信嘉利基金",
            _single(
                {
                    # P9: name from filename
                    "product_name": X.filename_value(
                        filename, r"】?([^_】]+)_交易确认单", 1
                    ),
                    "fund_code": F.nullif(
                        F.regexp_extract(
                            F.coalesce(gxjl_row, F.lit("")), r"([0-9]{6})\s+分红", 1
                        ),
                        F.lit(""),
                    ),
                    # P10: amount := shares (positional P7)
                    "amount": gxjl_shares,
                    "shares": gxjl_shares,
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "平安行E通",
            _single(
                {
                    # P4 multi-line name stitching
                    "product_name": X.stitched_name(
                        lines, "产品名称", ["基金代码", "金额", "份额"], 4
                    ),
                    "fund_code": X.label_value(text, "基金代码", X.CODE6),
                    "amount": X.label_value(text, "红利总金额"),
                    "shares": X.label_value(text, "再投资份额"),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "利得基金",
            _single(
                {
                    "product_name": X.label_value(text, "产品名称", NAME),
                    "fund_code": X.label_value(text, "基金代码", X.CODE6),
                    "amount": X.label_value(text, "红利金额"),
                    "shares": X.label_value(text, "再投份额"),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "长量基金",
            # P10: amount := shares (dividend_extractor.py:171)
            _single(
                {
                    "product_name": X.label_value(text, "产品名称", NAME),
                    "fund_code": X.label_value(text, "基金代码", X.CODE6),
                    "amount": shares_xz,
                    "shares": shares_xz,
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "招赢通基金",
            # P11: CNY-prefixed amount (dividend_extractor.py:280-286)
            _single(
                {
                    "product_name": X.label_value(text, "产品名称", NAME),
                    "fund_code": X.label_value(text, "基金代码", X.CODE6),
                    "amount": strip_currency(
                        X.label_value(text, "红利金额", rf"(?:CNY\s*)?{X.NUM}")
                    ),
                    "shares": X.label_value(text, "再投资份额"),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "邮储银行",
            # P4 stitching (dividend_extractor.py:300-321)
            _single(
                {
                    "product_name": X.stitched_name(
                        lines, "产品名称", ["基金代码", "金额", "份额"], 4
                    ),
                    "fund_code": X.label_value(text, "基金代码", X.CODE6),
                    "amount": X.label_value(text, "分红金额"),
                    "shares": X.label_value(text, "再投资份额"),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "和讯科技",
            # P4 stitching (dividend_extractor.py:463-489)
            _single(
                {
                    "product_name": X.stitched_name(
                        lines, "产品名称", ["基金代码", "金额", "份额"], 4
                    ),
                    "fund_code": X.label_value(text, "基金代码", X.CODE6),
                    "amount": X.label_value(text, "红利总额"),
                    "shares": X.label_value(text, "再投份额"),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "建行直销",
            # P5 letter-spaced labels + P10 (dividend_extractor.py:551-569)
            _single(
                {
                    "product_name": X.label_value(
                        text, "产品名称", NAME, tolerate_spacing=True
                    ),
                    "fund_code": X.label_value(
                        text, "基金代码", X.CODE6, tolerate_spacing=True
                    ),
                    "amount": X.label_value(
                        text, "再投资份额", tolerate_spacing=True
                    ),
                    "shares": X.label_value(
                        text, "再投资份额", tolerate_spacing=True
                    ),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "宁波银行",
            # P10 via 再投资确认份额 (dividend_extractor.py:1082-1094)
            _single(
                {
                    "product_name": X.label_value(text, "产品名称", NAME),
                    "fund_code": X.label_value(text, "基金代码", X.CODE6),
                    "amount": X.label_value(text, "再投资确认份额"),
                    "shares": X.label_value(text, "再投资确认份额"),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "攀赢基金",
            # P3 same-line-else-next-line fallback (dividend_extractor.py:1246-1259)
            _single(
                {
                    "product_name": X.label_value(text, "产品名称", NAME),
                    "fund_code": X.label_value(text, "基金代码", X.CODE6),
                    "amount": X.label_value(text, "红利金额"),
                    "shares": F.coalesce(
                        X.label_value(text, "再投资份额"),
                        X.next_line_value(text, "再投资份额"),
                    ),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "民生同业e+",
            _single(
                {
                    "product_name": X.label_value(text, "产品名称", NAME),
                    "fund_code": X.label_value(text, "基金代码", X.CODE6),
                    "amount": X.label_value(text, "红利金额"),
                    "shares": X.label_value(text, "再投份额"),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "基煜基金",
            _single(
                {
                    "product_name": X.label_value(text, "产品名称", NAME),
                    "fund_code": X.label_value(text, "基金代码", X.CODE6),
                    "amount": X.label_value(text, "红利金额"),
                    "shares": X.label_value(text, "再投份额"),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "融联创同业交易平台",
            # P4 stitching (dividend_extractor.py:769-794)
            _single(
                {
                    "product_name": X.stitched_name(
                        lines, "产品名称", ["基金代码", "金额", "份额"], 4
                    ),
                    "fund_code": X.label_value(text, "基金代码", X.CODE6),
                    "amount": X.label_value(text, "红利金额"),
                    "shares": X.label_value(text, "再投份额"),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "腾元基金",
            # P6 box-drawing cells (dividend variant)
            _single(
                {
                    "product_name": X.label_value(text, "产品名称", NAME),
                    "fund_code": X.box_cell(text, "基金代码", X.CODE6),
                    "amount": X.box_cell(text, "红利金额"),
                    "shares": X.box_cell(text, "再投份额"),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "交e通",
            _single(
                {
                    "product_name": X.label_value(text, "产品名称", NAME),
                    "fund_code": X.label_value(text, "基金代码", X.CODE6),
                    "amount": X.label_value(text, "红利金额"),
                    "shares": X.label_value(text, "再投份额"),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            # P15 dual format (dividend_extractor.py:615-716): format 2 is
            # marked by a ───── separator; 红利再投份额 feeds BOTH amount
            # and shares; format 1 may carry the value on the next line
            "网金基金",
            _single(
                {
                    "product_name": F.when(
                        F.exists(lines, lambda l: l.contains("─────")),
                        X.label_value_until(
                            text, "客户名称", stops=("网点名称",), sep=r"[ \t]*"
                        ),
                    ).otherwise(
                        # format 1 stitches up to 4 following lines into
                        # the name until an account/table keyword, ending
                        # at the 理计划/管理计划 line
                        # (dividend_extractor.py:641-666)
                        X.stitched_name(
                            lines,
                            "客户名称",
                            ["基金账号", "交易账号", "交易类别",
                             "基金代码", "─────"],
                            max_lookahead=4,
                        )
                    ),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": _wj_div_value(text),
                    "shares": _wj_div_value(text),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            "京东肯特瑞",  # dividend_extractor.py:719-766
            _single(
                {
                    "product_name": X.label_value_until(text, "客户名称"),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": X.rx(text, r"红利再投金额\s*([\d,]+\.?\d*)"),
                    "shares": X.rx(text, r"红利再投份额\s*([\d,]+\.?\d*)"),
                },
                _DIV_FIELDS,
            ),
        ),
        (
            # F2 dividend context (:825-876): amount := shares per record
            "联泰基金",
            F.transform(
                X.marker_records(text, r"交易信息（\d+/\d+）"),
                lambda seg: _rec(
                    {
                        "product_name": X.rx(text, r"投资账户\s*([^\s]+)"),
                        "fund_code": X.rx(seg, r"基金代码\s+([0-9]{6})"),
                        "amount": X.rx(
                            seg, r"红利再投份额\(份\)\s*([\d,]+\.?\d*)"
                        ),
                        "shares": X.rx(
                            seg, r"红利再投份额\(份\)\s*([\d,]+\.?\d*)"
                        ),
                    },
                    _DIV_FIELDS,
                ),
            ),
        ),
    ]


def dividend_records(docs: DataFrame) -> DataFrame:
    """Classify + extract, one row per extracted dividend record (pre
    normalization). Unmatched docs keep platform NULL and are split off by
    the caller via split_quarantine."""
    df = classify(_prep(docs), DIVIDEND_RULES)
    return _explode_records(df, _dividend_specs, _DIV_FIELDS)


def dividend_job(
    docs: DataFrame, dim: DataFrame, run_date: str = "2026-01-15"
) -> DataFrame:
    """Full dividend pipeline -> 11-col target (SURVEY §1.4 schema 1)."""
    rd = _run_date(run_date)
    recs = dividend_records(docs)
    recs = require_fields(recs, ["fund_code", "amount", "shares"])
    norm = (
        recs.withColumn(
            "product_name", complete_name_suffix(clean_name(F.col("product_name")))
        )
        .withColumn("amount", clean_number(F.col("amount")))
        .withColumn("shares", clean_number(F.col("shares")))
        .withColumn(
            "cutoff_date",
            F.coalesce(F.col("cutoff_date"), _yyyymmdd(F.date_sub(rd, 1))),
        )
        .withColumn("market", F.lit(MARKET_INTERBANK))
        .withColumn("biz_date", _yyyymmdd(rd))
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

_TXN_FIELDS = ["product_name", "fund_code", "qty", "amount", "fee", "est_date"]

PURCHASE_APPLY_EXCLUDES = ("赎回", "超级", "转换", "分红方式", "分红设置", "失效")

# 20-platform first-match chain in the reference's elif order
# (purchase_extractor.py:988-1016 predicates, :1017-1075 order), plus
# 兴证全球基金 kept as an engine extension (not in the reference apply
# chain; P5 spaced-label technique).
PURCHASE_APPLY_RULES = [
    PlatformRule("好买基金", line_has("好买基金", 0, 2)),
    PlatformRule(
        "天天基金", any_of(fname_has("天天基金"), line_has("天天基金", 3))
    ),
    PlatformRule("利得基金", line_has("利得基金", 3)),
    PlatformRule("长量基金", line_has("长量基金", 0, 2)),
    PlatformRule("平安行E通", line_has("行E通", 5)),
    PlatformRule("交e通", any_of(fname_has("交e通"), line_has("交通银行", 0, 2))),
    PlatformRule("网金基金", any_of(fname_has("网金"), line_has("网金基金", 5))),
    PlatformRule("腾元基金", any_of(fname_has("腾元"), line_has("腾元基金", 5))),
    PlatformRule("和讯科技", line_has("和讯信息科技有限公司", 3)),
    PlatformRule(
        "京东肯特瑞", any_of(fname_has("肯特瑞基金"), line_has("肯特瑞", 0, 2))
    ),
    PlatformRule(
        "民生同业e+", any_of(fname_has("民生同业e+"), line_has("同业e+", 2))
    ),
    PlatformRule("招赢通基金", line_has("招赢通", 0, 2)),
    PlatformRule("融联创同业交易平台", line_has("融联创", 8)),
    PlatformRule("基煜基金", line_has("基煜基金", 0, 2)),
    PlatformRule(
        "宁波银行",
        any_of(
            all_of(fname_has("宁波"), fname_not("北极星")),
            all_of(line_has("宁波银行", 15), not_(line_has("联泰", 0, 5))),
        ),
    ),
    PlatformRule("国信嘉利基金", line_has("国信嘉利基金", 0, 2)),
    PlatformRule("攀赢基金", any_of(fname_has("攀赢"), line_has("攀赢", 0, 2))),
    PlatformRule("盈米基金", any_of(fname_has("盈米"), line_has("盈米", 0, 3))),
    PlatformRule(
        "联泰基金", any_of(fname_has("北极星"), line_has("联泰", 0, 2))
    ),
    PlatformRule(
        "证达通基金",
        any_of(
            all_of(
                text_has("证达通"),
                text_has("赎回交易（合计0笔，共计0.00份）"),
                not_(text_has("超级")),
            ),
            all_of(text_has("证达通"), text_has("申购受理单")),
        ),
    ),
    PlatformRule("兴证全球基金", text_has("兴证全球基金")),
]

# F4 purchase variant (purchase_extractor.py:918-946)
_ZDT_APPLY_ROW = (
    r"(?m)^\d+\s+\d{10,}\s+(\S+)\s+([0-9]{6})\s+申购\s+"
    r"([\d,.]+)\s+([\d,.]+)[ \t]*$"
)


def _purchase_apply_specs(text: Column, lines: Column, filename: Column):
    """21 platform specs, labels per purchase_extractor.py (refs inline)."""
    # 联泰 F2 交易信息（X/Y） multi-record (:671-721), 申请金额(元)
    lt_segments = X.marker_records(text, r"交易信息（\d+/\d+）")

    def lt_rec(seg: Column) -> Column:
        return _rec(
            {
                "product_name": X.rx(text, r"投资账户\s*([^\s]+)"),
                "fund_code": X.rx(seg, r"基金代码\s+([0-9]{6})"),
                "amount": X.rx(seg, rf"申请金额\(元\)\s*({_DECO})"),
            },
            _TXN_FIELDS,
        )

    # 盈米 F1: records anchored at 交易类型…申购 lines (:197-234)
    ym_segments = X.marker_records(text, r"交易类型[：:]申购[^\n]*\n")

    def ym_rec(seg: Column) -> Column:
        return _rec(
            {
                "product_name": X.rx(text, r"投资者名称\s*[:：]?\s*([^\s]+)"),
                "fund_code": X.rx(seg, r"基金代码[:：]?\s*([0-9]{6})"),
                "amount": X.rx(seg, rf"申请金额[:：]?\s*({_DECO})"),
            },
            _TXN_FIELDS,
        )

    # 证达通 F4 summary rows (:896-947; engine keeps the anchored row form)
    zdt_rows = X.row_table_records(text, _ZDT_APPLY_ROW)
    _za = _ZDT_APPLY_ROW.replace("(?m)", "")

    def zdt_rec(row: Column) -> Column:
        return _rec(
            {
                "product_name": F.regexp_extract(row, _za, 1),
                "fund_code": F.regexp_extract(row, _za, 2),
                "amount": F.regexp_extract(row, _za, 3),
                "fee": F.regexp_extract(row, _za, 4),
            },
            _TXN_FIELDS,
        )

    # 网金 amount: 申购金额（小写）/申购金额小写, same-line or next-line
    # (:385-405); code same-line or bare 6 digits on the next line (:364-378)
    wj_amount = F.coalesce(
        # same-line junk tolerated between label and number — the
        # reference's match2 申购金额小写[^0-9]* (e.g. '申购金额小写.壹 38,000,000.00')
        X.rx(text, r"申购金额[（(]?小写[）)]?[^0-9\n]*([0-9,]+\.?[0-9]*)"),
        X.rx(text, r"(?m)申购金额[（(]?小写[）)]?[^0-9\n]*\n\s*([0-9,]+\.?[0-9]*)\s*$"),
    )
    wj_code = F.coalesce(
        X.rx(text, r"基金代码\s*([0-9]{6})"),
        X.rx(text, r"(?m)基金代码[^\n]*\n\s*([0-9]{6})\s*$"),
    )
    return [
        (
            "好买基金",  # :34-57 账户名称 prev+next, 产品代码, 申请金额小写
            _single(
                {
                    "product_name": X.adjacent_name(
                        lines, "账户名称",
                        prev_stops=("制单人", "好买基金"),
                        next_stops=("证件类型", "产品代码"),
                    ),
                    "fund_code": X.rx(text, r"产品代码[：: ]*([0-9]{6})"),
                    "amount": X.rx(text, rf"申请金额小写[：: ]*({_DEC})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "天天基金",  # :59-102 账户户名 prev+inline+next
            _single(
                {
                    "product_name": X.adjacent_name(
                        lines, "账户户名",
                        prev_stops=("确认单",),
                        next_stops=("账户类型",),
                        inline_before=True,
                    ),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"申请金额\s*({_DEC})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "利得基金",  # :104-134 申请金额（元）
            _single(
                {
                    "product_name": X.label_value_until(text, "投资者姓名/名称"),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"申请金额（元）\s*({_DEC})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "长量基金",  # :136-168
            _single(
                {
                    "product_name": X.label_value_until(text, "投资者名称"),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"申请金额\s*({_DEC})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "平安行E通",  # :242-293 账户名称 P4 stitch, 元-stripped
            _single(
                {
                    "product_name": X.stitched_name(
                        lines, "账户名称",
                        ["开户行名称", "投资主体产品名称", "基金代码", "申请日期",
                         "确认金额", "手续费", "交易状态", "经办人", "特别说明"],
                        4,
                    ),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"申请金额\s*({_DECO})元?"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "交e通",  # :295-336 投资者信息 next line, 申请金额/份额
            _single(
                {
                    "product_name": X.line_after(text, "投资者信息", min_len=6),
                    "fund_code": X.rx(text, r"产品代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"申请金额/份额\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "网金基金",  # :338-409 投资者名称, dual-position code/amount
            _single(
                {
                    "product_name": X.label_value_until(text, "投资者名称"),
                    "fund_code": wj_code,
                    "amount": wj_amount,
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "腾元基金",  # :411-447 plain labels, 申购金额（小写）
            _single(
                {
                    "product_name": X.label_value_until(text, "投资者名称"),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"申购金额（小写）\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "和讯科技",  # :449-500 账户名称 stitch
            _single(
                {
                    "product_name": X.stitched_name(
                        lines, "账户名称",
                        ["交易账号", "申请工作日", "基金代码", "申请金额",
                         "重要提示", "账户类型"],
                        4,
                    ),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"申请金额\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "京东肯特瑞",  # :502-538 申请金额(元) ASCII parens
            _single(
                {
                    "product_name": X.label_value_until(text, "客户名称"),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"申请金额\(元\)\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "民生同业e+",  # :540-578 委托金额/委托份额
            _single(
                {
                    "product_name": X.label_value_until(
                        text, "客户名称：", stops=("交易类型：",), sep=r"[ \t]*"
                    ),
                    "fund_code": X.rx(text, r"产品代码：\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"委托金额/委托份额：\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "招赢通基金",  # :580-609 CNY amount, alnum product code
            _single(
                {
                    "product_name": X.label_value_until(text, "投资者名称"),
                    "fund_code": X.rx(text, r"产品代码\s*([0-9A-Za-z]+)"),
                    "amount": X.rx(text, r"申请金额[^\n]*CNY\s*([\d,.]+)"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "融联创同业交易平台",  # :611-669 投资者名称 + 2-line stitch
            _single(
                {
                    "product_name": X.stitched_name(
                        lines, "投资者名称",
                        ["银行账号", "开户行名称", "基金代码", "基金名称",
                         "申请日期", "申请金额"],
                        2,
                    ),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"申请金额\s*({_DECO})元?"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "基煜基金",  # :723-759 账户名称：, 申购金额(小写)：
            _single(
                {
                    "product_name": X.label_value_until(text, "账户名称：", sep=r"[ \t]*"),
                    "fund_code": X.rx(text, r"产品代码：\s*([0-9]{6})"),
                    "amount": X.rx(
                        text, rf"申购金额[（(]小写[）)]：\s*({_DECO})元?"
                    ),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "宁波银行",  # :761-801 客户名称…交易账号 cut, 申请金额（元）
            _single(
                {
                    "product_name": X.label_value_until(
                        text, "客户名称", stops=("交易账号",)
                    ),
                    "fund_code": X.rx(text, r"产品代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"申请金额（元）\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "国信嘉利基金",  # :803-839 账户名称
            _single(
                {
                    "product_name": X.label_value_until(text, "账户名称"),
                    "fund_code": X.rx(text, r"产品代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"申请金额\s*({_DECO})元?"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "攀赢基金",  # :841-878 申购金额（小写）
            _single(
                {
                    "product_name": X.label_value_until(text, "客户名称"),
                    "fund_code": X.rx(text, r"产品代码\s*([0-9]{6})"),
                    "amount": X.rx(
                        text, rf"申购金额[（(]小写[）)]\s*({_DECO})元?"
                    ),
                },
                _TXN_FIELDS,
            ),
        ),
        ("盈米基金", F.transform(ym_segments, ym_rec)),
        ("联泰基金", F.transform(lt_segments, lt_rec)),
        ("证达通基金", F.transform(zdt_rows, zdt_rec)),
        (
            "兴证全球基金",  # engine extension: P5 spaced labels
            _single(
                {
                    "product_name": X.label_value(
                        text, "产品名称", NAME, tolerate_spacing=True
                    ),
                    "fund_code": X.label_value(
                        text, "基金代码", X.CODE6, tolerate_spacing=True
                    ),
                    "amount": X.label_value(text, "申请金额", tolerate_spacing=True),
                    "fee": X.label_value(text, "手续费", tolerate_spacing=True),
                },
                _TXN_FIELDS,
            ),
        ),
    ]


PURCHASE_CONFIRM_EXCLUDES = ("强行调", "调增", "超级转换", "转换", "分红方式")
# the reference additionally drops 赎回-named files UNLESS they are
# 江苏银行/融联创 confirms (purchase_confirm_extractor.py:1451-1459)
PURCHASE_CONFIRM_KEEP_DESPITE = ("赎回", ("江苏银行", "融联创"))

# Full 23-platform first-match chain, in the reference's elif order
# (purchase_confirm_extractor.py:1480-1501 predicates, :1504-1568 order).
PURCHASE_CONFIRM_RULES = [
    # C2 compound guard: 好买 confirm must NOT be a conversion doc
    PlatformRule(
        "好买基金", all_of(line_has("好买基金", 0, 2), not_(text_has("转换")))
    ),
    # the reference's 2025-10-22 changelog regression (更新日志.txt:24-25):
    # super-conversion docs whose filename looks like a confirm must be
    # rejected on CONTENT; the corrected parenthesization is
    # redemption_extractor.py:1223 — (fname OR lines[3:]) AND NOT 转换
    PlatformRule(
        "天天基金",
        all_of(
            any_of(fname_has("天天基金"), line_has("天天基金", 3)),
            not_(text_has("转换")),
        ),
    ),
    PlatformRule("利得基金", line_has("利得基金", 3)),
    PlatformRule("长量基金", line_has("长量基金", 0, 2)),
    PlatformRule("交e通", any_of(fname_has("交e通"), line_has("交通银行", 0, 2))),
    PlatformRule(
        "京东肯特瑞", all_of(line_has("肯特瑞", 0, 2), line_has("申购确认", 0, 2))
    ),
    PlatformRule("网金基金", any_of(fname_has("网金"), line_has("网金基金", 5))),
    PlatformRule("平安行E通", line_has("行E通", 5)),
    PlatformRule("建行直销", any_of(fname_has("建行"), text_has("客 户 名 称"))),
    PlatformRule("腾元基金", any_of(fname_has("腾元"), line_has("腾元基金", 5))),
    PlatformRule(
        "融联创同业交易平台",
        all_of(
            any_of(fname_has("江苏银行"), line_has("融联创", 0, 2)),
            line_has("申购", 0, 5),
        ),
    ),
    PlatformRule(
        "民生同业e+", any_of(fname_has("民生同业e+"), line_has("同业e+", 2))
    ),
    PlatformRule(
        "和讯基金", any_of(fname_has("和讯"), line_has("和讯信息科技有限公司", 3))
    ),
    PlatformRule("招赢通", any_of(fname_has("招赢通"), line_has("招赢通", 0, 2))),
    PlatformRule(
        "兴证全球基金", any_of(fname_has("兴证"), line_has("兴证全球基金", 0, 2))
    ),
    PlatformRule("邮储银行", fname_has("邮储")),
    PlatformRule("基煜基金", line_has("基煜基金", 0, 2)),
    PlatformRule(
        "宁波银行",
        any_of(
            all_of(fname_has("宁波"), fname_not("北极星")),
            all_of(line_has("宁波银行", 15), not_(line_has("联泰", 0, 5))),
        ),
    ),
    PlatformRule("国信嘉利基金", line_has("国信嘉利基金", 0, 2)),
    PlatformRule("攀赢基金", any_of(fname_has("攀赢"), line_has("攀赢", 0, 2))),
    PlatformRule(
        "证达通基金", all_of(text_has("证达通"), text_has("申购确认单"))
    ),
    PlatformRule("盈米基金", any_of(fname_has("盈米"), line_has("盈米", 0, 3))),
    PlatformRule(
        "联泰基金",
        all_of(
            any_of(fname_has("北极星"), line_has("联泰", 0, 2)),
            line_has("申购", 0, 20),
        ),
    ),
]


_DEC = r"[\d,]+\.\d+"      # strict decimal (reference [\d,]+\.\d+)
_DECO = r"[\d,]+\.?\d*"    # optional-decimal (reference [\d,]+\.?\d*)


def _purchase_confirm_specs(text: Column, lines: Column, filename: Column):
    """23 platform specs, labels per purchase_confirm_extractor.py
    (function line refs inline)."""
    # 盈米 F1 multi-record (:173-270)
    ym_segments = X.marker_records(text, r"序号:\d+\n")

    def ym_rec(seg: Column) -> Column:
        return _rec(
            {
                "product_name": X.label_value(text, "产品名称", NAME),
                "fund_code": X.label_value(seg, "基金代码", X.CODE6),
                "amount": X.label_value(seg, "确认金额"),
                "qty": X.label_value(seg, "确认份额"),
                "fee": X.label_value(seg, "手续费"),
            },
            _TXN_FIELDS,
        )

    # 联泰 F2 交易信息（X/Y） multi-record (:660-724)
    lt_segments = X.marker_records(text, r"交易信息（\d+/\d+）")

    def lt_rec(seg: Column) -> Column:
        return _rec(
            {
                "product_name": X.rx(text, r"投资账户\s*([^\s]+)"),
                "fund_code": X.rx(seg, r"基金代码\s+([0-9]{6})"),
                "amount": X.rx(seg, rf"确认金额\(元\)\s*({_DECO})"),
                "qty": X.rx(seg, rf"确认份额\(份\)\s*({_DECO})"),
                "fee": X.rx(seg, rf"手续费\(元\)\s*({_DECO})"),
            },
            _TXN_FIELDS,
        )

    # 网金 amount: 申购金额（小写） same-line, OCR-split, or next-line
    # (:413-436)
    wj_amount = F.coalesce(
        # same-line junk tolerated between label and number — the
        # reference's match2 申购金额小写[^0-9]* (e.g. '申购金额小写.壹 38,000,000.00')
        X.rx(text, r"申购金额[（(]?小写[）)]?[^0-9\n]*([0-9,]+\.?[0-9]*)"),
        X.rx(text, r"(?m)申购金额[（(]?小写[）)]?[^0-9\n]*\n\s*([0-9,]+\.?[0-9]*)\s*$"),
    )
    return [
        (
            "好买基金",  # :34-64 账户名称 prev+next, 产品代码
            _single(
                {
                    "product_name": X.adjacent_name(
                        lines, "账户名称",
                        prev_stops=("制单人", "好买基金"),
                        next_stops=("证件类型", "产品代码"),
                    ),
                    "fund_code": X.rx(text, r"产品代码[：: ]*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额[：: ]*({_DEC})"),
                    "qty": X.rx(text, rf"确认份额[：: ]*({_DEC})"),
                    "fee": X.rx(text, rf"手续费[：: ]*({_DEC})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "天天基金",  # :67-109 账户户名 prev+inline+next, 确认费用
            _single(
                {
                    "product_name": X.adjacent_name(
                        lines, "账户户名",
                        prev_stops=("确认单",),
                        next_stops=("账户类型",),
                        inline_before=True,
                    ),
                    "fund_code": X.rx(text, r"基金代码[：: ]*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额[：: ]*({_DEC})"),
                    "qty": X.rx(text, rf"确认份额[：: ]*({_DEC})"),
                    "fee": X.rx(text, rf"确认费用[：: ]*({_DEC})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "利得基金",  # :111-140 投资者姓名/名称, （元）/（份） labels
            _single(
                {
                    "product_name": X.label_value_until(text, "投资者姓名/名称"),
                    "fund_code": X.rx(text, r"基金代码[：: ]*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额（元）[：: ]*({_DEC})"),
                    "qty": X.rx(text, rf"确认份额（份）[：: ]*({_DEC})"),
                    "fee": X.rx(text, rf"交易费用（元）[：: ]*({_DEC})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "长量基金",  # :142-171 trailing (元)/(份) unit guards
            _single(
                {
                    "product_name": X.label_value_until(text, "投资者名称"),
                    "fund_code": X.rx(text, r"基金代码[：: ]*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额[：: ]*({_DEC}).*?\(元\)"),
                    "qty": X.rx(text, rf"确认份额[：: ]*({_DEC}).*?\(份\)"),
                    "fee": X.rx(text, rf"手续费[：: ]*({_DEC}).*?\(元\)"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "交e通",  # :272-328 投资者信息, 认申购手续费
            _single(
                {
                    "product_name": X.label_value_until(text, "投资者信息", sep=r"[ \t]*"),
                    "fund_code": X.rx(text, r"产品代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额\s*({_DECO})"),
                    "qty": X.rx(text, rf"确认份额\s*({_DECO})"),
                    "fee": X.rx(text, rf"认申购手续费\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "京东肯特瑞",  # :330-384 客户名称
            _single(
                {
                    "product_name": X.label_value_until(text, "客户名称"),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额\s*({_DECO})"),
                    "qty": X.rx(text, rf"确认份额\s*({_DECO})"),
                    "fee": X.rx(text, rf"手续费\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "网金基金",  # :387-458 投资者名称, 申购金额（小写）, 确认净额, 费开户
            _single(
                {
                    "product_name": X.label_value_until(text, "投资者名称"),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": wj_amount,
                    "qty": X.rx(text, r"确认净额\D*([0-9,]+\.?[0-9]*)"),
                    "fee": X.rx(text, rf"费开户\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "平安行E通",  # :460-530 账户名称 P4 stitch
            _single(
                {
                    "product_name": X.stitched_name(
                        lines, "账户名称",
                        ["开户行名称", "投资主体产品名称", "基金代码", "申请日期",
                         "确认金额", "手续费", "交易状态", "经办人", "特别说明"],
                        4,
                    ),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额\s*({_DECO})"),
                    "qty": X.rx(text, rf"确认份额\s*({_DECO})"),
                    "fee": X.rx(text, rf"手续费\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "建行直销",  # :532-590 P5 letter-spaced labels
            _single(
                {
                    "product_name": X.label_value(
                        text, "客户名称", NAME, tolerate_spacing=True
                    ),
                    "fund_code": X.label_value(
                        text, "基金代码", X.CODE6, tolerate_spacing=True
                    ),
                    "amount": X.label_value(text, "确认金额", tolerate_spacing=True),
                    "qty": X.label_value(text, "确认份额", tolerate_spacing=True),
                    "fee": X.label_value(text, "手续费", tolerate_spacing=True),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "腾元基金",  # :592-656 P6 box-drawing cells
            _single(
                {
                    "product_name": X.rx(
                        text, r"客户名称[^│\n]*│\s*([^│┃\n]+)"
                    ),
                    "fund_code": X.box_cell(text, "基金代码", X.CODE6),
                    "amount": X.box_cell(text, "确认金额"),
                    "qty": X.box_cell(text, "确认份额"),
                    "fee": X.box_cell(text, r"手\s*续\s*费"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "融联创同业交易平台",  # :727-781 来款账号名称 + next line
            _single(
                {
                    "product_name": X.stitched_name(
                        lines, "来款账号名称", ["大额支付行号", "产品代码"], 1
                    ),
                    "fund_code": X.rx(text, r"产品代码\s*[:：]?\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额\s*[:：]?\s*({_DEC})"),
                    "qty": X.rx(text, rf"确认份额\s*[:：]?\s*({_DEC})"),
                    "fee": X.rx(text, rf"手续费\s*[:：]?\s*({_DEC})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "民生同业e+",  # :783-839 （元）/（份） labels
            _single(
                {
                    "product_name": X.label_value_until(text, "客户名称"),
                    "fund_code": X.rx(text, r"产品代码[：:]\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额（元）[：:]\s*({_DECO})"),
                    "qty": X.rx(text, rf"确认份额（份）[：:]\s*({_DECO})"),
                    "fee": X.rx(text, rf"手续费（元）[：:]\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "和讯基金",  # :841-917 账户名称 stitch, 确认费用
            _single(
                {
                    "product_name": X.stitched_name(
                        lines, "账户名称",
                        ["交易账号", "基金账号", "确认工作日", "业务类型",
                         "确认单号", "基金代码", "基金名称", "账户类型"],
                        4,
                    ),
                    "fund_code": X.rx(text, r"基金代码\s+([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额\s+({_DECO})"),
                    "qty": X.rx(text, rf"确认份额\s+({_DECO})"),
                    "fee": X.rx(text, rf"确认费用\s+({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "招赢通",  # :919-990 CNY-prefixed money, 交易费用
            _single(
                {
                    "product_name": X.stitched_name(
                        lines, "投资者名称",
                        ["证件类型", "证件号码", "基金账号", "基金交易账号",
                         "产品信息", "产品类型", "产品管理人", "产品代码"],
                        4,
                    ),
                    "fund_code": X.rx(text, r"产品代码\s+([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额\s+CNY\s+({_DECO})"),
                    "qty": X.rx(text, rf"确认份额\s+({_DECO})"),
                    "fee": X.rx(text, rf"交易费用\s+CNY\s+({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "兴证全球基金",  # :992-1048 P5 letter-spaced 账 号 名 称
            _single(
                {
                    "product_name": X.label_value(
                        text, "账号名称", NAME, tolerate_spacing=True
                    ),
                    "fund_code": X.label_value(
                        text, "基金代码", X.CODE6, tolerate_spacing=True
                    ),
                    "amount": X.label_value(text, "确认金额", tolerate_spacing=True),
                    "qty": X.label_value(text, "确认份额", tolerate_spacing=True),
                    "fee": X.label_value(text, "手续费", tolerate_spacing=True),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "邮储银行",  # :1050-1124 ASCII-colon labels, 证件类型 cut
            _single(
                {
                    "product_name": X.label_value_until(
                        text, "客户名称:", stops=("证件类型:",), sep=r"[ \t]*"
                    ),
                    "fund_code": X.rx(text, r"产品代码:\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额（元）:\s*({_DECO})"),
                    "qty": X.rx(text, rf"确认份额（份）:\s*({_DECO})"),
                    "fee": X.rx(text, rf"手续费（元）:\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "基煜基金",  # :1126-1182 账户名称, 元/份 unit strip
            _single(
                {
                    "product_name": X.label_value_until(text, "账户名称"),
                    "fund_code": X.rx(text, r"产品代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额\s*({_DECO})元?"),
                    "qty": X.rx(text, rf"确认份额\s*({_DECO})份?"),
                    "fee": X.rx(text, rf"手续费\s*({_DECO})元?"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "宁波银行",  # :1184-1246 客户名称…基金账号 cut, 申购费用（元）
            _single(
                {
                    "product_name": X.label_value_until(
                        text, "客户名称", stops=("基金账号",)
                    ),
                    "fund_code": X.rx(text, r"产品代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额（元）\s*({_DECO})"),
                    "qty": X.rx(text, rf"确认份额（份）\s*({_DECO})"),
                    "fee": X.rx(text, rf"申购费用（元）\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "国信嘉利基金",  # :1248-1304
            _single(
                {
                    "product_name": X.label_value_until(text, "账户名称"),
                    "fund_code": X.rx(text, r"产品代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额\s*({_DECO})元?"),
                    "qty": X.rx(text, rf"确认份额\s*({_DECO})份?"),
                    "fee": X.rx(text, rf"手续费\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "攀赢基金",  # :1306-1363 客户名称
            _single(
                {
                    "product_name": X.label_value_until(text, "客户名称"),
                    "fund_code": X.rx(text, r"产品代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额\s*({_DECO})元?"),
                    "qty": X.rx(text, rf"确认份额\s*({_DECO})份?"),
                    "fee": X.rx(text, rf"手续费\s*({_DECO})元?"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "证达通基金",  # :1365-1420 single-doc format, 投资者类型 cut
            _single(
                {
                    "product_name": X.rx(
                        text, r"投资者名称[：:]\s*(.+?)(?:\s+投资者类型|\n|$)"
                    ),
                    "fund_code": X.rx(text, r"基金代码[：:]\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额[：:]\s*({_DECO})"),
                    "qty": X.rx(text, rf"确认份额[：:]\s*({_DECO})"),
                    "fee": X.rx(text, rf"手续费[：:]\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        ("盈米基金", F.transform(ym_segments, ym_rec)),
        ("联泰基金", F.transform(lt_segments, lt_rec)),
    ]


REDEMPTION_EXCLUDES = ("强行调", "调增", "分红方式")
# 申购-named files are dropped unless they are 江苏银行/融联创 redemptions
# (redemption_extractor.py:1196-1201)
REDEMPTION_KEEP_DESPITE = ("申购", ("江苏银行", "融联创"))

# 17-platform first-match chain in the reference's elif order
# (redemption_extractor.py:1222-1237 predicates, :1240-1289 order).
REDEMPTION_RULES = [
    PlatformRule(
        "好买基金", all_of(line_has("好买基金", 0, 2), not_(text_has("转换")))
    ),
    # corrected parenthesization (:1223): (fname OR lines[3:]) AND NOT 转换
    PlatformRule(
        "天天基金",
        all_of(
            any_of(fname_has("天天基金"), line_has("天天基金", 3)),
            not_(text_has("转换")),
        ),
    ),
    PlatformRule("利得基金", line_has("利得基金", 3)),
    PlatformRule("长量基金", line_has("长量基金", 0, 2)),
    PlatformRule("交e通", any_of(fname_has("交e通"), line_has("交通银行", 0, 2))),
    PlatformRule(
        "京东肯特瑞", all_of(line_has("肯特瑞", 0, 2), line_has("赎回确认", 0, 2))
    ),
    PlatformRule("网金基金", any_of(fname_has("网金"), line_has("网金基金", 5))),
    PlatformRule("平安行E通", line_has("行E通", 5)),
    PlatformRule("建行直销", any_of(fname_has("建行"), text_has("客 户 名 称"))),
    PlatformRule(
        "融联创同业交易平台",
        all_of(
            any_of(fname_has("江苏银行"), line_has("融联创", 0, 2)),
            line_has("赎回", 0, 5),
        ),
    ),
    PlatformRule(
        "民生同业e+", any_of(fname_has("民生同业e+"), line_has("同业e+", 2))
    ),
    PlatformRule("攀赢基金", any_of(fname_has("攀赢"), line_has("攀赢", 0, 2))),
    PlatformRule("盈米基金", any_of(fname_has("盈米"), line_has("盈米", 0, 3))),
    PlatformRule(
        "联泰基金",
        all_of(
            any_of(fname_has("北极星"), line_has("联泰", 0, 2)),
            line_has("赎回", 0, 15),
        ),
    ),
    PlatformRule("腾元基金", any_of(fname_has("腾元"), line_has("腾元基金", 5))),
    PlatformRule(
        "证达通基金", all_of(text_has("证达通"), text_has("赎回确认"))
    ),
    # P16: JD super-conversion doc's page-2 forced-redemption block feeds
    # the redemption job (:379-459, :1228)
    PlatformRule(
        "京东超级转换强行赎回",
        any_of(
            all_of(fname_has("肯特瑞"), fname_has("转换")),
            all_of(line_has("肯特瑞", 0, 2), line_has("转换", 0, 2)),
        ),
    ),
]

# F4 redemption variant: tabular rows incl. fee column
# (redemption_extractor.py:1112-1145)
_ZDT_RED_ROW = (
    r"(?m)^\d+\s+\d{10,}\s+(\S+)\s+([0-9]{6})\s+赎回\s+"
    r"([\d,.]+)\s+([\d,.]+)\s+([\d,.]+)[ \t]*$"
)


def _ymd8(c: Column) -> Column:
    """'2026-01-18' -> '20260118' (the reference's .replace('-','') on
    every 预计到账日-style capture)."""
    return F.regexp_replace(c, "-", "")


def _redemption_specs(text: Column, lines: Column, filename: Column):
    """17 platform specs, labels per redemption_extractor.py (refs
    inline). ``est_date`` carries either an absolute yyyymmdd or a bare
    T+n count (平安) — _txn_job resolves both."""
    # N3 — 平安 赎回最快到账日: T+n count or absolute date (:662-683)
    pa_est = F.coalesce(
        X.rx(text, r"赎回最快到账日\s*[TＴ]\s*\+\s*(\d+)"),
        _ymd8(X.rx(text, r"赎回最快到账日\s*(\d{4}-\d{2}-\d{2})")),
    )
    # P16: scope to the forced-redemption section only (:379-459)
    jd_section = X.section_after(text, "强行赎回确认")
    # F3: 腾元 multi-page — one segment per 业务类型│赎回确认 marker
    # (:751-835)
    ty_segments = X.marker_records(text, r"业务类型│赎回确认\n")

    def ty_rec(seg: Column) -> Column:
        return _rec(
            {
                "product_name": X.rx(text, r"客户名称[^│\n]*│\s*([^│┃\n]+)"),
                "fund_code": X.box_cell(seg, "基金代码", X.CODE6),
                "qty": X.box_cell(seg, "确认份额"),
                "amount": X.box_cell(seg, "确认金额"),
                "fee": X.box_cell(seg, r"手\s*续\s*费"),
            },
            _TXN_FIELDS,
        )

    # F4: 证达通 redemption summary rows incl. the fee column (:1091-1158)
    zdt_rows = X.row_table_records(text, _ZDT_RED_ROW)
    _zr = _ZDT_RED_ROW.replace("(?m)", "")

    def zdt_red_rec(row: Column) -> Column:
        return _rec(
            {
                "product_name": F.regexp_extract(row, _zr, 1),
                "fund_code": F.regexp_extract(row, _zr, 2),
                "qty": F.regexp_extract(row, _zr, 3),
                "amount": F.regexp_extract(row, _zr, 4),
                "fee": F.regexp_extract(row, _zr, 5),
            },
            _TXN_FIELDS,
        )

    # F1: 盈米 records anchored at 交易序号…赎回 lines (:204-305)
    ym_segments = X.marker_records(text, r"交易序号[：:]\d+\s*交易类型[：:]赎回[^\n]*\n")

    def ym_rec(seg: Column) -> Column:
        return _rec(
            {
                "product_name": X.rx(text, r"投资者名称\s*[:：]?\s*([^\s]+)"),
                "fund_code": X.rx(seg, r"基金代码[:：]\s*([0-9]{6})"),
                "amount": X.rx(seg, rf"确认金额[:：]?\s*({_DEC})"),
                "qty": X.rx(seg, rf"确认份额[:：]?\s*({_DEC})"),
                "fee": X.rx(seg, rf"手续费[:：]?\s*({_DEC})"),
                "est_date": _ymd8(
                    X.rx(seg, r"到账日期[:：]?\s*(\d{4}-\d{2}-\d{2})")
                ),
            },
            _TXN_FIELDS,
        )

    # F2: 联泰 交易信息（X/Y） blocks with CN-paren unit labels (:838-908)
    lt_segments = X.marker_records(text, r"交易信息（\d+/\d+）")

    def lt_rec(seg: Column) -> Column:
        return _rec(
            {
                "product_name": X.rx(text, r"投资账户\s*([^\s]+)"),
                "fund_code": X.rx(seg, r"基金代码\s+([0-9]{6})"),
                "amount": X.rx(seg, rf"确认金额[（(]元[）)]\s*({_DECO})"),
                "qty": X.rx(seg, rf"确认份额[（(]份[）)]\s*({_DECO})"),
                "fee": F.coalesce(
                    X.rx(seg, rf"手续费[（(]元[）)]\s*({_DECO})"), F.lit("0.00")
                ),
                "est_date": _ymd8(
                    X.rx(seg, r"预计到账日期[:：]?\s*(\d{4}-\d{2}-\d{2})")
                ),
            },
            _TXN_FIELDS,
        )

    return [
        (
            "好买基金",  # :35-74 账户名称 prev+next, 预计到账日
            _single(
                {
                    "product_name": X.adjacent_name(
                        lines, "账户名称",
                        prev_stops=("制单人", "好买基金"),
                        next_stops=("证件类型", "产品代码"),
                    ),
                    "fund_code": X.rx(text, r"产品代码[：: ]*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额[：: ]*({_DEC})"),
                    "qty": X.rx(text, rf"确认份额[：: ]*({_DEC})"),
                    "fee": X.rx(text, rf"手续费[：: ]*({_DEC})"),
                    "est_date": _ymd8(
                        X.rx(text, r"预计到账日[：: ]*(\d{4}-\d{2}-\d{2})")
                    ),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "天天基金",  # :77-128 账户户名, 确认费用, 预计赎回到账 next line
            _single(
                {
                    "product_name": X.adjacent_name(
                        lines, "账户户名",
                        prev_stops=("确认单",),
                        next_stops=("账户类型",),
                        inline_before=True,
                    ),
                    "fund_code": X.rx(text, r"基金代码[：: ]*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额[：: ]*({_DEC})"),
                    "qty": X.rx(text, rf"确认份额[：: ]*({_DEC})"),
                    "fee": X.rx(text, rf"确认费用[：: ]*({_DEC})"),
                    "est_date": X.rx(text, r"(?m)预计赎回到账[^\n]*\n\s*(\d{8})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "利得基金",  # :130-167 （元）/（份）, 预计到账日期
            _single(
                {
                    "product_name": X.label_value_until(text, "投资者姓名/名称"),
                    "fund_code": X.rx(text, r"基金代码[：: ]*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额（元）[：: ]*({_DEC})"),
                    "qty": X.rx(text, rf"确认份额（份）[：: ]*({_DEC})"),
                    "fee": X.rx(text, rf"交易费用（元）[：: ]*({_DEC})"),
                    "est_date": _ymd8(
                        X.rx(text, r"预计到账日期[：: ]*(\d{4}-\d{2}-\d{2})")
                    ),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "长量基金",  # :169-202 trailing (元)/(份), 预计赎回款到账日
            _single(
                {
                    "product_name": X.label_value_until(text, "投资者名称"),
                    "fund_code": X.rx(text, r"基金代码[：: ]*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额[：: ]*({_DEC}).*?\(元\)"),
                    "qty": X.rx(text, rf"确认份额[：: ]*({_DEC}).*?\(份\)"),
                    "fee": X.rx(text, rf"手续费[：: ]*({_DEC}).*?\(元\)"),
                    "est_date": X.rx(text, r"预计赎回款到账日[：: ]*(\d{8})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "交e通",  # :308-377 投资者信息, 赎回手续费, 确认日期
            _single(
                {
                    "product_name": X.label_value_until(text, "投资者信息", sep=r"[ \t]*"),
                    "fund_code": X.rx(text, r"产品代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额\s*({_DECO})"),
                    "qty": X.rx(text, rf"确认份额\s*({_DECO})"),
                    "fee": X.rx(text, rf"赎回手续费\s*({_DECO})"),
                    "est_date": X.rx(text, r"确认日期\s*(\d{8})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "京东肯特瑞",  # :462-529 plain redemption confirm
            _single(
                {
                    "product_name": X.label_value_until(text, "客户名称"),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额\s*({_DECO})"),
                    "qty": X.rx(text, rf"确认份额\s*({_DECO})"),
                    "fee": X.rx(text, rf"手续费\s*({_DECO})"),
                    "est_date": _ymd8(
                        X.rx(text, r"预计到账日\s*(\d{4}-\d{2}-\d{2})")
                    ),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "网金基金",  # :531-591 确认金额 + 赎回份额, 手续费|费开户
            _single(
                {
                    "product_name": X.label_value_until(text, "投资者名称"),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额\s*({_DECO})"),
                    "qty": X.rx(text, rf"赎回份额\s*({_DECO})"),
                    "fee": F.coalesce(
                        X.rx(text, rf"(?:手续费|费开户)\s*({_DECO})"),
                        F.lit("0.00"),
                    ),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "平安行E通",  # :593-686 账户名称 stitch, 赎回最快到账日
            _single(
                {
                    "product_name": X.stitched_name(
                        lines, "账户名称",
                        ["开户行名称", "投资主体产品名称", "基金代码", "申请日期",
                         "确认金额", "手续费", "交易状态", "经办人", "特别说明"],
                        4,
                    ),
                    "fund_code": X.rx(text, r"基金代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额\s*({_DECO})元?"),
                    "qty": X.rx(text, rf"确认份额\s*({_DECO})份?"),
                    "fee": X.rx(text, rf"手续费\s*({_DECO})元?"),
                    "est_date": pa_est,
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "建行直销",  # :689-749 P5 letter-spaced labels
            _single(
                {
                    "product_name": X.label_value(
                        text, "客户名称", NAME, tolerate_spacing=True
                    ),
                    "fund_code": X.label_value(
                        text, "基金代码", X.CODE6, tolerate_spacing=True
                    ),
                    "amount": X.label_value(text, "确认金额", tolerate_spacing=True),
                    "qty": X.label_value(text, "确认份额", tolerate_spacing=True),
                    "fee": X.label_value(text, "手续费", tolerate_spacing=True),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "融联创同业交易平台",  # :911-968 来款账号名称
            _single(
                {
                    "product_name": X.stitched_name(
                        lines, "来款账号名称", ["大额支付行号", "产品代码"], 1
                    ),
                    "fund_code": X.rx(text, r"产品代码\s*[:：]?\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额\s*[:：]?\s*({_DEC})"),
                    "qty": X.rx(text, rf"确认份额\s*[:：]?\s*({_DEC})"),
                    "fee": X.rx(text, rf"手续费\s*[:：]?\s*({_DEC})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "民生同业e+",  # :970-1029 （元）/（份） labels
            _single(
                {
                    "product_name": X.label_value_until(
                        text, "客户名称：", sep=r"[ \t]*"
                    ),
                    "fund_code": X.rx(text, r"产品代码：\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额（元）：\s*({_DECO})"),
                    "qty": X.rx(text, rf"确认份额（份）：\s*({_DECO})"),
                    "fee": X.rx(text, rf"手续费（元）：\s*({_DECO})"),
                },
                _TXN_FIELDS,
            ),
        ),
        (
            "攀赢基金",  # :1031-1089 手续费 same-line or next-line, 0 default
            _single(
                {
                    "product_name": X.label_value_until(text, "客户名称"),
                    "fund_code": X.rx(text, r"产品代码\s*([0-9]{6})"),
                    "amount": X.rx(text, rf"确认金额\s*({_DECO})元?"),
                    "qty": X.rx(text, rf"确认份额\s*({_DECO})份?"),
                    "fee": F.coalesce(
                        X.rx(text, rf"手续费\s*({_DECO})"),
                        X.rx(text, rf"(?m)手续费[^\n0-9]*\n\s*({_DECO})"),
                        F.lit("0.00"),
                    ),
                },
                _TXN_FIELDS,
            ),
        ),
        ("盈米基金", F.transform(ym_segments, ym_rec)),
        ("联泰基金", F.transform(lt_segments, lt_rec)),
        ("腾元基金", F.transform(ty_segments, ty_rec)),
        ("证达通基金", F.transform(zdt_rows, zdt_red_rec)),
        (
            "京东超级转换强行赎回",  # :379-459 P16 section-scoped fields
            _single(
                {
                    "product_name": X.rx(
                        jd_section, r"客户名称\s+(.*?)(?:\s+证件类型|\n|$)"
                    ),
                    "fund_code": X.rx(jd_section, r"基金代码\s+(\d{6})"),
                    "amount": X.rx(jd_section, rf"确认金额\s+({_DEC})"),
                    "qty": X.rx(jd_section, rf"确认份额\s+({_DEC})"),
                    "fee": X.rx(jd_section, rf"手续费\s+({_DEC})"),
                    "est_date": _ymd8(
                        X.rx(jd_section, r"预计到账日\s+(\d{4}-\d{2}-\d{2})")
                    ),
                },
                _TXN_FIELDS,
            ),
        ),
    ]


def _txn_job(
    docs: DataFrame,
    dim: DataFrame,
    run_date: str,
    rules,
    specs_fn,
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
    df = classify(pre, rules)
    recs = _explode_records(df, specs_fn, _TXN_FIELDS)
    recs = require_fields(recs, required)
    # N3 — est_date is either an absolute yyyymmdd the platform printed
    # (好买/利得/长量/交行/盈米/联泰/京东 forms, hyphens already stripped
    # in the spec) or a bare T+n day count (平安,
    # redemption_extractor.py:662-672: arrival = today + (n-1))
    arrival = (
        F.when(F.col("est_date").rlike("^[0-9]{8}$"), F.col("est_date"))
        .when(
            F.col("est_date").isNotNull(),
            _yyyymmdd(
                F.date_add(rd, F.col("est_date").try_cast("int") - F.lit(1))
            ),
        )
        .otherwise(_yyyymmdd(rd))
        if redemption
        else F.lit(None).cast("string")
    )
    norm = (
        recs.withColumn(
            "product_name", complete_name_suffix(clean_name(F.col("product_name")))
        )
        .withColumn("qty", clean_number(F.col("qty")))
        .withColumn("amount", clean_number(F.col("amount")))
        .withColumn("fee", clean_number(F.col("fee")))
        .withColumn("market", F.lit(MARKET_INTERBANK))
        .withColumn("biz_date", _yyyymmdd(rd))
        .withColumn("business_type", F.lit(business_type))
        .withColumn("redemption_arrival_date", arrival)
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
        docs, dim, run_date, PURCHASE_APPLY_RULES, _purchase_apply_specs,
        PURCHASE_APPLY_EXCLUDES, BT_PURCHASE_APPLY, required=["fund_code", "amount"],
    )


def purchase_confirm_job(docs, dim, run_date: str = "2026-01-15") -> DataFrame:
    return _txn_job(
        docs, dim, run_date, PURCHASE_CONFIRM_RULES, _purchase_confirm_specs,
        PURCHASE_CONFIRM_EXCLUDES, BT_PURCHASE_CONFIRM, required=["fund_code", "amount"],
        keep_despite=PURCHASE_CONFIRM_KEEP_DESPITE,
    )


def redemption_confirm_job(docs, dim, run_date: str = "2026-01-15") -> DataFrame:
    return _txn_job(
        docs, dim, run_date, REDEMPTION_RULES, _redemption_specs,
        REDEMPTION_EXCLUDES, BT_REDEMPTION_CONFIRM,
        required=["fund_code"], redemption=True,
        keep_despite=REDEMPTION_KEEP_DESPITE,
    )


# ==========================================================================
# Super-conversion job (conversion_extractor.py)
# ==========================================================================

CONVERSION_RULES = [
    # conversion_extractor.py:262-263 — the job's two platforms
    # (main GUI list "京东肯特瑞、天天基金")
    PlatformRule(
        "京东肯特瑞", any_of(fname_has("肯特瑞基金"), line_has("肯特瑞", 0, 2))
    ),
    PlatformRule("天天基金", fname_has("天天基金")),
]


_CONV_FIELDS = [
    "product_name", "out_fund_code", "in_fund_code", "out_amount",
    "out_shares", "in_shares", "in_fee", "out_confirm_date",
]


def _conversion_specs(text: Column, lines: Column, filename: Column):
    """The job's two single-record platforms (P16 section scoping)."""
    section = F.coalesce(X.section_after(text, "转换确认"), text)  # P16
    jd = {
        "product_name": clean_name(X.label_value(text, "产品名称", NAME)),
        "out_fund_code": X.label_value(section, "转出基金代码", X.CODE6),
        "in_fund_code": X.label_value(section, "转入基金代码", X.CODE6),
        "out_amount": clean_number(X.label_value(section, "转出金额")),
        "out_shares": clean_number(X.label_value(section, "转出份额")),
        "in_shares": clean_number(X.label_value(section, "转入份额")),
        "in_fee": clean_number(X.label_value(section, "转入手续费")),
        "out_confirm_date": X.label_value(section, "确认日期", r"\d{8}"),
    }
    # 天天 super-conversion (conversion_extractor.py:127-222): name from the
    # first 万联-bearing line + the 计划/合资产 continuation within 3 lines;
    # out/in numbers on the line AFTER the 转出基金确认/转入基金确认 markers
    # (shares first, then amount); fee = first decimal on the 手续费 line
    tt_idx = F.array_position(
        F.transform(F.slice(lines, 1, 10), lambda l: l.contains("万联")),
        F.lit(True),
    )
    tt_p1 = F.when(
        tt_idx > 0, F.trim(F.element_at(lines, tt_idx.cast("int")))
    ).otherwise(F.lit(""))
    tt_window = F.when(
        tt_idx > 0, F.slice(lines, (tt_idx + 1).cast("int"), 3)
    ).otherwise(F.array().cast("array<string>"))
    tt_p2 = F.coalesce(
        F.try_element_at(
            F.filter(
                tt_window,
                lambda l: l.contains("计划") | l.startswith("合资产"),
            ),
            F.lit(1),
        ),
        F.lit(""),
    )
    tt_name = F.when(
        tt_idx > 0, F.nullif(F.concat(F.trim(tt_p1), F.trim(tt_p2)), F.lit(""))
    )
    # markers are containment tests in the reference ('转出基金确认' in
    # line and '金额' not in line, conversion_extractor.py:160-169), not
    # line-anchored literals — lookaheads keep that semantics under (?m)^
    _out_pair = (
        r"(?m)^(?=[^\n]*转出基金确认)(?![^\n]*金额)[^\n]*\n"
        r"[ \t]*([\d,]+\.\d+)\s+([\d,]+\.\d+)"
    )
    tt = {
        "product_name": clean_name(tt_name),
        "out_fund_code": X.rx(text, r"转出基金代码\s+(\d{6})"),
        "in_fund_code": X.rx(text, r"转入基金代码\s+(\d{6})"),
        "out_amount": clean_number(X.rx(text, _out_pair, 2)),
        "out_shares": clean_number(X.rx(text, _out_pair, 1)),
        "in_shares": clean_number(
            X.rx(
                text,
                r"(?m)^(?=[^\n]*转入基金确认)(?![^\n]*份额)[^\n]*\n"
                r"[ \t]*([\d,]+\.\d+)",
            )
        ),
        # fee strategy A: first decimal on the 手续费 line; strategy B
        # (:197-203, the 2025 错行 fix): the wrapped form puts the value
        # on the PREVIOUS line as 'num(' — e.g. '719.97(转换费：0,补差费'
        "in_fee": clean_number(
            F.coalesce(
                X.rx(text, r"(?m)^(?=[^\n]*手续费)[^\n]*?([\d,]+\.\d+)"),
                X.rx(text, r"(?m)^[^\n]*?([\d,.]+)[ \t]*[（(][^\n]*\n(?=[^\n]*手续费)"),
            )
        ),
    }
    return [
        ("京东肯特瑞", _single(jd, _CONV_FIELDS)),
        ("天天基金", _single(tt, _CONV_FIELDS)),
    ]


def conversion_job(docs, dim, run_date: str = "2026-01-15") -> DataFrame:
    """19-col conversion output; N4 derived in_amount = out_amount -
    in_fee with fallback to out_amount (conversion_extractor.py:212-219
    for JD, :215-222 for 天天)."""
    pre = _prep(docs).filter(
        F.col("filename").contains("超级") | F.col("filename").contains("转换")
    )
    df = classify(pre, CONVERSION_RULES)
    extracted = _explode_records(df, _conversion_specs, _CONV_FIELDS)
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
    in_head = F.exists(
        F.slice(F.col("lines"), 1, 5), lambda l: l.contains(marker)
    )
    return df.filter(in_head)


def manual_purchase_apply_job(docs, dim, run_date: str = "2026-01-15") -> DataFrame:
    rd = _run_date(run_date)
    base = _manual_base(docs, "基金交易申请受理单")
    text = F.col("text")
    out = base.select(
        _yyyymmdd(rd).alias("biz_date"),
        # P13 OCR code repair after extraction
        correct_fund_code(
            X.label_value(text, "基金代码", r"[0-9A-Za-z8l]{6}")
        ).alias("fund_code"),
        F.lit(MANUAL_PRODUCT).alias("product_name"),
        # P12 candidate-max across OCR-noisy duplicated amounts
        X.candidate_max(text, _AMT).alias("amount"),
        F.lit("申购申请").alias("business_type"),
        F.lit(MANUAL_CASH_ACCOUNT).alias("cash_account"),
        F.lit(None).cast("string").alias("counterparty"),
        F.lit("万事如意直销").alias("platform"),
    )
    return require_fields(out.select(*MANUAL_APPLY_COLS), ["fund_code", "amount"])


def manual_purchase_confirm_job(docs, dim, run_date: str = "2026-01-15") -> DataFrame:
    rd = _run_date(run_date)
    base = _manual_base(docs, "交易确认单")
    text = F.col("text")
    apply_amt = X.candidate_max(text, rf"申请金额[：: ]*({_AMT})")
    confirm_amt = X.candidate_max(text, rf"确认金额[：: ]*({_AMT})")
    out = base.select(
        _yyyymmdd(rd).alias("biz_date"),
        correct_fund_code(
            X.label_value(text, "基金代码", r"[0-9A-Za-z8l]{6}")
        ).alias("fund_code"),
        F.lit(MANUAL_PRODUCT).alias("product_name"),
        apply_amt.alias("amount"),
        confirm_amt.alias("confirm_amount"),
        # N4: refund = apply - confirm (manual_purchase_confirm_extractor.py:348-354)
        round2(apply_amt - confirm_amt, 2).alias("refund"),
        X.label_value(text, "业务类型", r"[^\n 　]+").alias("business_type"),
        F.lit(MANUAL_CASH_ACCOUNT).alias("cash_account"),
        F.lit(None).cast("string").alias("counterparty"),
        F.lit("万事如意直销").alias("platform"),
    )
    # Q1 business-type whitelist (manual_purchase_confirm_extractor.py:407)
    out = out.filter(F.col("business_type").isin("申购确认", "认购确认"))
    return require_fields(out.select(*MANUAL_CONFIRM_COLS), ["fund_code"])


def manual_redemption_job(docs, dim, run_date: str = "2026-01-15") -> DataFrame:
    rd = _run_date(run_date)
    base = _manual_base(docs, "交易确认单")
    text = F.col("text")
    out = base.select(
        _yyyymmdd(rd).alias("biz_date"),
        correct_fund_code(
            X.label_value(text, "基金代码", r"[0-9A-Za-z8l]{6}")
        ).alias("fund_code"),
        F.lit(MANUAL_PRODUCT).alias("product_name"),
        X.candidate_max(text, rf"确认份额[：: ]*({_AMT})").alias("shares"),
        X.candidate_max(text, rf"确认金额[：: ]*({_AMT})").alias("amount"),
        X.label_value(text, "业务类型", r"[^\n 　]+").alias("business_type"),
        F.lit("否").alias("carry_over_income"),   # :367
        F.lit("1").alias("redemption_type"),       # :368
        F.lit(MANUAL_CASH_ACCOUNT).alias("cash_account"),
        F.lit(None).cast("string").alias("counterparty"),
        _yyyymmdd(rd).alias("arrival_date"),
        F.lit("万事如意直销").alias("platform"),
    )
    out = out.filter(F.col("business_type").isin("赎回确认", "强制赎回"))
    return require_fields(out.select(*MANUAL_REDEMPTION_COLS), ["fund_code"])


def manual_dividend_job(docs, dim, run_date: str = "2026-01-15") -> DataFrame:
    rd = _run_date(run_date)
    base = _manual_base(docs, "分红")
    text = F.col("text")
    ex_right = _yyyymmdd(F.date_sub(rd, 1))  # manual_dividen_extractor.py:329-330
    out = base.select(
        ex_right.alias("voucher_date"),
        ex_right.alias("register_date"),
        correct_fund_code(
            X.label_value(text, "基金代码", r"[0-9A-Za-z8l]{6}")
        ).alias("fund_code"),
        F.lit(MANUAL_PRODUCT).alias("product_name"),
        X.candidate_max(text, rf"分红份额[：: ]*({_AMT})").alias("shares"),
        X.candidate_max(text, rf"分红金额[：: ]*({_AMT})").alias("amount"),
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
    difference between 9 corpus reads and 1. The audit count materializes
    the persisted parse; then the nine jobs run concurrently, one driver
    thread each (build -> write -> Excel copy), so one job's Python plan
    build overlaps the others' execution, while this thread writes the
    quarantine sink. Each sink executes its plan once: the row count is
    observed on the write, and an output whose observed count is zero is
    deleted again (the reference's empty-result guard). ``dividend_merged``
    and the Excel copies read the written parquet back, so nothing
    re-executes a job's plan. The parse cache is released even when a job
    fails; every job is waited for, then the first failure in job order
    is raised.
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

    # eager consumer: the audit below materializes the cache, every
    # pipeline reads it, and the finally reclaims it; persist_tracked is
    # the exception-path backstop when run under a registry collector
    parsed = persist_tracked(load_corpus(spark, corpus_root))
    try:
        audit = {r["status"]: r["n"] for r in audit_summary(parsed).collect()}
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
