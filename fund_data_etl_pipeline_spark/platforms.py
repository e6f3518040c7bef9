"""The fund jobs' platforms as data (SURVEY §7.0 "platforms are data, not
code").

Each job is a table: its record fields, its default extractor per field
(the forms most of its platforms share), and an ordered platform ->
{field: extractor} mapping where a platform lists only what differs from
the defaults. Multi-record platforms (F1-F4: 盈米, 联泰, 证达通, 腾元)
declare a segmenter plus per-segment fields that read the segment as
``seg``. Every extractor is SQL text from functions/extract.py;
``records_sql`` compiles a table into ONE ``CASE platform WHEN …`` over
``array<struct>`` records, and classify.platform_sql compiles a job's
``*_RULES`` into the platform ``CASE`` — each reaches the JVM as one SQL
string (text.sql_column).

Orders are the reference's: the rules follow its elif chains, and each
table keeps the arm order of the parser dispatch it replaces.
"""

from __future__ import annotations

from dataclasses import dataclass

from .functions import extract as X
from .functions.cleaning import clean_name, clean_number, strip_currency, ymd8, yyyymmdd
from .functions.extract import CODE6, NULL, NUM, q
from .operators.classify import (
    PlatformRule,
    all_of,
    any_of,
    fname_has,
    fname_not,
    line_has,
    not_,
    text_has,
)

NAME = r"[^\n　 ]+"  # single-line product-name capture
_DEC = r"[\d,]+\.\d+"      # strict decimal (reference [\d,]+\.\d+)
_DECO = r"[\d,]+\.?\d*"    # optional-decimal (reference [\d,]+\.?\d*)


@dataclass(frozen=True)
class Records:
    """A multi-record platform: one record per element of the SQL array
    ``segments``; its ``fields`` read that element as ``seg``."""

    segments: str
    fields: dict[str, str]


@dataclass(frozen=True)
class JobSpec:
    """One job's table: record fields in output order, the extractor a
    field gets when its platform names none (else NULL), and the
    platforms in records-CASE order."""

    fields: tuple[str, ...]
    defaults: dict[str, str]
    platforms: dict[str, dict[str, str] | Records]


def records_sql(job: JobSpec) -> str:
    """The records CASE: platform -> its array<struct> of records, absent
    fields NULL; an unmatched platform yields NULL (no record)."""

    def record(fields: dict) -> str:
        given = {**job.defaults, **fields}
        return "struct(" + ", ".join(f"{given.get(f, NULL)} AS {f}" for f in job.fields) + ")"

    arms = []
    for name, spec in job.platforms.items():
        if isinstance(spec, Records):
            recs = f"transform({spec.segments}, seg -> {record(spec.fields)})"
        else:
            recs = f"array({record(spec)})"
        arms.append(f"WHEN platform = {q(name)} THEN {recs}")
    return f"CASE {' '.join(arms)} END"


def _seg(pattern: str, group: int = 1) -> str:
    return X.rx(pattern, group, src="seg")


def _row_records(row_pattern: str, *fields: str) -> Records:
    """F4 summary rows: field k is capture group k+1 of ``row_pattern``."""
    return Records(
        X.row_table_records(row_pattern),
        {f: X.row_cell(row_pattern, g) for g, f in enumerate(fields, 1)},
    )


# shared across jobs
_SPACED_CODE = X.label_value("基金代码", CODE6, tolerate_spacing=True)
_LT_SEGMENTS = X.marker_records(r"交易信息（\d+/\d+）")  # 联泰 F2 交易信息（X/Y）
_LT_NAME = X.rx(r"投资账户\s*([^\s]+)")
_LT_CODE = _seg(r"基金代码\s+([0-9]{6})")
_YM_INVESTOR = X.rx(r"投资者名称\s*[:：]?\s*([^\s]+)")
_TY_NAME = X.rx(r"客户名称[^│\n]*│\s*([^│┃\n]+)")
_PA_NAME = X.stitched_name(
    "账户名称",
    ["开户行名称", "投资主体产品名称", "基金代码", "申请日期",
     "确认金额", "手续费", "交易状态", "经办人", "特别说明"],
    4,
)
_HB_NAME = X.adjacent_name(
    "账户名称", prev_stops=("制单人", "好买基金"), next_stops=("证件类型", "产品代码")
)
_HB_CODE = X.rx(r"产品代码[：: ]*([0-9]{6})")
_TT_NAME = X.adjacent_name(
    "账户户名", prev_stops=("确认单",), next_stops=("账户类型",), inline_before=True
)
# 网金 amount: 申购金额（小写）/申购金额小写 same-line — junk tolerated
# between label and number, the reference's match2 申购金额小写[^0-9]*
# ('申购金额小写.壹 38,000,000.00') — else on the next line
_WJ_AMOUNT = X.coalesce(
    X.rx(r"申购金额[（(]?小写[）)]?[^0-9\n]*([0-9,]+\.?[0-9]*)"),
    X.rx(r"(?m)申购金额[（(]?小写[）)]?[^0-9\n]*\n\s*([0-9,]+\.?[0-9]*)\s*$"),
)

# ==========================================================================
# Dividend-reinvest job (dividend_extractor.py:9-1488)
# ==========================================================================

# ordered as the reference's elif chain (dividend_extractor.py:1326-1394)
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
    PlatformRule("京东肯特瑞", any_of(fname_has("肯特瑞基金"), line_has("肯特瑞", 0, 2))),
    PlatformRule("融联创同业交易平台", text_has("融联创")),
    PlatformRule("民生同业e+", text_has("民生同业")),
    PlatformRule("证达通基金", text_has("证达通")),
    # F2 in the dividend context (dividend_extractor.py:825-876, :1317)
    PlatformRule("联泰基金", any_of(fname_has("北极星"), line_has("联泰", 0, 2))),
    PlatformRule("基煜基金", text_has("基煜")),
    # C2 compound guard: 宁波 file that is NOT a 北极星 doc
    # (purchase_extractor.py:1004)
    PlatformRule("宁波银行", all_of(fname_has("宁波"), fname_not("北极星"))),
    PlatformRule("国信嘉利基金", any_of(fname_has("国信嘉利"), text_has("国信嘉利"))),
    PlatformRule("攀赢基金", text_has("攀赢")),
]

# 证达通 tabular dividend row (P8, dividend_extractor.py:946-983)
_ZDT_DIV_ROW = r"(?m)^\d+\s+\d{10,}\s+(\S+)\s+([0-9]{6})\s+红利再投资\s+([\d,.]+)\s+([\d,.]+)[ \t]*$"
_DIV_STITCHED = X.stitched_name("产品名称", ["基金代码", "金额", "份额"], 4)  # P4
_XZ_SHARES = X.label_value("再投资份额")
# 网金: 红利再投份额 on the same line, else on the next line
# (dividend_extractor.py:680-716)
_WJ_DIV_VALUE = X.coalesce(
    X.rx(r"红利再投份额\s*([0-9][\d,]*\.?\d*)"),
    X.rx(r"(?m)红利再投份额[^0-9\n]*\n\s*([\d,]+\.?\d*)"),
)
_CNY_NUM = rf"(?:CNY\s*)?{NUM}"
_CONFIRM_DATE = X.label_value("确认日期", r"\d{8}")
_WJ_NAME_2 = X.label_value_until("客户名称", stops=("网点名称",), sep=r"[ \t]*")
_WJ_NAME_1 = X.stitched_name("客户名称", ["基金账号", "交易账号", "交易类别", "基金代码", "─────"], 4)

DIVIDEND = JobSpec(
    fields=("product_name", "fund_code", "amount", "shares", "cutoff_date"),
    defaults={
        "product_name": X.label_value("产品名称", NAME),
        "fund_code": X.label_value("基金代码", CODE6),
    },
    platforms={
        "好买基金": {
            "amount": X.label_value("红利总金额"),
            "shares": strip_currency(X.label_value("再投资份额", _CNY_NUM)),
        },
        "天天基金": {
            "amount": X.next_line_value("红利资金（元）"),
            "shares": X.next_line_value("再投资份额（份）", lookahead=2),
        },
        "兴证全球基金": {
            "product_name": X.label_value("产品名称", NAME, tolerate_spacing=True),
            "fund_code": _SPACED_CODE,
            # P10 value aliasing: amount := reinvested shares
            "amount": _XZ_SHARES,
            "shares": _XZ_SHARES,
        },
        "交通银行": {
            "amount": X.label_value("红利金额"),
            "shares": X.label_value("再投资份额"),
            # N3: 交行 cutoff = confirm_date - 1 day (dividend_extractor.py:443-456)
            "cutoff_date": yyyymmdd(f"date_sub(to_date({_CONFIRM_DATE}, 'yyyyMMdd'), 1)"),
        },
        "盈米基金": Records(X.marker_records(r"序号:\d+\n"), {
            "fund_code": X.label_value("基金代码", CODE6, src="seg"),
            "amount": X.label_value("确认金额", src="seg"),
            "shares": X.label_value("确认份额", src="seg"),
        }),
        "证达通基金": _row_records(
            _ZDT_DIV_ROW,
            "product_name",
            "fund_code",
            "amount",
            "shares",
        ),
        "国信嘉利基金": {
            # P9: name from the file name
            "product_name": X.rx(r"】?([^_】]+)_交易确认单", src="filename"),
            "fund_code": X.rx(r"([0-9]{6})\s+分红", src=f"coalesce({X.first_line_with('分红')}, '')"),
            # P10: amount := shares (positional P7)
            "amount": X.positional_value("分红", 5),
            "shares": X.positional_value("分红", 5),
        },
        "平安行E通": {
            "product_name": _DIV_STITCHED,
            "amount": X.label_value("红利总金额"),
            "shares": X.label_value("再投资份额"),
        },
        "利得基金": {
            "amount": X.label_value("红利金额"),
            "shares": X.label_value("再投份额"),
        },
        "长量基金": {  # P10: amount := shares (dividend_extractor.py:171)
            "amount": _XZ_SHARES,
            "shares": _XZ_SHARES,
        },
        "招赢通基金": {  # P11: CNY-prefixed amount (dividend_extractor.py:280-286)
            "amount": strip_currency(X.label_value("红利金额", _CNY_NUM)),
            "shares": X.label_value("再投资份额"),
        },
        "邮储银行": {  # P4 stitching (dividend_extractor.py:300-321)
            "product_name": _DIV_STITCHED,
            "amount": X.label_value("分红金额"),
            "shares": X.label_value("再投资份额"),
        },
        "和讯科技": {  # P4 stitching (dividend_extractor.py:463-489)
            "product_name": _DIV_STITCHED,
            "amount": X.label_value("红利总额"),
            "shares": X.label_value("再投份额"),
        },
        "建行直销": {  # P5 letter-spaced labels + P10 (dividend_extractor.py:551-569)
            "product_name": X.label_value("产品名称", NAME, tolerate_spacing=True),
            "fund_code": _SPACED_CODE,
            "amount": X.label_value("再投资份额", tolerate_spacing=True),
            "shares": X.label_value("再投资份额", tolerate_spacing=True),
        },
        "宁波银行": {  # P10 via 再投资确认份额 (dividend_extractor.py:1082-1094)
            "amount": X.label_value("再投资确认份额"),
            "shares": X.label_value("再投资确认份额"),
        },
        "攀赢基金": {  # P3 same-line-else-next-line (dividend_extractor.py:1246-1259)
            "amount": X.label_value("红利金额"),
            "shares": X.coalesce(X.label_value("再投资份额"), X.next_line_value("再投资份额")),
        },
        "民生同业e+": {
            "amount": X.label_value("红利金额"),
            "shares": X.label_value("再投份额"),
        },
        "基煜基金": {
            "amount": X.label_value("红利金额"),
            "shares": X.label_value("再投份额"),
        },
        "融联创同业交易平台": {  # P4 stitching (dividend_extractor.py:769-794)
            "product_name": _DIV_STITCHED,
            "amount": X.label_value("红利金额"),
            "shares": X.label_value("再投份额"),
        },
        "腾元基金": {  # P6 box-drawing cells (dividend variant)
            "fund_code": X.box_cell("基金代码", CODE6),
            "amount": X.box_cell("红利金额"),
            "shares": X.box_cell("再投份额"),
        },
        "交e通": {
            "amount": X.label_value("红利金额"),
            "shares": X.label_value("再投份额"),
        },
        # P15 dual format (dividend_extractor.py:615-716): format 2 is
        # marked by a ───── separator; format 1 stitches up to 4 following
        # lines into the name until an account/table keyword, ending at the
        # 理计划/管理计划 line (:641-666); 红利再投份额 feeds BOTH amount
        # and shares
        "网金基金": {
            "product_name": f"CASE WHEN {text_has('─────')} THEN {_WJ_NAME_2} ELSE {_WJ_NAME_1} END",
            "fund_code": X.rx(r"基金代码\s*([0-9]{6})"),
            "amount": _WJ_DIV_VALUE,
            "shares": _WJ_DIV_VALUE,
        },
        "京东肯特瑞": {  # dividend_extractor.py:719-766
            "product_name": X.label_value_until("客户名称"),
            "fund_code": X.rx(r"基金代码\s*([0-9]{6})"),
            "amount": X.rx(r"红利再投金额\s*([\d,]+\.?\d*)"),
            "shares": X.rx(r"红利再投份额\s*([\d,]+\.?\d*)"),
        },
        # F2 dividend context (:825-876): amount := shares per record
        "联泰基金": Records(_LT_SEGMENTS, {
            "product_name": _LT_NAME,
            "fund_code": _LT_CODE,
            "amount": _seg(r"红利再投份额\(份\)\s*([\d,]+\.?\d*)"),
            "shares": _seg(r"红利再投份额\(份\)\s*([\d,]+\.?\d*)"),
        }),
    },
)

# ==========================================================================
# Purchase-apply (purchase_extractor.py)
# ==========================================================================

TXN_FIELDS = ("product_name", "fund_code", "qty", "amount", "fee", "est_date")

# 20-platform first-match chain in the reference's elif order
# (purchase_extractor.py:988-1016 predicates, :1017-1075 order), plus
# 兴证全球基金 kept as an engine extension (not in the reference apply
# chain; P5 spaced-label technique).
PURCHASE_APPLY_RULES = [
    PlatformRule("好买基金", line_has("好买基金", 0, 2)),
    PlatformRule("天天基金", any_of(fname_has("天天基金"), line_has("天天基金", 3))),
    PlatformRule("利得基金", line_has("利得基金", 3)),
    PlatformRule("长量基金", line_has("长量基金", 0, 2)),
    PlatformRule("平安行E通", line_has("行E通", 5)),
    PlatformRule("交e通", any_of(fname_has("交e通"), line_has("交通银行", 0, 2))),
    PlatformRule("网金基金", any_of(fname_has("网金"), line_has("网金基金", 5))),
    PlatformRule("腾元基金", any_of(fname_has("腾元"), line_has("腾元基金", 5))),
    PlatformRule("和讯科技", line_has("和讯信息科技有限公司", 3)),
    PlatformRule("京东肯特瑞", any_of(fname_has("肯特瑞基金"), line_has("肯特瑞", 0, 2))),
    PlatformRule("民生同业e+", any_of(fname_has("民生同业e+"), line_has("同业e+", 2))),
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
    PlatformRule("联泰基金", any_of(fname_has("北极星"), line_has("联泰", 0, 2))),
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

# labels per purchase_extractor.py (refs inline)
PURCHASE_APPLY = JobSpec(
    fields=TXN_FIELDS,
    defaults={
        "product_name": X.label_value_until("投资者名称"),
        "fund_code": X.rx(r"基金代码\s*([0-9]{6})"),
        "amount": X.rx(rf"申请金额\s*({_DECO})元?"),
    },
    platforms={
        "好买基金": {  # :34-57 账户名称 prev+next, 产品代码, 申请金额小写
            "product_name": _HB_NAME,
            "fund_code": _HB_CODE,
            "amount": X.rx(rf"申请金额小写[：: ]*({_DEC})"),
        },
        "天天基金": {  # :59-102 账户户名 prev+inline+next
            "product_name": _TT_NAME,
            "amount": X.rx(rf"申请金额\s*({_DEC})"),
        },
        "利得基金": {  # :104-134 申请金额（元）
            "product_name": X.label_value_until("投资者姓名/名称"),
            "amount": X.rx(rf"申请金额（元）\s*({_DEC})"),
        },
        "长量基金": {  # :136-168
            "amount": X.rx(rf"申请金额\s*({_DEC})"),
        },
        "平安行E通": {  # :242-293 账户名称 P4 stitch, 元-stripped
            "product_name": _PA_NAME,
        },
        "交e通": {  # :295-336 投资者信息 next line, 申请金额/份额
            "product_name": X.line_after("投资者信息", min_len=6),
            "fund_code": X.rx(r"产品代码\s*([0-9]{6})"),
            "amount": X.rx(rf"申请金额/份额\s*({_DECO})"),
        },
        "网金基金": {  # :338-409 dual-position code (:364-378) and amount (:385-405)
            "fund_code": X.coalesce(
                X.rx(r"基金代码\s*([0-9]{6})"),
                X.rx(r"(?m)基金代码[^\n]*\n\s*([0-9]{6})\s*$"),
            ),
            "amount": _WJ_AMOUNT,
        },
        "腾元基金": {  # :411-447 plain labels, 申购金额（小写）
            "amount": X.rx(rf"申购金额（小写）\s*({_DECO})"),
        },
        "和讯科技": {  # :449-500 账户名称 stitch
            "product_name": X.stitched_name(
                "账户名称",
                ["交易账号", "申请工作日", "基金代码", "申请金额", "重要提示", "账户类型"],
                4,
            ),
            "amount": X.rx(rf"申请金额\s*({_DECO})"),
        },
        "京东肯特瑞": {  # :502-538 申请金额(元) ASCII parens
            "product_name": X.label_value_until("客户名称"),
            "amount": X.rx(rf"申请金额\(元\)\s*({_DECO})"),
        },
        "民生同业e+": {  # :540-578 委托金额/委托份额
            "product_name": X.label_value_until("客户名称：", stops=("交易类型：",), sep=r"[ \t]*"),
            "fund_code": X.rx(r"产品代码：\s*([0-9]{6})"),
            "amount": X.rx(rf"委托金额/委托份额：\s*({_DECO})"),
        },
        "招赢通基金": {  # :580-609 CNY amount, alnum product code
            "fund_code": X.rx(r"产品代码\s*([0-9A-Za-z]+)"),
            "amount": X.rx(r"申请金额[^\n]*CNY\s*([\d,.]+)"),
        },
        "融联创同业交易平台": {  # :611-669 投资者名称 + 2-line stitch
            "product_name": X.stitched_name(
                "投资者名称",
                ["银行账号", "开户行名称", "基金代码", "基金名称", "申请日期", "申请金额"],
                2,
            ),
        },
        "基煜基金": {  # :723-759 账户名称：, 申购金额(小写)：
            "product_name": X.label_value_until("账户名称：", sep=r"[ \t]*"),
            "fund_code": X.rx(r"产品代码：\s*([0-9]{6})"),
            "amount": X.rx(rf"申购金额[（(]小写[）)]：\s*({_DECO})元?"),
        },
        "宁波银行": {  # :761-801 客户名称…交易账号 cut, 申请金额（元）
            "product_name": X.label_value_until("客户名称", stops=("交易账号",)),
            "fund_code": X.rx(r"产品代码\s*([0-9]{6})"),
            "amount": X.rx(rf"申请金额（元）\s*({_DECO})"),
        },
        "国信嘉利基金": {  # :803-839 账户名称
            "product_name": X.label_value_until("账户名称"),
            "fund_code": X.rx(r"产品代码\s*([0-9]{6})"),
        },
        "攀赢基金": {  # :841-878 申购金额（小写）
            "product_name": X.label_value_until("客户名称"),
            "fund_code": X.rx(r"产品代码\s*([0-9]{6})"),
            "amount": X.rx(rf"申购金额[（(]小写[）)]\s*({_DECO})元?"),
        },
        # 盈米 F1: records anchored at 交易类型…申购 lines (:197-234)
        "盈米基金": Records(X.marker_records(r"交易类型[：:]申购[^\n]*\n"), {
            "product_name": _YM_INVESTOR,
            "fund_code": _seg(r"基金代码[:：]?\s*([0-9]{6})"),
            "amount": _seg(rf"申请金额[:：]?\s*({_DECO})"),
        }),
        # 联泰 F2 multi-record (:671-721), 申请金额(元)
        "联泰基金": Records(_LT_SEGMENTS, {
            "product_name": _LT_NAME,
            "fund_code": _LT_CODE,
            "amount": _seg(rf"申请金额\(元\)\s*({_DECO})"),
        }),
        # 证达通 F4 summary rows (:896-947; the engine keeps the anchored row form)
        "证达通基金": _row_records(
            _ZDT_APPLY_ROW,
            "product_name",
            "fund_code",
            "amount",
            "fee",
        ),
        "兴证全球基金": {  # engine extension: P5 spaced labels
            "product_name": X.label_value("产品名称", NAME, tolerate_spacing=True),
            "fund_code": _SPACED_CODE,
            "amount": X.label_value("申请金额", tolerate_spacing=True),
            "fee": X.label_value("手续费", tolerate_spacing=True),
        },
    },
)

# ==========================================================================
# Purchase-confirm (purchase_confirm_extractor.py)
# ==========================================================================

# Full 23-platform first-match chain, in the reference's elif order
# (purchase_confirm_extractor.py:1480-1501 predicates, :1504-1568 order).
PURCHASE_CONFIRM_RULES = [
    # C2 compound guard: 好买 confirm must NOT be a conversion doc
    PlatformRule("好买基金", all_of(line_has("好买基金", 0, 2), not_(text_has("转换")))),
    # the reference's 2025-10-22 changelog regression (更新日志.txt:24-25):
    # super-conversion docs whose filename looks like a confirm must be
    # rejected on CONTENT; the corrected parenthesization is
    # redemption_extractor.py:1223 — (fname OR lines[3:]) AND NOT 转换
    PlatformRule(
        "天天基金",
        all_of(any_of(fname_has("天天基金"), line_has("天天基金", 3)), not_(text_has("转换"))),
    ),
    PlatformRule("利得基金", line_has("利得基金", 3)),
    PlatformRule("长量基金", line_has("长量基金", 0, 2)),
    PlatformRule("交e通", any_of(fname_has("交e通"), line_has("交通银行", 0, 2))),
    PlatformRule("京东肯特瑞", all_of(line_has("肯特瑞", 0, 2), line_has("申购确认", 0, 2))),
    PlatformRule("网金基金", any_of(fname_has("网金"), line_has("网金基金", 5))),
    PlatformRule("平安行E通", line_has("行E通", 5)),
    PlatformRule("建行直销", any_of(fname_has("建行"), text_has("客 户 名 称"))),
    PlatformRule("腾元基金", any_of(fname_has("腾元"), line_has("腾元基金", 5))),
    PlatformRule(
        "融联创同业交易平台",
        all_of(any_of(fname_has("江苏银行"), line_has("融联创", 0, 2)), line_has("申购", 0, 5)),
    ),
    PlatformRule("民生同业e+", any_of(fname_has("民生同业e+"), line_has("同业e+", 2))),
    PlatformRule("和讯基金", any_of(fname_has("和讯"), line_has("和讯信息科技有限公司", 3))),
    PlatformRule("招赢通", any_of(fname_has("招赢通"), line_has("招赢通", 0, 2))),
    PlatformRule("兴证全球基金", any_of(fname_has("兴证"), line_has("兴证全球基金", 0, 2))),
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
    PlatformRule("证达通基金", all_of(text_has("证达通"), text_has("申购确认单"))),
    PlatformRule("盈米基金", any_of(fname_has("盈米"), line_has("盈米", 0, 3))),
    PlatformRule(
        "联泰基金",
        all_of(any_of(fname_has("北极星"), line_has("联泰", 0, 2)), line_has("申购", 0, 20)),
    ),
]

# confirm platforms whose five fields the purchase-confirm and
# redemption-confirm references parse alike
_HB_CONFIRM = {  # 好买 账户名称 prev+next, 产品代码
    "product_name": _HB_NAME,
    "fund_code": _HB_CODE,
    "amount": X.rx(rf"确认金额[：: ]*({_DEC})"),
    "qty": X.rx(rf"确认份额[：: ]*({_DEC})"),
    "fee": X.rx(rf"手续费[：: ]*({_DEC})"),
}
_TT_CONFIRM = {  # 天天 账户户名 prev+inline+next, 确认费用
    "product_name": _TT_NAME,
    "fund_code": X.rx(r"基金代码[：: ]*([0-9]{6})"),
    "amount": X.rx(rf"确认金额[：: ]*({_DEC})"),
    "qty": X.rx(rf"确认份额[：: ]*({_DEC})"),
    "fee": X.rx(rf"确认费用[：: ]*({_DEC})"),
}
_LD_CONFIRM = {  # 利得 投资者姓名/名称, （元）/（份） labels
    "product_name": X.label_value_until("投资者姓名/名称"),
    "fund_code": X.rx(r"基金代码[：: ]*([0-9]{6})"),
    "amount": X.rx(rf"确认金额（元）[：: ]*({_DEC})"),
    "qty": X.rx(rf"确认份额（份）[：: ]*({_DEC})"),
    "fee": X.rx(rf"交易费用（元）[：: ]*({_DEC})"),
}
_CL_CONFIRM = {  # 长量 trailing (元)/(份) unit guards
    "product_name": X.label_value_until("投资者名称"),
    "fund_code": X.rx(r"基金代码[：: ]*([0-9]{6})"),
    "amount": X.rx(rf"确认金额[：: ]*({_DEC}).*?\(元\)"),
    "qty": X.rx(rf"确认份额[：: ]*({_DEC}).*?\(份\)"),
    "fee": X.rx(rf"手续费[：: ]*({_DEC}).*?\(元\)"),
}
_SPACED_CONFIRM = {  # P5 letter-spaced labels (建行, 兴证)
    "product_name": X.label_value("客户名称", NAME, tolerate_spacing=True),
    "fund_code": _SPACED_CODE,
    "amount": X.label_value("确认金额", tolerate_spacing=True),
    "qty": X.label_value("确认份额", tolerate_spacing=True),
    "fee": X.label_value("手续费", tolerate_spacing=True),
}
_RLC_CONFIRM = {  # 融联创 来款账号名称 + next line
    "product_name": X.stitched_name("来款账号名称", ["大额支付行号", "产品代码"], 1),
    "fund_code": X.rx(r"产品代码\s*[:：]?\s*([0-9]{6})"),
    "amount": X.rx(rf"确认金额\s*[:：]?\s*({_DEC})"),
    "qty": X.rx(rf"确认份额\s*[:：]?\s*({_DEC})"),
    "fee": X.rx(rf"手续费\s*[:：]?\s*({_DEC})"),
}

# labels per purchase_confirm_extractor.py (function line refs inline)
PURCHASE_CONFIRM = JobSpec(
    fields=TXN_FIELDS,
    defaults={
        "product_name": X.label_value_until("客户名称"),
        "fund_code": X.rx(r"产品代码\s*([0-9]{6})"),
        "amount": X.rx(rf"确认金额\s*({_DECO})元?"),
        "qty": X.rx(rf"确认份额\s*({_DECO})份?"),
        "fee": X.rx(rf"手续费\s*({_DECO})"),
    },
    platforms={
        "好买基金": _HB_CONFIRM,  # :34-64
        "天天基金": _TT_CONFIRM,  # :67-109
        "利得基金": _LD_CONFIRM,  # :111-140
        "长量基金": _CL_CONFIRM,  # :142-171
        "交e通": {  # :272-328 投资者信息, 认申购手续费
            "product_name": X.label_value_until("投资者信息", sep=r"[ \t]*"),
            "amount": X.rx(rf"确认金额\s*({_DECO})"),
            "qty": X.rx(rf"确认份额\s*({_DECO})"),
            "fee": X.rx(rf"认申购手续费\s*({_DECO})"),
        },
        "京东肯特瑞": {  # :330-384 客户名称
            "fund_code": X.rx(r"基金代码\s*([0-9]{6})"),
            "amount": X.rx(rf"确认金额\s*({_DECO})"),
            "qty": X.rx(rf"确认份额\s*({_DECO})"),
        },
        "网金基金": {  # :387-458 投资者名称, 申购金额（小写）, 确认净额, 费开户
            "product_name": X.label_value_until("投资者名称"),
            "fund_code": X.rx(r"基金代码\s*([0-9]{6})"),
            "amount": _WJ_AMOUNT,
            "qty": X.rx(r"确认净额\D*([0-9,]+\.?[0-9]*)"),
            "fee": X.rx(rf"费开户\s*({_DECO})"),
        },
        "平安行E通": {  # :460-530 账户名称 P4 stitch
            "product_name": _PA_NAME,
            "fund_code": X.rx(r"基金代码\s*([0-9]{6})"),
            "amount": X.rx(rf"确认金额\s*({_DECO})"),
            "qty": X.rx(rf"确认份额\s*({_DECO})"),
        },
        "建行直销": _SPACED_CONFIRM,  # :532-590
        "腾元基金": {  # :592-656 P6 box-drawing cells
            "product_name": _TY_NAME,
            "fund_code": X.box_cell("基金代码", CODE6),
            "amount": X.box_cell("确认金额"),
            "qty": X.box_cell("确认份额"),
            "fee": X.box_cell(r"手\s*续\s*费"),
        },
        "融联创同业交易平台": _RLC_CONFIRM,  # :727-781
        "民生同业e+": {  # :783-839 （元）/（份） labels
            "fund_code": X.rx(r"产品代码[：:]\s*([0-9]{6})"),
            "amount": X.rx(rf"确认金额（元）[：:]\s*({_DECO})"),
            "qty": X.rx(rf"确认份额（份）[：:]\s*({_DECO})"),
            "fee": X.rx(rf"手续费（元）[：:]\s*({_DECO})"),
        },
        "和讯基金": {  # :841-917 账户名称 stitch, 确认费用
            "product_name": X.stitched_name(
                "账户名称",
                ["交易账号", "基金账号", "确认工作日", "业务类型",
                 "确认单号", "基金代码", "基金名称", "账户类型"],
                4,
            ),
            "fund_code": X.rx(r"基金代码\s+([0-9]{6})"),
            "amount": X.rx(rf"确认金额\s+({_DECO})"),
            "qty": X.rx(rf"确认份额\s+({_DECO})"),
            "fee": X.rx(rf"确认费用\s+({_DECO})"),
        },
        "招赢通": {  # :919-990 CNY-prefixed money, 交易费用
            "product_name": X.stitched_name(
                "投资者名称",
                ["证件类型", "证件号码", "基金账号", "基金交易账号",
                 "产品信息", "产品类型", "产品管理人", "产品代码"],
                4,
            ),
            "fund_code": X.rx(r"产品代码\s+([0-9]{6})"),
            "amount": X.rx(rf"确认金额\s+CNY\s+({_DECO})"),
            "qty": X.rx(rf"确认份额\s+({_DECO})"),
            "fee": X.rx(rf"交易费用\s+CNY\s+({_DECO})"),
        },
        "兴证全球基金": {  # :992-1048 P5 letter-spaced 账 号 名 称
            **_SPACED_CONFIRM,
            "product_name": X.label_value("账号名称", NAME, tolerate_spacing=True),
        },
        "邮储银行": {  # :1050-1124 ASCII-colon labels, 证件类型 cut
            "product_name": X.label_value_until("客户名称:", stops=("证件类型:",), sep=r"[ \t]*"),
            "fund_code": X.rx(r"产品代码:\s*([0-9]{6})"),
            "amount": X.rx(rf"确认金额（元）:\s*({_DECO})"),
            "qty": X.rx(rf"确认份额（份）:\s*({_DECO})"),
            "fee": X.rx(rf"手续费（元）:\s*({_DECO})"),
        },
        "基煜基金": {  # :1126-1182 账户名称, 元/份 unit strip
            "product_name": X.label_value_until("账户名称"),
            "fee": X.rx(rf"手续费\s*({_DECO})元?"),
        },
        "宁波银行": {  # :1184-1246 客户名称…基金账号 cut, 申购费用（元）
            "product_name": X.label_value_until("客户名称", stops=("基金账号",)),
            "amount": X.rx(rf"确认金额（元）\s*({_DECO})"),
            "qty": X.rx(rf"确认份额（份）\s*({_DECO})"),
            "fee": X.rx(rf"申购费用（元）\s*({_DECO})"),
        },
        "国信嘉利基金": {  # :1248-1304
            "product_name": X.label_value_until("账户名称"),
        },
        "攀赢基金": {  # :1306-1363 客户名称
            "fee": X.rx(rf"手续费\s*({_DECO})元?"),
        },
        "证达通基金": {  # :1365-1420 single-doc format, 投资者类型 cut
            "product_name": X.rx(r"投资者名称[：:]\s*(.+?)(?:\s+投资者类型|\n|$)"),
            "fund_code": X.rx(r"基金代码[：:]\s*([0-9]{6})"),
            "amount": X.rx(rf"确认金额[：:]\s*({_DECO})"),
            "qty": X.rx(rf"确认份额[：:]\s*({_DECO})"),
            "fee": X.rx(rf"手续费[：:]\s*({_DECO})"),
        },
        # 盈米 F1 multi-record (:173-270)
        "盈米基金": Records(X.marker_records(r"序号:\d+\n"), {
            "product_name": X.label_value("产品名称", NAME),
            "fund_code": X.label_value("基金代码", CODE6, src="seg"),
            "amount": X.label_value("确认金额", src="seg"),
            "qty": X.label_value("确认份额", src="seg"),
            "fee": X.label_value("手续费", src="seg"),
        }),
        # 联泰 F2 交易信息（X/Y） multi-record (:660-724)
        "联泰基金": Records(_LT_SEGMENTS, {
            "product_name": _LT_NAME,
            "fund_code": _LT_CODE,
            "amount": _seg(rf"确认金额\(元\)\s*({_DECO})"),
            "qty": _seg(rf"确认份额\(份\)\s*({_DECO})"),
            "fee": _seg(rf"手续费\(元\)\s*({_DECO})"),
        }),
    },
)

# ==========================================================================
# Redemption-confirm (redemption_extractor.py)
# ==========================================================================

# 17-platform first-match chain in the reference's elif order
# (redemption_extractor.py:1222-1237 predicates, :1240-1289 order).
REDEMPTION_RULES = [
    PlatformRule("好买基金", all_of(line_has("好买基金", 0, 2), not_(text_has("转换")))),
    # corrected parenthesization (:1223): (fname OR lines[3:]) AND NOT 转换
    PlatformRule(
        "天天基金",
        all_of(any_of(fname_has("天天基金"), line_has("天天基金", 3)), not_(text_has("转换"))),
    ),
    PlatformRule("利得基金", line_has("利得基金", 3)),
    PlatformRule("长量基金", line_has("长量基金", 0, 2)),
    PlatformRule("交e通", any_of(fname_has("交e通"), line_has("交通银行", 0, 2))),
    PlatformRule("京东肯特瑞", all_of(line_has("肯特瑞", 0, 2), line_has("赎回确认", 0, 2))),
    PlatformRule("网金基金", any_of(fname_has("网金"), line_has("网金基金", 5))),
    PlatformRule("平安行E通", line_has("行E通", 5)),
    PlatformRule("建行直销", any_of(fname_has("建行"), text_has("客 户 名 称"))),
    PlatformRule(
        "融联创同业交易平台",
        all_of(any_of(fname_has("江苏银行"), line_has("融联创", 0, 2)), line_has("赎回", 0, 5)),
    ),
    PlatformRule("民生同业e+", any_of(fname_has("民生同业e+"), line_has("同业e+", 2))),
    PlatformRule("攀赢基金", any_of(fname_has("攀赢"), line_has("攀赢", 0, 2))),
    PlatformRule("盈米基金", any_of(fname_has("盈米"), line_has("盈米", 0, 3))),
    PlatformRule(
        "联泰基金",
        all_of(any_of(fname_has("北极星"), line_has("联泰", 0, 2)), line_has("赎回", 0, 15)),
    ),
    PlatformRule("腾元基金", any_of(fname_has("腾元"), line_has("腾元基金", 5))),
    PlatformRule("证达通基金", all_of(text_has("证达通"), text_has("赎回确认"))),
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
_JD_SECTION = X.section_after("强行赎回确认")  # P16 forced-redemption section only

# labels per redemption_extractor.py (refs inline). ``est_date`` carries
# either an absolute yyyymmdd or a bare T+n count (平安) — the job
# resolves both.
REDEMPTION = JobSpec(
    fields=TXN_FIELDS,
    defaults={
        "product_name": X.label_value_until("客户名称"),
        "fund_code": X.rx(r"基金代码\s*([0-9]{6})"),
        "amount": X.rx(rf"确认金额\s*({_DECO})"),
        "qty": X.rx(rf"确认份额\s*({_DECO})"),
    },
    platforms={
        "好买基金": {  # :35-74 预计到账日
            **_HB_CONFIRM,
            "est_date": ymd8(X.rx(r"预计到账日[：: ]*(\d{4}-\d{2}-\d{2})")),
        },
        "天天基金": {  # :77-128 预计赎回到账 next line
            **_TT_CONFIRM,
            "est_date": X.rx(r"(?m)预计赎回到账[^\n]*\n\s*(\d{8})"),
        },
        "利得基金": {  # :130-167 预计到账日期
            **_LD_CONFIRM,
            "est_date": ymd8(X.rx(r"预计到账日期[：: ]*(\d{4}-\d{2}-\d{2})")),
        },
        "长量基金": {  # :169-202 预计赎回款到账日
            **_CL_CONFIRM,
            "est_date": X.rx(r"预计赎回款到账日[：: ]*(\d{8})"),
        },
        "交e通": {  # :308-377 投资者信息, 赎回手续费, 确认日期
            "product_name": X.label_value_until("投资者信息", sep=r"[ \t]*"),
            "fund_code": X.rx(r"产品代码\s*([0-9]{6})"),
            "fee": X.rx(rf"赎回手续费\s*({_DECO})"),
            "est_date": X.rx(r"确认日期\s*(\d{8})"),
        },
        "京东肯特瑞": {  # :462-529 plain redemption confirm
            "fee": X.rx(rf"手续费\s*({_DECO})"),
            "est_date": ymd8(X.rx(r"预计到账日\s*(\d{4}-\d{2}-\d{2})")),
        },
        "网金基金": {  # :531-591 确认金额 + 赎回份额, 手续费|费开户
            "product_name": X.label_value_until("投资者名称"),
            "qty": X.rx(rf"赎回份额\s*({_DECO})"),
            "fee": X.coalesce(X.rx(rf"(?:手续费|费开户)\s*({_DECO})"), "'0.00'"),
        },
        "平安行E通": {  # :593-686 账户名称 stitch, 赎回最快到账日
            "product_name": _PA_NAME,
            "amount": X.rx(rf"确认金额\s*({_DECO})元?"),
            "qty": X.rx(rf"确认份额\s*({_DECO})份?"),
            "fee": X.rx(rf"手续费\s*({_DECO})元?"),
            # N3 — T+n count or absolute date (:662-683)
            "est_date": X.coalesce(
                X.rx(r"赎回最快到账日\s*[TＴ]\s*\+\s*(\d+)"),
                ymd8(X.rx(r"赎回最快到账日\s*(\d{4}-\d{2}-\d{2})")),
            ),
        },
        "建行直销": _SPACED_CONFIRM,  # :689-749
        "融联创同业交易平台": _RLC_CONFIRM,  # :911-968
        "民生同业e+": {  # :970-1029 （元）/（份） labels
            "product_name": X.label_value_until("客户名称：", sep=r"[ \t]*"),
            "fund_code": X.rx(r"产品代码：\s*([0-9]{6})"),
            "amount": X.rx(rf"确认金额（元）：\s*({_DECO})"),
            "qty": X.rx(rf"确认份额（份）：\s*({_DECO})"),
            "fee": X.rx(rf"手续费（元）：\s*({_DECO})"),
        },
        "攀赢基金": {  # :1031-1089 手续费 same-line or next-line, 0 default
            "fund_code": X.rx(r"产品代码\s*([0-9]{6})"),
            "amount": X.rx(rf"确认金额\s*({_DECO})元?"),
            "qty": X.rx(rf"确认份额\s*({_DECO})份?"),
            "fee": X.coalesce(
                X.rx(rf"手续费\s*({_DECO})"),
                X.rx(rf"(?m)手续费[^\n0-9]*\n\s*({_DECO})"),
                "'0.00'",
            ),
        },
        # F1: 盈米 records anchored at 交易序号…赎回 lines (:204-305)
        "盈米基金": Records(X.marker_records(r"交易序号[：:]\d+\s*交易类型[：:]赎回[^\n]*\n"), {
            "product_name": _YM_INVESTOR,
            "fund_code": _seg(r"基金代码[:：]\s*([0-9]{6})"),
            "amount": _seg(rf"确认金额[:：]?\s*({_DEC})"),
            "qty": _seg(rf"确认份额[:：]?\s*({_DEC})"),
            "fee": _seg(rf"手续费[:：]?\s*({_DEC})"),
            "est_date": ymd8(_seg(r"到账日期[:：]?\s*(\d{4}-\d{2}-\d{2})")),
        }),
        # F2: 联泰 交易信息（X/Y） blocks with CN-paren unit labels (:838-908)
        "联泰基金": Records(_LT_SEGMENTS, {
            "product_name": _LT_NAME,
            "fund_code": _LT_CODE,
            "amount": _seg(rf"确认金额[（(]元[）)]\s*({_DECO})"),
            "qty": _seg(rf"确认份额[（(]份[）)]\s*({_DECO})"),
            "fee": X.coalesce(_seg(rf"手续费[（(]元[）)]\s*({_DECO})"), "'0.00'"),
            "est_date": ymd8(_seg(r"预计到账日期[:：]?\s*(\d{4}-\d{2}-\d{2})")),
        }),
        # F3: 腾元 multi-page — one segment per 业务类型│赎回确认 marker (:751-835)
        "腾元基金": Records(X.marker_records(r"业务类型│赎回确认\n"), {
            "product_name": _TY_NAME,
            "fund_code": X.box_cell("基金代码", CODE6, src="seg"),
            "qty": X.box_cell("确认份额", src="seg"),
            "amount": X.box_cell("确认金额", src="seg"),
            "fee": X.box_cell(r"手\s*续\s*费", src="seg"),
        }),
        # F4: 证达通 redemption summary rows incl. the fee column (:1091-1158)
        "证达通基金": _row_records(
            _ZDT_RED_ROW,
            "product_name",
            "fund_code",
            "qty",
            "amount",
            "fee",
        ),
        "京东超级转换强行赎回": {  # :379-459 P16 section-scoped fields
            "product_name": X.rx(r"客户名称\s+(.*?)(?:\s+证件类型|\n|$)", src=_JD_SECTION),
            "fund_code": X.rx(r"基金代码\s+(\d{6})", src=_JD_SECTION),
            "amount": X.rx(rf"确认金额\s+({_DEC})", src=_JD_SECTION),
            "qty": X.rx(rf"确认份额\s+({_DEC})", src=_JD_SECTION),
            "fee": X.rx(rf"手续费\s+({_DEC})", src=_JD_SECTION),
            "est_date": ymd8(X.rx(r"预计到账日\s+(\d{4}-\d{2}-\d{2})", src=_JD_SECTION)),
        },
    },
)

# ==========================================================================
# Super-conversion (conversion_extractor.py)
# ==========================================================================

CONVERSION_RULES = [
    # conversion_extractor.py:262-263 — the job's two platforms
    # (main GUI list "京东肯特瑞、天天基金")
    PlatformRule("京东肯特瑞", any_of(fname_has("肯特瑞基金"), line_has("肯特瑞", 0, 2))),
    PlatformRule("天天基金", fname_has("天天基金")),
]

_CONV_SECTION = X.coalesce(X.section_after("转换确认"), "text")  # P16
# 天天 super-conversion (conversion_extractor.py:127-222): the name is the
# first 万联-bearing line of the first 10 + the 计划/合资产 continuation
# within the 3 lines after it; out/in numbers sit on the line AFTER the
# 转出基金确认/转入基金确认 markers (shares first, then amount)
_TT_IDX = X.line_index("万联", "slice(lines, 1, 10)")
_TT_HEAD = f"CASE WHEN {_TT_IDX} > 0 THEN trim(element_at(lines, CAST({_TT_IDX} AS INT))) ELSE '' END"
_TT_WINDOW = f"CASE WHEN {_TT_IDX} > 0 THEN slice(lines, CAST({_TT_IDX} + 1 AS INT), 3) ELSE {X.EMPTY} END"
_TT_TAIL = f"coalesce(try_element_at(filter({_TT_WINDOW}, l -> contains(l, '计划') OR startswith(l, '合资产')), 1), '')"
_TT_CONV_NAME = f"CASE WHEN {_TT_IDX} > 0 THEN nullif(concat(trim({_TT_HEAD}), trim({_TT_TAIL})), '') END"
# markers are containment tests in the reference ('转出基金确认' in
# line and '金额' not in line, conversion_extractor.py:160-169), not
# line-anchored literals — lookaheads keep that semantics under (?m)^
_OUT_PAIR = (
    r"(?m)^(?=[^\n]*转出基金确认)(?![^\n]*金额)[^\n]*\n"
    r"[ \t]*([\d,]+\.\d+)\s+([\d,]+\.\d+)"
)

# the job's two single-record platforms (P16 section scoping)
CONVERSION = JobSpec(
    fields=(
        "product_name", "out_fund_code", "in_fund_code", "out_amount",
        "out_shares", "in_shares", "in_fee", "out_confirm_date",
    ),
    defaults={},
    platforms={
        "京东肯特瑞": {
            "product_name": clean_name(X.label_value("产品名称", NAME)),
            "out_fund_code": X.label_value("转出基金代码", CODE6, src=_CONV_SECTION),
            "in_fund_code": X.label_value("转入基金代码", CODE6, src=_CONV_SECTION),
            "out_amount": clean_number(X.label_value("转出金额", src=_CONV_SECTION)),
            "out_shares": clean_number(X.label_value("转出份额", src=_CONV_SECTION)),
            "in_shares": clean_number(X.label_value("转入份额", src=_CONV_SECTION)),
            "in_fee": clean_number(X.label_value("转入手续费", src=_CONV_SECTION)),
            "out_confirm_date": X.label_value("确认日期", r"\d{8}", src=_CONV_SECTION),
        },
        "天天基金": {
            "product_name": clean_name(_TT_CONV_NAME),
            "out_fund_code": X.rx(r"转出基金代码\s+(\d{6})"),
            "in_fund_code": X.rx(r"转入基金代码\s+(\d{6})"),
            "out_amount": clean_number(X.rx(_OUT_PAIR, 2)),
            "out_shares": clean_number(X.rx(_OUT_PAIR, 1)),
            "in_shares": clean_number(X.rx(r"(?m)^(?=[^\n]*转入基金确认)(?![^\n]*份额)[^\n]*\n[ \t]*([\d,]+\.\d+)")),
            # fee strategy A: first decimal on the 手续费 line; strategy B
            # (:197-203, the 2025 错行 fix): the wrapped form puts the
            # value on the PREVIOUS line as 'num(' — e.g.
            # '719.97(转换费：0,补差费'
            "in_fee": clean_number(X.coalesce(
                X.rx(r"(?m)^(?=[^\n]*手续费)[^\n]*?([\d,]+\.\d+)"),
                X.rx(r"(?m)^[^\n]*?([\d,.]+)[ \t]*[（(][^\n]*\n(?=[^\n]*手续费)"),
            )),
        },
    },
)
