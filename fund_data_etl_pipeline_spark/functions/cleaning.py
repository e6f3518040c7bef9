"""Field-cleaning scalar expressions (SURVEY.md §2.3 tail).

All JVM-side built-ins — no Python UDFs. Each helper cites the reference
behavior it reproduces. The spec-time cleaners (``clean_number``,
``clean_name``, ``strip_currency``, ``ymd8``, ``yyyymmdd``) emit SQL text
over a SQL input, so the platform tables compile them into one
expression; plan code applies them through ``F.expr``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .extract import q
from .numeric import round2_sql

_NAME_JUNK = q(r"[\s　┃│]+")
_CURRENCY = q(r"^(CNY|RMB|￥)\s*")
_UNIT = q(r"\s*(元|份)$")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def clean_number(x: str, scale: int = 2) -> str:
    """Thousands-separator strip + coerce-to-NULL cast + round
    (`.replace(',', '')` dividend_extractor.py:52 +
    `pd.to_numeric(errors='coerce').round(2)` :1406-1407).
    Empty string -> NULL (not 0)."""
    return round2_sql(f"try_cast(nullif(regexp_replace(trim({x}), '[,，]', ''), '') AS DOUBLE)", scale)


def clean_name(x: str) -> str:
    """Strip ASCII/ideographic spaces, newlines and box-drawing chars from
    product names (dividend_extractor.py:46,381,542). '' -> NULL."""
    return f"nullif(regexp_replace({x}, {_NAME_JUNK}, ''), '')"


def strip_currency(x: str) -> str:
    """Unit/currency stripping (P11): 'CNY 1,234.56', '1,234.56元',
    '100.00份' -> bare number string (dividend_extractor.py:280-286;
    purchase_extractor.py:287,663)."""
    return f"regexp_replace(regexp_replace(trim({x}), {_CURRENCY}, ''), {_UNIT}, '')"


def ymd8(x: str) -> str:
    """'2026-01-18' -> '20260118' (the reference's .replace('-','') on
    every 预计到账日-style capture)."""
    return f"regexp_replace({x}, '-', '')"


def yyyymmdd(x: str) -> str:
    """Serialize a date to the reference's 8-char string form."""
    return f"date_format({x}, 'yyyyMMdd')"


def correct_fund_code(col: Column | str) -> Column:
    """OCR error repair (P13): leading '8' -> 'B', any 'l' after position 0
    -> '1' (`correct_fund_code` manual_purchase_apply_extractor.py:43-72)."""
    c = F.trim(_c(col))
    c = F.regexp_replace(c, "^8(?=[0-9l]{5})", "B")
    first = F.substring(c, 1, 1)
    rest = F.regexp_replace(c.substr(F.lit(2), F.length(c)), "l", "1")
    return F.nullif(F.concat(first, rest), F.lit(""))


def complete_name_suffix(col: Column | str) -> Column:
    """Truncated product-name repair (P14, dividend_extractor.py:1173-1206):
    `…集` -> `…集合资产管理计划`, `…单一` -> `…单一资产管理计划`,
    `…资产管理计` -> `…资产管理计划`. Idempotent."""
    c = _c(col)
    return (
        F.when(c.isNull(), c)
        .when(c.endswith("资产管理计划"), c)
        .when(c.endswith("资产管理计"), F.concat(c, F.lit("划")))
        .when(c.endswith("集"), F.concat(c, F.lit("合资产管理计划")))
        .when(c.endswith("单一"), F.concat(c, F.lit("资产管理计划")))
        .otherwise(c)
    )
