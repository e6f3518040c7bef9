"""Extraction expression library (SURVEY.md §2.3 P1-P16, §2.4 F1-F4).

The reference hand-wrote ~80 near-identical per-platform parser functions
(~4,500 LoC); the engine replaces them with ~a dozen generic expression
builders, each emitting Spark SQL text over built-in Catalyst expressions
(regexp_extract, filter/transform/aggregate over the ``lines`` array).
A job's platform table (platforms.py) is compiled into ONE SQL expression
that the JVM parses once per context (text.sql_column) — no Python in the
hot path, and no per-node py4j round-trip while the plan is built.

Conventions:
- every builder takes its SQL input as ``src`` (a column name such as
  ``text``/``lines``/``filename``, a lambda variable such as ``seg``, or
  any SQL expression) and returns SQL expression text;
- ``text`` is the full document (lines joined by '\\n'); ``lines`` is
  ``split(text, '\\n')``;
- every builder yields a STRING ('' and no-match both -> NULL); numeric
  casting/rounding happens later in normalize (N2).
"""

from __future__ import annotations

NUM = r"-?[\d,，]+(?:\.\d+)?"  # tolerant money/shares literal
CODE6 = r"[0-9A-Za-z]{6}"      # fund codes: 6 chars, leading zeros kept
NULL = "CAST(NULL AS STRING)"
EMPTY = "CAST(array() AS ARRAY<STRING>)"
WS = r"\s+"


def q(s: str) -> str:
    """The one SQL string-literal quoting: backslash and quote escaped, so
    any regex (``\\d``, ``\\Q…\\E``, a literal newline, CJK) reads back
    through the SQL parser unchanged."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def spaced(label: str) -> str:
    """P5 — whitespace-tolerant label pattern for PDF letter-spacing:
    '基金代码' -> '基\\s*金\\s*代\\s*码' (dividend_extractor.py:551-556)."""
    return r"\s*".join(label)


def rx(pattern: str, group: int = 1, src: str = "text") -> str:
    """Generic first-match regexp extraction ('' -> NULL) for platform
    specs whose reference regex doesn't decompose into label+value (e.g.
    长量's trailing-unit form `确认金额[：: ]*(NUM).*?\\(元\\)`,
    purchase_confirm_extractor.py:158-170). P9 (a field from the file
    name, 国信嘉利 dividend_extractor.py:1112-1129) is ``src="filename"``."""
    return f"nullif(regexp_extract({src}, {q(pattern)}, {group}), '')"


def label_value(label: str, value: str = NUM, sep: str = r"[ \t]*[：:]?[ \t]*",
                tolerate_spacing: bool = False, src: str = "text") -> str:
    """P1/P2 — first `label<sep>value` occurrence anywhere in the document
    (`re.search` dividend_extractor.py:48-49; first-matching-line scan
    :119-133 is equivalent because regexp_extract takes the first match).

    The separator is SAME-LINE ([ \\t], never \\s — the reference's own
    ``[：: ]*`` class): with \\s* a label whose value cell is empty would
    silently capture the first number on a FOLLOWING line (r11 review:
    '红利金额：\\n20240101 对账单' extracted the date as the amount — a
    corrupt money value that passes the field gates). Cross-line values
    are an explicit shape with their own builder (next_line_value, P3)
    or an explicit ``sep`` at the call site."""
    lbl = spaced(label) if tolerate_spacing else label
    return rx(f"{lbl}{sep}({value})", src=src)


def label_value_until(label: str, stops: tuple[str, ...] = (),
                      sep: str = r"[ \t]*[：:]?[ \t]*", src: str = "text") -> str:
    """Same-line free-text value after ``label``, cut at the first stop
    keyword — the reference's ``line.split(label)[1]`` +
    ``split(stop)[0]`` idiom (宁波 客户名称…基金账号
    purchase_confirm_extractor.py:1184-1207; 民生 客户名称…交易类型
    purchase_extractor.py:546-553). The separator/trim classes are
    same-line ([ \\t], never \\s): a label with no same-line value must
    yield '' like the reference's split, not leak the next line."""
    # the alternation needs its own group: bare '|'.join would attach
    # [^\n]* to the LAST stop only, so earlier stop keywords could not
    # cut mid-line and the capture swallowed the tail (r11 review)
    tail = f"(?:(?:{'|'.join(stops)})[^\\n]*)?" if stops else ""
    return rx(rf"(?m){label}{sep}([^\n]*?)[ \t]*{tail}$", src=src)


def line_after(anchor: str, min_len: int = 1, src: str = "text") -> str:
    """The full line following the first line containing ``anchor`` (交行
    投资者信息 -> name on next line, purchase_extractor.py:297-310)."""
    return rx(rf"(?m){anchor}[^\n]*\n([^\n]{{{min_len},}})$", src=src)


def next_line_value(label: str, value: str = NUM, lookahead: int = 2,
                    src: str = "text") -> str:
    """P3 — label on line i, value alone on one of lines i+1..i+lookahead
    (天天 dividend amount, dividend_extractor.py:85-105; 网金
    purchase_extractor.py:398-406). A multi-line regex on the full text —
    no explode/shuffle needed."""
    skip = rf"(?:[^\n]*\n){{0,{lookahead - 1}}}?"
    return rx(rf"(?m){label}[^\n]*\n{skip}[ \t　]*({value})[ \t　]*$", src=src)


def box_cell(label: str, value: str = NUM, src: str = "text") -> str:
    """P6 — box-drawing table cell: value in the `│`-delimited cell right
    of the labelled cell (腾元 purchase_confirm_extractor.py:610-656)."""
    return rx(rf"{label}\s*│\s*({value})\s*(?:│|┃|$)", src=src)


def line_index(anchor: str, src: str) -> str:
    """1-based index of the first element of ``src`` containing
    ``anchor``; 0 when none does."""
    return f"array_position(transform({src}, l -> contains(l, {q(anchor)})), true)"


def first_line_with(anchor: str, src: str = "lines") -> str:
    """The first line containing ``anchor``, NULL when none does."""
    return f"try_element_at(filter({src}, l -> contains(l, {q(anchor)})), 1)"


def adjacent_name(anchor: str, prev_stops: tuple[str, ...] = (),
                  next_stops: tuple[str, ...] = (), inline_before: bool = False,
                  src: str = "lines") -> str:
    """P4 variant — name assembled from the lines AROUND the anchor label:
    previous line (unless it carries a stop keyword) + optionally the text
    before the anchor on its own line + next line (unless stopped).
    Models 好买 账户名称 (purchase_extractor.py:34-46), 天天
    账户户名 (:59-81), 盈米 投资者名称 (:175-190)."""
    idx = line_index(anchor, src)
    prev = f"CASE WHEN {idx} > 1 THEN trim(element_at({src}, CAST({idx} - 1 AS INT))) ELSE '' END"
    nxt = f"trim(coalesce(try_element_at({src}, CAST({idx} + 1 AS INT)), ''))"
    prev_ok = " AND ".join([f"{prev} != ''"] + [f"NOT contains({prev}, {q(s)})" for s in prev_stops])
    next_ok = " AND ".join([f"{nxt} != ''"] + [f"NOT contains({nxt}, {q(s)})" for s in next_stops])
    inline = (
        f"CASE WHEN {idx} > 0 THEN trim(substring_index(element_at({src}, CAST({idx} AS INT)), "
        f"{q(anchor)}, 1)) ELSE '' END"
        if inline_before
        else "''"
    )
    parts = f"CASE WHEN {prev_ok} THEN {prev} ELSE '' END, {inline}, CASE WHEN {next_ok} THEN {nxt} ELSE '' END"
    return f"CASE WHEN {idx} > 0 THEN nullif(concat({parts}), '') END"


def positional_value(anchor: str, offset: int, src: str = "lines") -> str:
    """P7 — whitespace-split positional token: on the first line containing
    ``anchor``, split on whitespace, return the token ``offset`` positions
    after the anchor token (国信嘉利 dividend_extractor.py:1131-1160)."""
    toks = f"split(trim({first_line_with(anchor, src)}), {q(WS)})"
    pos = f"array_position({toks}, {first_line_with(anchor, toks)})"
    return f"CASE WHEN {pos} > 0 THEN try_element_at({toks}, CAST({pos} + {offset} AS INT)) END"


def row_table_records(row_pattern: str, src: str = "text") -> str:
    """P8/F4 — tabular summary rows -> array of raw row strings, one record
    per match (证达通 dividend_extractor.py:946-983)."""
    return f"regexp_extract_all({src}, {q(row_pattern)}, 0)"


def row_cell(row_pattern: str, group: int, src: str = "seg") -> str:
    """Capture ``group`` of one row_table_records row (multi-line flag
    dropped: the row is a single line; no-match stays '')."""
    return f"regexp_extract({src}, {q(row_pattern.replace('(?m)', ''))}, {group})"


def candidate_max(pattern: str = NUM, src: str = "text") -> str:
    """P12 — collect every candidate number matched by ``pattern``, strip
    separators, take the max (OCR noise; manual_purchase_apply_extractor.py:
    216-229). ``pattern`` may carry its own capture group (e.g. a label
    prefix: ``申请金额[：: ]*([\\d,]+\\.\\d{2})``); otherwise the whole
    match is the candidate. Returns DOUBLE."""
    import re as _re

    has_group = _re.search(r"(?<!\\)\((?!\?)", pattern) is not None
    regexp = pattern if has_group else f"({pattern})"
    nums = (
        f"transform(regexp_extract_all({src}, {q(regexp)}, 1), "
        "s -> try_cast(regexp_replace(s, '[,，]', '') AS DOUBLE))"
    )
    return f"array_max(filter({nums}, x -> x IS NOT NULL))"


def section_after(marker: str, src: str = "text") -> str:
    """P16 — restrict extraction to the document section after the first
    line matching ``marker`` (JD forced-redemption page-2 block,
    redemption_extractor.py:379-459). Returns the tail text, NULL when
    the marker is absent."""
    idx = f"instr({src}, {q(marker)})"
    return f"CASE WHEN {idx} > 0 THEN substr({src}, {idx}, length({src})) END"


def stitched_name(start_label: str, stop_keywords: list[str],
                  max_lookahead: int = 4, src: str = "lines") -> str:
    """P4 — multi-line product-name stitching: take the text after
    ``start_label`` on its line, then append following lines until one
    contains a stop keyword, up to ``max_lookahead`` lines (好买
    dividend_extractor.py:35-46; 平安 :355-381; 和讯 :463-489).

    array_position finds the label line, slice takes the lookahead
    window, aggregate folds it with stop semantics. No UDF."""
    idx = line_index(start_label, src)
    label_rest = q(start_label + r"[：:]?\s*(.*)$")
    head = f"regexp_extract(coalesce(try_element_at({src}, CAST({idx} AS INT)), ''), {label_rest}, 1)"
    window = f"CASE WHEN {idx} > 0 THEN slice({src}, CAST({idx} + 1 AS INT), {max_lookahead}) ELSE {EMPTY} END"
    # \Q..\E quotes each keyword (an ASCII regex metachar in a keyword
    # must match literally), and an EMPTY list means "no stop keywords"
    # — the bare join would build stop_re = "", and regexp_count(line,
    # "") > 0 stops the fold before the first appended line (r11 review)
    stop_re = (
        "|".join(f"\\Q{k}\\E" for k in stop_keywords if k)
        if any(stop_keywords)
        else "(?!)"  # never matches: only empty-line/lookahead stop
    )
    # an empty line ends the stitch too — the reference's loops break on
    # len(next_line) == 0 (redemption_extractor.py:608-618)
    folded = (
        f"aggregate({window}, struct({head} AS acc, false AS stopped), (acc, line) -> "
        f"CASE WHEN acc.stopped OR regexp_count(line, {q(stop_re)}) > 0 OR length(trim(line)) = 0 "
        "THEN struct(acc.acc AS acc, true AS stopped) "
        "ELSE struct(concat(acc.acc, trim(line)) AS acc, false AS stopped) END)"
    )
    return f"CASE WHEN {idx} > 0 THEN nullif(trim({folded}.acc), '') END"


def marker_records(marker_pattern: str, src: str = "text") -> str:
    """F1/F2/F3 — segment a document into per-record windows at every
    occurrence of ``marker_pattern`` and return the window texts as an
    array (盈米 `序号:` blocks dividend_extractor.py:230-257; 联泰
    `交易信息（X/Y）` :834-876; 腾元 multi-page redemption_extractor.py:
    769-835). Split keeps text BETWEEN markers; the leading pre-marker
    chunk is dropped, so element k covers record k."""
    m = q(marker_pattern)
    return (
        f"CASE WHEN regexp_count({src}, {m}) > 0 "
        f"THEN slice(split({src}, {m}), 2, size(split({src}, {m})) - 1) ELSE {EMPTY} END"
    )


def coalesce(*exprs: str) -> str:
    """First non-NULL of several extractions (a platform's fallback
    forms, e.g. same-line value else next-line value)."""
    return f"coalesce({', '.join(exprs)})"
