"""Correctness checks that gate ``failed``/``correct``.

ETL: every sink written by ``jobs.run_all`` must hold exactly the
``testing.fixtures`` goldens, replicated once per business day in the
corpus; ``dividend_merged`` must equal the dividend goldens merged the way
``operators.aggregate.dividend_merge`` documents (sum per ledger/fund code,
sorted distinct platforms); the quarantine sink, its count and the audit
must match what the corpus generator planted, by error class.

Toolkit: each query's collected result must equal its DuckDB oracle
(``__spark_entry__.oracle_sql``) on row count, column set and an
order-insensitive value hash.

Outputs are read back with pyarrow, so a check starts no Spark job.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds

from corpus import Corpus, error_class
from fund_data_etl_pipeline_spark import schemas as S
from fund_data_etl_pipeline_spark.testing import fixtures as FX

# job -> (golden rows, column order of the golden tuples)
GOLDENS = {
    "dividend": (FX.EXPECTED_DIVIDEND, S.DIVIDEND_COLS),
    "purchase_apply": (FX.EXPECTED_PURCHASE_APPLY, S.TXN_COLS),
    "purchase_confirm": (FX.EXPECTED_PURCHASE_CONFIRM, S.TXN_COLS),
    "redemption_confirm": (FX.EXPECTED_REDEMPTION, S.TXN_COLS),
    "conversion": (FX.EXPECTED_CONVERSION, S.CONVERSION_COLS),
    "manual_apply": (FX.EXPECTED_MANUAL_APPLY, S.MANUAL_APPLY_COLS),
    "manual_confirm": (FX.EXPECTED_MANUAL_CONFIRM, S.MANUAL_CONFIRM_COLS),
    "manual_redemption": (FX.EXPECTED_MANUAL_REDEMPTION, S.MANUAL_REDEMPTION_COLS),
    "manual_dividend": (FX.EXPECTED_MANUAL_DIVIDEND, S.MANUAL_DIVIDEND_COLS),
}
SINKS = (*GOLDENS, "dividend_merged")


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def _round2(x: float) -> float:
    """Half away from zero, as ``functions.numeric.round2``."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def merged_dividend(rows: list[tuple]) -> list[tuple]:
    """The dividend merge over golden tuples: group by (ledger_code,
    fund_code), round2-summed shares/amount, '、'-joined sorted distinct
    platforms, min() of the passthrough columns."""
    cols = S.DIVIDEND_COLS
    ix = {c: i for i, c in enumerate(cols)}
    groups: dict[tuple, list[tuple]] = defaultdict(list)
    for r in rows:
        groups[(r[ix["ledger_code"]], r[ix["fund_code"]])].append(r)
    out = []
    for (ledger, fund), rs in groups.items():
        merged = []
        for c in cols:
            vals = [r[ix[c]] for r in rs]
            if c == "ledger_code":
                merged.append(ledger)
            elif c == "fund_code":
                merged.append(fund)
            elif c in ("shares", "amount"):
                merged.append(_round2(math.fsum(vals)))
            elif c == "platform":
                merged.append("、".join(sorted(set(vals))))
            else:
                present = [v for v in vals if v is not None]
                merged.append(min(present) if present else None)
        out.append(tuple(merged))
    return out


def expected_sinks(n_days: int) -> dict[str, tuple[Counter, list[str]]]:
    """sink -> (Counter of normalized rows, column order) for a corpus of
    ``n_days`` identical days."""
    out = {
        job: (Counter(tuple(_norm(v) for v in r) for r in rows * n_days), cols)
        for job, (rows, cols) in GOLDENS.items()
    }
    merged = merged_dividend(FX.EXPECTED_DIVIDEND * n_days)
    out["dividend_merged"] = (
        Counter(tuple(_norm(v) for v in r) for r in merged),
        S.DIVIDEND_COLS,
    )
    return out


def read_sink(path: str) -> pa.Table:
    """A parquet sink, hive partition values read back as strings."""
    keys = sorted(
        {p.name.split("=", 1)[0] for p in Path(path).iterdir() if p.is_dir() and "=" in p.name}
    )
    partitioning = (
        ds.partitioning(pa.schema([(k, pa.string()) for k in keys]), flavor="hive")
        if keys
        else None
    )
    return ds.dataset(path, format="parquet", partitioning=partitioning).to_table()


def sink_rows(path: str, cols: list[str]) -> Counter:
    table = read_sink(path)
    data = [table.column(c).to_pylist() for c in cols]
    nulls = {"__HIVE_DEFAULT_PARTITION__"}
    return Counter(
        tuple(None if v in nulls else _norm(v) for v in row) for row in zip(*data)
    )


def check_etl(status: dict, out_dir: str, corpus: Corpus, expected: dict) -> list[str]:
    """Problems found in one ``run_all`` result; empty when correct."""
    problems = []
    for sink, (want, cols) in expected.items():
        path = status.get(sink)
        if not path:
            problems.append(f"{sink}: no output")
            continue
        got = sink_rows(path, cols)
        if got != want:
            missing, extra = want - got, got - want
            problems.append(
                f"{sink}: {sum(missing.values())} golden rows missing, "
                f"{sum(extra.values())} unexpected"
            )
        if sink != "dividend_merged":
            xls = status.get(f"{sink}_excel")
            if not xls or not os.path.getsize(xls):
                problems.append(f"{sink}: no Excel output")
    planted = corpus.planted_errors
    n_errors = sum(planted.values())
    if status.get("quarantined") != n_errors:
        problems.append(f"quarantined {status.get('quarantined')} != planted {n_errors}")
    quarantine = read_sink(os.path.join(out_dir, "quarantine"))
    classes = Counter(error_class(e) for e in quarantine.column("error").to_pylist())
    if classes != Counter(planted):
        problems.append(f"quarantine classes {dict(classes)} != planted {planted}")
    audit = {"ok": len(corpus.text_docs), "error": n_errors}
    if status.get("audit") != audit:
        problems.append(f"audit {status.get('audit')} != {audit}")
    return problems


def files_listed(listed: int, corpus: Corpus) -> list[str]:
    """The program's scan must list every planted PDF and no other file."""
    if listed != corpus.pdf_files:
        return [f"scan listed {listed} files, planted {corpus.pdf_files} PDFs"]
    return []


def dim_join_misses(status: dict) -> int:
    """Output rows whose ledger code stayed NULL after the dimension join."""
    misses = 0
    for sink in GOLDENS:
        path = status.get(sink)
        if path:
            table = read_sink(path)
            if "ledger_code" in table.column_names:
                misses += table.column("ledger_code").null_count
    return misses


def output_files(out_dir: str) -> tuple[int, int]:
    """(files, bytes) written under ``out_dir``, ignoring checksum and
    marker files."""
    n = size = 0
    for p in Path(out_dir).rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            n += 1
            size += p.stat().st_size
    return n, size


def canon(df) -> tuple[int, list[str], str]:
    """Row count, sorted column names and an order-insensitive value hash
    (floats to 9 significant digits) of a pandas frame."""
    cols = sorted(df.columns)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "\x00NULL"
        if isinstance(v, float):
            return f"{v:.9g}"
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    rows = sorted(tuple(norm(v) for v in row) for row in df[cols].itertuples(index=False))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x01".join(r).encode("utf-8", "surrogatepass") + b"\x02")
    return len(rows), cols, h.hexdigest()


def check_query(name: str, got, want) -> list[str]:
    g, w = canon(got), canon(want)
    if g == w:
        return []
    return [f"{name}: rows {g[0]} vs oracle {w[0]}, cols {'same' if g[1] == w[1] else 'differ'}"]
