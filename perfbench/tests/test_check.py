"""The correctness check accepts sinks equal to the goldens and rejects a
single perturbed golden row, a wrong quarantine class and a wrong oracle
value."""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import check
import corpus as C
from fund_data_etl_pipeline_spark.testing import fixtures as FX


def write_sinks(out: Path, n_days: int, perturb: str | None = None) -> dict:
    """Sinks laid out as run_all writes them, holding the goldens."""
    status: dict = {}
    expected = check.expected_sinks(n_days)
    for sink, (rows, cols) in expected.items():
        rows = list(rows.elements())
        if sink == perturb:
            i = cols.index("fund_code")
            rows[0] = rows[0][:i] + ("999999",) + rows[0][i + 1 :]
        table = pa.table({c: [r[j] for r in rows] for j, c in enumerate(cols)})
        path = out / sink
        if "biz_date" in cols:
            pq.write_to_dataset(table, str(path), partition_cols=["biz_date"])
        else:
            path.mkdir(parents=True)
            pq.write_table(table, path / "part-0.parquet")
        status[sink] = str(path)
        excel = out / f"{sink}.xls"
        excel.write_bytes(b"xls")
        status[f"{sink}_excel"] = str(excel)
    (out / "quarantine").mkdir()
    errors = ["'utf-8' codec can't decode byte 0xff"] * n_days + [
        "scanned PDF: 1 page image(s) decoded but no OCR backend"
    ] * (2 * n_days)
    pq.write_table(pa.table({"error": errors}), out / "quarantine" / "part-0.parquet")
    status["quarantined"] = len(errors)
    status["audit"] = {"ok": 102 * n_days, "error": len(errors)}
    return status


def planted(n_days: int) -> C.Corpus:
    corpus = C.Corpus(root=Path("."), days=["20260115"] * n_days)
    corpus.text_docs = {str(i): "" for i in range(102 * n_days)}
    corpus.planted_errors = {"undecodable": n_days, "scanned_no_ocr": 2 * n_days}
    return corpus


def test_goldens_pass(tmp_path):
    status = write_sinks(tmp_path, 2)
    assert check.check_etl(status, str(tmp_path), planted(2), check.expected_sinks(2)) == []
    assert check.dim_join_misses(status) == 2  # 神秘产品 has no ledger code


def test_one_perturbed_golden_row_fails(tmp_path):
    status = write_sinks(tmp_path, 1, perturb="purchase_confirm")
    problems = check.check_etl(status, str(tmp_path), planted(1), check.expected_sinks(1))
    assert problems == ["purchase_confirm: 1 golden rows missing, 1 unexpected"]


def test_day_count_matters(tmp_path):
    status = write_sinks(tmp_path, 1)
    problems = check.check_etl(status, str(tmp_path), planted(2), check.expected_sinks(2))
    assert any(p.startswith("dividend:") for p in problems)
    assert any(p.startswith("quarantined") for p in problems)


def test_wrong_quarantine_class_fails(tmp_path):
    status = write_sinks(tmp_path, 1)
    corpus = planted(1)
    corpus.planted_errors = {"undecodable": 3}
    problems = check.check_etl(status, str(tmp_path), corpus, check.expected_sinks(1))
    assert any(p.startswith("quarantine classes") for p in problems)


def test_merged_dividend_sums_platform_pairs():
    merged = check.merged_dividend(FX.EXPECTED_DIVIDEND)
    assert len(merged) == len(FX.EXPECTED_DIVIDEND) - 1  # one (ledger, fund) pair
    doubled = check.merged_dividend(FX.EXPECTED_DIVIDEND * 2)
    assert len(doubled) == len(merged)


def test_oracle_compare():
    got = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    assert check.check_query("q", got, got[["v", "k"]].iloc[::-1]) == []
    bad = got.assign(v=[0.5, 1.26])
    assert check.check_query("q", got, bad) != []
