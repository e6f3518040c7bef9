"""The generated statement PDFs are real: every text PDF decodes back to
its fixture text through the engine's own codec dispatch, and every planted
failure fails with the class the correctness check expects."""

from __future__ import annotations

import random

import pytest

import corpus as C
from fund_data_etl_pipeline_spark.sources.corpus import decode_document
from fund_data_etl_pipeline_spark.testing import fixtures as FX

ALL_DOCS = [d for docs, _ in C.FUND_GROUPS for d in docs] + list(FX.MANUAL_DOCS)


@pytest.mark.parametrize("seed", [1, 2])
def test_every_text_pdf_round_trips(seed):
    rng = random.Random(seed)
    for _doc_id, filename, _rel, text in ALL_DOCS:
        pdf = C.text_pdf(text, rng)
        assert pdf.startswith(b"%PDF") and b"/FlateDecode" in pdf
        assert decode_document(pdf) == text, filename


def test_planted_failures_have_their_class():
    with pytest.raises(ImportError) as scanned:
        decode_document(C.scanned_pdf(random.Random(0)))
    assert C.error_class(str(scanned.value)) == "scanned_no_ocr"
    assert "page image" in str(scanned.value)  # the image was decoded first
    with pytest.raises(UnicodeDecodeError) as poison:
        decode_document(C.POISON_BYTES)
    assert C.error_class(str(poison.value)) == "undecodable"


def test_tree_layout_and_seed(tmp_path):
    a = C.build_corpus(tmp_path / "a", seed=5, n_days=2, scanned_per_day=2)
    b = C.build_corpus(tmp_path / "b", seed=5, n_days=2, scanned_per_day=2)
    c = C.build_corpus(tmp_path / "c", seed=6, n_days=2, scanned_per_day=2)
    assert len(a.text_docs) == 2 * len(ALL_DOCS)
    assert a.planted_errors == {"undecodable": 2, "scanned_no_ocr": 4}
    assert a.files_on_disk == a.pdf_files + 2  # one pruned notes.txt a day
    assert a.days == b.days
    files_a = sorted(p.relative_to(a.root) for p in a.root.rglob("*") if p.is_file())
    files_b = sorted(p.relative_to(b.root) for p in b.root.rglob("*") if p.is_file())
    assert files_a == files_b
    assert all((a.root / f).read_bytes() == (b.root / f).read_bytes() for f in files_a)
    # another seed moves dates and bytes, never the texts
    assert sorted(c.text_docs.values()) == sorted(a.text_docs.values())
    assert c.days != a.days
