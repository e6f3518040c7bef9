"""The generated toolkit tables have the shapes measured on the driver's
sf0.01 tables (``tables.REFERENCE``), so the dedup, graph and curation
operators see the reference's amount of work."""

from __future__ import annotations

import pytest

import shapes
import tables

EXACT = {
    "documents": ("rows", "words_min", "vocab", "dup_docs", "sources"),
    "embeddings": ("rows", "dims", "labels", "pairs_cos_over_0.9"),
    "lineitem": ("rows", "parts", "suppliers"),
}
# absolute tolerance per statistic that varies with the seed
CLOSE = {
    ("documents", "words_median"): 5,
    ("documents", "words_max"): 1,
    ("documents", "dup_chains"): 3,
    ("documents", "distinct_texts"): 3,
    ("embeddings", "norm_mean"): 0.001,
    ("embeddings", "coord_std"): 0.002,
    ("embeddings", "label_min_count"): 15,
    ("embeddings", "label_max_count"): 15,
    ("embeddings", "centroid_norm_mean"): 0.015,
    ("embeddings", "nn_cos_median"): 0.01,
    ("lineitem", "edges"): 500,
    ("lineitem", "part_degree_mean"): 0.25,
    ("lineitem", "supplier_degree_mean"): 5,
}


@pytest.fixture(scope="module", params=[1, 2])
def measured(request, tmp_path_factory):
    out = tmp_path_factory.mktemp(f"tables{request.param}")
    return shapes.measure(tables.build_tables(out, request.param))


def test_structure_matches_reference(measured):
    for table, keys in EXACT.items():
        for key in keys:
            assert measured[table][key] == tables.REFERENCE[table][key], (table, key)


def test_distributions_match_reference(measured):
    for (table, key), tol in CLOSE.items():
        got, want = measured[table][key], tables.REFERENCE[table][key]
        assert abs(got - want) <= tol, (table, key, got, want)
    want = tables.REFERENCE["documents"]["lang_share"]
    got = measured["documents"]["lang_share"]
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) <= 0.05 for k in want), got


def test_reference_covers_every_measured_statistic(measured):
    assert {t: set(v) for t, v in measured.items()} == {
        t: set(v) for t, v in tables.REFERENCE.items()
    }
