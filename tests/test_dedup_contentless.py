"""Contentless-document edge cases across the dedup family (r11 review).

Production parse failures arrive as text=NULL rows (sources/corpus.py
extract_text error shape), and crawl corpora contain under-shingle-length
documents. Neither may crash an operator, pair with each other, or be
silently dropped — and the engine must agree with what the DuckDB
oracles' SQL semantics do on the same rows (empty generate_series, NULL
keys never equi-joining).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

DOC_SCHEMA = "doc_id bigint, text string"


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_SCHEMA)


CORPUS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "alpha beta gamma delta epsilon zeta eta iota"),  # near-dup of 1
    (3, None),  # parse failure
    (4, None),  # parse failure — distinct doc, same NULL text
    (5, "hi"),  # under shingle length (3 words)
    (6, ""),  # empty string
    (7, "one two"),  # exactly n-1 words
]


def test_shingle_prep_short_and_null_texts_yield_empty_sets(spark):
    """shingle_hashes/shingles: under-n-word and NULL texts produce the
    EMPTY set (the DuckDB generate_series semantics), not a crash
    (sequence(1,0) is descending [1,0] in Spark -> element 0) and not
    [NULL]."""
    from fund_data_etl_pipeline_spark.functions.text import shingles, words
    from fund_data_etl_pipeline_spark.operators.dedup import (
        shingle_hash_prepped,
    )

    hs = {
        r["doc_id"]: r["hs"]
        for r in shingle_hash_prepped(_docs(spark, CORPUS)).collect()
    }
    assert len(hs[1]) == 6 and len(hs[2]) == 6
    for d in (3, 4, 5, 6, 7):
        assert hs[d] == [], f"doc {d}: {hs[d]}"

    grams = (
        _docs(spark, CORPUS)
        .select("doc_id", shingles(words(F.col("text"))).alias("sh"))
        .collect()
    )
    assert {r["doc_id"]: r["sh"] for r in grams}[5] == []


def test_minhash_pairs_ignore_contentless_docs(spark):
    """NULL-text docs must not form a jaccard-1.0 clique through the ""
    band key (concat_ws over an all-NULL signature), and short docs must
    not crash the plan; the genuine near-dup pair still verifies."""
    from fund_data_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(_docs(spark, CORPUS), threshold=0.5).collect()
    assert [(r["d1"], r["d2"]) for r in pairs] == [(1, 2)]


def test_exact_dedup_family_keeps_null_hash_rows(spark):
    """incremental_exact_dedup: the canonical NULL-hash row survives in
    fresh (like the oracle's GROUP BY + ANTI JOIN), is never recorded in
    the history index (a NULL hash can't anti-join anything), and comes
    through again on the next batch."""
    from fund_data_etl_pipeline_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    b1 = _docs(spark, [(1, "same text here"), (2, None), (3, None)])
    fresh1, hist1 = incremental_exact_dedup(b1, None)
    got1 = {r["doc_id"]: r["content_hash"] for r in fresh1.collect()}
    # within-batch: NULL-text docs collapse to the min id (content-keyed
    # grouping, NULLs one group — the oracle's GROUP BY semantics)
    assert set(got1) == {1, 2}
    assert got1[2] is None
    assert hist1.where(F.col("content_hash").isNull()).count() == 0

    b2 = _docs(spark, [(10, "same text here"), (11, None)])
    fresh2, hist2 = incremental_exact_dedup(b2, hist1)
    got2 = {r["doc_id"] for r in fresh2.collect()}
    assert got2 == {11}  # 10 is a known content; 11 is contentless
    assert hist2.where(F.col("content_hash").isNull()).count() == 0


def test_pair_finders_require_corpus_or_prepped(spark):
    from fund_data_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_recovery_pairs,
        shingle_hash_prepped,
    )

    with pytest.raises(ValueError, match="needs df"):
        minhash_lsh_pairs(None)
    docs = _docs(spark, CORPUS)
    prepped = shingle_hash_prepped(docs)
    first = minhash_lsh_pairs(None, prepped=prepped, threshold=0.5)
    assert [(r["d1"], r["d2"]) for r in first.collect()] == [(1, 2)]
    with pytest.raises(ValueError, match="needs docs"):
        minhash_recovery_pairs(None, first)
    # prepped-only recovery composes on the same corpus
    assert minhash_recovery_pairs(None, first, prepped=prepped).count() == 0


def test_poly_fingerprint_zero_word_docs(spark):
    """Empty / whitespace-only / NULL texts fingerprint to 0 (the
    oracle's COALESCE(list_sum(empty), 0)) instead of crashing on the
    descending sequence(1, 0)."""
    from fund_data_etl_pipeline_spark.functions.text import (
        poly_fingerprint,
        words,
    )

    df = _docs(spark, [(1, "hello world"), (2, ""), (3, None), (4, "   ")])
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", poly_fingerprint(words(F.col("text"))).alias("fp")
        ).collect()
    }
    assert got[2] == got[3] == got[4] == 0
    assert got[1] not in (0, None)
