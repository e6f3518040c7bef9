"""Round-3 operators: canonical keep-best dedup, mixture weights,
retention cohorts."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fund_data_etl_pipeline_spark.operators.dedup import canonical_docs


def test_canonical_docs_keeps_best_per_group(spark):
    labels = spark.createDataFrame(
        [
            Row(doc_id=1, group_id=1, group_size=3),
            Row(doc_id=2, group_id=1, group_size=3),
            Row(doc_id=3, group_id=1, group_size=3),
            Row(doc_id=9, group_id=9, group_size=1),  # singleton
        ]
    )
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, n_chars=10),
            Row(doc_id=2, n_chars=50),  # best in group 1
            Row(doc_id=3, n_chars=50),  # tie -> loses on higher id
            Row(doc_id=9, n_chars=1),
        ]
    )
    out = {r.doc_id: r for r in canonical_docs(labels, docs).collect()}
    assert [out[i].keep for i in (1, 2, 3, 9)] == [False, True, False, True]
    # exactly one survivor per group
    kept = [r for r in out.values() if r.keep]
    assert {r.group_id for r in kept} == {1, 9}
    assert len(kept) == 2


def test_dedup_canonical_one_keeper_per_group(spark, sf_dir):
    from fund_data_etl_pipeline_spark import plans

    plans.load_all()
    df = plans.QUERIES["dedup_canonical"](spark, sf_dir)
    per_group = (
        df.groupBy("group_id")
        .agg(
            F.sum(F.col("keep").cast("int")).alias("n_keep"),
            F.count(F.lit(1)).alias("n"),
            F.max("group_size").alias("sz"),
        )
        .collect()
    )
    assert per_group, "corpus produced no groups"
    for r in per_group:
        assert r.n_keep == 1, f"group {r.group_id}: {r.n_keep} keepers"
        assert r.n == r.sz


def test_mixture_weights_shares_sum_to_one(spark, sf_dir):
    from fund_data_etl_pipeline_spark import plans

    plans.load_all()
    rows = plans.QUERIES["source_mixture_weights"](spark, sf_dir).collect()
    assert rows
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-3
    cells = len(rows)
    for r in rows:
        # weight flattens the mixture: weight * share == uniform share
        assert abs(r.mix_weight * r.token_share - 1.0 / cells) < 1e-4


def test_retention_offset_zero_is_full_cohort(spark, sf_dir):
    from fund_data_etl_pipeline_spark import plans

    plans.load_all()
    rows = plans.QUERIES["user_retention_cohorts"](spark, sf_dir).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        assert r.week_offset >= 0
        by_cohort.setdefault(r.cohort_week, {})[r.week_offset] = r
    for cw, offs in by_cohort.items():
        # every user's first event is in their cohort week, so offset 0
        # always covers the whole cohort
        assert 0 in offs, cw
        assert offs[0].retention_rate == 1.0
        assert all(
            r.n_active <= offs[0].n_active for r in offs.values()
        ), f"cohort {cw} has an offset larger than the cohort itself"
        # cohort weeks are Mondays
        assert datetime.date.fromisoformat(cw).weekday() == 0


def test_funnel_monotone_and_rates(spark, sf_dir):
    from fund_data_etl_pipeline_spark import plans

    plans.load_all()
    rows = sorted(
        plans.QUERIES["events_funnel"](spark, sf_dir).collect(),
        key=lambda r: r.step_idx,
    )
    assert [r.step for r in rows] == ["view", "click", "purchase"]
    ns = [r.n_users for r in rows]
    assert ns == sorted(ns, reverse=True), "funnel must shrink"
    assert rows[0].conv_from_first == 1.0 and rows[0].conv_from_prev == 1.0
    for prev, cur in zip(rows, rows[1:]):
        assert 0.0 <= cur.conv_from_prev <= 1.0
        assert abs(cur.conv_from_first - cur.n_users / ns[0]) < 1e-5


def test_event_value_stats_percentile_order(spark, sf_dir):
    from fund_data_etl_pipeline_spark import plans

    plans.load_all()
    rows = plans.QUERIES["event_value_stats"](spark, sf_dir).collect()
    assert {r.event_type for r in rows} >= {"view", "click", "purchase"}
    for r in rows:
        assert r.p50 <= r.p90 <= r.p99
        assert r.n_users <= r.n


def test_corpus_curation_verdict_consistent(spark, sf_dir):
    from fund_data_etl_pipeline_spark import plans

    plans.load_all()
    rows = plans.QUERIES["corpus_curation"](spark, sf_dir).collect()
    assert rows
    kept = [r for r in rows if r.keep]
    assert kept, "curation must keep something on the fixture corpus"
    for r in rows:
        if r.keep:
            assert r.is_canonical and r.quality_score >= 0.3
            assert r.uniq_word_frac >= 0.2 and r.dup_bigram_frac <= 0.9
    # exactly the canonical docs survive the dedup component
    n_canon = sum(1 for r in rows if r.is_canonical)
    assert len(kept) <= n_canon


def test_quality_weighted_sample_tracks_quality(spark, sf_dir):
    from fund_data_etl_pipeline_spark import plans

    plans.load_all()
    rows = plans.QUERIES["quality_weighted_sample"](spark, sf_dir).collect()
    assert rows
    keep_rate = sum(r.keep for r in rows) / len(rows)
    mean_q = sum(r.quality_score for r in rows) / len(rows)
    # law of large numbers over deterministic buckets: realized keep rate
    # tracks the mean survival probability
    assert abs(keep_rate - mean_q) < 0.1
    # determinism: a second build yields the identical survivor set
    again = plans.QUERIES["quality_weighted_sample"](spark, sf_dir).collect()
    assert {r.doc_id for r in rows if r.keep} == {
        r.doc_id for r in again if r.keep
    }


def test_c4_filters_verdict_consistent(spark, sf_dir):
    from fund_data_etl_pipeline_spark import plans

    plans.load_all()
    rows = plans.QUERIES["text_c4_filters"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.frac_term_lines <= 1.0
        if r.keep:
            assert r.n_sentences >= 3 and r.words_per_line >= 5.0
            assert not r.has_lorem and not r.has_brace


def test_c4_filters_catches_planted_tells(spark):
    from fund_data_etl_pipeline_spark.plans.textops import text_c4_filters
    import fund_data_etl_pipeline_spark.plans.textops as T
    from unittest import mock

    good = "the quick brown fox jumps over the lazy dog today. " * 5
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "Lorem Ipsum dolor sit amet. " * 10),
            (3, 'function f() { return 1; } and more words here. ' * 10),
            (4, "short"),
        ],
        ["doc_id", "text"],
    )
    with mock.patch.object(T, "load_table", lambda spark, sf, name: docs):
        out = {r.doc_id: r for r in text_c4_filters(spark, "ignored").collect()}
    assert out[1].keep
    assert not out[2].keep and out[2].has_lorem
    assert not out[3].keep and out[3].has_brace
    assert not out[4].keep  # no sentences


def _cc_pairs(spark, pairs):
    return spark.createDataFrame(pairs, ["d1", "d2"])


def _cc_ids(spark, n):
    return spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])


def test_cc_chain_past_round_limit_raises(spark):
    """Min labels move one hop per round, and one more round confirms the
    fixpoint: an n-node chain takes n rounds. The longest chain within
    the round limit resolves; one node more raises the named error
    instead of returning partial labels, and frees the label checkpoints
    and the edge cache it made."""
    from fund_data_etl_pipeline_spark.operators.dedup import (
        CC_MAX_ROUNDS,
        ComponentRoundLimitError,
        connected_components,
    )

    def chain(n):
        pairs = [(i, i + 1) for i in range(n - 1)]
        return _cc_pairs(spark, pairs), _cc_ids(spark, n)

    stats: dict = {}
    out = connected_components(*chain(CC_MAX_ROUNDS), stats=stats).collect()
    assert {r.group_id for r in out} == {0}
    assert stats["rounds"] == CC_MAX_ROUNDS
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(ComponentRoundLimitError, match=f"{CC_MAX_ROUNDS} rounds"):
        connected_components(*chain(CC_MAX_ROUNDS + 1))
    assert set(jsc.getPersistentRDDs().keys()) <= before


def test_top_users_per_event_shape(spark, sf_dir):
    from fund_data_etl_pipeline_spark import plans

    plans.load_all()
    rows = plans.QUERIES["top_users_per_event"](spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    assert by_type
    for et, group in by_type.items():
        ranks = sorted(r.rank for r in group)
        assert ranks == list(range(1, len(group) + 1)), et
        assert len(group) <= 5
        vals = [r.total_value for r in sorted(group, key=lambda r: r.rank)]
        assert vals == sorted(vals, reverse=True), et
