"""Focused tests for the r13 connected-components restructure
(operators/dedup.connected_components): self-inclusion via union instead
of self-loop edge rows, init aggregate grouped by dst, no edge distinct.

The oracle-parity suites exercise CC only through the LSH query paths,
where sf corpora converge in ~2 rounds; these pin the operator directly
on graphs that need MORE propagation rounds (a long chain) and on the
shapes the restructure could plausibly break: the component minimum
sitting at either end of an edge, duplicate-free-by-construction input,
singletons, the with_sizes=False label-only contract, and small mixed
graphs checked against a union-find reference.
"""

from __future__ import annotations

from collections import Counter

import pytest

from fund_data_etl_pipeline_spark.operators.dedup import connected_components


def _run(spark, pairs, universe, **kw):
    p = spark.createDataFrame(pairs, "d1 long, d2 long")
    ids = spark.createDataFrame([(i,) for i in universe], "doc_id long")
    return {
        r.doc_id: (r.group_id, getattr(r, "group_size", None))
        for r in connected_components(p, ids, **kw).collect()
    }


def test_chain_needs_multiple_rounds(spark):
    # 0-1-2-...-7 as a pure chain (diameter 7): min-label propagation
    # must walk the chain over several rounds — exercises the loop body,
    # not just the fused init round
    pairs = [(i, i + 1) for i in range(7)]
    out = _run(spark, pairs, range(8))
    assert out == {i: (0, 8) for i in range(8)}


def test_min_at_the_far_end_and_singletons(spark):
    # component min (1) only reachable through the high end; 99 isolated
    pairs = [(5, 9), (1, 9), (5, 7)]
    out = _run(spark, pairs, [1, 5, 7, 9, 99])
    assert out[1] == (1, 4) and out[5] == (1, 4)
    assert out[7] == (1, 4) and out[9] == (1, 4)
    assert out[99] == (99, 1)


def test_two_components_and_stats_rounds(spark):
    stats: dict = {}
    pairs = [(10, 11), (11, 12), (20, 21)]
    p = spark.createDataFrame(pairs, "d1 long, d2 long")
    ids = spark.createDataFrame(
        [(i,) for i in (10, 11, 12, 20, 21, 30)], "doc_id long"
    )
    out = {
        r.doc_id: (r.group_id, r.group_size)
        for r in connected_components(p, ids, stats=stats).collect()
    }
    assert out == {
        10: (10, 3), 11: (10, 3), 12: (10, 3),
        20: (20, 2), 21: (20, 2), 30: (30, 1),
    }
    # the monotone label-sum fixpoint needs at least the fused init
    # round plus one confirming round
    assert stats["rounds"] >= 2


def test_with_sizes_false_matches_labels(spark):
    pairs = [(i, i + 1) for i in range(5)] + [(50, 60)]
    universe = list(range(6)) + [50, 60, 70]
    full = _run(spark, pairs, universe)
    slim_df = connected_components(
        spark.createDataFrame(pairs, "d1 long, d2 long"),
        spark.createDataFrame([(i,) for i in universe], "doc_id long"),
        with_sizes=False,
    )
    assert slim_df.columns == ["doc_id", "group_id"]
    slim = {r.doc_id: r.group_id for r in slim_df.collect()}
    assert slim == {k: v[0] for k, v in full.items()}


def _union_find_labels(pairs, universe):
    """Reference answer: min id per component, and component size."""
    parent = {u: u for u in universe}

    def root(u):
        while parent[u] != u:
            u = parent[u]
        return u

    for a, b in pairs:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    lab = {u: root(u) for u in universe}
    size = Counter(lab.values())
    return {u: (r, size[r]) for u, r in lab.items()}


@pytest.mark.parametrize(
    "pairs, universe",
    [
        # a triangle, a 4-chain, a star and a singleton
        ([(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (5, 6), (7, 8), (7, 9)],
         range(11)),
        # edge sets that tie on edge count and on both coordinate sums —
        # {(1,5),(2,4)} vs {(2,5),(1,4)} — next to a 4-node component
        ([(1, 5), (2, 4), (6, 10), (7, 9), (6, 7)], range(1, 11)),
        ([(2, 5), (1, 4), (6, 10), (7, 9), (6, 7)], range(1, 11)),
    ],
    ids=["mixed", "tied_sums", "tied_sums_swapped"],
)
def test_graph_shapes(spark, pairs, universe):
    assert _run(spark, pairs, universe) == _union_find_labels(pairs, universe)
