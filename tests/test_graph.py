"""PageRank (plans/graph.py): structural correctness on known graphs,
mass conservation, and the float-reference parity check."""

from __future__ import annotations

import pytest

from fund_data_etl_pipeline_spark.plans.graph import (
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_SCALE,
    pagerank,
)


def _edges(spark, pairs):
    sym = set()
    for a, b in pairs:
        sym.add((a, b))
        sym.add((b, a))
    return spark.createDataFrame(sorted(sym), "src long, dst long")


def _ranks(df):
    return {r["node"]: r["rank_units"] for r in df.collect()}


def test_empty_edges_give_typed_empty_ranks(spark):
    """A 0-row edge list has no node to rank: the result is the empty
    (node, rank_units) frame, not a ZeroDivisionError on the node count."""
    out = pagerank(spark.createDataFrame([], "src long, dst long"), 5)
    assert out.columns == ["node", "rank_units"]
    assert dict(out.dtypes) == {"node": "bigint", "rank_units": "bigint"}
    assert out.collect() == []


def test_star_hub_dominates(spark):
    # star: hub 0 touches leaves 1..6 — the hub must outrank every leaf,
    # and the leaves (symmetric positions) must tie exactly.
    ranks = _ranks(pagerank(_edges(spark, [(0, i) for i in range(1, 7)]), 5))
    leaf_vals = {ranks[i] for i in range(1, 7)}
    assert len(leaf_vals) == 1
    assert ranks[0] > leaf_vals.pop()


def test_mass_conserved_within_floor_loss(spark):
    # every div floors, losing < 1 unit per (node contribution + damping
    # step) per iteration; total mass can only drift DOWN and by less
    # than iters * 2 * n units.
    pairs = [(i, i + 1) for i in range(20)] + [(0, 10), (3, 17)]
    n = 21
    iters = 5
    ranks = _ranks(pagerank(_edges(spark, pairs), iters))
    total = sum(ranks.values())
    assert total <= PR_SCALE
    assert total > PR_SCALE - iters * 2 * n * (n + 1)


def test_matches_float_reference(spark):
    # same damped update in plain floats on the driver; integer ranks at
    # 1e-12 resolution must land within a few units-per-node of it.
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (4, 0)]
    edges = _edges(spark, pairs)
    adj: dict[int, list[int]] = {}
    for r in edges.collect():
        adj.setdefault(r["src"], []).append(r["dst"])
    n = len(adj)
    d = PR_DAMP_NUM / PR_DAMP_DEN
    ref = {v: 1.0 / n for v in adj}
    for _ in range(5):
        recv = {v: 0.0 for v in adj}
        for v, outs in adj.items():
            for w in outs:
                recv[w] += ref[v] / len(outs)
        ref = {v: (1 - d) / n + d * recv[v] for v in adj}
    got = _ranks(pagerank(edges, 5))
    assert set(got) == set(ref)
    for v in ref:
        assert got[v] / PR_SCALE == pytest.approx(ref[v], abs=1e-6)


def test_deterministic_across_builds(spark):
    pairs = [(i, (i * 7) % 13) for i in range(13) if i != (i * 7) % 13]
    e = _edges(spark, pairs)
    assert _ranks(pagerank(e, 3)) == _ranks(pagerank(e, 3))


def test_random_graph_matches_float_reference(spark):
    # randomized-structure parity (fixed seeds, 3 graphs to bound Spark
    # job count): the integer fixpoint must track the float reference on
    # arbitrary symmetric graphs, not just the handcrafted ones.
    import random

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        n = rng.randint(5, 14)
        pairs = {
            (a, b)
            for _ in range(rng.randint(n, 3 * n))
            for a, b in [(rng.randrange(n), rng.randrange(n))]
            if a != b
        }
        if not pairs:
            continue
        edges = _edges(spark, sorted(pairs))
        adj: dict[int, list[int]] = {}
        for r in edges.collect():
            adj.setdefault(r["src"], []).append(r["dst"])
        nn = len(adj)
        d = PR_DAMP_NUM / PR_DAMP_DEN
        ref = {v: 1.0 / nn for v in adj}
        for _ in range(5):
            recv = {v: 0.0 for v in adj}
            for v, outs in adj.items():
                for w in outs:
                    recv[w] += ref[v] / len(outs)
            ref = {v: (1 - d) / nn + d * recv[v] for v in adj}
        got = _ranks(pagerank(edges, 5))
        assert set(got) == set(ref), f"seed {seed}: node set mismatch"
        for v in ref:
            assert got[v] / PR_SCALE == pytest.approx(ref[v], abs=1e-6), (
                f"seed {seed}, node {v}"
            )
