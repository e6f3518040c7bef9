"""Plan-growth guard for the iterative operators.

``connected_components`` and ``plans.graph.pagerank`` build one round
after another on the driver. Over 4, 8 and 12 rounds of a tiny chain
graph, the optimized-plan text of the returned DataFrame and the build
time may grow at most linearly. A round that references the previous
round's state twice doubles the plan every round: that form once took
304 s on an 8-node chain while the sf corpora, which converge in 2
rounds, never showed it.
"""

from __future__ import annotations

import time

from fund_data_etl_pipeline_spark.operators.dedup import connected_components
from fund_data_etl_pipeline_spark.plans.graph import pagerank

ROUNDS = (4, 8, 12)
# linear growth from the smallest size allows a ratio of n / n0; the
# slack absorbs expression-id digits (text) and host noise (time)
TEXT_SLACK = 1.25
TIME_SLACK = 2.0


def _plan_text(df) -> int:
    """Characters of the optimized plan, less the tree indentation: a
    linear chain of n operators renders O(n^2) indentation by itself."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(len(line.lstrip(" :+-")) for line in text.splitlines())


def _assert_linear(build) -> None:
    """Build at each size and compare against the smallest as it goes,
    so a form that grows exponentially fails before its largest size."""
    build(ROUNDS[0])  # first-use costs (codegen, JIT) stay out of the base
    base = None
    for n in ROUNDS:
        start = time.perf_counter()
        df = build(n)
        secs = time.perf_counter() - start
        text = _plan_text(df)
        if base is None:
            base = (n, text, secs)
            continue
        n0, text0, secs0 = base
        assert text <= TEXT_SLACK * text0 * n / n0, (n, text, base)
        assert secs <= TIME_SLACK * secs0 * n / n0, (n, secs, base)


def test_connected_components_plan_growth(spark):
    # an n-node chain needs n rounds: n - 1 to carry label 0 to the far
    # end and one that confirms the fixpoint
    def build(n):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "d1 long, d2 long"
        )
        ids = spark.range(n).withColumnRenamed("id", "doc_id")
        stats: dict = {}
        out = connected_components(pairs, ids, stats=stats)
        assert stats["rounds"] == n
        return out

    _assert_linear(build)


def test_pagerank_plan_growth(spark):
    edges = spark.createDataFrame(
        [(i, j) for i in range(12) for j in (i - 1, i + 1) if 0 <= j < 12],
        "src long, dst long",
    )
    _assert_linear(lambda iters: pagerank(edges, iters))
