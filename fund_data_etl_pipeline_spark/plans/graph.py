"""Iterative graph analytics: PageRank over the part↔supplier
co-purchase graph.

Engine extension (SURVEY §2 extensions note): the reference pipeline has
no graph surface; this is the canonical *iterative* distributed algorithm
a training-data platform runs on its document/link graphs (citation rank,
source authority weighting for mixture construction). It complements the
connected_components operator (operators/dedup.py) with a
fixed-point computation whose per-round state is a full numeric vector,
not a shrinking label set.

Cross-engine exactness: ranks live in integer micro-units (1e-12 of total
rank mass) and every step is integer arithmetic — `div` floor division on
positives, exact BIGINT sums — so a fixed iteration count reproduces
bit-for-bit in DuckDB with the iterations unrolled as chained CTEs. No
float accumulation, no tolerance windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from . import format_doc, register

# Total rank mass in integer units. 1e12 units across ~2e3 nodes leaves
# ~5e8 units/node of resolution; the largest intermediate (85 * a
# per-node contribution sum <= total mass) stays < 2^47, well inside
# BIGINT and never rounded through a double.
PR_SCALE = 10**12
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio
PR_ITERS = 5
PR_TOPK = 100


def pagerank(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Damped PageRank on a directed edge list ``(src, dst)``.

    Returns (node, rank_units) for every node that has at least one
    outgoing edge. Iterative plan, not a single expression: each round is

        contrib(n)  = rank(n) div out_degree(n)        (map-side join)
        recv(d)     = Σ contrib over in-edges           (one shuffle on dst)
        rank'(d)    = base + (85·recv) div 100          (map-side)

    Scale shape (restructured r13 — guide §2.4/§1.2): ``edges`` is
    repartitioned on src ONCE and localCheckpoint'ed, so every round's
    contrib→edges join reads the same materialized layout instead of
    re-shuffling the edge list per iteration — at 100 TB the edge table
    dominates and must not move after round 0. The rank state CARRIES
    ``deg`` (one extra long per node), which deletes the per-round
    rank⋈degree equi-join the r4c form paid — contrib is a map-side
    projection of the state. And the state is NOT checkpointed per
    round: under AQE, ``localCheckpoint(eager=False)`` still calls
    ``.rdd``, which materializes every upstream shuffle stage as an
    eager driver-blocked job at BUILD time — the r13 profile measured
    the old form at 32 sequential jobs for 5 rounds. A fixed small
    iteration count means plan depth is bounded (one join + one agg per
    round), so the whole fixpoint is ONE lazy plan: AQE executes it as
    one query, broadcasting the tiny per-round rank/recv sides locally
    while the same plan degrades gracefully to co-partitioned
    sort-merge joins at cluster scale (where ranks stop fitting a
    broadcast). The only per-round shuffle left is the dst aggregation.

    The node count (one tiny COUNT) sets the uniform initial rank and the
    teleport term on the driver — the same role as CC's convergence
    aggregate.
    """
    edges = (
        edges.select("src", "dst")
        .repartition("src")
        .localCheckpoint(eager=False)
    )
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .withColumnRenamed("src", "node")
        .localCheckpoint(eager=False)
    )
    n = deg.count()  # materializes edges + deg; the loop reuses both
    if n == 0:  # no nodes: the typed empty frame, and no rank to divide
        return deg.select("node", F.lit(0).cast("long").alias("rank_units"))
    init = PR_SCALE // n
    base = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // (n * PR_DAMP_DEN)
    ranks = deg.select(
        "node", "deg", F.lit(init).cast("long").alias("rank_units")
    )
    for _ in range(iters):
        contrib = ranks.select(
            "node", F.expr("rank_units div deg").alias("contrib")
        )
        recv = (
            edges.join(contrib, edges["src"] == contrib["node"])
            .groupBy("dst")
            .agg(F.sum("contrib").alias("recv"))
        )
        ranks = deg.join(recv, deg["node"] == recv["dst"], "left").select(
            "node",
            "deg",
            (
                F.lit(base)
                + F.expr(
                    f"({PR_DAMP_NUM} * coalesce(recv, 0L)) div {PR_DAMP_DEN}"
                )
            ).alias("rank_units"),
        )
    return ranks.select("node", "rank_units")


def _pr_oracle() -> str:
    """Unrolled-CTE DuckDB mirror: pr0..pr{ITERS}, same integer steps.

    Fixed small iteration count makes recursion unnecessary — chained
    CTEs sidestep any recursive-aggregate capability question and keep
    the oracle plain ANSI.
    """
    ctes = [
        """
    edges AS (
      SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst
      FROM lineitem
      UNION
      SELECT DISTINCT 2 * l_suppkey + 1 AS src, 2 * l_partkey AS dst
      FROM lineitem
    ),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    pr0 AS (
      SELECT node, CAST({scale} // n AS BIGINT) AS r FROM deg CROSS JOIN nn
    )""".format(scale=PR_SCALE)
    ]
    for i in range(1, PR_ITERS + 1):
        ctes.append(
            """
    pr{i} AS (
      SELECT d.node,
             CAST(({scale} * {tele}) // (n * {den})
                  + ({num} * COALESCE(s.recv, 0)) // {den} AS BIGINT) AS r
      FROM deg d CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, SUM(p.r // dg.deg) AS recv
        FROM pr{prev} p
        JOIN deg dg ON dg.node = p.node
        JOIN edges e ON e.src = p.node
        GROUP BY e.dst
      ) s ON s.node = d.node
    )""".format(
                i=i,
                prev=i - 1,
                scale=PR_SCALE,
                num=PR_DAMP_NUM,
                den=PR_DAMP_DEN,
                tele=PR_DAMP_DEN - PR_DAMP_NUM,
            )
        )
    return f"""
    WITH {",".join(ctes)}
    SELECT node AS node_id,
           CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_kind,
           node // 2 AS entity_id,
           r AS rank_units
    FROM pr{PR_ITERS}
    ORDER BY rank_units DESC, node_id
    LIMIT {PR_TOPK}
    """


@register("graph_pagerank", oracle=_pr_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} PageRank nodes of the part↔supplier co-purchase graph.

    Nodes interleave into one integer space (part p → 2p, supplier s →
    2s+1 — pure arithmetic, engine-identical); edges are the distinct
    lineitem pairs in BOTH directions, so the graph is symmetric and
    every node has out-degree ≥ 1 — no dangling-mass redistribution
    branch. {iters} damped iterations in exact integer units (module
    docstring), then TakeOrderedAndProject caps the rank sort at {k}
    rows per partition; ties break on node_id, a total order.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    fwd = li.select(
        (2 * F.col("l_partkey")).alias("src"),
        (2 * F.col("l_suppkey") + 1).alias("dst"),
    )
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    ranks = pagerank(edges, PR_ITERS)
    return (
        ranks.select(
            F.col("node").alias("node_id"),
            F.when(F.col("node") % 2 == 0, F.lit("part"))
            .otherwise(F.lit("supplier"))
            .alias("node_kind"),
            F.expr("node div 2").alias("entity_id"),
            "rank_units",
        )
        .orderBy(F.col("rank_units").desc(), "node_id")
        .limit(PR_TOPK)
    )


format_doc(graph_pagerank, k=PR_TOPK, iters=PR_ITERS)
