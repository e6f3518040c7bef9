"""IVF ANN tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from fund_data_etl_pipeline_spark.operators.similarity import cosine_topk
from fund_data_etl_pipeline_spark.sources import load_table


def test_ivf_seed_quantizer_recall_and_determinism(spark, sf_dir):
    """The oracle-checkable seed-quantizer IVF (ivf_seed_topk — the
    registered vector_ann_ivf path) keeps recall of the exact top-5 at
    0.2 or more with 2 of 8 lists probed, returns contiguous per-query
    ranks, and is exactly reproducible run-to-run (the property its
    DuckDB oracle relies on)."""
    from fund_data_etl_pipeline_spark.operators.similarity import ivf_seed_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    rows = ivf_seed_topk(emb, queries, k=5, n_lists=8, n_probe=2).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.2, f"seed-IVF recall too low: {recall:.2f}"
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    again = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
        for r in ivf_seed_topk(emb, queries, k=5, n_lists=8, n_probe=2).collect()
    }
    assert again == {
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"]) for r in rows
    }


def test_ivf_seed_plan_shape(spark, sf_dir):
    """The seed-IVF plan must be the scale shape its docstring claims:
    seeds reach the assignment as a BROADCAST (map-side dot folds, no
    shuffle of the corpus against seeds) and nothing degenerates to an
    unbroadcast CartesianProduct; the candidate stage is an equi-join on
    list_id."""
    from fund_data_etl_pipeline_spark.operators.similarity import ivf_seed_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    plan = (
        ivf_seed_topk(emb, queries, k=5, n_lists=8, n_probe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_ivf_index_build_paths_agree(spark, sf_dir):
    """r10 build_ivf_index: (a) the numpy (Arrow matmul) assignment and
    the HOF fold assignment pick identical lists on the test corpus
    (same float64 arithmetic, rounded to 6, min-list_id ties — bit
    agreement is empirical, which is exactly what this pins); (b) a
    query over the prebuilt index_tables= is row-identical to the
    inline form at the same width — the amortized daily-index shape
    changes cost, never results."""
    from pyspark.sql import functions as F

    from fund_data_etl_pipeline_spark.operators.similarity import (
        build_ivf_index,
        ivf_seed_topk,
    )
    from fund_data_etl_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)

    seeds_np, assigned_np = build_ivf_index(emb, n_lists=8)
    _seeds_hof, assigned_hof = build_ivf_index(
        emb, n_lists=8, numpy_assign=False
    )
    np_map = {r["neighbor_id"]: r["list_id"] for r in assigned_np.collect()}
    hof_map = {r["neighbor_id"]: r["list_id"] for r in assigned_hof.collect()}
    assert np_map == hof_map and len(np_map) == emb.count()

    inline = sorted(
        map(tuple, ivf_seed_topk(emb, queries, k=5, n_lists=8,
                                 n_probe=2).collect())
    )
    via_index = sorted(
        map(
            tuple,
            ivf_seed_topk(
                emb, queries, k=5, n_probe=2,
                index_tables=(seeds_np, assigned_np),
            ).collect(),
        )
    )
    assert via_index == inline and inline
