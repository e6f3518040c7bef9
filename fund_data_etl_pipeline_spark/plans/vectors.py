"""Similarity-search queries over the ``embeddings`` table.

``vector_cosine_topk`` is the exact baseline with a DuckDB oracle.
``vector_ann_lsh`` ALSO carries an exact oracle despite being the
"approximate" path: its hyperplanes are deterministic +-1 constants
(``rhp_sign_vector``) shipped as literals into both engines, and both
engines fold the projection sequentially, so bucket assignment — and
therefore the candidate set and the exact-cosine rank over it — is
engine-reproducible. ``vector_ann_ivf`` carries an exact oracle too
(round 5): its coarse quantizer is a deterministic hash-seed draw
(ivf_seed_topk) rather than KMeans, so list assignment replays in SQL.
Recall vs the exact baseline is pytest-asserted for every ANN path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    ivf_seed_topk,
    rhp_sign_vector,
)
from ..sources import load_table
from . import _sqlgen as G
from . import format_doc, register

_K = 5
_N_QUERIES = 10

_COS = (
    "list_dot_product(q.v, n.v) /"
    " (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v)))"
)


@register(
    "vector_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             {G.round_sql(_COS, 6)} AS cos_sim
      FROM e q JOIN e n ON q.vec_id <> n.vec_id
      WHERE q.vec_id < {_N_QUERIES}
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_K}
    """,
)
def vector_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k for the first {n} vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return cosine_topk(emb, queries, k=_K)


_LSH_PLANES = 4
_LSH_TABLES = 4
_LSH_DIMS = 64


def rhp_bucket_sql(tbl: int, planes: int, dims: int, vec: str = "v") -> str:
    """DuckDB twin of ``rhp_bucket``: the same +-1 hyperplane constants as
    array literals, the same sequential dot product, the same >= 0 sign
    bit, concatenated in the same plane order. Shared by every
    hyperplane-bucketed oracle (vector_ann_lsh here, dedup_semantic_lsh
    in plans/dedup.py)."""
    bits = []
    for p in range(planes):
        signs = rhp_sign_vector(tbl * planes + p, dims)
        arr = ", ".join(f"{s:.1f}" for s in signs)
        bits.append(
            f"CASE WHEN list_dot_product({vec}, [{arr}]) >= 0"
            " THEN '1' ELSE '0' END"
        )
    return " || ".join(bits)


def _bucket_sql(tbl: int) -> str:
    return rhp_bucket_sql(tbl, _LSH_PLANES, _LSH_DIMS)


_SIG_SQL = "\n      UNION ALL\n      ".join(
    f"SELECT vec_id, v, {t} AS tbl, {_bucket_sql(t)} AS bucket FROM e"
    for t in range(_LSH_TABLES)
)


@register(
    "vector_ann_lsh",
    # exact oracle for an ANN query: hyperplanes are shared literal
    # constants, so candidate generation + exact-cosine rank reproduce
    # bit-for-bit in DuckDB (round-3 VERDICT next-step #3)
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    sig AS (
      {_SIG_SQL}
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
      FROM sig q JOIN sig n ON q.tbl = n.tbl AND q.bucket = n.bucket
      WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> n.vec_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id, {G.round_sql(_COS, 6)} AS cos_sim
      FROM cand c
      JOIN e q ON q.vec_id = c.query_id
      JOIN e n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {_K}
    """,
)
def vector_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: bucketed equi-join instead of the cross
    join — the plan that survives 100 TB. Recall measured in pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return ann_lsh_topk(
        emb, queries, k=_K, planes=_LSH_PLANES, tables=_LSH_TABLES,
        dims=_LSH_DIMS,
    )


_IVF_LISTS = 16
_IVF_PROBE = 2

_IVF_ASSIGN_COS = (
    "list_dot_product(e.v, s.sv) /"
    " (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(s.sv, s.sv)))"
)


# exact oracle for the IVF path (round-4 VERDICT next-step #2): the
# coarse quantizer is a deterministic hash-uniform seed draw (the
# dedup_semantic device), so seed choice, rounded-cosine list
# assignment, n_probe probing and the exact-cosine rank all replay
# bit-for-bit in DuckDB. A probed (query, neighbor) pair is unique —
# each neighbor lives in exactly one list and a query's probed lists
# are distinct — so no DISTINCT is needed before ranking. Shared by the
# inline registration and its r12 on-disk-index twin (identical output
# by construction — only the index transport differs).
_IVF_ORACLE = f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    seeds AS (
      SELECT vec_id AS list_id, v AS sv FROM e
      QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        <= {_IVF_LISTS}
    ),
    scored AS (
      SELECT e.vec_id, s.list_id, {G.round_sql(_IVF_ASSIGN_COS, 6)} AS cos_r
      FROM e CROSS JOIN seeds s
    ),
    assigned AS (
      SELECT vec_id AS neighbor_id, list_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY cos_r DESC, list_id) AS rn
        FROM scored) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, list_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY cos_r DESC, list_id) AS rn
        FROM scored WHERE vec_id < {_N_QUERIES}) WHERE rn <= {_IVF_PROBE}
    ),
    cand AS (
      SELECT p.query_id, a.neighbor_id
      FROM probes p JOIN assigned a USING (list_id)
      WHERE p.query_id <> a.neighbor_id
    ),
    ranked AS (
      SELECT c.query_id, c.neighbor_id, {G.round_sql(_COS, 6)} AS cos_sim
      FROM cand c
      JOIN e q ON q.vec_id = c.query_id
      JOIN e n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM ranked
    ) WHERE rank <= {_K}
    """


@register("vector_ann_ivf", oracle=_IVF_ORACLE)
def vector_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over {lists} inverted lists with a deterministic
    hash-seed coarse quantizer (ivf_seed_topk): queries probe the nearest
    {probe} lists, so candidates shrink ~{probe}/{lists}
    vs brute force while assignment stays a broadcast map-side
    expression. Its recall is pytest-asserted against the exact
    baseline, and its whole pipeline replays in the DuckDB oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return ivf_seed_topk(
        emb, queries, k=_K, n_lists=_IVF_LISTS, n_probe=_IVF_PROBE
    )


@register("vector_ann_ivf_indexed", oracle=_IVF_ORACLE)
def vector_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The steady-state daily form of vector_ann_ivf (the r12
    dedup_incremental_minhash_indexed pattern applied to ANN): the
    (seeds, assigned) IVF index lives as on-disk tables
    (operators/index_store — assigned bucketed by list_id, so the probe
    join is co-located with NO Exchange on the index side), built once
    per testdata fingerprint and ATTACHED on every later run. The
    N x n_lists assignment pass — the N^1.5 index-build term — is the
    amortized once-per-ingest cost; a query run pays only its own probe
    assignments + the list-local verify. Built with the HOF assignment
    path (numpy_assign=False) so the DuckDB oracle replays bit-for-bit
    (build_ivf_index's note on tie rounding). Identical oracle and
    output to vector_ann_ivf.

    Cache key = corpus fingerprint x build-parameter hash (ADVICE r12);
    root via $SPARK_GRAFT_INDEX_ROOT (default repo-local), stale leaves
    LRU-evicted after a fresh build."""
    import os

    from ..operators import index_store as IS
    from ..operators.similarity import build_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    fp = IS.table_fingerprint(sf_dir, "embeddings")
    base = IS.index_cache_dir(
        "ivf", fp, {"n_lists": _IVF_LISTS, "assign": "hof", "format": 1}
    )
    prefix = f"ivf_{os.path.basename(base)}"
    have = all(
        os.path.exists(os.path.join(base, sub, mark))
        for sub, mark in (("seeds", "_SUCCESS"), ("assigned", IS.MANIFEST))
    )
    if not have:
        idx = build_ivf_index(emb, n_lists=_IVF_LISTS, numpy_assign=False)
        IS.save_ivf_index(idx, base, prefix=prefix)
        # keep=4: see dedup_incremental_minhash_indexed — one leaf per
        # driver-touched SF plus margin, so pre-warmed leaves survive
        IS.evict_stale(os.path.dirname(base), keep=4, skip=base)
    tables = IS.load_ivf_index(spark, base, prefix=prefix)
    IS.touch_cache_leaf(base)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return ivf_seed_topk(
        emb,
        queries,
        k=_K,
        n_lists=_IVF_LISTS,
        n_probe=_IVF_PROBE,
        index_tables=tables,
    )


format_doc(vector_cosine_topk, n=_N_QUERIES)
format_doc(vector_ann_ivf, lists=_IVF_LISTS, probe=_IVF_PROBE)
