"""Round-4 additions: storage hygiene, sketch-aggregate parity, and
degenerate-data guards (the ADVICE.md items from round 3)."""

from __future__ import annotations

import pyspark.sql.functions as F


def _persistent_rdd_ids(spark) -> set[int]:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_funnel_repeated_builds_leave_no_cached_state(spark, sf_dir):
    """Repeated funnel builds must not accumulate storage memory (round-3
    ADVICE; the BASELINE.md note-8 pathology). Since r4b the builder is a
    single lazy plan that persists nothing at all, so NO NEW persistent
    RDD id may appear across builds and executions. Comparing id SETS
    rather than counts (round-4 ADVICE): the ContextCleaner may
    asynchronously drop lingering checkpointed RDDs from earlier tests —
    e.g. PageRank's lazy localCheckpoints — while this test runs, and a
    raw-count <= would let that concurrent decrease mask a genuine new
    funnel cache leak."""
    from fund_data_etl_pipeline_spark.plans.events import events_funnel

    before = _persistent_rdd_ids(spark)
    for _ in range(3):
        rows = events_funnel(spark, sf_dir).collect()
        assert len(rows) == 3
        assert _persistent_rdd_ids(spark) - before == set()


def test_funnel_conversion_rates_well_formed(spark, sf_dir):
    from fund_data_etl_pipeline_spark.plans.events import events_funnel

    rows = {r["step_idx"]: r for r in events_funnel(spark, sf_dir).collect()}
    assert rows[1]["conv_from_prev"] == 1.0
    assert rows[1]["conv_from_first"] == 1.0
    for i in (2, 3):
        assert 0.0 <= rows[i]["conv_from_prev"] <= 1.0
        assert 0.0 <= rows[i]["conv_from_first"] <= 1.0


def test_funnel_on_empty_events_matches_oracle(spark, sf_dir, tmp_path):
    """With 0 users every rate is undefined: the query gives NULL where
    its DuckDB oracle does, step 1's conv_from_prev included."""
    import os

    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from fund_data_etl_pipeline_spark.plans.events import events_funnel

    path = str(tmp_path / "events.parquet")
    schema = pq.read_schema(os.path.join(sf_dir, "events.parquet"))
    pq.write_table(schema.empty_table(), path)
    got = sorted(tuple(r) for r in events_funnel(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    cols = "step_idx, step, n_users, conv_from_first, conv_from_prev"
    oracle = con.sql(f"SELECT {cols} FROM ({entry.oracle_sql()['events_funnel']})")
    assert got == sorted(oracle.fetchall())
    assert [r[4] for r in got] == [None, None, None]


def test_event_value_stats_approx_tracks_exact(spark, sf_dir):
    """The sketch form (approx_percentile/approx_count_distinct) must obey
    its documented guarantees vs the exact oracle baseline. The percentile
    contract is RANK-based, not value-based: approx_percentile returns an
    actual data value whose rank is within accuracy⁻¹ of the target (no
    interpolation, unlike exact `percentile`), so the check computes each
    returned value's true rank fraction. HLL distinct-count rsd is 5%."""
    from fund_data_etl_pipeline_spark.plans.events import (
        event_value_stats,
        event_value_stats_approx,
    )
    from fund_data_etl_pipeline_spark.sources import load_table

    exact = {r["event_type"]: r for r in event_value_stats(spark, sf_dir).collect()}
    approx = {
        r["event_type"]: r for r in event_value_stats_approx(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    events = load_table(spark, sf_dir, "events")
    for et, e in exact.items():
        a = approx[et]
        assert a["n"] == e["n"]
        assert abs(a["n_users"] - e["n_users"]) <= 0.1 * e["n_users"] + 5
        assert a["avg_value"] == e["avg_value"]
        grp = events.filter(F.col("event_type") == et)
        for q, target in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            rank = (
                grp.agg(
                    (F.sum((F.col("value") <= a[q]).cast("int")) / F.count("*"))
                    .alias("r")
                ).first()["r"]
            )
            # accuracy 10000 => rank error ~1e-4; allow discreteness slack
            # of one order statistic on the smoke-sized groups
            assert abs(rank - target) <= 1e-4 + 1.5 / e["n"]


def test_mixture_weights_zero_token_cell_yields_null(spark, tmp_path):
    """A (source, lang) cell whose documents contain zero words must give
    NULL share/weight (guarded division), not Infinity — and must not
    raise ANSI DIVIDE_BY_ZERO (round-3 ADVICE)."""
    from fund_data_etl_pipeline_spark.plans.textops import source_mixture_weights

    docs = spark.createDataFrame(
        [
            (1, "", "en", "empty_src", 0),
            (2, "   ", "en", "empty_src", 3),
            (3, "alpha beta gamma", "en", "web", 16),
            (4, "delta epsilon", "en", "web", 13),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["source"]: r
        for r in source_mixture_weights(spark, str(tmp_path)).collect()
    }
    assert out["empty_src"]["tok_sum"] == 0
    assert out["empty_src"]["token_share"] == 0.0
    assert out["empty_src"]["mix_weight"] is None
    assert out["web"]["token_share"] == 1.0
    assert out["web"]["mix_weight"] is not None


def test_mixture_weights_all_empty_corpus(spark, tmp_path):
    """Whole-corpus zero tokens: total share denominator is 0 — every
    share and weight must come back NULL instead of erroring."""
    from fund_data_etl_pipeline_spark.plans.textops import source_mixture_weights

    docs = spark.createDataFrame(
        [(1, "", "en", "a", 0), (2, "", "zh", "b", 0)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = source_mixture_weights(spark, str(tmp_path)).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["token_share"] is None
        assert r["mix_weight"] is None


def test_epoch_shuffle_deterministic_and_total(spark, sf_dir):
    """Same (corpus, epoch) -> identical order across builds; positions
    are a dense 1..n per shard; epochs decorrelate."""
    from fund_data_etl_pipeline_spark.sources import load_table
    from fund_data_etl_pipeline_spark.operators.sampling import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents")
    a = epoch_shuffle(docs, epoch=1).collect()
    b = epoch_shuffle(docs, epoch=1).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_shard: dict[int, list[int]] = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    c = {r["doc_id"]: (r["shard"], r["pos"]) for r in
         epoch_shuffle(docs, epoch=2).collect()}
    a_map = {r["doc_id"]: (r["shard"], r["pos"]) for r in a}
    moved = sum(1 for k in a_map if a_map[k] != c[k])
    assert moved > len(a_map) * 0.9  # epoch-2 permutation is independent


def test_round4_plan_shapes(spark, sf_dir):
    """Scale-shape guards for the round-4 queries: the ANN path must stay
    an equi-join (no cartesian/nested-loop fallback), the sketch rollup
    must keep map-side partial aggregation, and the epoch shuffle's only
    exchange is the shard hash partition for its rank window."""
    from fund_data_etl_pipeline_spark.plans.events import event_value_stats_approx
    from fund_data_etl_pipeline_spark.plans.textops import epoch_shuffle_query
    from fund_data_etl_pipeline_spark.plans.vectors import vector_ann_lsh

    ann = vector_ann_lsh(spark, sf_dir)
    plan = ann._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    approx = event_value_stats_approx(spark, sf_dir)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "partial_approx_count_distinct" in plan
    assert "partial_approx_percentile" in plan or "partial_percentile_approx" in plan

    shuf = epoch_shuffle_query(spark, sf_dir)
    plan = shuf._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1

    from fund_data_etl_pipeline_spark.plans.textops import doc_chunking

    plan = doc_chunking(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, "chunking must stay map-only"


def test_leakage_safe_split_never_straddles_groups(spark, sf_dir):
    """Every member of a near-dup component must land in the same split —
    the contract that doc-keyed splitting violates; split fractions over
    GROUPS stay near 80/10/10."""
    from fund_data_etl_pipeline_spark.plans.dedup import leakage_safe_split

    rows = leakage_safe_split(spark, sf_dir).collect()
    by_group: dict[int, set[str]] = {}
    for r in rows:
        by_group.setdefault(r["group_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_group.values())
    splits = [next(iter(s)) for s in by_group.values()]
    train_frac = splits.count("train") / len(splits)
    assert 0.6 < train_frac < 0.95  # hash-thin smoke corpus: loose band


def test_doc_chunking_covers_and_overlaps(spark, sf_dir):
    """Chunks tile each document: starts advance by the stride, the first
    chunk starts at 0, every chunk is nonempty and at most CHUNK_WORDS
    long, the last chunk reaches the document's end, and consecutive
    full chunks overlap by CHUNK_WORDS - CHUNK_STRIDE words."""
    from fund_data_etl_pipeline_spark.functions.text import words
    from fund_data_etl_pipeline_spark.operators.sampling import (
        CHUNK_STRIDE,
        CHUNK_WORDS,
        chunk_documents,
    )
    from fund_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_words = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(words("text")).alias("n")
        ).collect()
    }
    chunks: dict[int, list] = {}
    for r in chunk_documents(docs, words("text")).collect():
        chunks.setdefault(r["doc_id"], []).append(r)
    for doc_id, n in n_words.items():
        cs = sorted(chunks.get(doc_id, []), key=lambda r: r["chunk_idx"])
        if n == 0:
            assert not cs
            continue
        assert [c["chunk_start"] for c in cs] == [
            i * CHUNK_STRIDE for i in range(len(cs))
        ]
        assert all(0 < c["chunk_len"] <= CHUNK_WORDS for c in cs)
        last = cs[-1]
        assert last["chunk_start"] + last["chunk_len"] == n
        assert last["chunk_start"] < n <= last["chunk_start"] + CHUNK_WORDS


def test_zorder_index_decodes_back_to_keys(spark, sf_dir):
    """The Morton interleave must be invertible: de-interleaving z_index's
    even/odd bits recovers (l_partkey, l_suppkey) mod 2^16 — and rows
    sharing a z_bucket are key-local in both dimensions."""
    from fund_data_etl_pipeline_spark.plans.relational2 import _Z_EXPR
    from fund_data_etl_pipeline_spark.sources import load_table

    # carry the source keys next to the index in ONE row — the synthetic
    # lineitem does not keep (l_orderkey, l_linenumber) unique, so a
    # collect-and-join check would compare unrelated rows
    rows = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_partkey", "l_suppkey",
            F.expr(_Z_EXPR).alias("z_index"),
            F.expr(f"{_Z_EXPR} >> 22").alias("z_bucket"),
        )
        .collect()
    )

    def deinterleave(z: int) -> tuple[int, int]:
        x = y = 0
        for b in range(16):
            x |= ((z >> (2 * b)) & 1) << b
            y |= ((z >> (2 * b + 1)) & 1) << b
        return x, y

    for r in rows:
        assert deinterleave(r["z_index"]) == (
            r["l_partkey"] % (1 << 16), r["l_suppkey"] % (1 << 16)
        )
        assert r["z_bucket"] == r["z_index"] >> 22


def test_table_profile_single_scan(spark, sf_dir):
    """The profile must compute every column's stats from ONE scan — the
    naive per-column ANALYZE loop re-scans the table per column."""
    from fund_data_etl_pipeline_spark.plans.relational2 import table_profile

    df = table_profile(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    rows = {r["column_name"]: r for r in df.collect()}
    assert rows["o_orderkey"]["n_nulls"] == 0
    assert rows["o_orderkey"]["n_distinct"] > 0
    assert rows["o_orderstatus"]["min_num"] is None
    assert rows["o_totalprice"]["min_num"] <= rows["o_totalprice"]["max_num"]


def test_table_profile_empty_orders_counts_zero_nulls(spark, sf_dir, tmp_path):
    """On a 0-row ``orders`` every column reports 0 NULLs, as the oracle
    does — a SUM over no rows would report NULL."""
    import os

    from fund_data_etl_pipeline_spark.plans.relational2 import table_profile

    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).limit(0).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    rows = table_profile(spark, str(tmp_path)).collect()
    assert rows and all(r["n_nulls"] == 0 for r in rows)
    assert all(r["n_distinct"] == 0 for r in rows)


def test_quality_deciles_shape(spark, sf_dir):
    """Deciles are 1..10, monotone in score ranges, counts sum to the
    corpus, and the plan has no global-sort window (threshold broadcast,
    not NTILE)."""
    from fund_data_etl_pipeline_spark.plans.textops import quality_deciles
    from fund_data_etl_pipeline_spark.sources import load_table

    df = quality_deciles(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # no ntile-over-global-sort
    rows = sorted(df.collect(), key=lambda r: r["decile"])
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert [r["decile"] for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert a["max_score"] <= b["min_score"] + 1e-9
