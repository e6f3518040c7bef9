"""Round-4 second batch: TPC-H Q5/Q18 join shapes, BM25 ranking, and the
trailing-window z-score anomaly gate — behavior plus the plan shapes the
docstrings claim."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from fund_data_etl_pipeline_spark.plans.scoring import (
    BM25_TERMS,
    BM25_TOPK,
    Z_MIN_N,
    Z_SIGMA,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _queries():
    import __spark_entry__ as e

    return e.queries()


def test_q5_revenue_descending_and_plan(spark, sf_dir):
    q = _queries()
    df = q["local_supplier_revenue"](spark, sf_dir)
    plan = _plan(df)
    # the date range must reach the orders parquet scan
    assert "PushedFilters" in plan and "o_orderdate" in plan
    # region ⋈ nation rides a broadcast
    assert "BroadcastHashJoin" in plan
    rows = df.collect()
    assert 0 < len(rows) <= 25
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_q5_same_nation_constraint(spark, sf_dir):
    """Every contributing (customer, supplier) pair shares a nation: zero
    revenue can come from cross-nation pairs."""
    from fund_data_etl_pipeline_spark.sources import load_table

    q = _queries()
    got = {r["n_name"]: r["revenue"] for r in
           q["local_supplier_revenue"](spark, sf_dir).collect()}
    # recompute one nation's revenue with an independent dataframe chain
    nation = next(iter(got))
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == nation)
    cust = load_table(spark, sf_dir, "customer").join(
        n, F.col("c_nationkey") == F.col("n_nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        n, F.col("s_nationkey") == F.col("n_nationkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    manual = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(supp.select("s_suppkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .agg(
            F.round(
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                        + 0.5
                    ).cast("bigint")
                )
                / 100.0,
                2,
            ).alias("rev")
        )
        .collect()[0]["rev"]
    )
    assert abs(manual - got[nation]) < 0.01


def test_q18_threshold_and_topcap(spark, sf_dir):
    q = _queries()
    df = q["large_order_customers"](spark, sf_dir)
    plan = _plan(df)
    # aggregate-as-filter: the qty rollup hash-aggregates BEFORE any join
    assert "HashAggregate" in plan
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert 0 < len(rows) <= 100
    assert all(r["total_qty"] > 250 for r in rows)
    prices = [r["o_totalprice"] for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_bm25_plan_is_scan_shaped(spark, sf_dir):
    """BM25 never explodes the corpus: tf comes from array HOFs, the
    stats row rides a broadcast, top-k is TakeOrderedAndProject."""
    q = _queries()
    df = q["bm25_topk"](spark, sf_dir)
    plan = _plan(df)
    assert "Generate explode" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert len(rows) == BM25_TOPK
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_bm25_top_doc_actually_matches(spark, sf_dir):
    from fund_data_etl_pipeline_spark.sources import load_table

    q = _queries()
    top = q["bm25_topk"](spark, sf_dir).collect()[0]
    text = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") == top["doc_id"])
        .collect()[0]["text"]
        .lower()
    )
    assert any(t in text for t in BM25_TERMS)


def test_bm25_favors_term_density(spark):
    """A doc stuffed with query terms outranks one with a single hit."""
    from fund_data_etl_pipeline_spark.plans.scoring import bm25_topk
    import __spark_entry__ as e  # noqa: F401  (registry import side effects)

    docs = [
        (1, "spark join window spark join window spark join"),
        (2, "filler words only one spark here among much padding " + "x " * 40),
        (3, "no relevant terms at all " + "y " * 40),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    # run through the same scoring pipeline by monkey-loading: reuse the
    # registered fn against a temp dir would need parquet; instead assert
    # via the public fn's building blocks on a temp view is overkill —
    # simplest faithful check: write parquet and call the query fn.
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        (df.withColumn("lang", F.lit("en"))
           .withColumn("source", F.lit("t"))
           .withColumn("n_chars", F.length("text").cast("bigint"))
           .write.mode("overwrite").parquet(os.path.join(d, "documents.parquet")))
        got = bm25_topk(spark, d).collect()
    ids = [r["doc_id"] for r in got]
    assert ids[0] == 1
    assert 3 not in ids


def test_zscore_single_window_exchange(spark, sf_dir):
    q = _queries()
    df = q["events_anomaly_zscore"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    rows = df.collect()
    assert rows, "sf corpus should contain at least one 3-sigma event"
    for r in rows:
        assert r["n_window"] >= Z_MIN_N
        assert abs(r["zscore"]) > Z_SIGMA - 1e-9


def test_zscore_flags_planted_spike(spark):
    """A flat per-user series with one spike flags exactly the spike."""
    from fund_data_etl_pipeline_spark.plans.scoring import events_anomaly_zscore
    import tempfile, os

    base = datetime.datetime(2026, 1, 1)
    rows = []
    for i in range(30):
        # mild jitter so variance > 0; one huge spike at i == 25
        v = 10.0 + (0.02 if i % 2 else -0.02)
        if i == 25:
            v = 500.0
        rows.append((i, base + datetime.timedelta(minutes=i), 7, "click", v, "{}"))
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        got = events_anomaly_zscore(spark, d).collect()
    flagged = {r["event_id"] for r in got}
    assert 25 in flagged
    # rows after the spike may legitimately flag (the spike inflates the
    # trailing mean), but nothing BEFORE it can
    assert all(e >= 25 for e in flagged)


def test_zscore_constant_series_never_flags(spark):
    """Zero variance -> no flags, no divide-by-zero under ANSI mode."""
    from fund_data_etl_pipeline_spark.plans.scoring import events_anomaly_zscore
    import tempfile, os

    base = datetime.datetime(2026, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=i), 1, "view", 5.0, "{}")
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        assert events_anomaly_zscore(spark, d).count() == 0


def test_bm25_empty_docs_excluded(spark):
    """Docs with no query terms score 0 and never enter the top-k; empty
    corpus-stats division paths stay finite."""
    from fund_data_etl_pipeline_spark.plans.scoring import bm25_topk
    import tempfile, os

    docs = [(i, "nothing matches here at all " + "pad " * i) for i in range(1, 6)]
    df = (
        spark.createDataFrame(docs, ["doc_id", "text"])
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("t"))
        .withColumn("n_chars", F.length("text").cast("bigint"))
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        assert bm25_topk(spark, d).count() == 0


def test_rolling_7d_spend_plan_and_values(spark, sf_dir):
    """Time-RANGE frame: pushed filter, ONE window exchange; a user's
    biggest rolling total equals an independently computed trailing sum."""
    q = _queries()
    df = q["user_rolling_7d_spend"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters" in plan and "event_type" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    rows = df.collect()
    assert rows
    # independent recompute for one user via plain python
    uid = rows[0]["user_id"]
    mine = sorted(
        (r for r in rows if r["user_id"] == uid), key=lambda r: r["ts"]
    )
    for r in mine:
        t0 = datetime.datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S")
        lo = t0 - datetime.timedelta(days=7)
        expect = [
            x
            for x in mine
            if lo
            <= datetime.datetime.strptime(x["ts"], "%Y-%m-%d %H:%M:%S")
            <= t0
        ]
        assert r["n_7d"] == len(expect)
        total = round(sum(round(x["value"] * 100) for x in expect) / 100.0, 2)
        assert abs(r["spend_7d"] - total) < 0.011


def test_attribution_join_batch_matches_window_rule(spark, sf_dir):
    """Batch registration of the shared stream-stream builder: every pair
    obeys the 30-minute look-back rule."""
    q = _queries()
    rows = q["attribution_join"](spark, sf_dir).collect()
    assert rows
    fmt = "%Y-%m-%d %H:%M:%S"
    for r in rows:
        c = datetime.datetime.strptime(r["click_ts"], fmt)
        p = datetime.datetime.strptime(r["purchase_ts"], fmt)
        assert c <= p < c + datetime.timedelta(minutes=30)


def test_q7_plan_and_symmetry(spark, sf_dir):
    """volume_shipping: shipdate range pushed to the lineitem scan, nation
    dims broadcast, and the nation-pair rule holds — every row's
    (supp_nation, cust_nation) is one of the two cross pairs, never a
    same-nation pair."""
    q = _queries()
    df = q["volume_shipping"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan
    assert "BroadcastHashJoin" in plan
    rows = df.collect()
    assert rows, "two-nation trade must exist in this corpus"
    pairs = {(r["supp_nation"], r["cust_nation"]) for r in rows}
    from fund_data_etl_pipeline_spark.plans.relational3 import (
        _Q7_NATION_A,
        _Q7_NATION_B,
    )
    assert pairs <= {(_Q7_NATION_A, _Q7_NATION_B), (_Q7_NATION_B, _Q7_NATION_A)}
    years = [r["ship_year"] for r in rows]
    assert all(1995 <= y <= 1996 for y in years)


def test_q8_share_bounds_and_plan(spark, sf_dir):
    """market_share: every yearly share sits in [0,1]; the orderdate
    range reaches a parquet scan and the dimension chains broadcast."""
    q = _queries()
    df = q["market_share"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters" in plan and "o_orderdate" in plan
    assert "BroadcastHashJoin" in plan
    rows = df.collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["mkt_share"] <= 1.0
        assert 1995 <= r["order_year"] <= 1996


def test_q21_sole_blame_recompute(spark, sf_dir):
    """late_sole_supplier: recompute one supplier's numwait with an
    independent per-order aggregate chain (groupBy instead of window)
    and check the leaderboard row; ordering is numwait desc, suppkey."""
    from fund_data_etl_pipeline_spark.plans.relational3 import (
        _Q21_LATE_DAYS,
    )
    from fund_data_etl_pipeline_spark.sources import load_table

    q = _queries()
    rows = q["late_sole_supplier"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    waits = [(r["numwait"], -r["s_suppkey"]) for r in rows]
    assert waits == sorted(waits, key=lambda t: (-t[0], -t[1]))

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    lo = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q21_LATE_DAYS} DAYS")
        ).alias("late"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("n_late"),
    )
    target = rows[0]["s_suppkey"]
    expected = (
        lo.filter(F.col("late") & (F.col("l_suppkey") == target))
        .select("l_orderkey")
        .distinct()
        .join(
            per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1)),
            "l_orderkey",
        )
        .count()
    )
    assert rows[0]["numwait"] == expected
