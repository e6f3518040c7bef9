"""Change-feed maintenance queries (plans/changefeed.py) and the TPC-H
Q3-shaped join: semantics + the physical-plan shapes the scale story
rests on."""

from __future__ import annotations

import pyspark.sql.functions as F


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cdc_snapshot_one_row_per_key_latest_wins(spark, sf_dir):
    from fund_data_etl_pipeline_spark.plans.changefeed import cdc_latest_snapshot
    from fund_data_etl_pipeline_spark.sources import load_table

    snap = cdc_latest_snapshot(spark, sf_dir)
    rows = snap.collect()
    keys = {(r["user_id"], r["event_type"]) for r in rows}
    assert len(keys) == len(rows), "snapshot must be unique per key"

    events = load_table(spark, sf_dir, "events")
    assert sum(r["n_changes"] for r in rows) == events.count()

    # spot-check: the reported last_event_id really is the max-(ts,
    # event_id) change for its key
    some = rows[0]
    feed = (
        events.filter(
            (F.col("user_id") == some["user_id"])
            & (F.col("event_type") == some["event_type"])
        )
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .first()
    )
    assert feed["event_id"] == some["last_event_id"]


def test_cdc_snapshot_partial_aggregates_before_shuffle(spark, sf_dir):
    """The compaction must be an aggregate with a map-side partial pass
    (shuffle moves |keys| rows, not |changes|) — NOT a row_number window
    (which would sort the whole feed inside each key partition)."""
    from fund_data_etl_pipeline_spark.plans.changefeed import cdc_latest_snapshot

    plan = _physical_plan(cdc_latest_snapshot(spark, sf_dir))
    assert "Window" not in plan
    # two aggregate operators (partial + final) around the exchange
    assert plan.count("Aggregate") >= 2


def test_scd2_intervals_chain_and_current_flag(spark, sf_dir):
    from fund_data_etl_pipeline_spark.plans.changefeed import scd2_intervals

    hist = scd2_intervals(spark, sf_dir).collect()
    by_key: dict[tuple, list] = {}
    for r in hist:
        by_key.setdefault((r["user_id"], r["event_type"]), []).append(r)
    for rows in by_key.values():
        rows.sort(key=lambda r: r["version"])
        assert [r["version"] for r in rows] == list(range(1, len(rows) + 1))
        # intervals chain: each version's valid_to is the next's valid_from
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert not a["is_current"]
        assert rows[-1]["is_current"] and rows[-1]["valid_to"] is None


def test_scd2_single_window_shuffle(spark, sf_dir):
    """Version + closing timestamp must come from ONE window over the key
    (a single exchange), never a self-join of the feed."""
    from fund_data_etl_pipeline_spark.plans.changefeed import scd2_intervals

    plan = _physical_plan(scd2_intervals(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_winsorized_bounds_and_robustness(spark, sf_dir):
    from fund_data_etl_pipeline_spark.plans.changefeed import (
        event_value_winsorized,
    )
    from fund_data_etl_pipeline_spark.plans.events import event_value_stats

    win = {r["event_type"]: r for r in event_value_winsorized(spark, sf_dir).collect()}
    exact = {r["event_type"]: r for r in event_value_stats(spark, sf_dir).collect()}
    assert set(win) == set(exact)
    for et, w in win.items():
        assert w["lo_value"] <= w["hi_value"]
        # clipped mean lives inside the clip bounds
        assert w["lo_value"] - 0.01 <= w["avg_winsorized"] <= w["hi_value"] + 0.01
        # ~5% of rows clip on each side (fuzzy: ties move the boundary)
        assert w["n_clip_lo"] <= 0.10 * w["n"] + 2
        assert w["n_clip_hi"] <= 0.10 * w["n"] + 2
        assert w["n"] == exact[et]["n"]


def test_winsorized_thresholds_broadcast(spark, sf_dir):
    """The per-type thresholds must reach the clip pass via a broadcast
    join — the corpus never shuffles for them."""
    from fund_data_etl_pipeline_spark.plans.changefeed import (
        event_value_winsorized,
    )

    plan = _physical_plan(event_value_winsorized(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shipping_priority_matches_duckdb_shape(spark, sf_dir):
    from fund_data_etl_pipeline_spark.plans.relational2 import (
        shipping_priority_topk,
    )

    df = shipping_priority_topk(spark, sf_dir)
    rows = df.collect()
    assert len(rows) <= 10
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)
    plan = _physical_plan(df)
    # the filtered customer side must broadcast; top-k must not globally sort
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_merge_snapshots_conflict_and_one_sided_keys(spark):
    """merge_snapshots: delta wins only when its (last_ts, last_event_id)
    is later; one-sided keys pass through; n_changes accumulates."""
    from fund_data_etl_pipeline_spark.plans.changefeed import merge_snapshots

    layout = (
        "user_id long, event_type string, last_ts string,"
        " last_event_id long, last_value double, n_changes long"
    )
    base = spark.createDataFrame(
        [
            (1, "click", "2026-01-15 10:00:00", 5, 1.0, 3),   # delta is later
            (2, "view", "2026-01-15 12:00:00", 9, 2.0, 2),    # base is later
            (3, "view", "2026-01-15 09:00:00", 2, 3.0, 1),    # base-only key
            (4, "click", "2026-01-15 10:00:00", 7, 4.0, 1),   # ts tie: eid wins
            (None, "view", "2026-01-15 09:00:00", 3, 6.0, 2),  # NULL key, both
        ],
        layout,
    )
    delta = spark.createDataFrame(
        [
            (1, "click", "2026-01-15 11:00:00", 6, 10.0, 1),
            (2, "view", "2026-01-15 11:00:00", 8, 20.0, 1),
            (5, "view", "2026-01-15 13:00:00", 11, 30.0, 2),  # delta-only key
            (4, "click", "2026-01-15 10:00:00", 8, 40.0, 1),
            (None, "view", "2026-01-15 14:00:00", 12, 60.0, 1),
        ],
        layout,
    )
    got = {
        (r["user_id"], r["event_type"]): r
        for r in merge_snapshots(base, delta).collect()
    }
    assert len(got) == 6
    # a NULL key in both slices merges into one row, as the oracle's
    # PARTITION BY groups NULLs together
    assert got[(None, "view")]["last_event_id"] == 12
    assert got[(None, "view")]["n_changes"] == 3
    assert got[(1, "click")]["last_event_id"] == 6
    assert got[(1, "click")]["n_changes"] == 4
    assert got[(2, "view")]["last_event_id"] == 9  # later base survives delta
    assert got[(2, "view")]["last_value"] == 2.0
    assert got[(3, "view")]["n_changes"] == 1
    assert got[(5, "view")]["last_value"] == 30.0
    assert got[(4, "click")]["last_event_id"] == 8  # exact-ts tie -> higher eid


def test_hourly_gapfill_dense_grid_and_ffill(spark, sf_dir):
    """Grid is complete per type; unobserved hours carry the last observed
    value forward; hours before the first observation stay NULL."""
    from fund_data_etl_pipeline_spark.plans.windows import events_hourly_gapfill

    rows = events_hourly_gapfill(spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    n_hours = {len(v) for v in by_type.values()}
    assert len(n_hours) == 1, "every type must get the identical grid"
    (hours,) = n_hours
    assert hours == 120  # 5 days x 24
    for series in by_type.values():
        series.sort(key=lambda r: r["hour_ts"])
        last = None
        for r in series:
            if r["is_observed"]:
                assert r["n"] > 0
                last = r["hourly_value_ffill"]
            else:
                assert r["n"] == 0
                assert r["hourly_value_ffill"] == last  # None before first obs


def test_merge_snapshots_subsecond_conflicts_use_exact_order_key(spark):
    """Two changes for one key inside the SAME second, split across
    base/delta slices with the later change carrying the SMALLER
    event_id: the formatted last_ts string is second-truncated, so the
    fallback (string, event_id) comparison would pick the earlier change
    — snapshots built with keep_order_key=True must resolve on the exact
    (ts, event_id) order key instead (r11 review)."""
    from pyspark.sql import functions as F

    from fund_data_etl_pipeline_spark.plans.changefeed import (
        latest_snapshot,
        merge_snapshots,
    )

    feed = "event_id long, ts timestamp, user_id long, event_type string, value double"
    rows = [
        # base slice: later event_id, EARLIER sub-second ts
        (99, "2026-01-15 10:00:00.100", 1, "click", 111.0),
        # delta slice: smaller event_id but the TRUE latest change
        (42, "2026-01-15 10:00:00.900", 1, "click", 222.0),
    ]
    df = spark.createDataFrame(
        [(e, ts, u, t, v) for e, ts, u, t, v in rows],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    base = latest_snapshot(df.filter("event_id = 99"), keep_order_key=True)
    delta = latest_snapshot(df.filter("event_id = 42"), keep_order_key=True)
    merged = merge_snapshots(base, delta).drop("__ord").collect()
    assert len(merged) == 1
    row = merged[0]
    assert row["last_event_id"] == 42, "exact order key must win"
    assert row["last_value"] == 222.0
    assert row["n_changes"] == 2

    # oracle-shape check: the merge of the two slices equals compacting
    # the whole feed
    full = latest_snapshot(df).collect()[0]
    assert (row["last_ts"], row["last_event_id"], row["last_value"]) == (
        full["last_ts"], full["last_event_id"], full["last_value"]
    )

    # documented fallback: WITHOUT the exact key the truncated string
    # ties and the (wrong, but documented) event_id tiebreak applies
    fb = merge_snapshots(
        latest_snapshot(df.filter("event_id = 99")),
        latest_snapshot(df.filter("event_id = 42")),
    ).collect()[0]
    assert fb["last_event_id"] == 99
