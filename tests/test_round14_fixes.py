"""Round-14 optimization pins (no SparkSession needed — all pure Python):

- the LSH bucket-pair caps stay under the documented ceiling
  (grouped_bucket_pairs materializes O(cap²) structs per group row —
  VERDICT r13 #7);
- cents_np is bit-equal to cents_py on a value grid (the vectorized
  streaming fold's quantization twin);
- the vectorized z-score fold (_zscore_fold_vec) emits exactly what the
  per-row scalar fold emits, across NULLs, deque carry-over, chunked
  batches, the n_window ramp and the magnitude fallback.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest


# ---------------------------------------------------------------------------
# pair-cap ceiling
# ---------------------------------------------------------------------------

# O(cap²) structs are materialized per bucket row in the all-pairs branch
# of grouped_bucket_pairs; 256 caps that at ~32k structs per row. A
# larger cap needs a redesign (stream the expansion), not a constant bump.
PAIR_CAP_CEILING = 256


def test_bucket_pair_caps_within_ceiling():
    from fund_data_etl_pipeline_spark.functions.text import MINHASH_BUCKET_CAP
    from fund_data_etl_pipeline_spark.plans.dedup import _SLSH_BUCKET_CAP

    assert 2 <= MINHASH_BUCKET_CAP <= PAIR_CAP_CEILING
    assert 2 <= _SLSH_BUCKET_CAP <= PAIR_CAP_CEILING


# ---------------------------------------------------------------------------
# cents_np == cents_py
# ---------------------------------------------------------------------------


def test_cents_np_matches_cents_py_grid():
    from fund_data_etl_pipeline_spark.functions.numeric import cents_np, cents_py

    grid = [
        0.0, -0.0, 0.004999, 0.005, 0.0050000001, 1.0, 1.005, -1.005,
        130.544999, 130.545, -130.545, 5.004999, -5.004999, 5.005, -5.005,
        99999999.99, -99999999.99, 0.01, -0.01, 123456.785, -123456.785,
        2.675, -2.675, 1e-9, -1e-9,
    ]
    got = cents_np(np.array(grid, dtype="float64"))
    want = [cents_py(x) for x in grid]
    assert got.tolist() == want


# ---------------------------------------------------------------------------
# vectorized z-score fold == scalar fold
# ---------------------------------------------------------------------------


def _mk_batch(rows):
    return pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "user_id": [7] * len(rows),
            "event_type": ["click"] * len(rows),
            "ts": pd.to_datetime([r[1] for r in rows]),
            "value": [r[2] for r in rows],
        }
    )


def _run_fold(fold, vals, merged):
    out: dict[str, list] = {c: [] for c in (
        "event_id", "user_id", "event_type", "ts", "value", "zscore",
        "n_window",
    )}
    new_vals = fold((7,), list(vals), merged, out)
    return new_vals, out


def _fold_case(rows, prior=()):
    from fund_data_etl_pipeline_spark.streaming.stateful import (
        _zscore_fold_scalar,
        _zscore_fold_vec,
    )

    merged = _mk_batch(rows).sort_values(["ts", "event_id"])
    vals_s, out_s = _run_fold(_zscore_fold_scalar, list(prior), merged)
    vals_v, out_v = _run_fold(_zscore_fold_vec, list(prior), merged)
    assert vals_v == vals_s
    assert out_v == out_s
    return out_s


def test_zscore_vec_fold_flags_like_scalar():
    # 19 calm events then a spike — the spike must flag identically,
    # including the rounded value/zscore floats (bit-equality via ==)
    rows = [
        (i, f"2031-01-01 00:00:{i:02d}", 100.0 + (i % 3) * 0.5)
        for i in range(19)
    ] + [(19, "2031-01-01 00:00:19", 9000.0)]
    out = _fold_case(rows)
    assert out["event_id"] == [19]
    assert out["n_window"] == [19]


def test_zscore_vec_fold_nulls_and_carryover():
    # NULLs occupy frame slots but never flag; state deque carries between
    # micro-batches (prior includes a None slot)
    prior = [10000, None, 10050, 10025, 10000, 10075, 10050, 10000, 10025]
    rows = [
        (100, "2031-01-02 00:00:00", None),
        (101, "2031-01-02 00:00:01", 100.25),
        (102, "2031-01-02 00:00:02", 6000.0),
        (103, "2031-01-02 00:00:03", 100.5),
    ]
    out = _fold_case(rows, prior=prior)
    assert out["event_id"] == [102]


def test_zscore_vec_fold_window_eviction_past_lookback():
    from fund_data_etl_pipeline_spark.plans.scoring import Z_LOOKBACK

    # more than Z_LOOKBACK events: the deque must evict oldest-first and
    # every row's n_window must track min(position, Z_LOOKBACK)
    rows = [
        (i, f"2031-01-03 00:{i // 60:02d}:{i % 60:02d}",
         100.0 + ((i * 7) % 5) * 0.25)
        for i in range(Z_LOOKBACK + 15)
    ]
    rows[30] = (30, rows[30][1], 7777.0)  # spike inside the steady region
    out = _fold_case(rows)
    assert out["event_id"] == [30]
    assert out["n_window"] == [Z_LOOKBACK]


def test_zscore_update_falls_back_on_huge_values(monkeypatch):
    # past the int64-window-sum guard the updater must use the scalar
    # fold (arbitrary-precision ints) — force it and check the guard
    import fund_data_etl_pipeline_spark.streaming.stateful as st

    called = {"vec": 0, "scalar": 0}
    real_vec, real_scalar = st._zscore_fold_vec, st._zscore_fold_scalar

    def spy_vec(*a, **k):
        called["vec"] += 1
        return real_vec(*a, **k)

    def spy_scalar(*a, **k):
        called["scalar"] += 1
        return real_scalar(*a, **k)

    monkeypatch.setattr(st, "_zscore_fold_vec", spy_vec)
    monkeypatch.setattr(st, "_zscore_fold_scalar", spy_scalar)

    class _FakeState:
        exists = False

        def update(self, v):
            self.value = v

    big = _mk_batch([(0, "2031-01-04 00:00:00", 9e7)])  # 9e9 cents > cap
    list(st._zscore_update((7,), iter([big]), _FakeState()))
    small = _mk_batch([(1, "2031-01-04 00:00:01", 10.0)])
    list(st._zscore_update((7,), iter([small]), _FakeState()))
    assert called["scalar"] == 1 and called["vec"] == 1


def test_zscore_vec_fold_matches_scalar_randomized():
    # randomized parity sweep: values (some NULL), duplicate timestamps
    # (event_id tiebreak), multiple deque states
    rng = np.random.RandomState(42)
    for trial in range(5):
        n = int(rng.randint(5, 60))
        rows = []
        for i in range(n):
            v = None if rng.rand() < 0.15 else round(
                float(rng.rand() * 200 - 50), 2
            )
            ts = f"2031-02-0{trial + 1} 00:00:{(i // 2):02d}"  # forced ties
            rows.append((i, ts, v))
        prior = [
            None if rng.rand() < 0.2 else int(rng.randint(-5000, 5000))
            for _ in range(int(rng.randint(0, 20)))
        ]
        _fold_case(rows, prior=prior)


def test_running_totals_update_vectorized_sum_exact():
    # _update's int64 cents fold vs the straight Python-int fold
    from fund_data_etl_pipeline_spark.functions.numeric import cents_py
    import fund_data_etl_pipeline_spark.streaming.stateful as st

    class _FakeState:
        exists = False

        def update(self, v):
            self.value = v

    vals = [1.005, -2.675, None, 99999.99, 0.004999, -0.005, 12.34]
    pdf = pd.DataFrame({"user_id": [3] * len(vals), "value": vals})
    state = _FakeState()
    [out] = list(st._update((3,), iter([pdf]), state))
    n, s_c = state.value
    assert n == len(vals)
    assert s_c == sum(cents_py(v) for v in vals if v is not None)
    assert out["n_events"].iloc[0] == len(vals)


def test_running_totals_update_exact_past_int64():
    # a value whose cents exceed 2^53, in a slice whose cents sum passes
    # 2^63: the int64 fold would wrap, so _update must fall back to the
    # Python-int fold and still equal the exact sum
    from fund_data_etl_pipeline_spark.functions.numeric import cents_py
    import fund_data_etl_pipeline_spark.streaming.stateful as st

    class _FakeState:
        exists = False

        def update(self, v):
            self.value = v

    vals = [5e16, 4.75e16, None, 12.34, -0.005]
    want = sum(cents_py(v) for v in vals if v is not None)
    assert cents_py(5e16) > 2**53 and want > 2**63
    pdf = pd.DataFrame({"user_id": [3] * len(vals), "value": vals})
    state = _FakeState()
    list(st._update((3,), iter([pdf]), state))
    assert state.value == (len(vals), want)
