"""Custom stateful streaming operator via ``applyInPandasWithState``
(engine extension; the prompt-level Spark surface for operators the
built-in windowed aggregations can't express).

``user_running_totals`` keeps one state row per user (event count + value
sum) across micro-batches; state survives restarts through the checkpoint,
so an AvailableNow catch-up run resumes exactly where the previous run
stopped — the streaming analogue of the reference's daily incremental
processing.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, sum_value double"
# running sum in exact BIGINT cents (functions.numeric.cents
# quantization): a float fold would make sum_value depend on
# micro-batch arrival order, and Python's round() is half-even while
# the repo's pinned convention is round2's half-away-from-zero
STATE_SCHEMA = "n long, s_c long"
# bound on len x max |cents| of one micro-batch slice for the int64 fold:
# every term and every partial sum then stays below 2^63 (2^62 leaves
# room for the float rounding of the bound itself)
_SUM_VEC_CENTS_CAP = 2**62


def _update(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    import numpy as np

    from ..functions.numeric import cents_np, cents_py, round2_py

    n, s_c = state.get if state.exists else (0, 0)
    for pdf in batches:
        if not len(pdf):
            continue
        # batch-twin parity on NULL values: n_events is COUNT(*) (NULL
        # rows count), sum_value is F.sum(cents(value)) (NULLs skipped) —
        # so drop them before folding. Vectorized (r14, guide §4.2): the
        # fold is cents_np (the bit-equal numpy twin of cents_py) summed
        # in int64 — each term is an exact integer and integer addition
        # has no rounding, so the sum equals the per-row Python fold
        # while no term and no partial sum leaves int64. Past that
        # bound the slice takes the Python-int fold (arbitrary
        # precision), so exactness is unconditional.
        n += len(pdf)
        kept = pdf["value"].dropna().to_numpy(dtype="float64")
        if len(kept):
            top = float(np.abs(kept).max()) * 100 + 1  # >= every |cents|
            if top * len(kept) <= _SUM_VEC_CENTS_CAP:
                s_c += int(cents_np(kept).sum())
            else:
                s_c += sum(cents_py(v) for v in kept)
    state.update((n, s_c))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value": [round2_py(s_c / 100.0, 2)],
        }
    )


def user_running_totals(
    events_stream: DataFrame, output_mode: str = "append"
) -> DataFrame:
    """Per-user cumulative (count, sum) maintained in keyed state. Append
    output (one snapshot row per touched user per micro-batch) so the
    result can feed a file sink, which is what supports checkpoint
    recovery; the latest snapshot per user is the current total."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming CDC snapshot: the streaming twin of
# plans/changefeed.latest_snapshot (batch max_by compaction).
# --------------------------------------------------------------------------

CDC_OUTPUT_SCHEMA = (
    "user_id long, event_type string, last_ts string,"
    " last_event_id long, last_value double, n_changes long"
)
# last change's order key (epoch micros + event_id), payload, count
CDC_STATE_SCHEMA = "ts_us long, eid long, v double, n long"
# the batch plan's strftime twin of its date_format pattern — imported
# so the two sides cannot render last_ts differently
from ..plans.changefeed import TS_FMT_PY as _CDC_TS_FMT  # noqa: E402


def _cdc_update(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Keyed-state update for the CDC snapshot. The ordering it applies
    is ``plans/changefeed.cdc_order_key`` — the LITERAL function whose
    Column form feeds every max_by in the batch ``latest_snapshot`` —
    so "which change is later" is defined once for both engines
    (parity-by-construction, the z_moments/z_score pattern). The
    vectorized block below is the pandas argmax of that key: max ts
    rows first, then max event_id among the exact-ts ties."""
    from ..plans.changefeed import cdc_order_key

    ts_us, eid, v, n = state.get if state.exists else (-1, -1, 0.0, 0)
    for pdf in batches:
        if not len(pdf):
            continue
        n += len(pdf)
        # vectorized lexicographic argmax on cdc_order_key(ts, event_id):
        # max ts rows, then max event_id among the ties — no per-row loop
        us = pdf["ts"].astype("int64") // 1000  # ns -> us
        t_max = int(us.max())
        ties = pdf[us == t_max]
        j = ties["event_id"].idxmax()
        cand = cdc_order_key(t_max, int(ties["event_id"].loc[j]))
        if cand > cdc_order_key(ts_us, eid):
            ts_us, eid = cand
            v = float(ties["value"].loc[j])
    state.update((ts_us, eid, v, n))
    last_ts = pd.Timestamp(ts_us * 1000).strftime(_CDC_TS_FMT)
    # the canonical scalar twin of the batch round2 convention — shared
    # with the anomaly gate and pytest-pinned to the Column form
    from ..functions.numeric import round2_py

    rounded = round2_py(v, 2)
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "event_type": [key[1]],
            "last_ts": [last_ts],
            "last_event_id": [eid],
            "last_value": [rounded],
            "n_changes": [n],
        }
    )


def streaming_cdc_snapshot(
    events_stream: DataFrame, output_mode: str = "append"
) -> DataFrame:
    """Continuously-maintained last-write-wins snapshot of a change
    stream: one keyed-state row per (user_id, event_type) holding the
    latest change's (ts, event_id, value) and the change count, updated
    per micro-batch — the streaming MERGE/upsert read-side.

    Batch/streaming parity — by construction, not just by test: the
    state update's ordering IS ``plans/changefeed.cdc_order_key`` (the
    same function whose Column form feeds every max_by in the batch
    ``latest_snapshot``), the last_ts format string is imported from the
    batch module, and the value rounding is the pytest-pinned scalar
    twin of the batch round2. A pytest additionally replays a feed in
    multiple micro-batches and asserts the final per-key snapshot rows
    equal the batch aggregate over the union.

    Scale shape: state is ONE fixed-width row per live key (never the
    change history — the same "move the snapshot, not the log" property as
    the batch max_by form), partitioned by the grouping key across
    executors; checkpointing makes restarts resume exactly. Append mode
    emits a snapshot row per touched key per micro-batch, so a downstream
    file sink holds the upsert history; the latest row per key is the
    current snapshot."""
    return events_stream.groupBy("user_id", "event_type").applyInPandasWithState(
        _cdc_update,
        outputStructType=CDC_OUTPUT_SCHEMA,
        stateStructType=CDC_STATE_SCHEMA,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming anomaly gate: the stateful twin of
# plans/scoring.events_anomaly_zscore (trailing-window z-score).
# --------------------------------------------------------------------------

ZS_OUTPUT_SCHEMA = (
    "event_id long, user_id long, event_type string, ts string,"
    " value double, zscore double, n_window long"
)
# bounded deque of the user's trailing values in exact BIGINT cents,
# newest last — O(Z_LOOKBACK) state per key regardless of history length
ZS_STATE_SCHEMA = "vals array<long>"
# the SAME strftime twin the CDC op imports — one definition of the
# ts rendering for every batch plan + streaming twin pair
_ZS_TS_FMT = _CDC_TS_FMT


# the vectorized window-sum path is exact while every |cents| value fits
# a 20-term int64 sum of squares: 20 * CAP^2 < 2^63 → CAP ≈ 6.7e8 cents
# ($6.7M). Past that the updater falls back to the per-row Python-int
# fold (arbitrary precision), so exactness is unconditional.
_ZS_VEC_CENTS_CAP = 600_000_000


def _zscore_fold_scalar(key, vals: list, merged: pd.DataFrame, out: dict) -> list:
    """The original per-row fold (exact at ANY magnitude: Python-int
    moments) — the fallback for values past _ZS_VEC_CENTS_CAP and the
    reference the vectorized path's parity pytest pins against."""
    import math

    from ..functions.numeric import cents_py, round2_py
    from ..plans.scoring import Z_LOOKBACK, Z_MIN_N, Z_SIGMA, z_moments, z_score

    for _, row in merged.iterrows():
        # exact integer cents, same quantization as
        # functions.numeric.cents; a NULL value stays None — batch
        # parity: it occupies a frame slot (COUNT(*) counts it), adds
        # nothing to the sums (F.sum skips NULL), and is itself never
        # flagged (NULL z fails every comparison)
        raw = row["value"]
        v_c = None if pd.isna(raw) else cents_py(raw)
        n = len(vals)
        if v_c is not None and n >= Z_MIN_N:
            s = sum(x for x in vals if x is not None)
            ssq = sum(x * x for x in vals if x is not None)
            # the LITERALLY SAME functions the batch plan composes its
            # Column expressions from (plans/scoring.z_moments /
            # z_score) — shared code, not a parallel re-implementation,
            # so batch/streaming parity is structural
            mean_c, var_c = z_moments(n, s, ssq)
            if var_c > 0:
                z = z_score(v_c, mean_c, var_c, math.sqrt)
                if abs(z) > Z_SIGMA:
                    out["event_id"].append(int(row["event_id"]))
                    out["user_id"].append(key[0])
                    out["event_type"].append(row["event_type"])
                    out["ts"].append(
                        pd.Timestamp(row["ts"]).strftime(_ZS_TS_FMT)
                    )
                    out["value"].append(round2_py(v_c / 100.0, 2))
                    out["zscore"].append(round2_py(z, 4))
                    out["n_window"].append(n)
        vals.append(v_c)
        if len(vals) > Z_LOOKBACK:
            vals.pop(0)
    return vals


def _zscore_fold_vec(key, vals: list, merged: pd.DataFrame, out: dict) -> list:
    """Vectorized fold (r14, guide §4.2 — hand whole batches to numpy
    instead of looping rows in Python), bit-equal to the scalar fold:

    - cents quantization is cents_np (elementwise-identical IEEE ops);
    - each trailing window's count/Σ/Σ² come from 20-slot sliding-window
      int64 sums — integer adds, no rounding, exact under the caller's
      magnitude guard — with NULLs occupying frame slots (n counts them)
      but masked out of the sums, exactly the batch COUNT(*)/F.sum
      semantics;
    - mean/var/z are the LITERALLY SAME z_moments / z_score functions the
      batch plan builds its Columns from, evaluated on float64 arrays:
      numpy's elementwise *, /, -, sqrt are the same correctly-rounded
      double ops Python scalars use, so every flagged row and every
      rounded output value matches the scalar fold bit-for-bit.
    """
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    from ..functions.numeric import cents_np, round2_py
    from ..plans.scoring import Z_LOOKBACK, Z_MIN_N, Z_SIGMA, z_moments, z_score

    raw = merged["value"].to_numpy(dtype="float64")  # NULL -> NaN
    valid = ~np.isnan(raw)
    v_c = np.zeros(len(raw), dtype="int64")
    if valid.any():
        v_c[valid] = cents_np(raw[valid])
    prior_v = np.array([0 if x is None else x for x in vals], dtype="int64")
    prior_m = np.array([x is not None for x in vals], dtype=bool)
    seq_v = np.concatenate([prior_v, v_c])
    seq_m = np.concatenate([prior_m, valid])
    n_prior, n_batch = len(vals), len(raw)
    # trailing-window moments for batch event j (global position
    # i = n_prior + j): window = seq[max(0, i-Z_LOOKBACK) : i]. A
    # Z_LOOKBACK-slot zero pad in front makes every window a fixed
    # 20-slot slice (pad slots are masked zeros; n is computed from the
    # position, not the pad).
    pad = np.zeros(Z_LOOKBACK, dtype="int64")
    masked = np.where(seq_m, seq_v, 0)
    pv = np.concatenate([pad, masked])
    pq = np.concatenate([pad, masked * masked])
    sv = sliding_window_view(pv, Z_LOOKBACK).sum(axis=1)
    sq = sliding_window_view(pq, Z_LOOKBACK).sum(axis=1)
    gi = np.arange(n_prior, n_prior + n_batch)
    n = np.minimum(gi, Z_LOOKBACK)  # NULL slots count — COUNT(*) parity
    with np.errstate(divide="ignore", invalid="ignore"):
        mean_c, var_c = z_moments(
            n.astype("float64"), sv[gi].astype("float64"),
            sq[gi].astype("float64"),
        )
        z = z_score(v_c.astype("float64"), mean_c, var_c, np.sqrt)
        flag = valid & (n >= Z_MIN_N) & (var_c > 0) & (np.abs(z) > Z_SIGMA)
    for j in np.flatnonzero(flag):
        row = merged.iloc[j]
        out["event_id"].append(int(row["event_id"]))
        out["user_id"].append(key[0])
        out["event_type"].append(row["event_type"])
        out["ts"].append(pd.Timestamp(row["ts"]).strftime(_ZS_TS_FMT))
        out["value"].append(round2_py(int(v_c[j]) / 100.0, 2))
        out["zscore"].append(round2_py(float(z[j]), 4))
        out["n_window"].append(int(n[j]))
    tail_v = seq_v[-Z_LOOKBACK:]
    tail_m = seq_m[-Z_LOOKBACK:]
    return [int(v) if m else None for v, m in zip(tail_v, tail_m)]


def _zscore_update(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    import numpy as np

    (vals,) = state.get if state.exists else ([],)
    vals = list(vals)

    out: dict[str, list] = {c: [] for c in (
        "event_id", "user_id", "event_type", "ts", "value", "zscore", "n_window"
    )}
    # events must be applied in (ts, event_id) order — the batch
    # window's frame order — regardless of arrival order. The iterator
    # delivers a key's micro-batch as MULTIPLE Arrow chunks (split at
    # arrow.maxRecordsPerBatch) with no cross-chunk order guarantee, so
    # sorting per chunk is not enough: concatenate, sort ONCE (r11
    # review — a >10k-event key could fold future values into the
    # trailing window and diverge from the batch twin).
    pdfs = [pdf for pdf in batches if len(pdf)]
    if pdfs:
        merged = pd.concat(pdfs).sort_values(["ts", "event_id"])
        raw = merged["value"].to_numpy(dtype="float64")
        prior_max = max(
            (abs(x) for x in vals if x is not None), default=0
        )
        finite = raw[~np.isnan(raw)]
        batch_max = float(np.abs(finite).max()) if len(finite) else 0.0
        if prior_max <= _ZS_VEC_CENTS_CAP and batch_max * 100 + 1 <= _ZS_VEC_CENTS_CAP:
            vals = _zscore_fold_vec(key, vals, merged, out)
        else:
            vals = _zscore_fold_scalar(key, vals, merged, out)
    state.update((vals,))
    if out["event_id"]:
        yield pd.DataFrame(out)


def streaming_anomaly_zscore(
    events_stream: DataFrame, output_mode: str = "append"
) -> DataFrame:
    """Flag events >3σ from the user's trailing-window baseline,
    incrementally: the stateful-streaming twin of the batch
    ``plans/scoring.events_anomaly_zscore``.

    Batch/streaming parity is STRUCTURAL, not coincidental: the keyed
    state is exactly the batch window's frame — the last ``Z_LOOKBACK``
    values in (ts, event_id) order, held as exact BIGINT cents — and
    mean/var/z come from the literally-shared ``plans/scoring.z_moments``
    / ``z_score`` functions the oracle-green batch twin builds its Column
    expressions from (the attribution_join shared-builder pattern), so
    (given in-order delivery, which a watermark+sort front-end provides
    at ingest) the flagged set is bit-equal to the batch query; a pytest
    replays a feed in micro-batches and asserts it. The batch twin's
    exact DuckDB oracle therefore anchors this op's arithmetic to the
    driver gate.

    Scale shape: state per key is a bounded O(Z_LOOKBACK) integer array —
    never the user's history — partitioned by user across executors;
    per-event work is O(Z_LOOKBACK) on plain ints. This is the alerting
    deployment of the batch gate: the batch form backfills/audits, this
    form fires per micro-batch with checkpointed resume."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _zscore_update,
        outputStructType=ZS_OUTPUT_SCHEMA,
        stateStructType=ZS_STATE_SCHEMA,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
