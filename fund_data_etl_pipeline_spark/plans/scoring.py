"""Relevance scoring and anomaly flagging (engine extensions: the
retrieval-scoring and data-quality stages of a training-data pipeline).

``bm25_topk`` ranks the corpus against a fixed query by Okapi BM25 —
the lexical retrieval baseline every RAG / data-curation stack needs
next to the embedding ANN path (operators/similarity.py).
``events_anomaly_zscore`` flags events whose value deviates from the
user's own trailing window — the per-entity outlier gate run before
facts feed training aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.numeric import cents, round2
from ..functions.text import cached_columns, words
from ..sources import load_table
from . import _sqlgen as G
from . import register
from .changefeed import TS_FMT, TS_FMT_SQL

# --------------------------------------------------------------------------
# BM25
# --------------------------------------------------------------------------

BM25_TERMS = ("spark", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


def _bm25_oracle() -> str:
    tf_cols = ",\n             ".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ", ".join(
        f"SUM((tf{i} > 0)::INT) AS df{i}" for i in range(len(BM25_TERMS))
    )
    score = " + ".join(
        f"ln(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * {BM25_K1 + 1.0}) /"
        f" (tf{i} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / (sum_dl * 1.0 / n_docs)))"
        for i in range(len(BM25_TERMS))
    )
    return f"""
    WITH t AS (
      SELECT doc_id, len(w) AS dl,
             {tf_cols}
      FROM (SELECT doc_id, {G.WORDS} AS w FROM documents)
    ),
    s AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, {df_cols} FROM t)
    SELECT doc_id, {G.round_sql(score, 6)} AS bm25
    FROM t, s
    WHERE ({score}) > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOPK}
    """


@register("bm25_topk", oracle=_bm25_oracle())
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k over the corpus for a fixed 3-term query.

    Scale shape: ONE corpus scan builds the words array per document and
    reads each term's frequency out of it with ``F.filter``+``size`` —
    map-only, no explode (the explode-then-groupBy form shuffles one row
    per token: ~100× the corpus). The collection statistics (N, Σdl, per-
    term document frequency) collapse to a single row via partial
    aggregation, ride back on a broadcast nested-loop join of a 1-row
    frame, and the score is then pure per-row arithmetic inside codegen.
    At 100 TB the stats pass is a second (cheap, column-pruned) scan —
    the classic two-pass IR layout; top-k is TakeOrderedAndProject, never
    a global sort. A realistic deployment snapshots the stats row per
    corpus release instead of recomputing it per query — the second scan
    here IS that snapshot build.

    Cross-engine exactness: tf/dl/N/df are exact integers, so the score
    is one deterministic double expression (same operation order both
    sides); ordering uses the ROUNDED score then doc_id, so the k-cut is
    stable across engines.
    """
    def tf_of(term: str):
        # NB: the predicate lambda must be unary — F.filter treats a
        # binary lambda as (element, index)
        return F.size(F.filter("__w", lambda x: x == F.lit(term)))

    # Constructed-Column caches (r14, guide §1.2 driver plan-build cost —
    # VERDICT r13 #3): the words HOF, the per-term F.filter lambdas and
    # the score arithmetic are ~0.5 s of py4j round-trips per fresh
    # build. All expressions bind column NAMES + module constants only,
    # so one constructed tree serves every plan in the session; the
    # expressions themselves are unchanged (plan shape identical).
    def _score_cols() -> tuple:
        avgdl = F.col("sum_dl") * 1.0 / F.col("n_docs")
        score = None
        for i in range(len(BM25_TERMS)):
            tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
            idf = F.log(
                F.lit(1.0) + (F.col("n_docs") - df + 0.5) / (df + 0.5)
            )
            term = (
                idf
                * (tf * (BM25_K1 + 1.0))
                / (tf + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl))
            )
            score = term if score is None else score + term
        return (round2(score, 6).alias("bm25"), score.alias("__s"))

    w_col = cached_columns(
        ("bm25_words", "text"), lambda: words("text").alias("__w")
    )
    t_cols = cached_columns(
        ("bm25_t", BM25_TERMS),
        lambda: (
            F.size("__w").alias("dl"),
            *[tf_of(term).alias(f"tf{i}") for i, term in enumerate(BM25_TERMS)],
        ),
    )
    stats_cols = cached_columns(
        ("bm25_stats", len(BM25_TERMS)),
        lambda: (
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
            *[
                F.sum((F.col(f"tf{i}") > 0).cast("int")).alias(f"df{i}")
                for i in range(len(BM25_TERMS))
            ],
        ),
    )
    bm25_col, s_col = cached_columns(
        ("bm25_score", BM25_TERMS, BM25_K1, BM25_B), _score_cols
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", w_col)
    t = docs.select("doc_id", *t_cols)
    stats = t.agg(*stats_cols)
    scored = t.join(F.broadcast(stats))
    return (
        scored.select("doc_id", bm25_col, s_col)
        .filter(F.col("__s") > 0)
        .drop("__s")
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


# --------------------------------------------------------------------------
# Trailing-window z-score anomaly flagging
# --------------------------------------------------------------------------

Z_LOOKBACK = 20  # trailing events per user
Z_MIN_N = 8  # minimum trailing sample before flagging
Z_SIGMA = 3.0


@register(
    "events_anomaly_zscore",
    oracle=f"""
    WITH t AS (
      SELECT event_id, user_id, event_type, ts,
             {G.cents_sql("value")} AS v_c,
             COUNT(*) OVER w                          AS n_window,
             SUM({G.cents_sql("value")}) OVER w AS sum_c,
             SUM({G.cents_sql("value")}
                 * {G.cents_sql("value")}) OVER w AS ssq_c
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {Z_LOOKBACK} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, event_type,
           strftime(ts, '{TS_FMT_SQL}') AS ts,
           ROUND(v_c / 100.0, 2) AS value,
           {G.round_sql(
               "(v_c - sum_c * 1.0 / n_window)"
               " / sqrt(ssq_c * 1.0 / n_window"
               " - (sum_c * 1.0 / n_window) * (sum_c * 1.0 / n_window))", 4)}
             AS zscore,
           n_window
    FROM t
    WHERE n_window >= {Z_MIN_N}
      AND (ssq_c * 1.0 / n_window
           - (sum_c * 1.0 / n_window) * (sum_c * 1.0 / n_window)) > 0
      AND ABS((v_c - sum_c * 1.0 / n_window)
              / sqrt(ssq_c * 1.0 / n_window
                     - (sum_c * 1.0 / n_window) * (sum_c * 1.0 / n_window)))
          > {Z_SIGMA}
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag events whose value sits more than 3σ from the mean of the
    user's own trailing {Z_LOOKBACK} events — per-entity outlier gating
    against each user's personal baseline, not a global threshold.

    Scale shape: ONE window shuffle on user_id computes count/Σ/Σ² over
    the trailing ROWS frame simultaneously (Spark evaluates all three in
    one frame pass); mean/variance/z then stay per-row in codegen. Keys
    are users — high-cardinality and naturally balanced — and the frame
    is rows-bounded, so state per key is O({Z_LOOKBACK}) regardless of
    history length.

    Cross-engine exactness: moments accumulate in exact BIGINT cents
    (Welford/stddev built-ins would differ in last-ulp between engines —
    the round-3 lesson behind functions/numeric.cents), so
    mean/var/sqrt/z is the same IEEE expression on both sides;
    comparisons (var > 0, |z| > 3) therefore cut identical row sets.
    """
    events = load_table(spark, sf_dir, "events")
    v_c = cents("value")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-Z_LOOKBACK, -1)
    )
    t = events.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        v_c.alias("v_c"),
        F.count(F.lit(1)).over(w).alias("n_window"),
        F.sum(v_c).over(w).alias("sum_c"),
        F.sum(v_c * v_c).over(w).alias("ssq_c"),
    )
    # (mean, variance) from the exact BIGINT-cents moments (count, Σ, Σ²)
    mean_c = F.col("sum_c") * 1.0 / F.col("n_window")
    var_c = F.col("ssq_c") * 1.0 / F.col("n_window") - mean_c * mean_c
    z = (F.col("v_c") - mean_c) / F.sqrt(var_c)
    return (
        t.filter(
            (F.col("n_window") >= Z_MIN_N) & (var_c > 0) & (F.abs(z) > Z_SIGMA)
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", TS_FMT).alias("ts"),
            round2(F.col("v_c") / 100.0, 2).alias("value"),
            round2(z, 4).alias("zscore"),
            "n_window",
        )
    )
