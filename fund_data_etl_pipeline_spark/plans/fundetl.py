"""Fund-ETL pipeline queries for the driver's correctness gate.

The driver's parquet tables carry no fund statements, so each query builds
the deterministic fixture corpus inline (testing/fixtures.py — the same
docs the pytest golden tests use) and runs the REAL pipeline
(jobs.py: classify -> extract -> explode -> normalize -> broadcast dim
join). The oracle is the hand-derived golden table rendered as a VALUES
relation — i.e. the driver's DuckDB compare checks the full pipeline
output value-by-value (FIXTURES.md §3 conventions).

``fund_dividend_merged``'s oracle instead AGGREGATES the golden rows in
SQL, so the A1 group-merge semantics (sum + sorted-distinct platform
concat + min passthrough) are verified against DuckDB's aggregation, not
against a frozen result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import jobs
from ..functions.numeric import round2
from ..operators.aggregate import dividend_merge
from ..operators.classify import classify
from ..operators.normalize import split_quarantine
from ..testing import fixtures as FX
from . import register


def _sql_lit(v, typ: str) -> str:
    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ == "DOUBLE":
        return f"CAST({v!r} AS DOUBLE)"
    if typ == "BIGINT":
        return f"CAST({v} AS BIGINT)"
    s = str(v).replace("'", "''")
    return f"'{s}'"


def values_sql(rows, cols: list[str], types: list[str]) -> str:
    """Render golden rows as a typed DuckDB VALUES relation."""
    body = ",\n      ".join(
        "(" + ", ".join(_sql_lit(v, t) for v, t in zip(row, types)) + ")"
        for row in rows
    )
    collist = ", ".join(cols)
    return f"SELECT * FROM (VALUES\n      {body}\n    ) AS t({collist})"


_DIV_TYPES = ["VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR",
              "DOUBLE", "DOUBLE", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR"]
_TXN_TYPES = ["VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR",
              "DOUBLE", "DOUBLE", "DOUBLE", "VARCHAR", "VARCHAR", "VARCHAR",
              "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR"]
_CONV_TYPES = ["VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "DOUBLE", "DOUBLE",
               "DOUBLE", "VARCHAR", "VARCHAR", "DOUBLE", "DOUBLE", "DOUBLE",
               "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR",
               "VARCHAR", "VARCHAR"]

from ..schemas import (  # noqa: E402
    CONVERSION_COLS,
    DIVIDEND_COLS,
    MANUAL_APPLY_COLS,
    MANUAL_CONFIRM_COLS,
    MANUAL_DIVIDEND_COLS,
    MANUAL_REDEMPTION_COLS,
    TXN_COLS,
)


@register(
    "fund_classify",
    oracle=values_sql(FX.EXPECTED_CLASSIFY, ["doc_id", "platform"],
                      ["BIGINT", "VARCHAR"]),
)
def fund_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C2 — ordered first-match platform router over the dividend corpus
    (dividend_extractor.py:1301-1396); unmatched -> NULL."""
    docs = jobs._prep(FX.docs_df(spark, FX.DIVIDEND_DOCS))
    return classify(docs, jobs.DIVIDEND_RULES).select("doc_id", "platform")


@register(
    "fund_dividend",
    oracle=values_sql(FX.EXPECTED_DIVIDEND, DIVIDEND_COLS, _DIV_TYPES),
)
def fund_dividend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dividend-reinvest job: S1/S2 scan filters, C1 classify, P1-P10
    extraction, F1/F4 explode, N1-N5 normalize, J1 broadcast dim join."""
    return jobs.dividend_job(
        FX.docs_df(spark, FX.DIVIDEND_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )


@register(
    "fund_dividend_merged",
    oracle=f"""
    WITH golden AS ({values_sql(FX.EXPECTED_DIVIDEND, DIVIDEND_COLS, _DIV_TYPES)})
    SELECT ledger_code,
           MIN(product_code)  AS product_code,
           fund_code,
           MIN(market)        AS market,
           MIN(biz_date)      AS biz_date,
           ROUND(SUM(shares), 2) AS shares,
           ROUND(SUM(amount), 2) AS amount,
           MIN(cutoff_date)   AS cutoff_date,
           MIN(position_class) AS position_class,
           MIN(product_name)  AS product_name,
           ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(LIST(platform))), '、') AS platform
    FROM golden
    GROUP BY ledger_code, fund_code
    """,
)
def fund_dividend_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — the dividend group-merge second output
    (dividend_extractor.py:1455-1483)."""
    df = jobs.dividend_job(
        FX.docs_df(spark, FX.DIVIDEND_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )
    merged = dividend_merge(df)
    return merged.select(
        *[c for c in DIVIDEND_COLS if c != "platform"], "platform"
    ).select(*DIVIDEND_COLS)


@register(
    "fund_quarantine",
    oracle=values_sql([(108, "unmatched_platform")],
                      ["doc_id", "quarantine_reason"], ["BIGINT", "VARCHAR"]),
)
def fund_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 — unmatched docs routed to quarantine instead of silently dropped
    (§2.14.3)."""
    docs = jobs._prep(FX.docs_df(spark, FX.DIVIDEND_DOCS))
    classified = classify(docs, jobs.DIVIDEND_RULES)
    _, bad = split_quarantine(classified, required=[])
    return bad.select("doc_id", "quarantine_reason")


@register(
    "fund_purchase_apply",
    oracle=values_sql(FX.EXPECTED_PURCHASE_APPLY, TXN_COLS, _TXN_TYPES),
)
def fund_purchase_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-apply job incl. S2 filename exclusions and F2 联泰
    multi-record explode (purchase_extractor.py)."""
    return jobs.purchase_apply_job(
        FX.docs_df(spark, FX.PURCHASE_APPLY_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )


@register(
    "fund_purchase_confirm",
    oracle=values_sql(FX.EXPECTED_PURCHASE_CONFIRM, TXN_COLS, _TXN_TYPES),
)
def fund_purchase_confirm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-confirm job incl. P6 box-table cells and the C2 negative
    guard (好买 + 转换 docs rejected; purchase_confirm_extractor.py:1479)."""
    return jobs.purchase_confirm_job(
        FX.docs_df(spark, FX.PURCHASE_CONFIRM_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )


@register(
    "fund_redemption_confirm",
    oracle=values_sql(FX.EXPECTED_REDEMPTION, TXN_COLS, _TXN_TYPES),
)
def fund_redemption_confirm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redemption-confirm job incl. N3 T+n arrival-date arithmetic and the
    P15 dual-format 网金 branch (redemption_extractor.py:662-672)."""
    return jobs.redemption_confirm_job(
        FX.docs_df(spark, FX.REDEMPTION_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )


@register(
    "fund_conversion",
    oracle=values_sql(FX.EXPECTED_CONVERSION, CONVERSION_COLS, _CONV_TYPES),
)
def fund_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Super-conversion job: P16 section scoping, N4 derived in_amount,
    second dimension map (conversion_extractor.py)."""
    return jobs.conversion_job(
        FX.docs_df(spark, FX.CONVERSION_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )


_MAN_APPLY_TYPES = ["VARCHAR", "VARCHAR", "VARCHAR", "DOUBLE", "VARCHAR",
                    "VARCHAR", "VARCHAR", "VARCHAR"]
_MAN_CONFIRM_TYPES = ["VARCHAR", "VARCHAR", "VARCHAR", "DOUBLE", "DOUBLE",
                      "DOUBLE", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR"]
_MAN_RED_TYPES = ["VARCHAR", "VARCHAR", "VARCHAR", "DOUBLE", "DOUBLE",
                  "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR",
                  "VARCHAR", "VARCHAR"]
_MAN_DIV_TYPES = ["VARCHAR", "VARCHAR", "VARCHAR", "VARCHAR", "DOUBLE",
                  "DOUBLE", "VARCHAR"]


@register(
    "fund_manual_apply",
    oracle=values_sql(FX.EXPECTED_MANUAL_APPLY, MANUAL_APPLY_COLS, _MAN_APPLY_TYPES),
)
def fund_manual_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual (OCR) purchase-apply job: C3 doc-type detect, P12
    candidate-max amounts, P13 fund-code repair."""
    return jobs.manual_purchase_apply_job(
        FX.docs_df(spark, FX.MANUAL_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )


@register(
    "fund_manual_confirm",
    oracle=values_sql(FX.EXPECTED_MANUAL_CONFIRM, MANUAL_CONFIRM_COLS,
                      _MAN_CONFIRM_TYPES),
)
def fund_manual_confirm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual purchase-confirm: N4 refund = apply - confirm + Q1 isin
    whitelist (manual_purchase_confirm_extractor.py:348-354,407)."""
    return jobs.manual_purchase_confirm_job(
        FX.docs_df(spark, FX.MANUAL_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )


@register(
    "fund_manual_redemption",
    oracle=values_sql(FX.EXPECTED_MANUAL_REDEMPTION, MANUAL_REDEMPTION_COLS,
                      _MAN_RED_TYPES),
)
def fund_manual_redemption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual redemption-confirm with constant columns 是否结转收益='否',
    赎回类型='1' (manual_redemption_extractor.py:367-368)."""
    return jobs.manual_redemption_job(
        FX.docs_df(spark, FX.MANUAL_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )


@register(
    "fund_dividend_scaled",
    # the probe is deterministic — per-platform golden aggregates x1000 —
    # so it gets a REAL oracle (round-3 VERDICT next-step #2): DuckDB
    # aggregates the golden VALUES and scales, Spark aggregates the
    # replicated pipeline output. Float-sum order differs (1000-fold
    # addition vs sum*1000) but the 2-decimal round absorbs it: money
    # sums sit at .00-offsets, 5e-3 from any half-up boundary, while the
    # accumulated fp error is orders of magnitude smaller.
    oracle=f"""
    WITH golden AS ({values_sql(FX.EXPECTED_DIVIDEND, DIVIDEND_COLS, _DIV_TYPES)})
    SELECT platform,
           COUNT(*) * 1000 AS n_records,
           ROUND(SUM(amount) * 1000, 2) AS sum_amount
    FROM golden
    GROUP BY platform
    """,
)
def fund_dividend_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-throughput probe: the fixture corpus replicated 1000x
    (~25k docs) through the FULL dividend pipeline, aggregated per
    platform. Row values equal the golden counts x1000 — but the point is
    measuring the single-scan extract stage at volume (bench.py times
    this; at sf-independent 25k docs the per-doc cost is the signal).
    The same builder at 10x/100x this replication fits the cascade's
    cost exponent (BASELINE.md §4.5)."""
    return dividend_scaled_agg(spark, 1000)


def dividend_scaled_agg(spark: SparkSession, n: int) -> DataFrame:
    """The replicate-n -> full dividend cascade -> per-platform aggregate
    plan, parameterized by replication so the scale probe can run the
    SAME builder at 25k/250k/2.5M docs."""
    base = FX.docs_df(spark, FX.DIVIDEND_DOCS)
    replicated = base.crossJoin(
        spark.range(n).select(F.col("id").alias("rep"))
    ).select(
        (F.col("doc_id") * n + F.col("rep")).alias("doc_id"),
        "filename",
        "rel_path",
        "text",
    )
    out = jobs.dividend_job(replicated, FX.dim_df(spark), FX.RUN_DATE)
    return out.groupBy("platform").agg(
        F.count(F.lit(1)).alias("n_records"),
        round2(F.sum("amount"), 2).alias("sum_amount"),
    )


@register(
    "fund_manual_dividend",
    oracle=values_sql(FX.EXPECTED_MANUAL_DIVIDEND, MANUAL_DIVIDEND_COLS,
                      _MAN_DIV_TYPES),
)
def fund_manual_dividend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual dividend ex-right: voucher/register dates = run_date - 1
    (manual_dividen_extractor.py:329-330)."""
    return jobs.manual_dividend_job(
        FX.docs_df(spark, FX.MANUAL_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )


@register(
    "dim_merge",
    oracle="""
    WITH base AS (
      SELECT n_name AS product_name,
             CAST(n_nationkey AS VARCHAR) AS ledger_code,
             'default' AS map_kind
      FROM nation
    ),
    changes AS (
      SELECT n_name AS product_name,
             'N' || CAST(n_nationkey AS VARCHAR) AS ledger_code,
             'default' AS map_kind, 'upsert' AS op,
             CAST(n_nationkey + 100 AS BIGINT) AS seq
      FROM nation WHERE n_nationkey % 3 = 0
      UNION ALL
      SELECT n_name, CAST(NULL AS VARCHAR), 'default', 'delete',
             CAST(n_nationkey + 200 AS BIGINT)
      FROM nation WHERE n_nationkey % 4 = 1
      UNION ALL
      SELECT 'R-' || r_name, CAST(r_regionkey AS VARCHAR), 'default',
             'upsert', CAST(r_regionkey AS BIGINT)
      FROM region
      UNION ALL
      SELECT n_name, 'X' || CAST(n_nationkey AS VARCHAR), 'default',
             'upsert', CAST(n_nationkey + 300 AS BIGINT)
      FROM nation WHERE n_nationkey % 6 = 0
    ),
    latest AS (
      SELECT product_name, ledger_code, map_kind, op FROM (
        SELECT product_name, ledger_code, map_kind, op,
               ROW_NUMBER() OVER (
                 PARTITION BY product_name, map_kind ORDER BY seq DESC
               ) AS rn
        FROM changes
      ) WHERE rn = 1
    )
    SELECT b.product_name, b.ledger_code, b.map_kind
    FROM base b
    ANTI JOIN latest l USING (product_name, map_kind)
    UNION ALL
    SELECT product_name, ledger_code, map_kind FROM latest
    WHERE op = 'upsert'
    """,
)
def dim_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension upsert/delete merge (operators/normalize.merge_dim —
    VERDICT r9 "What's missing" #2; reference CRUD at
    ui/product_code_manager.py:119-128,166-170). The driver tables stage
    a deterministic change feed over a nation-derived dimension:
    upserts (key % 3), deletes (key % 4 = 1), brand-new rows (from
    region), and a CONFLICTING later upsert (key % 6) that must beat the
    earlier one — last-write-wins by seq, every branch of the merge
    exercised. Codes stay strings (mixed-type sort is O1's concern)."""
    from ..operators.normalize import merge_dim
    from ..sources import load_table

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    base = nation.select(
        F.col("n_name").alias("product_name"),
        F.col("n_nationkey").cast("string").alias("ledger_code"),
        F.lit("default").alias("map_kind"),
    )
    nk = F.col("n_nationkey")
    up1 = nation.filter(nk % 3 == 0).select(
        F.col("n_name").alias("product_name"),
        F.concat(F.lit("N"), nk.cast("string")).alias("ledger_code"),
        F.lit("default").alias("map_kind"),
        F.lit("upsert").alias("op"),
        (nk + 100).cast("long").alias("seq"),
    )
    dels = nation.filter(nk % 4 == 1).select(
        F.col("n_name").alias("product_name"),
        F.lit(None).cast("string").alias("ledger_code"),
        F.lit("default").alias("map_kind"),
        F.lit("delete").alias("op"),
        (nk + 200).cast("long").alias("seq"),
    )
    news = region.select(
        F.concat(F.lit("R-"), F.col("r_name")).alias("product_name"),
        F.col("r_regionkey").cast("string").alias("ledger_code"),
        F.lit("default").alias("map_kind"),
        F.lit("upsert").alias("op"),
        F.col("r_regionkey").cast("long").alias("seq"),
    )
    up2 = nation.filter(nk % 6 == 0).select(
        F.col("n_name").alias("product_name"),
        F.concat(F.lit("X"), nk.cast("string")).alias("ledger_code"),
        F.lit("default").alias("map_kind"),
        F.lit("upsert").alias("op"),
        (nk + 300).cast("long").alias("seq"),
    )
    changes = up1.unionByName(dels).unionByName(news).unionByName(up2)
    return merge_dim(base, changes)
