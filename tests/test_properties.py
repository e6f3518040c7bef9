"""Property-based tests (SURVEY.md §5.3) — hypothesis drives the cleaning
scalars through one Spark evaluation per property batch."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fund_data_etl_pipeline_spark.functions.cleaning import (
    clean_number,
    complete_name_suffix,
    correct_fund_code,
)

SETTINGS = dict(max_examples=20, deadline=None)


def _sql(builder):
    """A SQL-text cleaner as a Column builder over the ``v`` column."""
    return lambda col: F.expr(builder("v"))


def _eval(spark, expr_builder, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r["o"] for r in df.select(expr_builder(F.col("v")).alias("o")).collect()]


@settings(**SETTINGS)
@given(
    st.lists(
        st.decimals(
            min_value=-10_000_000, max_value=10_000_000, places=2, allow_nan=False
        ),
        min_size=1,
        max_size=20,
    )
)
def test_clean_number_roundtrip_on_canonical_numbers(spark, xs):
    """comma-format ∘ clean_number = identity on canonical 2dp numbers."""
    formatted = [f"{x:,.2f}" for x in xs]
    out = _eval(spark, _sql(clean_number), formatted)
    assert out == [float(x) for x in xs]


@settings(**SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet="万联资管臻选号集合单一资产管理计划FO123", min_size=1, max_size=12
        ),
        min_size=1,
        max_size=20,
    )
)
def test_suffix_completion_idempotent(spark, names):
    once = _eval(spark, complete_name_suffix, names)
    twice = _eval(spark, complete_name_suffix, once)
    assert once == twice


@settings(**SETTINGS)
@given(
    st.lists(
        st.text(alphabet="0123456789l8B", min_size=6, max_size=6),
        min_size=1,
        max_size=20,
    )
)
def test_correct_fund_code_fixpoint(spark, codes):
    """Applying the OCR repair twice changes nothing (fixpoint), and the
    output never contains a lowercase l after position 0."""
    once = _eval(spark, correct_fund_code, codes)
    twice = _eval(spark, correct_fund_code, [c or "" for c in once])
    assert once == twice
    for c in once:
        assert c is None or "l" not in c[1:]


def test_clean_number_garbage_to_null(spark):
    out = _eval(spark, _sql(clean_number), ["abc", "", "  ", "12,34,5x", "1.2.3"])
    assert out == [None, None, None, None, None]


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]), min_size=0, max_size=12
        ),
        min_size=1,
        max_size=8,
    )
)
def test_span_dedup_conservation(spark, docs):
    """On any corpus: sum(n_kept) == number of distinct spans, and
    sum(n_spans) == total span occurrences — the dedup never invents or
    loses a span."""
    from fund_data_etl_pipeline_spark.operators.dedup import span_dedup

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = span_dedup(df, span_words=3).collect()
    spans = [
        tuple(ws[i : i + 3])
        for ws in docs
        for i in range(0, len(ws), 3)
        if ws
    ]
    assert sum(r["n_spans"] for r in out) == len(spans)
    assert sum(r["n_kept"] for r in out) == len(set(spans))


@settings(**SETTINGS)
@given(
    st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=30)
)
def test_pack_sequences_conserves_tokens(spark, counts):
    """Packing conserves the token stream: within every shard the last
    doc's (seq_bin * capacity + pack_offset + n_tokens) equals the
    shard's total token count."""
    from fund_data_etl_pipeline_spark.operators.sampling import pack_sequences

    rows = [(i, n) for i, n in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = pack_sequences(df, token_count=F.col("n"), capacity=128).collect()
    by_shard: dict[int, list] = {}
    for r in sorted(out, key=lambda r: r["doc_id"]):
        by_shard.setdefault(r["pack_shard"], []).append(r)
    for rows_ in by_shard.values():
        last = rows_[-1]
        total = sum(r["n_tokens"] for r in rows_)
        assert last["seq_bin"] * 128 + last["pack_offset"] + last["n_tokens"] == total


def test_round2_matches_duckdb_round(spark):
    """round2 (Column) and round2_sql (the SQL-text form the fund
    platform tables compile) must agree bit-for-bit with DuckDB's
    ``ROUND(x, scale)`` — the oracle engine's convention, which the repo
    pins as its single rounding rule. The grid covers negative values,
    exact halves at both scales, values whose shortest decimal string
    rounds differently than their binary value (the F.round divergence
    class), and zero."""
    import duckdb

    from fund_data_etl_pipeline_spark.functions.numeric import (
        round2,
        round2_sql,
    )

    values = [
        0.0, 1.0, -1.0, 2.5, -2.5, 0.125, -0.125, 130.545, -130.545,
        0.005, -0.005, 1.005, 2.675, -2.675, 99999999.995, 3.14159,
        -3.14159, 0.00005, -0.00005, 123456.789,
    ]
    df = spark.createDataFrame([(v,) for v in values], "v double")
    for scale in (2, 4, 6):
        col_out = [
            r["o"]
            for r in df.select(round2(F.col("v"), scale).alias("o")).collect()
        ]
        sql_out = [
            r["o"]
            for r in df.select(F.expr(round2_sql("v", scale)).alias("o")).collect()
        ]
        duck = dict(
            duckdb.sql(
                f"SELECT v, ROUND(v, {scale}) FROM (SELECT UNNEST("
                f"{values!r}::DOUBLE[]) AS v)"
            ).fetchall()
        )
        want = [duck[v] for v in values]
        assert col_out == want, (scale, list(zip(values, col_out, want)))
        assert sql_out == want, (scale, list(zip(values, sql_out, want)))


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "d"]),   # key
            st.sampled_from(["upsert", "delete"]),
            st.integers(0, 99),                       # code payload
        ),
        min_size=0,
        max_size=12,
    )
)
@settings(max_examples=12, deadline=None)
def test_merge_dim_idempotent_and_lww(spark, ops):
    """r10 merge_dim properties: (a) applying the same change feed twice
    is a no-op (merge(merge(b, ch), ch) == merge(b, ch) — re-upserting
    the surviving values and re-deleting absent keys change nothing);
    (b) each key's final state equals a driver-side dict replay of the
    ops in seq order (the reference's mutation semantics)."""
    from fund_data_etl_pipeline_spark.operators.normalize import merge_dim

    base_rows = [("a", "0", "default"), ("x", "9", "default")]
    base = spark.createDataFrame(
        base_rows, "product_name string, ledger_code string, map_kind string"
    )
    ch_rows = [
        (k, str(c) if op == "upsert" else None, "default", op, i)
        for i, (k, op, c) in enumerate(ops)
    ]
    schema = (
        "product_name string, ledger_code string, map_kind string,"
        " op string, seq long"
    )
    changes = spark.createDataFrame(ch_rows, schema) if ch_rows else (
        spark.createDataFrame([], schema)
    )
    once = merge_dim(base, changes)
    # named access: the anti-join puts its key columns first, so
    # positional order is (product_name, map_kind, ledger_code)
    got = {
        (r["product_name"], r["map_kind"]): r["ledger_code"]
        for r in once.collect()
    }

    # (b) dict replay oracle
    d = {(k, m): c for k, c, m in base_rows}
    for k, op, c in ops:  # ops are already in seq order
        if op == "upsert":
            d[(k, "default")] = str(c)
        else:
            d.pop((k, "default"), None)
    assert got == d

    # (a) idempotence
    twice = merge_dim(once, changes)
    assert {
        (r["product_name"], r["map_kind"]): r["ledger_code"]
        for r in twice.collect()
    } == got


def test_cents_sign_aware_matches_sql_form(spark):
    """cents (Column) == cents_sql (DuckDB) on a grid including negative
    quarter-cent values, where the pre-r11 half-UP floor form diverged
    from the pinned half-away-from-zero convention (-0.125 -> -13 cents,
    not -12)."""
    import duckdb

    from pyspark.sql import functions as F

    from fund_data_etl_pipeline_spark.functions.numeric import cents
    from fund_data_etl_pipeline_spark.plans._sqlgen import cents_sql

    grid = [0.0, 0.005, -0.005, 0.125, -0.125, 2.375, -2.375, 57.04,
            -57.04, 1.005, -1.005, 123.455, -123.455]
    df = spark.createDataFrame([(x,) for x in grid], "x double")
    col_form = {
        r["x"]: r["c"]
        for r in df.select("x", cents("x").alias("c")).collect()
    }
    sql_form = dict(
        duckdb.sql(
            f"SELECT x, {cents_sql('x')} AS c FROM (SELECT UNNEST("
            f"{grid!r}::DOUBLE[]) AS x)"
        ).fetchall()
    )
    for x in grid:
        assert col_form[x] == sql_form[x], x
    assert col_form[-0.125] == -13 and col_form[0.125] == 13
