"""Text-analysis operators over the ``documents`` table (engine extension:
the text stage of a large-scale training-data pipeline).

All map-only per-document expressions — no explode, no shuffle — so the
stage scales linearly with corpus size; the aggregating variants push
partial aggregation map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import round2
from ..functions.text import (
    BPE_TOKEN_RE,
    WS_RE,
    normalized_md5,
    poly_fingerprint,
    stopword_ratio,
    words,
)
from ..operators.sampling import (
    CHUNK_STRIDE,
    CHUNK_WORDS,
    PACK_CAPACITY,
    PACK_SHARDS,
    SPLIT_BUCKETS,
    chunk_documents,
    epoch_shuffle,
    group_capped_sample,
    hash_split,
    pack_sequences,
    split_bucket,
    stratified_sample,
)
from ..sources import load_table
from . import _sqlgen as G
from . import format_doc, register

# --------------------------------------------------------------------------
# Token counting (whitespace + BPE-ish regex pre-tokenization)
# --------------------------------------------------------------------------


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len(w)                                               AS n_ws_tokens,
           len(regexp_extract_all(text, '{BPE_TOKEN_RE}'))      AS n_bpe_tokens,
           lang
    FROM (SELECT doc_id, text, lang, {G.WORDS} AS w FROM documents)
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # regexp_count stays in whole-stage codegen; size(regexp_extract_all)
    # would materialize a token array per row just to measure its length
    return docs.select(
        "doc_id",
        F.size(words("text")).alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(BPE_TOKEN_RE)).alias("n_bpe_tokens"),
        "lang",
    )


# --------------------------------------------------------------------------
# Quality scoring: length / punctuation / stopword signals
# --------------------------------------------------------------------------

# whitespace pinned explicitly (Java \s vs RE2 \s differ on \x0B)
_PUNCT_RE = r"[^A-Za-z0-9 \t\r\n\x0B\f]"


@register(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           n_chars,
           n_words,
           {G.round_sql("CASE WHEN n_words > 0 THEN char_sum * 1.0 / n_words ELSE 0.0 END", 3)} AS avg_word_len,
           {G.round_sql("stop_ratio", 6)} AS stop_ratio,
           {G.round_sql("punct_ratio", 6)} AS punct_ratio,
           {G.round_sql(
               "0.5 * stop_ratio + 0.3 * least(n_words / 100.0, 1.0)"
               " + 0.2 * (1.0 - punct_ratio)", 6)} AS quality_score
    FROM (
      SELECT doc_id,
             length(text) AS n_chars,
             len(w)       AS n_words,
             list_sum(list_transform(w, x -> length(x))) AS char_sum,
             {G.stopword_ratio_sql("en")} AS stop_ratio,
             CASE WHEN length(text) > 0
                  THEN len(regexp_extract_all(text, '{_PUNCT_RE}')) * 1.0 / length(text)
                  ELSE 0.0 END AS punct_ratio
      FROM (SELECT doc_id, text, {G.WORDS} AS w FROM documents)
    )
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # words hoisted into a column: the array is built once per document,
    # not once per downstream expression (HOFs aren't CSE'd by Catalyst).
    # Counting signals (punct, char_sum) deliberately avoid building
    # arrays: regexp_count / length arithmetic stay inside whole-stage
    # codegen, where size(regexp_extract_all(...)) was the round-1 17.7 s
    # hotspot.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", words("text").alias("__w")
    )
    ws = F.col("__w")
    n_chars = F.length("text")
    n_words = F.size(ws)
    # sum of word lengths == non-whitespace chars of the tokenized text
    char_sum = F.length(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), WS_RE, "")
    )
    stop = stopword_ratio(ws, "en")
    punct = F.when(
        n_chars > 0,
        F.regexp_count("text", F.lit(_PUNCT_RE)) / n_chars,
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        round2(
            F.when(n_words > 0, char_sum / n_words).otherwise(F.lit(0.0)), 3
        ).alias("avg_word_len"),
        round2(stop, 6).alias("stop_ratio"),
        round2(punct, 6).alias("punct_ratio"),
        round2(
            0.5 * stop
            + 0.3 * F.least(n_words / F.lit(100.0), F.lit(1.0))
            + 0.2 * (F.lit(1.0) - punct),
            6,
        ).alias("quality_score"),
    )


# --------------------------------------------------------------------------
# Language ID: stopword-profile n-gram heuristic (deterministic argmax
# with fixed precedence en > de > es > fr > zh)
# --------------------------------------------------------------------------


@register(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang,
           {G.round_sql("s_en", 6)} AS s_en,
           {G.round_sql("s_de", 6)} AS s_de,
           {G.round_sql("s_es", 6)} AS s_es,
           {G.round_sql("s_fr", 6)} AS s_fr,
           {G.round_sql("s_zh", 6)} AS s_zh,
           CASE
             WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh'
           END AS lang_guess
    FROM (
      SELECT doc_id, lang,
             {G.stopword_ratio_sql("en")} AS s_en,
             {G.stopword_ratio_sql("de")} AS s_de,
             {G.stopword_ratio_sql("es")} AS s_es,
             {G.stopword_ratio_sql("fr")} AS s_fr,
             {G.stopword_ratio_sql("zh")} AS s_zh
      FROM (SELECT doc_id, lang, {G.WORDS} AS w FROM documents)
    )
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", words("text").alias("__w")
    )
    langs = ("en", "de", "es", "fr", "zh")
    # stopword_ratio is an array-filter HOF and HOFs are not CSE'd by
    # Catalyst (the module's __w lesson) — hoist the five scores into
    # real columns so each language's scan runs ONCE, not once per
    # reference in the argmax chain + output list (the oracle's inner
    # SELECT is the same hoist)
    scored = docs.select(
        "doc_id",
        "lang",
        *[
            stopword_ratio(F.col("__w"), lang).alias(f"__s_{lang}")
            for lang in langs
        ],
    )
    s = {lang: F.col(f"__s_{lang}") for lang in langs}
    guess = (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"])
            & (s["en"] >= s["zh"]), "en",
        )
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]) & (s["de"] >= s["zh"]), "de")
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["zh"]), "es")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )
    return scored.select(
        "doc_id",
        "lang",
        *[round2(s[lang], 6).alias(f"s_{lang}") for lang in langs],
        guess.alias("lang_guess"),
    )


# --------------------------------------------------------------------------
# Document fingerprinting: normalized md5 + position-weighted rolling hash
# --------------------------------------------------------------------------


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {G.NORM_MD5} AS md5_fp,
           {G.POLY_FP}  AS poly_fp
    FROM (SELECT doc_id, text, {G.WORDS} AS w FROM documents)
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", words("text").alias("__w")
    )
    return docs.select(
        "doc_id",
        normalized_md5("text").alias("md5_fp"),
        poly_fingerprint(F.col("__w")).alias("poly_fp"),
    )


# --------------------------------------------------------------------------
# Quality deciles: threshold-broadcast score binning (calibration)
# --------------------------------------------------------------------------

_DECILE_QS = [round(0.1 * i, 1) for i in range(1, 10)]


@register(
    "quality_deciles",
    # the same rounded quality_score as text_quality feeds exact
    # percentile thresholds (Spark `percentile` == DuckDB quantile_cont,
    # proven bit-identical in event_value_stats), then bucket = 1 +
    # count(thresholds strictly below the score) — identical comparison
    # chain both engines
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             {G.round_sql(
                 "0.5 * stop_ratio + 0.3 * least(n_words / 100.0, 1.0)"
                 " + 0.2 * (1.0 - punct_ratio)", 6)} AS quality_score
      FROM (
        SELECT doc_id,
               len(w) AS n_words,
               {G.stopword_ratio_sql("en")} AS stop_ratio,
               CASE WHEN length(text) > 0
                    THEN len(regexp_extract_all(text, '{_PUNCT_RE}')) * 1.0
                         / length(text)
                    ELSE 0.0 END AS punct_ratio
        FROM (SELECT doc_id, text, {G.WORDS} AS w FROM documents)
      )
    ),
    t AS (SELECT list_transform(quantile_cont(quality_score,
                 [{", ".join(str(x) for x in _DECILE_QS)}]), x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS th FROM q)
    SELECT decile, COUNT(*) AS n_docs,
           {G.round_sql("AVG(quality_score)", 6)} AS avg_score,
           {G.round_sql("MIN(quality_score)", 6)} AS min_score,
           {G.round_sql("MAX(quality_score)", 6)} AS max_score
    FROM (
      SELECT quality_score,
             CAST(FLOOR(quality_score * 1000000 + 0.5) AS BIGINT) AS qs_m,
             1 + {" + ".join(
                 f"(qs_m > th[{i + 1}])::INT"
                 for i in range(len(_DECILE_QS)))} AS decile
      FROM q CROSS JOIN t
    )
    GROUP BY decile
    """,
)
def quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score calibration: decile boundaries of the corpus quality score,
    then per-decile doc counts and score ranges — the sanity pass before
    quality-thresholded filtering or quality-weighted sampling commits to
    a cutoff.

    Scale shape: the naive form is NTILE over a global sort — a single
    giant sort partition, the skew stall. This form computes the 9
    thresholds in ONE percentile aggregate (a tiny 1-row result), then
    assigns buckets map-side via a broadcast cross join and comparison
    chain — one scan + one broadcast, no global sort. At 100 TB the
    threshold pass swaps to approx_percentile (same shape, sketch
    state); exact here so the DuckDB oracle is deterministic.

    Boundary robustness: interpolated thresholds routinely land ON tied
    6-decimal scores, where ~1e-15 of cross-engine float dust flips a
    `score > threshold` comparison (observed at sf0.1: 502 docs moved a
    decile). Both engines therefore compare in integer MICRO-UNITS —
    round(score*1e6) vs round(threshold*1e6) as BIGINT — so the bucket
    rule involves no floating-point comparison at all."""
    q = text_quality(spark, sf_dir).select("doc_id", "quality_score")
    th = q.agg(
        F.transform(
            F.expr(
                "percentile(quality_score, array("
                + ", ".join(f"{x}D" for x in _DECILE_QS)
                + "))"
            ),
            lambda x: F.floor(x * 1_000_000 + F.lit(0.5)).cast("bigint"),
        ).alias("th")
    )
    qs_m = F.floor(F.col("quality_score") * 1_000_000 + F.lit(0.5)).cast(
        "bigint"
    )
    decile = F.lit(1)
    for i in range(len(_DECILE_QS)):
        decile = decile + (qs_m > F.element_at("th", i + 1)).cast("int")
    return (
        q.crossJoin(F.broadcast(th))
        .select("quality_score", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            round2(F.avg("quality_score"), 6).alias("avg_score"),
            round2(F.min("quality_score"), 6).alias("min_score"),
            round2(F.max("quality_score"), 6).alias("max_score"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split (operators/sampling.py)
# --------------------------------------------------------------------------

_SPLIT_SALT = "split-v1"


@register(
    "doc_hash_split",
    oracle=f"""
    SELECT doc_id, bucket,
           CASE WHEN bucket < {int(0.8 * SPLIT_BUCKETS)} THEN 'train'
                WHEN bucket < {int(0.9 * SPLIT_BUCKETS)} THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 {G.H(f"'{_SPLIT_SALT}' || doc_id::VARCHAR")} % {SPLIT_BUCKETS}
                   AS bucket
          FROM documents)
    """,
)
def doc_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic 80/10/10 split assignment — map-only, stable
    under re-runs and corpus growth (unlike randomSplit)."""
    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs, salt=_SPLIT_SALT).select("doc_id", "bucket", "split")


# --------------------------------------------------------------------------
# Corpus rebalancing: per-language stratified sampling
# --------------------------------------------------------------------------

_STRAT_SALT = "strat-v1"
_STRAT_RATES = {"en": 0.3, "de": 0.8, "es": 0.8, "fr": 0.8}  # zh kept whole


def _strat_threshold_sql() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {int(round(r * SPLIT_BUCKETS))}"
        for k, r in _STRAT_RATES.items()
    )
    return f"CASE lang {cases} ELSE {SPLIT_BUCKETS} END"


@register(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             {G.H(f"'{_STRAT_SALT}' || doc_id::VARCHAR")} % {SPLIT_BUCKETS}
               AS bucket
      FROM documents)
    WHERE bucket < {_strat_threshold_sql()}
    """,
)
def stratified_sample_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual corpus rebalancing: per-language deterministic keep
    rates (dominant English downsampled to 30%, zh kept whole) via the
    same salted hash bucket as the split — map-only, reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, _STRAT_RATES, salt=_STRAT_SALT).select(
        "doc_id", "lang"
    )


# --------------------------------------------------------------------------
# Per-source document cap: deterministic reservoir
# --------------------------------------------------------------------------

_CAP_SALT = "cap-v1"
_CAP_M = 10


@register(
    "source_capped_sample",
    oracle=f"""
    SELECT doc_id, source, slot FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {G.H(f"'{_CAP_SALT}' || doc_id::VARCHAR")}
                          % {SPLIT_BUCKETS}, doc_id) AS slot
      FROM documents)
    WHERE slot <= {_CAP_M}
    """,
)
def source_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hard cap (the Common-Crawl per-host rule): at most
    {m} docs per source survive, chosen by deterministic hash order —
    no source can dominate the training mixture however large its
    crawl. One exchange on source, group-local rank window; the
    approximate-rate alternative is stratified_sample (map-only)."""
    docs = load_table(spark, sf_dir, "documents")
    return group_capped_sample(
        docs, "source", _CAP_M, salt=_CAP_SALT
    ).select("doc_id", "source", "slot")


format_doc(source_capped_sample, m=_CAP_M)


# --------------------------------------------------------------------------
# Sequence packing: concat-and-chunk training-stream assembly
# --------------------------------------------------------------------------

_PACK_SALT = "pack-v1"


@register(
    "sequence_packing",
    # DuckDB SUM OVER yields HUGEINT: start offset cast BIGINT before the
    # bin division so both engines emit BIGINT seq_bin / pack_offset
    oracle=f"""
    SELECT doc_id, pack_shard, n_tokens,
           (cum - n_tokens)::BIGINT // {PACK_CAPACITY} AS seq_bin,
           (cum - n_tokens)::BIGINT % {PACK_CAPACITY} AS pack_offset
    FROM (
      SELECT doc_id, pack_shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY pack_shard ORDER BY doc_id) AS cum
      FROM (
        SELECT doc_id,
               ({G.H(f"'{_PACK_SALT}' || doc_id::VARCHAR")} % {SPLIT_BUCKETS})
                 % {PACK_SHARDS} AS pack_shard,
               len(regexp_extract_all(text, '{BPE_TOKEN_RE}'))::BIGINT AS n_tokens
        FROM documents))
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing assignment: every document's shard,
    sequence bin and intra-bin offset in the fixed-length (256-token)
    training stream. Shards pack independently — the window's running
    total never crosses a shard, so the pass parallelizes."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs,
        token_count=F.regexp_count("text", F.lit(BPE_TOKEN_RE)),
        salt=_PACK_SALT,
    )


# --------------------------------------------------------------------------
# Deterministic epoch shuffle: materialized training read order
# --------------------------------------------------------------------------

_EPOCH_SALT = "epoch-v1"
_EPOCH = 1
_EPOCH_SHARDS = 8


@register(
    "epoch_shuffle",
    oracle=f"""
    SELECT doc_id, shard,
           ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS pos
    FROM (
      SELECT doc_id,
             {G.H(f"'{_EPOCH_SALT}-{_EPOCH}:' || doc_id::VARCHAR")} AS k,
             {G.H(f"'{_EPOCH_SALT}-{_EPOCH}:' || doc_id::VARCHAR")}
               % {_EPOCH_SHARDS} AS shard
      FROM documents)
    """,
)
def epoch_shuffle_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-1 training read order over the corpus: (shard, pos) per doc,
    a pure function of (corpus, epoch) — reproducible data loading; see
    operators/sampling.py:epoch_shuffle for the scale rationale."""
    docs = load_table(spark, sf_dir, "documents")
    return epoch_shuffle(
        docs, epoch=_EPOCH, n_shards=_EPOCH_SHARDS, salt=_EPOCH_SALT
    )


# --------------------------------------------------------------------------
# Overlapping document chunking (RAG / long-context assembly)
# --------------------------------------------------------------------------


@register(
    "doc_chunking",
    # same word split, same window arithmetic, same chunk-text md5 — the
    # slice is 1-based inclusive in DuckDB (list_slice) vs 1-based
    # length-counted in Spark (slice), reconciled via least(start+len, n)
    oracle=f"""
    WITH d AS (SELECT doc_id, {G.WORDS} AS w FROM documents),
    sized AS (SELECT doc_id, w, len(w) AS n FROM d WHERE len(w) > 0),
    starts AS (
      SELECT doc_id, w, n,
             unnest(generate_series(0, ((n - 1) // {CHUNK_STRIDE})
                    * {CHUNK_STRIDE}, {CHUNK_STRIDE})) AS chunk_start
      FROM sized)
    SELECT doc_id,
           chunk_start // {CHUNK_STRIDE} AS chunk_idx,
           chunk_start,
           len(list_slice(w, chunk_start + 1,
                          least(chunk_start + {CHUNK_WORDS}, n))) AS chunk_len,
           md5(array_to_string(
               list_slice(w, chunk_start + 1,
                          least(chunk_start + {CHUNK_WORDS}, n)), ' '))
             AS chunk_hash
    FROM starts
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping {CHUNK_WORDS}-word chunks every {CHUNK_STRIDE} words per
    document, with the chunk-content hash for chunk-level dedup — see
    operators/sampling.py:chunk_documents for the scale rationale
    (map-only, one scan, zero shuffles)."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, words("text"))


# --------------------------------------------------------------------------
# Corpus vocabulary: top terms by frequency (tf + document frequency)
# --------------------------------------------------------------------------

_TOP_TERMS_K = 50


@register(
    "corpus_top_terms",
    oracle=f"""
    WITH w AS (SELECT doc_id, unnest({G.WORDS}) AS term FROM documents),
    agg AS (SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
            FROM w GROUP BY term),
    ranked AS (SELECT term, tf, df,
                      ROW_NUMBER() OVER (ORDER BY tf DESC, term ASC) AS rank
               FROM agg)
    SELECT term, tf, df, rank FROM ranked WHERE rank <= {_TOP_TERMS_K}
    """,
)
def corpus_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global vocabulary stats: term frequency + document frequency, top-k.
    Plan shape: explode -> hash agg (map-side partial) -> orderBy+limit,
    which Spark runs as TakeOrderedAndProject (per-partition top-k, no
    global sort); the rank window then runs over only the k survivors.
    Ordering is total (tf desc, term asc — term unique after the groupBy)
    so both engines pick identical boundary rows."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.explode(words("text")).alias("term"))
    agg = w.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    order = [F.col("tf").desc(), F.col("term").asc()]
    top = agg.orderBy(*order).limit(_TOP_TERMS_K)
    return top.select(
        "term", "tf", "df", F.row_number().over(Window.orderBy(*order)).alias("rank")
    )


# --------------------------------------------------------------------------
# Repetition-based quality filter (the Gopher-rules family: Rae et al. 2021
# §A1.1 filter on duplicate-ngram fractions — public heuristic, map-only)
# --------------------------------------------------------------------------

_MIN_UNIQ_WORD_FRAC = 0.2
_MAX_DUP_BIGRAM_FRAC = 0.9


@register(
    "text_repetition_filter",
    oracle=f"""
    SELECT doc_id, n_words,
           {G.round_sql("uniq_word_frac", 6)} AS uniq_word_frac,
           {G.round_sql("dup_bigram_frac", 6)} AS dup_bigram_frac,
           -- keep is decided on the ROUNDED fracs exactly as the Spark
           -- side does (DuckDB resolves the bare names to the inner
           -- RAW columns, which would flip boundary docs — r11 review;
           -- the corpus_curation oracle set this convention)
           ({G.round_sql("uniq_word_frac", 6)} >= {_MIN_UNIQ_WORD_FRAC}
            AND {G.round_sql("dup_bigram_frac", 6)}
                <= {_MAX_DUP_BIGRAM_FRAC}) AS keep
    FROM (
      SELECT doc_id, len(w) AS n_words,
             CASE WHEN len(w) > 0
                  THEN len(list_distinct(w)) * 1.0 / len(w) ELSE 1.0 END
               AS uniq_word_frac,
             CASE WHEN len(w) >= 2
                  THEN 1.0 - len(list_distinct(list_transform(
                         generate_series(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1]))) * 1.0 / (len(w) - 1)
                  ELSE 0.0 END
               AS dup_bigram_frac
      FROM (SELECT doc_id, {G.WORDS} AS w FROM documents)
    )
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals + keep/drop verdict per document: fraction of
    unique words, and fraction of repeated word bigrams — the classic
    boilerplate/spam tell. Pure per-row HOF arithmetic (word array built
    once), no shuffle."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", words("text").alias("__w")
    )
    w = F.col("__w")
    n = F.size(w)
    uniq = F.when(n > 0, F.size(F.array_distinct(w)) / n).otherwise(F.lit(1.0))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 1, F.lit(0))),
        lambda i: F.concat_ws(
            " ", F.element_at(w, i.cast("int")), F.element_at(w, (i + 1).cast("int"))
        ),
    )
    dup_bi = F.when(
        n >= 2,
        F.lit(1.0) - F.size(F.array_distinct(bigrams)) / (n - 1),
    ).otherwise(F.lit(0.0))
    out = docs.select(
        "doc_id",
        n.alias("n_words"),
        round2(uniq, 6).alias("uniq_word_frac"),
        round2(dup_bi, 6).alias("dup_bigram_frac"),
    )
    return out.withColumn(
        "keep",
        (F.col("uniq_word_frac") >= _MIN_UNIQ_WORD_FRAC)
        & (F.col("dup_bigram_frac") <= _MAX_DUP_BIGRAM_FRAC),
    )


# --------------------------------------------------------------------------
# PII scrubbing: email / URL / long-number redaction (map-only
# regexp_replace chain; counts measured on the original text)
# --------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
URL_RE = r"https?://[^ \t\r\n\x0B\f]+"  # whitespace class pinned (WS_RE)
LONGNUM_RE = r"[0-9]{9,}"


@register(
    "text_scrub",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{URL_RE}', '[URL]', 'g'),
               '{EMAIL_RE}', '[EMAIL]', 'g'),
             '{LONGNUM_RE}', '[NUM]', 'g') AS clean_text,
           len(regexp_extract_all(text, '{URL_RE}'))
             + len(regexp_extract_all(text, '{EMAIL_RE}'))
             + len(regexp_extract_all(text, '{LONGNUM_RE}')) AS n_redactions
    FROM documents
    """,
)
def text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/boilerplate scrub: URLs, then emails, then 9+-digit numbers
    replaced by typed placeholders (URL first so its query-string never
    half-matches as an email). ``n_redactions`` counts matches on the
    ORIGINAL text. regexp_count keeps counting inside codegen; the
    patterns stick to constructs Java regex and RE2 read identically
    (explicit character classes, bounded repetition)."""
    docs = load_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", URL_RE, "[URL]"),
            EMAIL_RE,
            "[EMAIL]",
        ),
        LONGNUM_RE,
        "[NUM]",
    )
    n_red = (
        F.regexp_count("text", F.lit(URL_RE))
        + F.regexp_count("text", F.lit(EMAIL_RE))
        + F.regexp_count("text", F.lit(LONGNUM_RE))
    )
    return docs.select(
        "doc_id", clean.alias("clean_text"), n_red.alias("n_redactions")
    )


# --------------------------------------------------------------------------
# End-to-end curation verdict: the composed corpus-selection pass
# --------------------------------------------------------------------------

_MIN_QUALITY = 0.3


@register(
    "corpus_curation",
    # one CTE chain mirroring the single-scan engine plan: every per-row
    # signal from the same words array, exact-dup canonicality from the
    # same normalized hash, keep decided on the ROUNDED score both sides
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, {G.WORDS} AS w, {G.NORM_MD5} AS h FROM documents
    ),
    sig AS (
      SELECT doc_id, h, len(w) AS n_words,
             {G.stopword_ratio_sql("en")} AS stop_ratio,
             CASE WHEN length(text) > 0
                  THEN len(regexp_extract_all(text, '{_PUNCT_RE}')) * 1.0
                         / length(text)
                  ELSE 0.0 END AS punct_ratio,
             CASE WHEN len(w) > 0
                  THEN len(list_distinct(w)) * 1.0 / len(w) ELSE 1.0 END
               AS uniq_word_frac,
             CASE WHEN len(w) >= 2
                  THEN 1.0 - len(list_distinct(list_transform(
                         generate_series(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1]))) * 1.0 / (len(w) - 1)
                  ELSE 0.0 END AS dup_bigram_frac,
             len(regexp_extract_all(text, '{URL_RE}'))
               + len(regexp_extract_all(text, '{EMAIL_RE}'))
               + len(regexp_extract_all(text, '{LONGNUM_RE}')) AS n_redactions
      FROM base
    ),
    g AS (SELECT h, MIN(doc_id) AS canonical_id FROM base GROUP BY 1),
    scored AS (
      SELECT sig.*,
             {G.round_sql(
                 "0.5 * stop_ratio + 0.3 * least(n_words / 100.0, 1.0)"
                 " + 0.2 * (1.0 - punct_ratio)", 6)} AS quality_score,
             (sig.doc_id = g.canonical_id) AS is_canonical
      FROM sig JOIN g USING (h)
    )
    SELECT doc_id, n_words, quality_score,
           {G.round_sql("uniq_word_frac", 6)} AS uniq_word_frac,
           {G.round_sql("dup_bigram_frac", 6)} AS dup_bigram_frac,
           n_redactions, is_canonical,
           (is_canonical
            AND quality_score >= {_MIN_QUALITY}
            AND {G.round_sql("uniq_word_frac", 6)} >= {_MIN_UNIQ_WORD_FRAC}
            AND {G.round_sql("dup_bigram_frac", 6)} <= {_MAX_DUP_BIGRAM_FRAC})
             AS keep
    FROM scored
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-selection pass a training pipeline actually
    runs: per-document quality score, repetition signals, PII-redaction
    count and exact-dup canonicality folded into one keep/drop verdict.

    Scale shape: ONE projection computes every per-row signal from a
    single hoisted words array (HOFs share the array; counting signals
    stay in codegen via regexp_count), the exact-dup group table is one
    hash-agg shuffle on the 32-char content hash joined back on that same
    key, and the verdict is pure arithmetic — no second corpus scan for
    signals, no window over corpus-sized data."""
    docs = load_table(spark, sf_dir, "documents")
    sig = curation_signals(docs)
    groups = (
        docs.select("doc_id", normalized_md5(F.col("text")).alias("__h"))
        .groupBy("__h")
        .agg(F.min("doc_id").alias("__canonical"))
    )
    joined = sig.join(groups, "__h")
    is_canon = F.col("doc_id") == F.col("__canonical")
    quality_keep = (
        (F.col("quality_score") >= _MIN_QUALITY)
        & (F.col("uniq_word_frac") >= _MIN_UNIQ_WORD_FRAC)
        & (F.col("dup_bigram_frac") <= _MAX_DUP_BIGRAM_FRAC)
    )
    return joined.select(
        "doc_id",
        "n_words",
        "quality_score",
        "uniq_word_frac",
        "dup_bigram_frac",
        "n_redactions",
        is_canon.alias("is_canonical"),
        (is_canon & quality_keep).alias("keep"),
    )


def curation_signals(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-row curation signals — quality score, repetition fractions,
    PII-redaction count — with the id and the normalized content hash
    ``__h``. One hoisted words array feeds every HOF; batch queries let
    Catalyst prune the signals they do not read."""
    base = docs.withColumns(
        {"__w": words("text"), "__h": normalized_md5(F.col("text"))}
    )
    w = F.col("__w")
    n = F.size(w)
    n_chars = F.length("text")
    stop = stopword_ratio(w, "en")
    punct = F.when(
        n_chars > 0, F.regexp_count("text", F.lit(_PUNCT_RE)) / n_chars
    ).otherwise(F.lit(0.0))
    uniq = F.when(n > 0, F.size(F.array_distinct(w)) / n).otherwise(F.lit(1.0))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 1, F.lit(0))),
        lambda i: F.concat_ws(
            " ", F.element_at(w, i.cast("int")), F.element_at(w, (i + 1).cast("int"))
        ),
    )
    dup_bi = F.when(
        n >= 2, F.lit(1.0) - F.size(F.array_distinct(bigrams)) / (n - 1)
    ).otherwise(F.lit(0.0))
    n_red = (
        F.regexp_count("text", F.lit(URL_RE))
        + F.regexp_count("text", F.lit(EMAIL_RE))
        + F.regexp_count("text", F.lit(LONGNUM_RE))
    )
    return base.select(
        id_col,
        "__h",
        n.alias("n_words"),
        round2(
            0.5 * stop
            + 0.3 * F.least(n / F.lit(100.0), F.lit(1.0))
            + 0.2 * (F.lit(1.0) - punct),
            6,
        ).alias("quality_score"),
        round2(uniq, 6).alias("uniq_word_frac"),
        round2(dup_bi, 6).alias("dup_bigram_frac"),
        n_red.alias("n_redactions"),
    )


_MIN_SENTENCES = 3
_MIN_WORDS_PER_LINE = 5.0


@register(
    "text_c4_filters",
    # line array built once both sides; the terminal-punctuation regex and
    # the lorem/brace tells are identical literals in Java regex and RE2
    oracle=f"""
    SELECT doc_id, n_lines, n_sentences,
           {G.round_sql("frac_term_lines", 6)} AS frac_term_lines,
           {G.round_sql("words_per_line", 3)}  AS words_per_line,
           has_lorem, has_brace,
           (n_sentences >= {_MIN_SENTENCES}
            AND {G.round_sql("words_per_line", 3)} >= {_MIN_WORDS_PER_LINE}
            AND NOT has_lorem AND NOT has_brace) AS keep
    FROM (
      SELECT doc_id,
             len(ls) AS n_lines,
             length(text) - length(replace(replace(replace(text,'.',''),
               '!',''), '?','')) AS n_sentences,
             CASE WHEN len(ls) > 0
                  THEN len(list_filter(ls, l -> regexp_matches(rtrim(l),
                         '[.!?]$'))) * 1.0 / len(ls)
                  ELSE 0.0 END AS frac_term_lines,
             CASE WHEN len(ls) > 0
                  THEN len({G.WORDS}) * 1.0 / len(ls) ELSE 0.0 END
               AS words_per_line,
             contains(lower(text), 'lorem ipsum') AS has_lorem,
             contains(text, '{{') AS has_brace
      FROM (SELECT doc_id, text, string_split(text, chr(10)) AS ls
            FROM documents)
    )
    """,
)
def text_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style heuristic document filters: sentence count,
    fraction of lines ending in terminal punctuation, words-per-line
    density, lorem-ipsum and curly-brace (code) tells, folded into a
    keep verdict. Map-only per-row arithmetic — the line array is hoisted
    once; sentence counting is length arithmetic (no regex array), so the
    whole stage stays in codegen except the one line-filter HOF."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.split("text", "\n").alias("__ls")
    )
    ls = F.col("__ls")
    n_lines = F.size(ls)
    n_sent = F.length("text") - F.length(
        F.replace(
            F.replace(F.replace("text", F.lit("."), F.lit("")), F.lit("!"), F.lit("")),
            F.lit("?"),
            F.lit(""),
        )
    )
    term = F.when(
        n_lines > 0,
        F.size(F.filter(ls, lambda l: F.rtrim(l).rlike("[.!?]$"))) / n_lines,
    ).otherwise(F.lit(0.0))
    wpl = F.when(n_lines > 0, F.size(words("text")) / n_lines).otherwise(
        F.lit(0.0)
    )
    has_lorem = F.contains(F.lower(F.col("text")), F.lit("lorem ipsum"))
    has_brace = F.contains(F.col("text"), F.lit("{"))
    return docs.select(
        "doc_id",
        n_lines.cast("bigint").alias("n_lines"),
        n_sent.cast("bigint").alias("n_sentences"),
        round2(term, 6).alias("frac_term_lines"),
        round2(wpl, 3).alias("words_per_line"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        (
            (n_sent >= _MIN_SENTENCES)
            & (round2(wpl, 3) >= _MIN_WORDS_PER_LINE)
            & ~has_lorem
            & ~has_brace
        ).alias("keep"),
    )


_QW_SALT = "qw-v1"


@register(
    "quality_weighted_sample",
    # same quality expression as corpus_curation, same salted-hash bucket
    # as doc_hash_split; keep threshold compared on the identical
    # (rounded-score * buckets) double both sides
    oracle=f"""
    WITH sig AS (
      SELECT doc_id,
             {G.round_sql(
                 "0.5 * (" + G.stopword_ratio_sql("en") + ")"
                 " + 0.3 * least(len(w) / 100.0, 1.0)"
                 " + 0.2 * (1.0 - CASE WHEN length(text) > 0"
                 " THEN len(regexp_extract_all(text, '" + _PUNCT_RE + "'))"
                 " * 1.0 / length(text) ELSE 0.0 END)", 6)} AS quality_score
      FROM (SELECT doc_id, text, {G.WORDS} AS w FROM documents)
    )
    SELECT doc_id, quality_score,
           ({G.H(f"'{_QW_SALT}' || doc_id::VARCHAR")} % {SPLIT_BUCKETS})::BIGINT
             AS bucket,
           (({G.H(f"'{_QW_SALT}' || doc_id::VARCHAR")} % {SPLIT_BUCKETS})
              < quality_score * {SPLIT_BUCKETS}) AS keep
    FROM sig
    """,
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted downsampling: each document survives with
    probability equal to its quality score, decided by its deterministic
    salted hash bucket — the importance-sampling step that upweights
    high-quality text without any RNG state (stable under re-runs,
    retries, and corpus growth; map-only, no shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    # Catalyst prunes the unused repetition/PII columns out of the shared
    # signal projection, so this reuses curation's quality expression
    # without paying for the rest
    sig = curation_signals(docs).select("doc_id", "quality_score")
    bucket = split_bucket(F.col("doc_id"), _QW_SALT)
    return sig.select(
        "doc_id",
        "quality_score",
        bucket.cast("bigint").alias("bucket"),
        (bucket < F.col("quality_score") * SPLIT_BUCKETS).alias("keep"),
    )


# --------------------------------------------------------------------------
# Per-document TF-IDF top terms
# --------------------------------------------------------------------------

_TFIDF_K = 3


@register(
    "source_mixture_weights",
    # same share expression tree both sides (tok_sum * 1.0 / total) so the
    # doubles are bit-identical before rounding; BIGINT pins vs HUGEINT
    oracle=f"""
    WITH a AS (
      SELECT source, lang, COUNT(*) AS n_docs,
             SUM(len({G.WORDS}))::BIGINT AS tok_sum
      FROM documents GROUP BY 1, 2
    )
    SELECT source, lang, n_docs, tok_sum,
           {G.round_sql("tok_sum * 1.0 / NULLIF(SUM(tok_sum) OVER (), 0)", 6)}
             AS token_share,
           {G.round_sql(
               "(1.0 / COUNT(*) OVER ())"
               " / NULLIF(tok_sum * 1.0 / NULLIF(SUM(tok_sum) OVER (), 0), 0)",
               6)} AS mix_weight
    FROM a
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing weights per (source, lang) cell: token share of each
    cell and the up/down-sampling weight that would flatten the mixture to
    uniform over cells (weight = target_share / actual_share; >1 means
    oversample). The first stage a mixture-tuned pretraining run computes.

    Scale shape: one map-side-partial hash agg over the corpus collapses
    everything to |sources x langs| rows; the unpartitioned window then
    runs on that tiny aggregate (single partition by design — never on
    corpus-sized data)."""
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(words("text"))).alias("tok_sum"),
    )
    w = Window.partitionBy()
    total = F.sum("tok_sum").over(w)
    # guarded divisions (NULL, matching the oracle's NULLIF): a cell — or
    # corpus — of zero-token documents must not raise ANSI DIVIDE_BY_ZERO
    # or emit an Infinity weight
    share = F.when(total > 0, F.col("tok_sum") * F.lit(1.0) / total)
    uniform = F.lit(1.0) / F.count(F.lit(1)).over(w)
    return agg.select(
        "source",
        "lang",
        "n_docs",
        "tok_sum",
        round2(share, 6).alias("token_share"),
        round2(F.when(share > 0, uniform / share), 6).alias("mix_weight"),
    )


@register(
    "doc_tfidf_topk",
    oracle=f"""
    WITH w AS (SELECT doc_id, unnest({G.WORDS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf, df,
             {G.round_sql("tf * ln(n_docs * 1.0 / df)", 6)} AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY tfidf DESC, term ASC) AS rank
          FROM scored)
    WHERE rank <= {_TFIDF_K}
    """,
)
def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF. Plan shape:
    explode -> (doc, term) hash agg (map-side partial) -> term-keyed df
    agg joined back -> 1-row corpus count broadcast -> per-doc rank
    window (shuffles on doc_id, never a global sort). The window orders by
    the ROUNDED score so both engines break ties identically."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.explode(words("text")).alias("term"))
    tf = w.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            round2(
                F.col("tf") * F.log(F.col("n_docs") * F.lit(1.0) / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return scored.withColumn("rank", F.row_number().over(win)).filter(
        F.col("rank") <= _TFIDF_K
    )
