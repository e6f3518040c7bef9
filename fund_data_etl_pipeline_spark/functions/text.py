"""Text-analysis expression library (engine extension: training-data
pipeline operators over the ``documents`` table).

Everything is a Catalyst expression — tokenization, shingling, hashing,
minhash signatures and simhash are computed per row WITHOUT exploding, so
the whole feature stage is map-only (no shuffle) and scales linearly.

Cross-engine hash convention: ``H(s) = int(md5(s)[:8], 16)`` — Spark
``conv(substr(md5(s),1,8),16,10)``, DuckDB ``('0x'||substr(md5(s),1,8))::
BIGINT`` — so every hashed operator has an exact DuckDB oracle.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_P = 1_000_000_007
# fixed odd multipliers/offsets for the 16 minhash permutations
MINHASH_A = [2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53]
MINHASH_B = [101, 211, 307, 401, 503, 601, 701, 809, 907, 1009,
             1103, 1201, 1301, 1409, 1499, 1601]
# second, independent permutation seed set (r9 straggler recovery — the
# standard banding-recall booster: a doc whose seed-1 band minima all
# missed its cluster gets four fresh draws). Next 16 primes for the
# multipliers, a disjoint prime run for the offsets.
MINHASH_A2 = [59, 61, 67, 71, 73, 79, 83, 89,
              97, 101, 103, 107, 109, 113, 127, 131]
MINHASH_B2 = [1697, 1801, 1901, 2003, 2111, 2203, 2309, 2411,
              2503, 2609, 2707, 2801, 2903, 3001, 3109, 3203]
MINHASH_BANDS = 4          # 4 bands x 4 rows
MINHASH_ROWS_PER_BAND = 4
# per-(band, key) pair cap (r7/r8): organic band collisions measured max
# 10 at 5k docs, so a bucket past CAP is a duplicate cluster — pair it by
# id-rank DOUBLING (rank r with r + 2^j for every 2^j < occupancy;
# operators/dedup.doubling_chain_pairs) instead of all-pairs. History:
# consecutive strides 1..8 gave diameter ~C/8 (dedup_groups measured
# second-decade exponent 1.16 at the 100x probe); the r7 fixed
# 1..128 ladder only divided that by 128 — the r8 giant-cluster probe
# showed a 10^5-member boilerplate cluster still needs ~C/128
# propagation rounds. Rank-doubling is a TRUE O(log C) diameter at any
# cluster size, keeps the unit stride (connectivity/survivorship
# unchanged), and generates identical pairs for occupancy <= 256.
MINHASH_BUCKET_CAP = 32
SIMHASH_BITS = 32

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "nicht"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["的", "是", "了", "在", "和"],
}


def _s(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# Constructed-Column cache: the ONE cache for plan-build Column trees
# (minhash signatures, bucket pairing, scoring, and the parsed SQL of the
# fund jobs' platform and records CASEs, sql_column). Building such a tree
# costs hundreds to thousands of py4j round-trips, paid on EVERY fresh
# DataFrame build (the bench rebuilds per pass; run_all per run; a
# long-lived service per request). Columns are immutable expression trees
# bound to column NAMES, so one constructed tree serves every plan in the
# session. Keyed per SparkContext: a JVM restart in-process would
# otherwise leave stale gateway refs in the cache. An LRU bounds callers
# that build fresh keys per call; the cap sits well above the distinct
# keys one session builds over every registered query plus run_all.
COL_CACHE_MAX = 64

_COL_CACHE: OrderedDict = OrderedDict()
_COL_CACHE_CTX: object | None = None
_COL_CACHE_LOCK = threading.Lock()
_PARSE_LOCK = threading.Lock()


def cached_columns(key: tuple, build):
    """Memoize an immutable constructed Column (or tuple of Columns) for
    the hashable ``key``; ``build`` is a zero-arg constructor run on
    miss. The cache resets whenever the active SparkContext changes.

    Classic (JVM-gateway) PySpark only: the reset key is the active
    SparkContext, which Spark Connect does not populate — under Connect
    the reset never fires, which is harmless there (Connect Columns are
    client-local protos with no gateway refs to go stale) but means this
    cache is *correct* rather than *useful* on that path. run_all builds
    its nine jobs on concurrent driver threads: the lock covers each
    reset / lookup / insert / LRU step, never the (slow, py4j-bound)
    build, so a lost race at worst builds one tree twice."""
    global _COL_CACHE_CTX
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    with _COL_CACHE_LOCK:
        if _COL_CACHE_CTX is not sc:
            _COL_CACHE.clear()
            _COL_CACHE_CTX = sc
        val = _COL_CACHE.get(key)
        if val is not None:
            _COL_CACHE.move_to_end(key)
            return val
    val = build()
    with _COL_CACHE_LOCK:
        # the context may have changed during the unlocked build:
        # never file a tree bound to a stale gateway under the new one
        if _COL_CACHE_CTX is sc:
            _COL_CACHE[key] = val
            while len(_COL_CACHE) > COL_CACHE_MAX:
                _COL_CACHE.popitem(last=False)
    return val


def sql_column(sql: str) -> Column:
    """``F.expr(sql)``, parsed once per context. PySpark 4 keeps an
    ``F.expr`` Column as its SQL text and re-parses it every time a plan
    uses it — about 20 ms for a fund job's 17 KB records CASE on a warm
    JVM, and about 1 s for the first parse in a fresh one — so the
    parsed expression is wrapped as a Column and kept here, keyed by its
    SQL text. Parses run one at a time: in a fresh JVM, run_all's nine
    concurrent builds would each pay the parser's warm-up at once (a cold
    etl_day run took about 0.7 s longer unserialized)."""
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.column import Column as ClassicColumn

    def build():
        spark = SparkSession.active()
        with _PARSE_LOCK:
            expr = spark._jsparkSession.sessionState().sqlParser().parseExpression(sql)
        return ClassicColumn(spark._jvm.org.apache.spark.sql.classic.ExpressionUtils.column(expr))

    return cached_columns(("sql", sql), build)


# Explicit whitespace class pinned on BOTH engines: Java regex \s is
# [ \t\n\x0B\f\r] while DuckDB's RE2 \s is [\t\n\f\r ] (no \x0B), so a
# bare \s+ diverges on vertical-tab (and only there) between the engine
# and its oracle. NBSP/ideographic space are deliberately NOT whitespace
# in either engine.
WS_RE = r"[ \t\r\n\x0B\f]+"


def words(text: Column | str) -> Column:
    """Whitespace tokenization of lowercased text; empty tokens dropped."""
    return F.filter(
        F.split(F.lower(F.trim(_s(text))), WS_RE), lambda w: w != ""
    )


# \s expanded to the pinned class (see WS_RE) so the negated class agrees
# across Java regex and RE2
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\r\n\x0B\f]"


def word_hash(w: Column) -> Column:
    """H(s): first 8 md5 hex chars as integer, mod HASH_P."""
    return F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("bigint") % HASH_P


SHINGLE_C1 = 1_000_003  # word-position multipliers for combined shingle hash
SHINGLE_C2 = 999_983


def word_hashes(ws: Column) -> Column:
    """Per-word H(w) array. MUST be materialized as its own column before
    feeding shingle_hashes — a lambda that closes over a non-trivial
    expression re-evaluates it per element (no CSE inside HOF lambdas)."""
    return F.transform(ws, word_hash)


def _shingle_idx(arr: Column, n: int) -> Column:
    """1..size-(n-1), or EMPTY when the doc has under ``n`` words (or
    NULL text). Spark's ``sequence(1, 0)`` is the DESCENDING ``[1, 0]``
    — unlike DuckDB's empty ``generate_series(1, 0)`` — so the old
    ``greatest(size-2, 0)`` bound made every short doc index element 0
    (INVALID_INDEX_OF_ZERO under ANSI) and every NULL text produce a
    ``[NULL]`` shingle set instead of the oracle's empty one."""
    return F.when(
        F.size(arr) >= F.lit(n),
        F.sequence(F.lit(1), F.size(arr) - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))


def shingle_hashes(wh: Column, n: int = 3) -> Column:
    """Distinct hashes of word n-grams combined from a PRE-HASHED word
    column: H3 = (H(w_i)*C1 + H(w_i+1)*C2 + H(w_i+2)) mod P. md5 runs once
    per WORD (in word_hashes), the combine is pure arithmetic; the DuckDB
    oracle reproduces the values exactly. Under-n-word and NULL texts
    yield the EMPTY set (matching the oracle's generate_series)."""
    idx = _shingle_idx(wh, n)
    combined = F.transform(
        idx,
        lambda i: (
            F.try_element_at(wh, i.cast("int")) * SHINGLE_C1
            + F.try_element_at(wh, (i + 1).cast("int")) * SHINGLE_C2
            + F.try_element_at(wh, (i + 2).cast("int"))
        )
        % HASH_P,
    )
    return F.array_distinct(combined)


def shingles(ws: Column, n: int = 3) -> Column:
    """Distinct word n-grams (the minhash/jaccard unit). Pure expression:
    transform over an index sequence, no explode. Empty for under-n-word
    or NULL texts (see _shingle_idx)."""
    idx = _shingle_idx(ws, n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, (i + k).cast("int")) for k in range(n)]
        ),
    )
    return F.array_distinct(grams)


def minhash_signature_from_hashes(hs: Column, seed: int = 0) -> list[Column]:
    """Same signature, computed from a pre-hashed ``transform(sh,
    word_hash)`` column: the md5 cost is paid once instead of once per
    permutation (16x less hashing in the map stage). ``seed=1`` swaps in
    the independent second permutation set (MINHASH_A2/B2) — the r9
    straggler-recovery pass."""
    ab = (
        zip(MINHASH_A, MINHASH_B) if seed == 0 else zip(MINHASH_A2, MINHASH_B2)
    )
    return [
        F.array_min(
            F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % HASH_P)
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(ab)
    ]


def band_key(sig_cols: list[Column], band: int) -> Column:
    """LSH band key: the band's minhash values joined into one string.

    NULL-propagating on purpose (``F.concat``, not ``concat_ws``): a
    contentless doc (NULL text / under-shingle-length) has an empty
    shingle set, so every minhash is NULL — concat_ws would collapse all
    of those into a shared "" key and clique every parse-failure doc at
    jaccard 1.0-on-empty-sets. With concat, a NULL minhash yields a NULL
    key, and NULL keys never equi-join — contentless docs band into
    nothing, matching the oracle's ``||`` (band_key_sql). This replaces
    the r11 ``mh0.isNotNull()`` row filter, which forced Catalyst to
    re-inline the whole minhash/shingle HOF pipeline into the predicate
    (5x slower at sf0.1)."""
    lo = band * MINHASH_ROWS_PER_BAND
    parts: list[Column] = []
    for i in range(lo, lo + MINHASH_ROWS_PER_BAND):
        if parts:
            parts.append(F.lit("-"))
        parts.append(sig_cols[i].cast("string"))
    return F.concat(*parts)


def simhash(hashes: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over a PRE-HASHED word column (see word_hashes — the 32
    bit-votes each scan the array, so the md5 work must not be inlined):
    bit b is set when more word-hashes have bit b set than unset.
    Per-row expression (no shuffle)."""

    def bit_vote(b: int) -> Column:
        ones = F.size(
            F.filter(hashes, lambda h: h.bitwiseAND(F.lit(1 << b)) != 0)
        )
        return F.when(ones * 2 > F.size(hashes), F.lit(1 << b)).otherwise(F.lit(0))

    out = F.lit(0).cast("bigint")
    for b in range(bits):
        out = out + bit_vote(b)
    return out


def poly_fingerprint(ws: Column) -> Column:
    """Position-weighted polynomial fingerprint:
    sum_i ((i+1) * H(w_i)) mod P — an order-sensitive document hash that
    the oracle reproduces exactly. A zero-word doc fingerprints to 0
    like the oracle's COALESCE(list_sum(empty), 0) — the bare
    ``sequence(1, 0)`` would be the descending [1, 0] and index element
    0 (the _shingle_idx trap; r11 review class)."""
    idx = F.when(
        F.size(ws) >= 1, F.sequence(F.lit(1), F.size(ws))
    ).otherwise(F.array().cast("array<int>"))
    terms = F.transform(
        idx, lambda i: (i.cast("bigint") * word_hash(F.element_at(ws, i.cast("int")))) % HASH_P
    )
    return F.coalesce(
        F.aggregate(terms, F.lit(0).cast("bigint"), lambda acc, t: (acc + t) % HASH_P),
        F.lit(0).cast("bigint"),
    )


def normalized_md5(text: Column | str) -> Column:
    """Exact-dedup key: md5 of lowercased, whitespace-collapsed text
    (whitespace class pinned — see WS_RE)."""
    norm = F.regexp_replace(F.lower(F.trim(_s(text))), WS_RE, " ")
    return F.md5(norm)


def stopword_ratio(ws: Column, lang: str) -> Column:
    hits = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS[lang])))
    return F.when(F.size(ws) > 0, hits / F.size(ws)).otherwise(F.lit(0.0))
