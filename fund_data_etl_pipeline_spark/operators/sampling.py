"""Deterministic sampling / dataset-split operators (engine extension:
the split stage of a large-scale training-data pipeline).

The split and sampling operators key on ``H(salt || id)`` — the
cross-engine md5 hash from functions/text.py — so assignment is

- deterministic: re-running the pipeline (or re-reading a partition after
  failure) assigns every row identically; no RNG state, no seed plumbing
- stable under growth: adding documents never reassigns existing ones
  (each row's bucket depends only on its own id), unlike fraction-based
  ``df.sample``/``randomSplit`` whose membership shifts with partitioning
- map-only: a pure per-row expression, no shuffle, trivially 100 TB-safe

The salt separates independent splits (e.g. a train/val/test split and a
10% eval sample must not correlate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import word_hash

SPLIT_BUCKETS = 10_000  # 0.01% assignment granularity


def split_bucket(id_col: Column, salt: str) -> Column:
    """The row's deterministic bucket in [0, SPLIT_BUCKETS)."""
    return word_hash(F.concat(F.lit(salt), id_col.cast("string"))) % SPLIT_BUCKETS


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "split-v1",
    weights: tuple[tuple[str, float], ...] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
) -> DataFrame:
    """Assign every row to a named split by hash bucket: cumulative weight
    thresholds over ``split_bucket``. Appends ``bucket`` and ``split``."""
    bucket = split_bucket(F.col(id_col), salt)
    out = df.withColumn("bucket", bucket)
    expr = None
    acc = 0.0
    for name, w in weights:
        acc += w
        cond = F.col("bucket") < int(round(acc * SPLIT_BUCKETS))
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    # rows past the last threshold (weights summing < 1) fall in the last
    # split, keeping the assignment total
    return out.withColumn("split", expr.otherwise(F.lit(weights[-1][0])))


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    strat_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "strat-v1",
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-rebalancing op of a
    multilingual pretraining pipeline (downsample the dominant language,
    keep the rare ones whole). Each stratum gets its own keep rate; the
    keep decision is the same salted hash bucket as ``hash_split``, so it
    is map-only, reproducible, and stable under corpus growth. Strata not
    named in ``rates`` keep ``default_rate``."""
    threshold = F.lit(int(round(default_rate * SPLIT_BUCKETS)))
    for name, rate in rates.items():
        threshold = F.when(
            F.col(strat_col) == name, F.lit(int(round(rate * SPLIT_BUCKETS)))
        ).otherwise(threshold)
    return df.filter(split_bucket(F.col(id_col), salt) < threshold)


PACK_CAPACITY = 256  # tokens per training sequence
PACK_SHARDS = 8


def pack_sequences(
    df: DataFrame,
    token_count: Column,
    capacity: int = PACK_CAPACITY,
    shards: int = PACK_SHARDS,
    id_col: str = "doc_id",
    salt: str = "pack-v1",
) -> DataFrame:
    """Concat-and-chunk sequence packing — assign every document its
    position in the fixed-length training-sequence stream (the standard
    LLM pretraining assembly: concatenate documents, split every
    ``capacity`` tokens). Documents are first sharded by the deterministic
    hash bucket, then packed in doc_id order within each shard: a
    document's sequence bin is ``floor(start_offset / capacity)`` where
    ``start_offset`` is the running token total before it.

    Scale shape: the only shuffle is the repartition-by-shard for the
    running-total window; shards pack independently and in parallel, so
    at 100 TB ``shards`` scales with the cluster while each shard's
    window stays a single linear pass. Global pack order is deterministic
    per shard — exactly the guarantee a resumable data loader needs."""
    w = (
        Window.partitionBy("pack_shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_counts = df.select(
        F.col(id_col),
        (split_bucket(F.col(id_col), salt) % shards).alias("pack_shard"),
        token_count.cast("bigint").alias("n_tokens"),
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("__start")
    return with_counts.select(id_col, "pack_shard", "n_tokens", start).select(
        id_col,
        "pack_shard",
        "n_tokens",
        # integer `div`, NOT floor(double /): the running offset is a
        # BIGINT, and the double promotion loses exactness past ~2^52 —
        # a boundary offset could round into the next bin while the
        # oracle's `//` stays integral (r11 review)
        F.expr(f"__start div {int(capacity)}").alias("seq_bin"),
        (F.col("__start") % capacity).alias("pack_offset"),
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
    salt: str = "epoch-v1",
) -> DataFrame:
    """Deterministic training-order shuffle: every row gets a shard and a
    position within that shard for the given ``epoch`` — the materialized
    read order a data loader consumes. The permutation is a pure function
    of (corpus, epoch): re-running the job, resuming mid-epoch, or
    recomputing a lost partition yields the identical order, and each
    epoch's salt produces an independent permutation — the properties a
    reproducible pretraining run needs and ``orderBy(rand(seed))`` lacks
    (rand is partitioning-dependent).

    Scale shape: the hash key is map-only; the only shuffle is the
    partition-by-shard for the per-shard rank window. Materializing a
    total order requires sorting by construction — sharding bounds each
    sort to corpus/``n_shards`` and the shards write out in parallel, so
    ``n_shards`` scales with the cluster (8 here to keep the smoke plans
    readable). Ties on the hash key break by id, so order is total."""
    key = word_hash(
        F.concat(F.lit(f"{salt}-{epoch}:"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return (
        df.select(F.col(id_col), key.alias("shuffle_key"))
        .withColumn("shard", F.col("shuffle_key") % n_shards)
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos")
    )


CHUNK_WORDS = 64
CHUNK_STRIDE = 48


def chunk_documents(
    df: DataFrame,
    words_col: Column,
    chunk_words: int = CHUNK_WORDS,
    stride: int = CHUNK_STRIDE,
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping fixed-size chunking — the context-window assembly step
    of RAG indexing / long-document training prep: each document's word
    sequence becomes windows of ``chunk_words`` words advancing by
    ``stride`` (overlap = chunk_words - stride), with the chunk's text
    hash carried for downstream chunk-level dedup.

    Chunk starts are 0, stride, 2*stride, ..., through the last start
    < n_words (the tail window truncates); zero-word documents emit no
    chunks. Map-only: one explode of a computed ``sequence`` per row, no
    shuffle at all — the 100 TB cost is exactly one corpus scan, and the
    output inherits the input's partitioning for the downstream write."""
    # words_col is typically a split+filter HOF, which Catalyst does not
    # CSE — materialize __w once and derive __n from the column, instead
    # of tokenizing every document twice (r11 review)
    base = (
        df.select(F.col(id_col), words_col.alias("__w"))
        .select(id_col, "__w", F.size(F.col("__w")).alias("__n"))
        .filter(F.col("__n") > 0)
    )
    starts = F.sequence(
        F.lit(0),
        ((F.col("__n") - 1) - ((F.col("__n") - 1) % stride)).cast("int"),
        F.lit(stride),
    )
    chunk = F.slice(F.col("__w"), F.col("chunk_start") + 1, chunk_words)
    return (
        base.select(
            F.col(id_col), "__w", F.explode(starts).alias("chunk_start")
        )
        .select(
            F.col(id_col),
            (F.col("chunk_start") / stride).cast("bigint").alias("chunk_idx"),
            F.col("chunk_start").cast("bigint").alias("chunk_start"),
            F.size(chunk).cast("bigint").alias("chunk_len"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
        )
    )


def group_capped_sample(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str = "doc_id",
    salt: str = "cap-v1",
) -> DataFrame:
    """Deterministic per-group cap (the Common-Crawl per-host/per-source
    rule): keep at most ``cap`` rows per group, chosen by hash order — a
    reproducible reservoir, not an RNG one. Appends ``slot`` (1-based
    rank within the group's hash order).

    Scale shape: one exchange on the group key, then a group-local rank
    window ordered by (hash bucket, id) — the hash order decorrelates
    survivorship from any value ordering, and the id tie-break makes the
    cut a total order. An EXACT cap needs the rank; when an approximate
    per-group rate suffices, ``stratified_sample``'s map-only bucket
    test is the shuffle-free alternative.
    """
    w = Window.partitionBy(group_col).orderBy(
        split_bucket(F.col(id_col), salt), F.col(id_col)
    )
    return df.withColumn("slot", F.row_number().over(w)).filter(
        F.col("slot") <= cap
    )
