"""Scale-linearity probe (round-3 VERDICT next-step #6).

The "survives 100x" claim should not rest on plan shape alone — this tool
MEASURES scaling: it replicates the sf0.1 ``documents`` and ``events``
tables 10x into a local staging dir (other tables symlinked), runs a
documents/events-bound subset of the bench headline at both scales with
the bench.py protocol (cold build+exec uncounted, clearCache, best-of-2
fresh rebuild+exec timed), and prints per-query times plus the 10x/1x
ratio. Near-linear ratios (~10 on a fixed-size executor pool, minus
fixed-overhead amortization) are the pass signal; the VM is host-multi-
tenant (2-3x run-to-run swing), so judge ratios from the best-of-2 and
re-run before believing a regression.

Replication remaps ids so the scaled corpus is a plausible 10x world,
not 10 aliases of one world: doc_id/event_id/user_id become id*10+rep
(10x more users with the same per-user distribution, 10x more docs).
Document text gets a per-replica suffix token so content-hash dedup
stages see distinct documents rather than a degenerate
everything-is-a-dup corpus.

Probe queries are the headline's documents/events consumers with
intrinsically linear work (scan, map-side signals, hash-agg, window);
pair-finding dedup is excluded — its output size is a property of the
corpus's duplicate structure, not of engine scaling.

Usage: python tools/scale_probe.py [--factors 10,100] [--queries a,b]
       [--passes 2] [--sf /root/testdata/sf0.1]

With multiple factors the tool times every requested query at 1x and at
each factor and fits the empirical cost exponent (least-squares slope on
log-log): two decades (1x/10x/100x) bound the exponent far better than
one (round-4 VERDICT #4).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

PROBE_QUERIES = [
    "text_quality",
    "text_token_count",
    "text_c4_filters",
    "corpus_curation",
    "dedup_exact",
    "source_mixture_weights",
    "events_session_window",
    "event_value_stats",
    "event_value_stats_approx",
    "top_users_per_event",
    "user_retention_cohorts",
    "events_funnel",
    # round-4 change-feed maintenance + robust stats: agg/window-on-key
    # shapes whose work is linear in the feed
    "cdc_latest_snapshot",
    "scd2_intervals",
    "event_value_winsorized",
    # round-4b: scoring + anomaly shapes (scan + broadcast-stats +
    # per-row arithmetic; one rows-bounded window on user_id)
    "bm25_topk",
    "events_anomaly_zscore",
    # round-4c: adaptive-K semantic dedup (K tracks N, so the pairing
    # stage must scale ~linearly, NOT quadratically) and iterative
    # PageRank (per-round work linear in the 10x edge list)
    "dedup_semantic",
    "dedup_semantic_lsh",
    # r7: minhash joined the probe set after its first two-decade run
    # measured exponent ~1.0 (duplicate-cluster pairing + shingle-array
    # payload through the band join); re-measured 0.79 after the ID-only
    # + bucket-cap restructure
    "dedup_minhash_lsh",
    "graph_pagerank",
    # round-5: both ANN paths (embeddings are staged with per-replica
    # nudged vectors, so the scaled corpus is NxF distinct near-neighbors)
    # — the bucketed/probed candidate generation is exactly the machinery
    # whose scaling the 100 TB story rests on
    "vector_ann_lsh",
    "vector_ann_ivf",
]

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))



# staged replicas are written from a 32-way split of the base table so
# every decade's read-back has >= one split per local core: the explode
# multiplies rows WITHIN each partition, so the output keeps 32 files.
# Before r11 the base's single input file produced single-file staged
# parquet whose lone row group serialized scan-stage work (signature
# builds, shingle hashing) into ONE task — distorting the per-decade
# fits that feed BASELINE §3 (found during the 1000x runs: a 12-idle-
# 1-straggler task profile on every scan stage).
_STAGE_PARTS = 32


def _spread(df):
    return df.repartition(_STAGE_PARTS)

def build_scaled_dir(
    spark, sf_dir: str, factor: int, only: set[str] | None = None
) -> str:
    """Stage the uniform ``factor``x replica dir. ``only`` restricts
    which of the four big tables are materialized (the rest symlink the
    base) — the 1000x probes (VERDICT r10 #3) touch one table each, and
    a FULL 1000x staging would write ~60 GB of events/lineitem the
    probe never reads. Subset dirs get their own suffix so they never
    shadow a full staging."""
    from fund_data_etl_pipeline_spark.sources.tables import TABLE_NAMES, load_table

    suffix = "_" + "-".join(sorted(only)) if only else ""
    out_dir = os.path.join(REPO, f".scale_probe_x{factor}{suffix}")
    marker = os.path.join(out_dir, ".complete")
    # fingerprint the SOURCE tables: the driver regenerates /root/testdata
    # between rounds, and a stale staged replica would silently compare
    # old scaled data against new base data (the round-2 schema-drift
    # lesson applied to this cache)
    fp_parts = []
    for name in sorted(os.listdir(sf_dir)):
        p = os.path.join(sf_dir, name)
        st = os.stat(p)
        # nanosecond mtime: whole-second truncation could serve a stale
        # replica if the driver regenerated same-sized testdata within
        # the same second (ADVICE r4)
        fp_parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    # v2: embeddings nudge became factor-safe (distinct replicas past
    # rep 64) — restage anything built with the alias-prone formula
    fingerprint = "|".join(fp_parts) + ":v3"

    def _wanted(name: str) -> bool:
        return only is None or name in only
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == fingerprint:
                return out_dir
        import shutil

        shutil.rmtree(out_dir)  # stale: source tables changed
    os.makedirs(out_dir, exist_ok=True)

    rep = F.explode(F.array(*[F.lit(i) for i in range(factor)])).alias("rep")

    if _wanted("documents"):
        docs = _spread(load_table(spark, sf_dir, "documents"))
        (
            docs.select("*", rep)
            .select(
                (F.col("doc_id") * factor + F.col("rep")).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zrep"), F.col("rep")).alias("text"),
                "lang",
                "source",
                (F.col("n_chars") + F.lit(6)).alias("n_chars"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "documents.parquet"))
        )

    if _wanted("events"):
        events = _spread(load_table(spark, sf_dir, "events"))
        (
            events.select("*", rep)
            .select(
                (F.col("event_id") * factor + F.col("rep")).alias("event_id"),
                "ts",
                (F.col("user_id") * factor + F.col("rep")).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "events.parquet"))
        )

    # embeddings: Nx vectors, each replica nudged on dimension
    # ``rep % 64`` by a rep-dependent amount so the scaled corpus is Nx
    # DISTINCT near-neighbors at any factor, not aliases (the pre-v2
    # formula nudged dimension ``rep`` — a no-op past rep 63, which at
    # 1000x would make 94% of the corpus exact duplicates). For
    # rep < 64 the v2 formula reduces to the original 0.05-on-dim-rep.
    if _wanted("embeddings"):
        emb = _spread(load_table(spark, sf_dir, "embeddings"))
        nudge_dim = F.pmod(F.col("rep"), F.lit(64))
        nudge_val = F.lit(0.05) * (
            F.lit(1.0) + F.floor(F.col("rep") / F.lit(64)).cast("double")
        )
        (
            emb.select("*", rep)
            .select(
                (F.col("vec_id") * factor + F.col("rep")).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, i: F.when(i == nudge_dim, x + nudge_val)
                    .otherwise(x)
                    .cast("float"),
                ).alias("embedding"),
                "label",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "embeddings.parquet"))
        )

    # lineitem: 10x rows with part/supp keys remapped per replica — the
    # co-purchase graph becomes 10 disjoint copies (10x nodes AND edges)
    if _wanted("lineitem"):
        li = _spread(load_table(spark, sf_dir, "lineitem"))
        (
            li.select("*", rep)
            .select(
                "l_orderkey",
                (F.col("l_partkey") * factor + F.col("rep")).alias("l_partkey"),
                (F.col("l_suppkey") * factor + F.col("rep")).alias("l_suppkey"),
                "l_linenumber",
                "l_quantity",
                "l_extendedprice",
                "l_discount",
                "l_tax",
                "l_returnflag",
                "l_linestatus",
                "l_shipdate",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "lineitem.parquet"))
        )

    materialized = {
        n
        for n in ("documents", "events", "embeddings", "lineitem")
        if _wanted(n)
    }
    for name in TABLE_NAMES:
        if name in materialized:
            continue
        link = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(sf_dir, f"{name}.parquet"), link)
    with open(marker, "w") as fh:
        fh.write(fingerprint)
    return out_dir


def build_skewed_dir(
    spark,
    sf_dir: str,
    factor: int,
    frac: float,
    n_centroids: int = 4,
    include_query_ids: int = 0,
) -> str:
    """Stage a CLUSTERED embeddings corpus (VERDICT r6 next-step #3): a
    ``frac`` fraction of the scaled vectors become tiny deterministic
    nudges of ``n_centroids`` shared centroids, so RHP signatures
    collapse and bucket occupancy concentrates far above the uniform
    expectation — the documented-but-unmeasured slsh skew risk
    (plans/dedup.py module comment). Only ``embeddings`` is rewritten;
    every other table symlinks the base dir (the skew probe runs
    embedding-bound queries only).

    The skew-vs-linear crossover is analytic: within-cluster pairing
    overtakes the linear ~N*OCC/2 term once N > C*OCC/frac^2 — at
    frac=1% that is 640k vectors (beyond this probe's 100x=200k corpus,
    so 1% stays linear-dominated HERE), at frac=5% it is 25.6k (well
    inside), which is why the BASELINE.md row stresses 5%.

    ``include_query_ids`` > 0 additionally forces vec_id <
    include_query_ids into the clustered family — clustered-QUERY skew
    (VERDICT r9 #6): the registered ANN queries draw their query set
    from the lowest vec_ids, so this stages every query vector inside a
    hot bucket shared by ~frac*N corpus vectors, the worst-case
    candidate fan-out on the query side."""
    from fund_data_etl_pipeline_spark.sources.tables import TABLE_NAMES, load_table

    tag = str(frac).replace(".", "p")
    qtag = f"q{include_query_ids}_" if include_query_ids else ""
    out_dir = os.path.join(REPO, f".scale_probe_skew{qtag}{tag}_x{factor}")
    marker = os.path.join(out_dir, ".complete")
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    fingerprint = (
        f"emb:{st.st_size}:{st.st_mtime_ns}:c{n_centroids}:q{include_query_ids}:v3"
    )
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == fingerprint:
                return out_dir
        import shutil

        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [
        r["embedding"]
        for r in emb.orderBy("vec_id").limit(n_centroids).collect()
    ]
    emb = _spread(emb)
    rep = F.explode(F.array(*[F.lit(i) for i in range(factor)])).alias("rep")
    new_id = (F.col("vec_id") * factor + F.col("rep")).alias("vec_id")
    # deterministic membership + centroid pick (RNG-free, id-keyed)
    skewed = F.pmod(F.xxhash64(new_id), F.lit(1_000_000)) < int(
        frac * 1_000_000
    )
    if include_query_ids:
        skewed = skewed | (new_id < include_query_ids)
    cpick = F.pmod(F.xxhash64(new_id + F.lit(131)), F.lit(n_centroids))
    cvec = None
    for ci in range(n_centroids):
        lit = F.array(*[F.lit(float(x)) for x in cents[ci]])
        cvec = lit if cvec is None else F.when(cpick == ci, lit).otherwise(cvec)
    # nudge ONE dimension by ~1e-4 so cluster members are distinct
    # vectors but (a) stay near-dups under any cosine threshold and
    # (b) almost never flip an RHP sign — worst-case concentration
    nudge_dim = F.pmod(new_id, F.lit(64))
    nudge_val = (
        (F.pmod(new_id, F.lit(97)) + F.lit(1.0)) / F.lit(970000.0)
    )
    clustered = F.transform(
        cvec,
        lambda x, i: F.when(i == nudge_dim, x + nudge_val)
        .otherwise(x)
        .cast("float"),
    )
    uniform = F.transform(
        "embedding",
        lambda x, i: F.when(i == F.col("rep"), x + F.lit(0.05))
        .otherwise(x)
        .cast("float"),
    )
    (
        emb.select("*", rep)
        .select(
            new_id,
            F.when(skewed, clustered).otherwise(uniform).alias("embedding"),
            "label",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "embeddings.parquet"))
    )
    for name in TABLE_NAMES:
        if name == "embeddings":
            continue
        link = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(sf_dir, f"{name}.parquet"), link)
    with open(marker, "w") as fh:
        fh.write(fingerprint)
    return out_dir


# Clustered twin-family staging (VERDICT r7 next-steps #2/#5): documents
# AND embeddings rewritten so near-dup FAMILIES share oversized LSH
# buckets — the staged corpus the pair-cap recall measurement needs.
#
# 8 families in 4 twin PAIRS, same id->family rule for docs and
# embeddings (so dedup_hybrid composes meaningfully):
#   pairs 0,1 — CROSS-DUP regime: the twins are near-dups of each other
#     (text jaccard ~0.81 > 0.8; embedding cosine 0.45 > the 0.30
#     threshold), so capped pairing genuinely forgoes TRUE cross-family
#     pairs inside the mixed bucket;
#   pairs 2,3 — CROSS-NON-DUP regime: twins share the bucket (identical
#     RHP signatures / colliding minhash bands through shared
#     boilerplate) but verify below threshold (jaccard ~0.66, cosine 0),
#     so forgone cross pairs are false candidates and only WITHIN-family
#     recall is at stake.
#
# Embedding twins share buckets BY CONSTRUCTION: both twins are
# c +- s*w with w in the null space of all 60 potentially-used
# hyperplanes (4 tables x 15 prefix bits) and w ⊥ c, so their
# projections on every used plane are IDENTICAL (same signature in
# every table at any adaptive width <= 15) while cos(A,B) =
# (1-s^2)/(1+s^2) is set exactly by s. Per-member nudges are 1e-4 on
# one dimension — far below the centroid's minimum plane margin
# (asserted at staging time), so members never leave the bucket.
_CLUSTER_FAM = 8  # 4 twin pairs
_CLUSTER_MEMBER_RULE = "pmod(xxhash64({id}), 1000000)"
_CLUSTER_FAM_RULE = f"pmod(xxhash64({{id}} + 37), {_CLUSTER_FAM})"


def _cluster_flags(id_col: str, frac: float):
    member = F.expr(_CLUSTER_MEMBER_RULE.format(id=id_col)) < int(
        frac * 1_000_000
    )
    fam = F.expr(_CLUSTER_FAM_RULE.format(id=id_col))
    return member, fam


def _family_texts() -> list[str]:
    """16 deterministic family texts in twin pairs (returned list index
    = family id). Pair j shares ``boiler`` words; pairs 0,1 keep only
    10 private words (cross jaccard ~0.81 — true near-dups), pairs 2,3
    keep 20 (cross ~0.66 — below the 0.8 threshold)."""
    texts = []
    for j in range(_CLUSTER_FAM // 2):
        n_priv = 10 if j < 2 else 20
        boiler = " ".join(f"p{j}b{w}" for w in range(100 - n_priv))
        for a in range(2):
            priv = " ".join(f"p{j}f{a}p{w}" for w in range(n_priv))
            texts.append(f"{boiler} {priv}")
    return texts


def _twin_centroids(spark, sf_dir: str) -> list[list[float]]:
    """Driver-side numpy construction of the 8 family centroids (twin
    pairs c +- s*w). Deterministic: base vectors come from the corpus in
    vec_id order, hyperplanes from rhp_sign_vector."""
    import numpy as np

    from fund_data_etl_pipeline_spark.operators.similarity import (
        rhp_sign_vector,
    )
    from fund_data_etl_pipeline_spark.plans.dedup import (
        _SLSH_P_MAX,
        _SLSH_TABLES,
    )
    from fund_data_etl_pipeline_spark.sources.tables import load_table

    used = [
        t * _SLSH_P_MAX + p
        for t in range(_SLSH_TABLES)
        for p in range(_SLSH_P_MAX - 1)  # adaptive width <= 15 bits
    ]
    H = np.array([rhp_sign_vector(i, 64) for i in used], dtype=float)
    # 4-dim null space of the 60 used planes
    _, _, vt = np.linalg.svd(H)
    null = vt[len(used):]  # (4, 64)
    assert null.shape[0] >= 2, "need a non-trivial hyperplane null space"

    cands = [
        np.array(r["embedding"], dtype=float)
        for r in load_table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(200)
        .collect()
    ]
    # pick the 4 base centroids with the LARGEST minimum plane margin so
    # 1e-4 member nudges can never flip a used sign bit
    def margin(c):
        c = c / np.linalg.norm(c)
        return float(np.min(np.abs(H @ c)))

    cands.sort(key=margin, reverse=True)
    cents = []
    for j in range(_CLUSTER_FAM // 2):
        c = cands[j] / np.linalg.norm(cands[j])
        assert margin(cands[j]) > 0.01, "centroid margin too small"
        # w in span(null), w ⊥ c, unit norm
        cn = null @ c  # (4,)
        q = np.zeros(null.shape[0])
        q[0] = 1.0
        q = q - (q @ cn) * cn / max(float(cn @ cn), 1e-12)
        w = q @ null
        w /= np.linalg.norm(w)
        assert float(np.max(np.abs(H @ w))) < 1e-9, "w not in null space"
        assert abs(float(w @ c)) < 1e-9, "w not orthogonal to c"
        # cross-twin cosine = (1 - s^2)/(1 + s^2): 0.45 for the
        # cross-dup pairs, 0.0 for the cross-non-dup pairs
        s = float(np.sqrt((1 - 0.45) / (1 + 0.45))) if j < 2 else 1.0
        cents.append((c + s * w).tolist())
        cents.append((c - s * w).tolist())
    return cents


def build_clustered_dir(spark, sf_dir: str, factor: int, frac: float) -> str:
    """Stage the twin-family clustered corpus: ``frac`` of the scaled
    ids become family members in BOTH documents and embeddings (same
    id -> family rule), the rest get the uniform replica treatment."""
    from fund_data_etl_pipeline_spark.sources.tables import TABLE_NAMES, load_table

    tag = str(frac).replace(".", "p")
    out_dir = os.path.join(REPO, f".scale_probe_mixed{tag}_x{factor}")
    marker = os.path.join(out_dir, ".complete")
    fp_parts = []
    for name in ("documents.parquet", "embeddings.parquet"):
        st = os.stat(os.path.join(sf_dir, name))
        fp_parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    fingerprint = "|".join(fp_parts) + f":f{_CLUSTER_FAM}:v3"
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == fingerprint:
                return out_dir
        import shutil

        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)

    rep = F.explode(F.array(*[F.lit(i) for i in range(factor)])).alias("rep")

    # --- documents ---
    docs = _spread(load_table(spark, sf_dir, "documents"))
    new_doc = (F.col("doc_id") * factor + F.col("rep")).alias("doc_id")
    member, fam = _cluster_flags("doc_id", frac)
    fam_texts = _family_texts()
    fam_text = F.element_at(
        F.array(*[F.lit(t) for t in fam_texts]), (fam + 1).cast("int")
    )
    member_text = F.concat(
        fam_text,
        F.lit(" m"),
        F.col("doc_id").cast("string"),
        F.lit("x m"),
        F.col("doc_id").cast("string"),
        F.lit("y"),
    )
    uniform_text = F.concat(F.col("text"), F.lit(" zrep"), F.col("rep"))
    (
        docs.select("*", rep)
        .select(new_doc, "text", "lang", "source", "n_chars", "rep")
        .select(
            "doc_id",
            F.when(member, member_text).otherwise(uniform_text).alias("text"),
            "lang",
            "source",
            F.col("n_chars").alias("n_chars_old"),
        )
        .select(
            "doc_id", "text", "lang", "source",
            F.length("text").cast("long").alias("n_chars"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )

    # --- embeddings ---
    emb = _spread(load_table(spark, sf_dir, "embeddings"))
    cents = _twin_centroids(spark, sf_dir)
    new_vec = (F.col("vec_id") * factor + F.col("rep")).alias("vec_id")
    memberv, famv = _cluster_flags("vec_id", frac)
    cvec = None
    for k, cv in enumerate(cents):
        lit = F.array(*[F.lit(float(x)) for x in cv])
        cvec = lit if cvec is None else F.when(famv == k, lit).otherwise(cvec)
    nudge_dim = F.pmod(F.col("vec_id"), F.lit(64))
    nudge_val = (F.pmod(F.col("vec_id"), F.lit(97)) + F.lit(1.0)) / F.lit(
        970000.0
    )
    clustered = F.transform(
        cvec,
        lambda x, i: F.when(i == nudge_dim, x + nudge_val)
        .otherwise(x)
        .cast("float"),
    )
    uniform = F.transform(
        "embedding",
        lambda x, i: F.when(i == F.col("rep"), x + F.lit(0.05))
        .otherwise(x)
        .cast("float"),
    )
    (
        emb.select("*", rep)
        .select(new_vec, "embedding", "label", "rep")
        .select(
            "vec_id",
            F.when(memberv, clustered).otherwise(uniform).alias("embedding"),
            "label",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "embeddings.parquet"))
    )

    for name in TABLE_NAMES:
        if name in ("documents", "embeddings"):
            continue
        link = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(sf_dir, f"{name}.parquet"), link)
    with open(marker, "w") as fh:
        fh.write(fingerprint)
    return out_dir


def ngram_hot_drop_report(spark, sf_dir: str, cap: int) -> dict:
    """No-silent-truncation accounting for the hot-shingle cap (VERDICT
    r7 #5): how many distinct shingles and how many index postings the
    DF cap drops on this corpus."""
    from fund_data_etl_pipeline_spark.operators.dedup import (
        shingle_hash_prepped,
    )
    from fund_data_etl_pipeline_spark.sources.tables import load_table

    # repartition (the staged parquet lands in ~5 file-chunks — without
    # this the hashing runs on 5 cores with a straggler) AND persist
    # before the explode: the ngram QUERY does the same (note 6) — HOF
    # pipelines feeding a Generate must be materialized or the hashing
    # chain re-evaluates pathologically
    sets = shingle_hash_prepped(
        load_table(spark, sf_dir, "documents").repartition(32),
        "text", "doc_id", hs_col="sh",
    ).persist()
    inv = sets.select("doc_id", F.explode("sh").alias("s"))
    dfreq = inv.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    row = dfreq.agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("df").alias("n_postings"),
        F.sum(F.when(F.col("df") > cap, 1).otherwise(0)).alias("hot_shingles"),
        F.sum(F.when(F.col("df") > cap, F.col("df")).otherwise(0)).alias(
            "hot_postings"
        ),
    ).collect()[0]
    sets.unpersist()
    return {
        "n_shingles": int(row["n_shingles"]),
        "n_postings": int(row["n_postings"]),
        "hot_shingles_dropped": int(row["hot_shingles"]),
        "hot_postings_dropped": int(row["hot_postings"]),
    }


def slsh_occupancy(spark, sf_dir: str) -> dict:
    """Bucket-occupancy diagnostic at the adaptive slsh width: max /
    p99 / mean rows per (table, bucket) — the number the skew probe
    records next to the exponent (uniform expectation is ~_SLSH_OCC)."""
    from fund_data_etl_pipeline_spark.operators.similarity import (
        as_double,
        rhp_bucket,
    )
    from fund_data_etl_pipeline_spark.plans.dedup import (
        _SLSH_P_MAX,
        _SLSH_TABLES,
        slsh_planes,
    )
    from fund_data_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    n = emb.count()
    p = slsh_planes(n)
    sig = emb.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        rhp_bucket(
                            "v", p, 64, offset=t * _SLSH_P_MAX
                        ).alias("bucket"),
                    )
                    for t in range(_SLSH_TABLES)
                ]
            )
        ).alias("tb")
    )
    occ = sig.groupBy("tb.tbl", "tb.bucket").count()
    row = occ.agg(
        F.max("count").alias("mx"),
        F.expr("percentile(count, 0.99)").alias("p99"),
        F.avg("count").alias("mean"),
    ).collect()[0]
    return {
        "n": n,
        "planes": p,
        "max_occ": int(row["mx"]),
        "p99_occ": round(float(row["p99"]), 1),
        "mean_occ": round(float(row["mean"]), 2),
    }


def ann_occupancy(spark, sf_dir: str) -> dict:
    """Bucket-occupancy diagnostic at the REGISTERED ANN-LSH params
    (plans/vectors: 4 tables x 4 planes): max / p99 / mean rows per
    (tbl, bucket), plus the query-side candidate fan-out — the sum of
    bucket occupancies over the registered query set's buckets (what
    the per-query candidate join actually pays). The query-skew probe
    (VERDICT r9 #6) records this next to the exponent."""
    from fund_data_etl_pipeline_spark.operators.similarity import (
        as_double,
        rhp_bucket,
    )
    from fund_data_etl_pipeline_spark.plans.vectors import (
        _LSH_DIMS,
        _LSH_PLANES,
        _LSH_TABLES,
        _N_QUERIES,
    )
    from fund_data_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    sig = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        rhp_bucket(
                            "v", _LSH_PLANES, _LSH_DIMS,
                            offset=t * _LSH_PLANES,
                        ).alias("bucket"),
                    )
                    for t in range(_LSH_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    sig = sig.persist()
    try:
        occ = sig.groupBy("tbl", "bucket").count()
        row = occ.agg(
            F.max("count").alias("mx"),
            F.expr("percentile(count, 0.99)").alias("p99"),
            F.avg("count").alias("mean"),
        ).collect()[0]
        qfan = (
            sig.filter(F.col("vec_id") < _N_QUERIES)
            .join(occ, ["tbl", "bucket"])
            .groupBy("vec_id")
            .agg(F.sum("count").alias("fan"))
            .agg(F.max("fan"), F.avg("fan"))
            .collect()[0]
        )
    finally:
        sig.unpersist()
    return {
        "n": emb.count(),
        "max_occ": int(row["mx"]),
        "p99_occ": round(float(row["p99"]), 1),
        "mean_occ": round(float(row["mean"]), 2),
        "query_max_fan": int(qfan[0]),
        "query_mean_fan": round(float(qfan[1]), 1),
    }


def minhash_occupancy(spark, sf_dir: str) -> dict:
    """(band, key) bucket-occupancy diagnostic — the minhash twin of
    slsh_occupancy, plus the count of buckets past the pair cap."""
    from fund_data_etl_pipeline_spark.functions.text import (
        MINHASH_A,
        MINHASH_BANDS,
        MINHASH_BUCKET_CAP,
        band_key,
        minhash_signature_from_hashes,
    )
    from fund_data_etl_pipeline_spark.operators.dedup import (
        shingle_hash_prepped,
    )
    from fund_data_etl_pipeline_spark.sources.tables import load_table

    # persist: 16 signature expressions each reference hs — without the
    # materialization Catalyst's projection collapse re-inlines the full
    # words->hashes HOF pipeline into EVERY one (BASELINE note 6; this
    # diagnostic ran 16x the operator's cost before the persist)
    prepped = shingle_hash_prepped(
        load_table(spark, sf_dir, "documents"), "text", "doc_id"
    ).persist()
    sig = prepped.select(
        "doc_id", *minhash_signature_from_hashes(F.col("hs"))
    )
    sig_cols = [F.col(f"mh{i}") for i in range(len(MINHASH_A))]
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_key(sig_cols, b).alias("key"))
            for b in range(MINHASH_BANDS)
        ]
    )
    occ = (
        sig.select(F.explode(bands).alias("bk"))
        .groupBy("bk.band", "bk.key")
        .count()
    )
    row = occ.agg(
        F.max("count").alias("mx"),
        F.expr("percentile(count, 0.99)").alias("p99"),
        F.avg("count").alias("mean"),
        F.sum(
            F.when(F.col("count") > MINHASH_BUCKET_CAP, 1).otherwise(0)
        ).alias("over"),
    ).collect()[0]
    prepped.unpersist()
    return {
        "max_occ": int(row["mx"]),
        "p99_occ": round(float(row["p99"]), 1),
        "mean_occ": round(float(row["mean"]), 2),
        "buckets_over_cap": int(row["over"]),
    }


def timed_suite(
    spark,
    qs,
    sf_dir: str,
    queries: list[str],
    passes: int = 2,
    symlinked: set[str] | None = None,
) -> dict[str, float]:
    """``symlinked``: table names the staged dir did NOT materialize
    (--only mode leaves them as factor-1 symlinks to the base). A query
    that reads one scans base-sized data at every "factor", so its
    fitted exponent would be a silent ~0 lie — flag it loudly."""
    times: dict[str, float] = {}
    for name in queries:
        try:
            if symlinked:
                hit = sorted(
                    t
                    for t in symlinked
                    if any(
                        f"/{t}.parquet" in p
                        for p in qs[name](spark, sf_dir).inputFiles()
                    )
                )
                if hit:
                    print(
                        f"scale_probe: WARNING {name} reads non-materialized "
                        f"(factor-1 symlink) tables {hit} in {sf_dir} — its "
                        f"factor-labeled times are NOT scaling points",
                        file=sys.stderr,
                    )
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            for _ in range(passes):
                spark.catalog.clearCache()
                t1 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = round(time.time() - t1, 3)
                times[name] = min(times.get(name, dt), dt)
        except Exception as exc:  # noqa: BLE001 — fault-isolated like bench.py
            print(f"scale_probe: {name} FAILED: {exc}", file=sys.stderr)
        finally:
            spark.catalog.clearCache()
    return times


def fit_exponent(points: list[tuple[float, float]]) -> float | None:
    """Least-squares slope of log10(t) vs log10(scale) over the measured
    (scale, seconds) points — the empirical cost exponent. Two decades
    (1x/10x/100x) bound it far better than one (round-4 VERDICT #4)."""
    import math

    pts = [(math.log10(f), math.log10(t)) for f, t in points if t]
    if len(pts) < 2:
        return None
    n = len(pts)
    mx = sum(x for x, _ in pts) / n
    my = sum(y for _, y in pts) / n
    den = sum((x - mx) ** 2 for x, _ in pts)
    if den == 0:
        return None
    return round(sum((x - mx) * (y - my) for x, y in pts) / den, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--factors",
        default="10",
        help="comma-separated replication factors, e.g. 10,100",
    )
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated subset of the probe suite (default: all)",
    )
    ap.add_argument(
        "--passes",
        type=int,
        default=2,
        help="timed fresh passes per query (1 is fine at 100x: runtimes "
        "are long enough to amortize JIT noise)",
    )
    ap.add_argument(
        "--skew",
        type=float,
        default=None,
        help="clustered-corpus mode: stage this fraction of vectors as "
        "near-copies of 4 centroids (VERDICT r6 #3) and probe the slsh "
        "skew behavior; default query set becomes dedup_semantic_lsh",
    )
    ap.add_argument(
        "--doc-skew",
        type=float,
        default=None,
        help="twin-family clustered mode (VERDICT r7 #5): stage this "
        "fraction of docs AND embeddings as twin near-dup families and "
        "probe the capped text/hybrid dedups; default queries become "
        "dedup_ngram_capped,dedup_hybrid,dedup_minhash_lsh,"
        "dedup_semantic_lsh; occupancy + hot-shingle drop counts logged",
    )
    ap.add_argument(
        "--query-skew",
        type=float,
        default=None,
        help="clustered-QUERY skew mode (VERDICT r9 #6): stage this "
        "fraction of vectors as centroid near-copies AND force the "
        "registered ANN query ids into the clustered family, so every "
        "query sits in a hot bucket; default queries become "
        "vector_ann_lsh,vector_ann_ivf; ann_occupancy (incl. per-query "
        "candidate fan-out) logged per scale point",
    )
    ap.add_argument(
        "--only",
        default=None,
        help="uniform mode: comma-separated subset of the big tables "
        "(documents,events,embeddings,lineitem) to materialize in the "
        "staged dirs; others symlink the base. Use for single-table "
        "probes at 1000x, where a full staging would write ~60 GB.",
    )
    args = ap.parse_args()

    # host-calibration brackets (BASELINE §5 / bench.py host_calibration):
    # staged-scale points run for minutes, exactly the window where this
    # host's 2-4x CPU-steal episodes bite — every probe payload now
    # carries its own brackets so a hot third-decade segment can be
    # normalized without a re-run (the r13 slsh adjudication needed
    # three re-runs for lack of them).
    def _calib() -> float:
        import numpy as np

        a = np.random.RandomState(0).rand(2_000_000)
        t0 = time.time()
        for _ in range(2):
            np.sort(a, kind="mergesort").sum()
        return round(time.time() - t0, 3)

    calib_start = _calib()
    factors = [int(f) for f in args.factors.split(",")]
    only = (
        {t.strip() for t in args.only.split(",") if t.strip()}
        if args.only
        else None
    )
    queries = (
        [q.strip() for q in args.queries.split(",") if q.strip()]
        if args.queries
        else (
            ["dedup_semantic_lsh"]
            if args.skew
            else (
                [
                    "dedup_ngram_capped",
                    "dedup_hybrid",
                    "dedup_minhash_lsh",
                    "dedup_semantic_lsh",
                ]
                if args.doc_skew
                else (
                    ["vector_ann_lsh", "vector_ann_ivf"]
                    if args.query_skew
                    else PROBE_QUERIES
                )
            )
        )
    )

    import __spark_entry__ as e
    from fund_data_etl_pipeline_spark.session import get_spark

    spark = get_spark("scale-probe")
    qs = e.queries()

    if args.skew:
        # skewed mode: every scale point (incl. 1x) is a clustered
        # restage so the exponent is skew-vs-skew, not mixed
        scaled_dirs = {
            f: build_skewed_dir(spark, args.sf, f, args.skew) for f in factors
        }
        base_dir = build_skewed_dir(spark, args.sf, 1, args.skew)
        occ = {1: slsh_occupancy(spark, base_dir)}
        for f in factors:
            occ[f] = slsh_occupancy(spark, scaled_dirs[f])
        for s, o in occ.items():
            print(f"occupancy {s}x: {o}")
    elif args.doc_skew:
        scaled_dirs = {
            f: build_clustered_dir(spark, args.sf, f, args.doc_skew)
            for f in factors
        }
        base_dir = build_clustered_dir(spark, args.sf, 1, args.doc_skew)
        occ = {}  # filled AFTER the timed suites (diagnostics are the
        # slow single-core part at 100x; timing is the deliverable)
    elif args.query_skew:
        from fund_data_etl_pipeline_spark.plans.vectors import _N_QUERIES

        scaled_dirs = {
            f: build_skewed_dir(
                spark, args.sf, f, args.query_skew,
                include_query_ids=_N_QUERIES,
            )
            for f in factors
        }
        base_dir = build_skewed_dir(
            spark, args.sf, 1, args.query_skew, include_query_ids=_N_QUERIES
        )
        occ = {}  # filled after the timed suites (timing first)
    else:
        scaled_dirs = {
            f: build_scaled_dir(spark, args.sf, f, only=only) for f in factors
        }
        base_dir = args.sf
    symlinked = None
    if only is not None:
        from fund_data_etl_pipeline_spark.sources.tables import TABLE_NAMES

        symlinked = set(TABLE_NAMES) - only
    by_scale: dict[int, dict[str, float]] = {
        1: timed_suite(spark, qs, base_dir, queries, args.passes)
    }
    for f in factors:
        by_scale[f] = timed_suite(
            spark, qs, scaled_dirs[f], queries, args.passes, symlinked=symlinked
        )

    rows = []
    scales = [1] + factors
    for name in queries:
        ts = {s: by_scale[s].get(name) for s in scales}
        exp = fit_exponent([(s, ts[s]) for s in scales])
        rows.append({"query": name, "times": ts, "exponent": exp})
        cells = "  ".join(f"{s}x={ts[s]!s}" for s in scales)
        print(f"{name:<28} {cells}  exp={exp}")
    out = {
        "factors": factors,
        "rows": rows,
        "calib": [calib_start, _calib()],
    }
    if args.skew:
        out["skew_frac"] = args.skew
        out["occupancy"] = {str(s): o for s, o in occ.items()}
    if args.doc_skew:
        from fund_data_etl_pipeline_spark.plans.dedup import _NGRAM_DF_CAP

        for s, d in [(1, base_dir)] + [(f, scaled_dirs[f]) for f in factors]:
            occ[s] = {
                "minhash": minhash_occupancy(spark, d),
                "slsh": slsh_occupancy(spark, d),
                "ngram_drops": ngram_hot_drop_report(spark, d, _NGRAM_DF_CAP),
            }
            print(f"clustered {s}x: {occ[s]}")
        out["doc_skew_frac"] = args.doc_skew
        out["occupancy"] = {str(s): o for s, o in occ.items()}
    if args.query_skew:
        for s, d in [(1, base_dir)] + [(f, scaled_dirs[f]) for f in factors]:
            occ[s] = ann_occupancy(spark, d)
            print(f"ann query-skew {s}x: {occ[s]}")
        out["query_skew_frac"] = args.query_skew
        out["occupancy"] = {str(s): o for s, o in occ.items()}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
