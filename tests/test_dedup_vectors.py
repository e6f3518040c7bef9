"""Property tests for dedup + similarity operators (sf0.001 + synthetic)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fund_data_etl_pipeline_spark.operators import dedup as D
from fund_data_etl_pipeline_spark.operators.similarity import ann_lsh_topk, cosine_topk
from fund_data_etl_pipeline_spark.sources import load_table


def test_exact_dedup_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.exact_dedup(df).collect()}
    # whitespace-collapsed, lowercased -> docs 1 and 2 are the same group
    assert out[1]["canonical_id"] == 1 and out[2]["canonical_id"] == 1
    assert out[1]["group_size"] == 2
    assert out[3]["group_size"] == 1


def test_minhash_lsh_recall_vs_exhaustive(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["d1"], r["d2"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r["d1"], r["d2"])
        for r in D.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    # LSH verifies candidates with the exact jaccard, so it can only miss
    # pairs, never invent them
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) >= 0.8  # banding recall at t=0.8


def test_simhash_identical_and_perturbed(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " extra token appended here"),
         (4, "completely different content about spark engines and joins")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]  # identical docs -> identical signature

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(sigs[1], sigs[3]) <= ham(sigs[1], sigs[4])


def test_ann_lsh_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=5)
    approx = ann_lsh_topk(emb, queries, k=5, planes=4, tables=4, dims=64)
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(approx_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.3, f"multi-table LSH recall too low: {recall:.2f}"


def test_cosine_topk_self_excluded_and_ranked(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    out = cosine_topk(emb, queries, k=5).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cos_sim"]))
    for q, rows in by_q.items():
        rows.sort()
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True)
        assert len(rows) == 5


def test_ngram_hot_shingle_cap(spark, sf_dir):
    """A cap above every shingle's document frequency is a no-op (capped ==
    exhaustive); a tiny cap prunes the candidate space — the 100 TB guard
    against one stop-phrase shingle creating O(k^2) pairs."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    nofx = {
        (r["d1"], r["d2"], r["jaccard"])
        for r in D.ngram_jaccard_pairs(
            docs, threshold=0.8, max_doc_freq=10**9
        ).collect()
    }
    assert nofx == exact

    capped = {
        (r["d1"], r["d2"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8, max_doc_freq=1).collect()
    }
    # dropping every shared shingle (df>1) removes all candidate pairs
    assert capped == set()

def test_connected_components_chain_and_singleton(spark):
    """A chain 1-2, 2-3 plus a separate pair 5-6 must collapse to two
    groups labeled by their min id; doc 4 (no pairs) stays a singleton."""
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (5, 6)], "d1 long, d2 long"
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    out = {
        r["doc_id"]: (r["group_id"], r["group_size"])
        for r in D.connected_components(pairs, ids).collect()
    }
    assert out == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),
        4: (4, 1),
        5: (5, 2), 6: (5, 2),
    }


def test_connected_components_star_direction(spark):
    """Min-label must flow against edge direction too (pairs always have
    d1 < d2, so propagation purely along (d1->d2) would already work —
    this chain forces the reverse hop: 3-4 then 1-3)."""
    pairs = spark.createDataFrame([(3, 4), (1, 3)], "d1 long, d2 long")
    ids = spark.createDataFrame([(1,), (3,), (4,)], "doc_id long")
    out = {r["doc_id"]: r["group_id"] for r in D.connected_components(pairs, ids).collect()}
    assert out == {1: 1, 3: 1, 4: 1}


def test_hash_split_deterministic_and_stable(spark, sf_dir):
    """Same assignment on re-run AND after dropping half the corpus — the
    property randomSplit does not have."""
    from fund_data_etl_pipeline_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    full = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    again = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    assert full == again
    half = docs.filter(F.col("doc_id") % 2 == 0)
    sub = {r["doc_id"]: r["split"] for r in hash_split(half).collect()}
    assert all(full[k] == v for k, v in sub.items())
    # all three splits are populated and cover every row
    assert set(full.values()) == {"train", "val", "test"}
    assert len(full) == docs.count()


def test_incremental_exact_dedup_across_batches(spark):
    """Two daily batches: within-batch dups collapse to the min id, and a
    day-2 re-delivery of day-1 content is dropped by the history
    anti-join; history accumulates one hash per distinct content."""
    day1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "ALPHA  beta"), (3, "gamma")],
        "doc_id long, text string",
    )
    day2 = spark.createDataFrame(
        [(10, "alpha beta"), (11, "delta"), (12, "delta"), (13, "epsilon")],
        "doc_id long, text string",
    )
    fresh1, hist1 = D.incremental_exact_dedup(day1, None)
    assert {r["doc_id"] for r in fresh1.collect()} == {1, 3}
    assert hist1.count() == 2

    fresh2, hist2 = D.incremental_exact_dedup(day2, hist1)
    assert {r["doc_id"] for r in fresh2.collect()} == {11, 13}
    assert hist2.count() == 4

    # a third run of the same batch against the updated history is a no-op
    fresh3, hist3 = D.incremental_exact_dedup(day2, hist2)
    assert fresh3.count() == 0
    assert hist3.count() == 4


def test_registered_incremental_dedup_queries(spark, sf_dir):
    """The r9 registrations (VERDICT r8 #3): the deterministic
    batch/index registry split (doc_id % 4 = 1 is "today") must show in
    the outputs — exact keeps only batch-side survivors whose content is
    absent from the index, minhash pairs are always (index doc, batch
    doc) with verified jaccard above the threshold."""
    import __spark_entry__ as e

    q = e.queries()
    exact = q["dedup_incremental_exact"](spark, sf_dir).collect()
    assert exact, "sf0.001 batch split must have survivors"
    assert all(r["doc_id"] % 4 == 1 for r in exact)
    # one row per distinct surviving content
    hashes = [r["content_hash"] for r in exact]
    assert len(hashes) == len(set(hashes))
    # no survivor's content exists on the index side
    from fund_data_etl_pipeline_spark.operators.dedup import normalized_md5
    from fund_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    idx_hashes = {
        r["h"]
        for r in docs.filter(F.col("doc_id") % 4 != 1)
        .select(normalized_md5(F.col("text")).alias("h"))
        .collect()
    }
    assert not (set(hashes) & idx_hashes)

    pairs = q["dedup_incremental_minhash"](spark, sf_dir).collect()
    assert pairs, "sf0.001 split must yield cross-split near-dup pairs"
    for r in pairs:
        assert r["d1"] % 4 != 1, "d1 is always an index doc"
        assert r["d2"] % 4 == 1, "d2 is always a batch doc"
        assert r["jaccard"] >= 0.8
    keys = [(r["d1"], r["d2"]) for r in pairs]
    assert len(keys) == len(set(keys)), "band-collapsed: one row per pair"


def test_incremental_minhash_prebuilt_index_parity(spark, sf_dir, tmp_path):
    """The daily-pipeline steady state (build_minhash_index written to
    parquet, passed back via index_tables=) must emit the BIT-EQUAL pair
    set as the inline index_docs path — same-builder parity, the r9
    probe's premise (tools/inc_probe.py times the prebuilt shape)."""
    from fund_data_etl_pipeline_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_pairs,
    )
    from fund_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 4 == 1)
    index = docs.filter(F.col("doc_id") % 4 != 1)

    inline = sorted(
        map(tuple, incremental_minhash_pairs(batch, index).collect())
    )

    prepped, bands = build_minhash_index(index)
    pp, bp = str(tmp_path / "prepped"), str(tmp_path / "bands")
    prepped.write.parquet(pp)
    bands.write.parquet(bp)
    prebuilt = sorted(
        map(
            tuple,
            incremental_minhash_pairs(
                batch,
                index_tables=(spark.read.parquet(pp), spark.read.parquet(bp)),
            ).collect(),
        )
    )
    assert inline == prebuilt and inline


def test_minhash_recovery_pairs_second_seed(spark):
    """r9 stretch (VERDICT r8 #8): the second-seed recovery pass must
    (a) band with genuinely different keys than seed 1, (b) reattach
    near-dup docs that arrive with no seed-1 pair, (c) never generate a
    pair between two already-paired docs, and (d) keep the jaccard
    verify gate."""
    from fund_data_etl_pipeline_spark.operators.dedup import (
        minhash_band_keys,
        minhash_recovery_pairs,
        shingle_hash_prepped,
    )

    boiler = " ".join(f"tok{w}" for w in range(30))
    other = " ".join(f"zed{w}" for w in range(30))
    docs = spark.createDataFrame(
        [
            (1, boiler + " a"),
            (2, boiler + " b"),
            (10, other + " x"),
            (11, other + " y"),
            (50, "completely different text about spark window exchanges"),
        ],
        "doc_id long, text string",
    )
    # seed independence: same docs, different band keys
    prepped = shingle_hash_prepped(docs)
    k0 = {
        (r["doc_id"], r["band"], r["key"])
        for r in minhash_band_keys(prepped).collect()
    }
    k1 = {
        (r["doc_id"], r["band"], r["key"])
        for r in minhash_band_keys(prepped, seed=1).collect()
    }
    assert k0 != k1

    first = spark.createDataFrame(
        [(1, 2, 1.0)], "d1 long, d2 long, jaccard double"
    )
    rec = minhash_recovery_pairs(docs, first).collect()
    got = {(r["d1"], r["d2"]) for r in rec}
    assert (10, 11) in got, "unpaired near-dup twins must be recovered"
    assert (1, 2) not in got, "already-paired docs generate no new pair"
    assert all(r["jaccard"] >= 0.8 for r in rec)

    # r10 (ADVICE r9 #3): a composition hashes the corpus once — the
    # shared-prepped form is bit-identical to the self-prepping form
    shared = minhash_recovery_pairs(docs, first, prepped=prepped).collect()
    assert sorted(map(tuple, shared)) == sorted(map(tuple, rec))


def test_recovery_registered_vs_production_agree(spark):
    """r11 stretch (VERDICT r10 #8): the REGISTERED dedup_recovery_pairs
    shape runs its FIRST pass at the one-band _RECOVERY_P1_BANDS budget
    (so the driver row is non-vacuous), while the PRODUCTION composition
    uses the full-band first pass. Lock the two shapes together: on a
    planted-straggler corpus the final pair set — union of first-pass
    and recovery pairs — must be IDENTICAL between the compositions and
    must cover every planted twin. The verify gate (exact hashed-shingle
    jaccard) makes false pairs impossible in either shape, so agreement
    is exactly "no twin is caught by one composition and dropped by the
    other"; if the registered band budget, the cap, or the seed-2
    lottery drifts, this equality breaks before the driver row does."""
    from fund_data_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_recovery_pairs,
        shingle_hash_prepped,
    )
    from fund_data_etl_pipeline_spark.plans.dedup import _RECOVERY_P1_BANDS

    rows, planted = [], set()
    for i in range(40):  # 40 twin families: ids (2i, 2i+1)
        base = " ".join(f"fam{i}tok{j}" for j in range(30))
        rows += [(2 * i, base + " alpha"), (2 * i + 1, base + " beta")]
        planted.add((2 * i, 2 * i + 1))
    for i in range(10):  # singletons: no near-dup partner
        rows.append(
            (1000 + i, " ".join(f"solo{i}w{j}" for j in range(25)))
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    prepped = shingle_hash_prepped(docs)

    def compose(band_subset):
        first = minhash_lsh_pairs(
            docs, prepped=prepped, band_subset=band_subset
        )
        rec = minhash_recovery_pairs(docs, first, prepped=prepped)
        fp = {(r["d1"], r["d2"]) for r in first.collect()}
        rp = {(r["d1"], r["d2"]) for r in rec.collect()}
        return fp, rp

    reg_first, reg_rec = compose(_RECOVERY_P1_BANDS)
    prod_first, prod_rec = compose(None)

    assert reg_first | reg_rec == prod_first | prod_rec
    # both compositions emit only true pairs and miss no planted twin
    assert reg_first | reg_rec == planted
    # the registered shape's reason to exist: its one-band first pass
    # leaves real stragglers for the seed-2 recovery to reattach
    assert reg_rec, "one-band registered shape must exercise recovery"
    assert reg_rec & planted == reg_rec


def test_minhash_lsh_band_subset_and_shared_prepped(spark, sf_dir):
    """r10: (a) band_subset=(all bands) is the default pairing exactly;
    (b) a proper subset's pairs are a subset of the full pass's pairs
    (fewer lotteries can only lose candidates — the verify gate is
    unchanged); (c) passing prepped= changes nothing in the output."""
    from fund_data_etl_pipeline_spark.functions.text import MINHASH_BANDS
    from fund_data_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        shingle_hash_prepped,
    )
    from fund_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    full = sorted(map(tuple, minhash_lsh_pairs(docs).collect()))
    all_bands = sorted(
        map(
            tuple,
            minhash_lsh_pairs(
                docs, band_subset=tuple(range(MINHASH_BANDS))
            ).collect(),
        )
    )
    assert all_bands == full
    prepped = shingle_hash_prepped(docs).persist()
    try:
        sub = sorted(
            map(
                tuple,
                minhash_lsh_pairs(
                    docs, prepped=prepped, band_subset=(0,)
                ).collect(),
            )
        )
    finally:
        prepped.unpersist()
    assert set(sub) <= set(full)


def test_incremental_minhash_both_index_args_raises(spark):
    """r10 (ADVICE r9 #4): passing index_docs AND index_tables used to
    silently drop the raw docs; now it's an explicit error."""
    import pytest

    from fund_data_etl_pipeline_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        "doc_id long, text string",
    )
    idx = build_minhash_index(docs)
    with pytest.raises(ValueError, match="BOTH"):
        incremental_minhash_pairs(docs, docs, index_tables=idx)


def test_dedup_groups_canonical_invariants(spark, sf_dir):
    """Every group_id is the component minimum: it never exceeds the
    member id, and the canonical doc is its own canonical."""
    import __spark_entry__ as e

    out = e.queries()["dedup_groups"](spark, sf_dir).collect()
    by_id = {r["doc_id"]: r for r in out}
    for r in out:
        assert r["group_id"] <= r["doc_id"]
        assert by_id[r["group_id"]]["group_id"] == r["group_id"]
        assert by_id[r["group_id"]]["group_size"] == r["group_size"]


def test_hash_split_proportions(spark, sf_dir):
    """The 80/10/10 split lands near its weights (binomial 3-sigma)."""
    from fund_data_etl_pipeline_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    counts = {
        r["split"]: r["c"]
        for r in hash_split(docs).groupBy("split").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert 0.70 <= counts["train"] / n <= 0.90
    assert 0.05 <= counts["val"] / n <= 0.16
    assert 0.05 <= counts["test"] / n <= 0.16


def test_span_dedup_first_occurrence_wins(spark):
    """Cross-doc and within-doc duplicate spans survive only at the lowest
    (doc_id, span_idx); disjoint docs keep everything."""
    df = spark.createDataFrame(
        [
            (1, "a b c d"),     # spans: "a b", "c d" — both first
            (2, "a b x y"),     # "a b" duplicates doc 1's span 0
            (3, "c d"),         # single span, duplicate of doc 1's span 1
            (4, "z z z z"),     # two identical spans WITHIN one doc
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.span_dedup(df, span_words=2).collect()}
    assert (out[1]["n_spans"], out[1]["n_kept"]) == (2, 2)
    assert (out[2]["n_spans"], out[2]["n_kept"]) == (2, 1)
    assert (out[3]["n_spans"], out[3]["n_kept"]) == (1, 0)
    assert out[3]["dup_ratio"] == 1.0
    assert (out[4]["n_spans"], out[4]["n_kept"]) == (2, 1)
    assert out[2]["dup_ratio"] == 0.5


def test_span_dedup_tail_span_shorter_than_window(spark):
    # 5 words at span=2 -> 3 spans, the last a single word; empty docs
    # produce no row
    df = spark.createDataFrame(
        [(1, "v w x y z"), (2, "   ")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in D.span_dedup(df, span_words=2).collect()}
    assert out[1]["n_spans"] == 3 and out[1]["n_kept"] == 3
    assert 2 not in out


def test_benchmark_contamination_flags_bench_copy(spark):
    """A train doc copying a benchmark doc is fully contaminated; a
    disjoint doc produces no overlap row; bench docs never appear."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # benchmark
            (2, "alpha beta gamma delta epsilon zeta"),  # full copy
            (3, "one two three four five six seven"),    # disjoint
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in D.benchmark_contamination(
            df, F.col("doc_id") == 1, threshold=0.2
        ).collect()
    }
    assert set(out) == {2}
    assert out[2]["overlap_ratio"] == 1.0 and out[2]["contaminated"]


def test_incremental_dedup_collapses_redelivered_rows(spark):
    """A batch containing the SAME (doc_id, text) row twice — a double-
    read of one file — yields exactly one output row for it."""
    day = spark.createDataFrame(
        [(1, "x y"), (1, "x y"), (2, "z")], "doc_id long, text string"
    )
    fresh, hist = D.incremental_exact_dedup(day, None)
    rows = fresh.collect()
    assert len(rows) == 2
    assert {r["doc_id"] for r in rows} == {1, 2}
    assert hist.count() == 2


def test_semantic_dedup_drops_planted_cluster_dup(spark, sf_dir, tmp_path):
    """dedup_semantic on a corpus with a planted exact-duplicate vector:
    the copy (higher vec_id) drops, the original keeps, and every
    cluster's members were assigned to their true nearest seed."""
    import numpy as np
    import pandas as pd

    from fund_data_etl_pipeline_spark.plans.dedup import dedup_semantic

    rng = np.random.default_rng(7)
    vecs = [rng.standard_normal(8).round(3).astype("float32") for _ in range(30)]
    vecs.append(vecs[3].copy())  # vec_id 30 duplicates vec_id 3
    pdf = pd.DataFrame(
        {"vec_id": range(31), "embedding": [v.tolist() for v in vecs],
         "label": [0] * 31}
    )
    d = tmp_path / "sem"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet")
    rows = {r["vec_id"]: r for r in dedup_semantic(spark, str(d)).collect()}
    assert len(rows) == 31
    assert rows[30]["keep"] is False, "planted copy must drop"
    assert rows[3]["keep"] is True, "original (smaller id) must keep"
    # copy and original share a cluster (cosine 1.0 beats any other seed)
    assert rows[30]["cluster_id"] == rows[3]["cluster_id"]


def test_semantic_dedup_keep_rule_invariant(spark, sf_dir):
    """Oracle-independent invariant on the real corpus: a vector keeps
    iff NO smaller-id vector in its cluster clears the threshold —
    recomputed here by brute force from the same embeddings."""
    from fund_data_etl_pipeline_spark.plans.dedup import _SEM_T, dedup_semantic
    from fund_data_etl_pipeline_spark.sources import load_table

    rows = dedup_semantic(spark, sf_dir).collect()
    cluster = {r["vec_id"]: r["cluster_id"] for r in rows}
    keep = {r["vec_id"]: r["keep"] for r in rows}
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        import math as m

        return round(num / (m.sqrt(sum(x * x for x in a)) * m.sqrt(sum(y * y for y in b))), 6)

    by_cluster: dict[int, list[int]] = {}
    for v, c in cluster.items():
        by_cluster.setdefault(c, []).append(v)
    for c, members in by_cluster.items():
        members.sort()
        for i, b in enumerate(members):
            has_dup = any(
                cos(vecs[a], vecs[b]) >= _SEM_T for a in members[:i]
            )
            assert keep[b] == (not has_dup), (c, b)


def test_semantic_lsh_drops_planted_bucket_dup(spark, tmp_path):
    """dedup_semantic_lsh on a corpus with a planted exact-duplicate
    vector: identical vectors share every table's bucket by construction,
    so the copy (higher vec_id) drops and the original keeps."""
    import numpy as np
    import pandas as pd

    from fund_data_etl_pipeline_spark.plans.dedup import dedup_semantic_lsh

    rng = np.random.default_rng(11)
    vecs = [
        rng.standard_normal(64).round(3).astype("float32") for _ in range(30)
    ]
    vecs.append(vecs[5].copy())  # vec_id 30 duplicates vec_id 5
    pdf = pd.DataFrame(
        {"vec_id": range(31), "embedding": [v.tolist() for v in vecs],
         "label": [0] * 31}
    )
    d = tmp_path / "slsh"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet")
    rows = {r["vec_id"]: r for r in dedup_semantic_lsh(spark, str(d)).collect()}
    assert len(rows) == 31
    assert rows[30]["keep"] is False, "planted copy must drop"
    assert rows[5]["keep"] is True, "original (smaller id) must keep"
    assert rows[30]["bucket0"] == rows[5]["bucket0"]


def test_semantic_lsh_keep_rule_invariant(spark, sf_dir):
    """Oracle-independent invariant on the real corpus: a vector keeps
    iff NO smaller-id vector sharing at least one table's bucket clears
    the cosine threshold — signatures and cosines recomputed here by
    brute force with the same deterministic hyperplane constants and the
    same sequential fold order Spark uses."""
    from fund_data_etl_pipeline_spark.operators.similarity import (
        rhp_sign_vector,
    )
    from fund_data_etl_pipeline_spark.plans.dedup import (
        _SEM_T,
        _SLSH_BUCKET_CAP,
        _SLSH_DIMS,
        _SLSH_P_MAX,
        _SLSH_TABLES,
        slsh_planes,
        dedup_semantic_lsh,
    )
    from fund_data_etl_pipeline_spark.sources import load_table

    rows = dedup_semantic_lsh(spark, sf_dir).collect()
    keep = {r["vec_id"]: r["keep"] for r in rows}
    bucket0 = {r["vec_id"]: r["bucket0"] for r in rows}
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    planes = slsh_planes(len(vecs))

    def sig(v, tbl):
        bits = []
        # plane family offsets indexed by P_MAX (the prefix property the
        # adaptive-width oracle relies on)
        for p in range(planes):
            signs = rhp_sign_vector(tbl * _SLSH_P_MAX + p, _SLSH_DIMS)
            acc = 0.0
            for x, s in zip(v, signs):
                acc = acc + x * float(s)
            bits.append("1" if acc >= 0 else "0")
        return "".join(bits)

    def cos(a, b):
        import math as m

        num = 0.0
        for x, y in zip(a, b):
            num = num + x * y
        return round(
            num
            / (
                m.sqrt(sum(x * x for x in a))
                * m.sqrt(sum(y * y for y in b))
            ),
            6,
        )

    sigs = {
        vid: [sig(v, t) for t in range(_SLSH_TABLES)]
        for vid, v in vecs.items()
    }
    for vid in vecs:
        assert bucket0[vid] == sigs[vid][0]
    ids = sorted(vecs)
    by_bucket: dict[tuple[int, str], list[int]] = {}
    for vid in ids:
        for t in range(_SLSH_TABLES):
            by_bucket.setdefault((t, sigs[vid][t]), []).append(vid)
    neighbors: dict[int, set[int]] = {vid: set() for vid in ids}
    for members in by_bucket.values():
        occ = len(members)
        strides = [1 << j for j in range(41) if (1 << j) < occ]
        for i, b in enumerate(members):
            # the per-bucket pair cap: all-pairs up to BUCKET_CAP,
            # id-rank doubling pairing above (plans/dedup.py skew
            # mitigation, r8 form) — mirrored here so the invariant
            # states the SHIPPED semantics
            if occ <= _SLSH_BUCKET_CAP:
                neighbors[b].update(members[:i])
            else:
                neighbors[b].update(
                    members[i - k] for k in strides if i - k >= 0
                )
    for vid in ids:
        has_dup = any(
            cos(vecs[a], vecs[vid]) >= _SEM_T for a in neighbors[vid]
        )
        assert keep[vid] == (not has_dup), vid


def test_semantic_lsh_recall_on_planted_near_dups(spark, tmp_path):
    """Recall honesty measure for the linear path: a corpus of 40 base
    vectors plus 20 slightly-nudged copies (cosine ~0.999 to their
    source). Multi-table banding must catch nearly all of them — with 4
    tables of slsh_planes(60)=4 bits, the per-pair miss probability at
    theta ~ 2deg is (1 - 0.986^4)^4 ~ 1e-5 — so every planted dup must
    drop here, and survivors must be exactly the 40 originals."""
    import numpy as np
    import pandas as pd

    from fund_data_etl_pipeline_spark.plans.dedup import dedup_semantic_lsh

    rng = np.random.default_rng(23)
    base = [rng.standard_normal(64) for _ in range(40)]
    vecs = [v / np.linalg.norm(v) for v in base]
    for i in range(20):  # vec_id 40+i nudges vec_id i
        nudged = vecs[i] + 0.02 * rng.standard_normal(64)
        vecs.append(nudged / np.linalg.norm(nudged))
    pdf = pd.DataFrame(
        {
            "vec_id": range(60),
            "embedding": [v.astype("float32").tolist() for v in vecs],
            "label": [0] * 60,
        }
    )
    d = tmp_path / "recall"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet")
    rows = {r["vec_id"]: r["keep"] for r in dedup_semantic_lsh(spark, str(d)).collect()}
    dropped = {v for v, keep in rows.items() if not keep}
    # RECALL: every nudged copy (id >= 40, cosine ~0.999 to a smaller id)
    # must drop — the near-1-cosine regime is what dedup targets
    assert set(range(40, 60)) <= dropped
    # NO FALSE POSITIVES: anything else dropped must have a genuine
    # smaller-id neighbor clearing the threshold (random 64-dim cosines
    # have std 1/8, so a few threshold-level pairs DO occur by chance;
    # LSH may or may not surface those — that is the documented recall
    # trade-off at threshold-level similarity, not an error)
    import math as m

    def cos(a, b):
        return round(float(np.dot(a, b)), 6)

    for v in dropped - set(range(40, 60)):
        assert any(cos(vecs[a], vecs[v]) >= 0.30 for a in range(v)), v


def test_semantic_lsh_oversized_bucket_chain_cap(spark, tmp_path):
    """The skewed-corpus mitigation (r7): a planted tight cluster larger
    than _SLSH_BUCKET_CAP shares every table's bucket at any signature
    width, so the exhaustive form would pair it quadratically. The
    chain cap must (a) still drop every cluster member except the
    smallest id — survivorship is transitive along the id chain in a
    tight cluster — and (b) keep the uniform remainder governed by the
    exact all-pairs rule."""
    import numpy as np
    import pandas as pd

    from fund_data_etl_pipeline_spark.plans.dedup import (
        _SLSH_BUCKET_CAP,
        dedup_semantic_lsh,
    )

    rng = np.random.default_rng(41)
    n_cluster = _SLSH_BUCKET_CAP + 40  # decisively over the cap
    center = rng.standard_normal(64)
    center /= np.linalg.norm(center)
    vecs = []
    for i in range(n_cluster):  # ids 0..167: one tight cluster
        v = center + 1e-4 * rng.standard_normal(64)
        vecs.append(v / np.linalg.norm(v))
    for _ in range(40):  # ids 168..207: uniform background
        v = rng.standard_normal(64)
        vecs.append(v / np.linalg.norm(v))
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [v.astype("float32").tolist() for v in vecs],
            "label": [0] * len(vecs),
        }
    )
    d = tmp_path / "skewed"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet")
    keep = {
        r["vec_id"]: r["keep"]
        for r in dedup_semantic_lsh(spark, str(d)).collect()
    }
    assert keep[0] is True, "cluster minimum must survive"
    assert all(
        keep[i] is False for i in range(1, n_cluster)
    ), "every other cluster member must drop via the id chain"


def _duck_compare(spark_df, oracle_sql: str, views: dict[str, str]):
    """Spark result vs DuckDB oracle on the same parquet — the local
    twin of the driver's t2 comparison (order-insensitive, columns
    sorted by name, floats rounded to 9 significant digits)."""
    import math

    import duckdb

    con = duckdb.connect()
    for name, path in views.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    odf = con.sql(oracle_sql).df()
    sdf = spark_df.toPandas()

    def canon(df):
        cols = sorted(df.columns)

        def norm(v):
            if v is None or (isinstance(v, float) and math.isnan(v)):
                return "\x00NULL"
            if isinstance(v, float):
                return f"{v:.9g}"
            return str(v)

        return cols, sorted(
            tuple(norm(v) for v in row)
            for row in df[cols].itertuples(index=False)
        )

    return canon(sdf), canon(odf)


def test_doubling_chain_oracle_parity_slsh(spark, tmp_path):
    """r8: the oversized-bucket id-rank-doubling branch must stay
    value-exact against the DuckDB oracle — specifically at occupancy
    > 256, where the doubling rule generates strides the old fixed
    1..128 ladder could not (the giant-cluster regime)."""
    import numpy as np
    import pandas as pd

    import __spark_entry__ as e
    from fund_data_etl_pipeline_spark.plans.dedup import _SLSH_BUCKET_CAP

    rng = np.random.default_rng(57)
    n_cluster = max(300, _SLSH_BUCKET_CAP + 50)  # > 256: new strides live
    center = rng.standard_normal(64)
    center /= np.linalg.norm(center)
    vecs = []
    for _ in range(n_cluster):
        v = center + 1e-4 * rng.standard_normal(64)
        vecs.append(v / np.linalg.norm(v))
    for _ in range(60):
        v = rng.standard_normal(64)
        vecs.append(v / np.linalg.norm(v))
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [v.astype("float32").tolist() for v in vecs],
            "label": [0] * len(vecs),
        }
    )
    d = tmp_path / "giant"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet")
    (s_cols, s_rows), (o_cols, o_rows) = _duck_compare(
        e.queries()["dedup_semantic_lsh"](spark, str(d)),
        e.oracle_sql()["dedup_semantic_lsh"],
        {"embeddings": str(d / "embeddings.parquet")},
    )
    assert s_cols == o_cols
    assert s_rows == o_rows


def test_doubling_chain_no_oversized_bucket_case(spark, sf_dir):
    """r9 (VERDICT r8 #5): when NO bucket exceeds the cap, the doubling
    branch contributes nothing — zero rows — and its lead-window form
    has NO join to pay for that nothing: the whole chain is one window
    over the exchange the occupancy count already owns."""
    from fund_data_etl_pipeline_spark.operators.dedup import (
        doubling_chain_pairs,
    )

    df = spark.createDataFrame(
        [(b, i, 5) for b in range(3) for i in range(5)],
        "bucket int, vec_id long, occ long",
    )
    chain = doubling_chain_pairs(df, "vec_id", ["bucket"], cap=8)
    assert chain.count() == 0
    plan = chain._jdf.queryExecution().executedPlan().toString()
    # the load-bearing shape claim: the lead-window form pairs with NO
    # join anywhere in the tree (ADVICE r9 #1 relaxed the former exact
    # operator-string assertions — "lead(" spelling and an exact
    # exchange count are Spark-version/AQE-sensitive; the exchange-count
    # check stays, gated to the Spark line it was written against)
    assert "Join" not in plan
    import pyspark

    if pyspark.__version__.startswith("4.1."):
        assert "lead(" in plan
        assert plan.count("Exchange hashpartitioning") == 1
    # identical-output contract: with no oversized bucket, capped
    # pairing IS uncapped pairing
    from fund_data_etl_pipeline_spark.plans.dedup import (
        slsh_verified_pairs,
    )
    from fund_data_etl_pipeline_spark.operators.similarity import (
        as_double,
        norm,
    )
    from fund_data_etl_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    prepped = emb.select("vec_id", "v", norm(F.col("v")).alias("nv"))
    capped = sorted(
        map(tuple, slsh_verified_pairs(emb, prepped, 8).collect())
    )
    uncapped = sorted(
        map(
            tuple,
            slsh_verified_pairs(
                emb, prepped, 8, bucket_cap=1 << 40
            ).collect(),
        )
    )
    assert capped == uncapped


def test_doubling_chain_oracle_parity_minhash(spark, tmp_path):
    """Same parity check for the minhash band-bucket doubling branch: a
    300-member boilerplate family (band occupancy far above both the
    cap and the old ladder's 256-reach) plus distinct background docs."""
    import pandas as pd

    import __spark_entry__ as e

    rows = [(i, "common boiler " + " ".join(f"tok{w}" for w in range(40)) + f" uniq{i}")
            for i in range(300)]
    rows += [(1000 + i, f"completely different text {i} " +
              " ".join(f"alt{i}w{w}" for w in range(30)))
             for i in range(40)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "probe"
    pdf["n_chars"] = pdf["text"].str.len()
    d = tmp_path / "boiler"
    d.mkdir()
    pdf.to_parquet(d / "documents.parquet")
    (s_cols, s_rows), (o_cols, o_rows) = _duck_compare(
        e.queries()["dedup_minhash_lsh"](spark, str(d)),
        e.oracle_sql()["dedup_minhash_lsh"],
        {"documents": str(d / "documents.parquet")},
    )
    assert s_cols == o_cols
    assert len(s_rows) > 300  # the doubling branch actually generated pairs
    assert s_rows == o_rows


def test_paircap_recall_floor_slsh(spark, tmp_path):
    """Planted-recall floor for the slsh pair cap (VERDICT r7 #2): two
    near-dup families engineered into ONE shared oversized bucket (twin
    centroids c ± w with w in the null space of every used hyperplane,
    so both families carry identical RHP signatures in all tables while
    cross-family cosine is 0 — below threshold), member ids interleaved
    by parity. The capped doubling chain must (a) stay a subset of the
    uncapped pair set, (b) keep pair recall above the floor, and
    (c) flag EXACTLY the same dup ids — parity interleave means every
    stride 2^j with j >= 1 lands same-family, so survivorship is
    preserved member-for-member."""
    import numpy as np
    import pandas as pd

    from fund_data_etl_pipeline_spark.operators.similarity import (
        as_double,
        norm,
        rhp_sign_vector,
    )
    from fund_data_etl_pipeline_spark.plans.dedup import (
        _SLSH_BUCKET_CAP,
        _SLSH_P_MAX,
        _SLSH_TABLES,
        slsh_planes,
        slsh_verified_pairs,
    )
    from fund_data_etl_pipeline_spark.sources.tables import load_table

    rng = np.random.default_rng(11)
    n_fam = 100  # bucket occupancy 200 > cap 128
    n_bg = 40
    n_total = 2 * n_fam + n_bg
    planes = slsh_planes(n_total)
    used = [
        t * _SLSH_P_MAX + p
        for t in range(_SLSH_TABLES)
        for p in range(planes)
    ]
    H = np.array([rhp_sign_vector(i, 64) for i in used], dtype=float)
    _, _, vt = np.linalg.svd(H)
    null = vt[len(used):]
    # centroid with a healthy margin on every used plane, twin direction
    # w in the null space and orthogonal to c
    c = rng.standard_normal(64)
    c /= np.linalg.norm(c)
    assert float(np.min(np.abs(H @ c))) > 1e-3
    cn = null @ c
    q = np.zeros(null.shape[0])
    q[0] = 1.0
    q = q - (q @ cn) * cn / max(float(cn @ cn), 1e-12)
    w = q @ null
    w /= np.linalg.norm(w)
    vecs = {}
    for i in range(2 * n_fam):  # even ids family A (+w), odd family B (-w)
        base = c + (w if i % 2 == 0 else -w)
        vecs[i] = base + 1e-5 * rng.standard_normal(64)
    for i in range(n_bg):
        v = rng.standard_normal(64)
        vecs[2 * n_fam + i] = v / np.linalg.norm(v)
    pdf = pd.DataFrame(
        {
            "vec_id": sorted(vecs),
            "embedding": [
                np.asarray(vecs[i], dtype="float32").tolist()
                for i in sorted(vecs)
            ],
            "label": [0] * len(vecs),
        }
    )
    d = tmp_path / "twin"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet")

    emb = load_table(spark, str(d), "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    prepped = emb.select("vec_id", "v", norm(F.col("v")).alias("nv"))

    def pairset(cap):
        return {
            (r["d1"], r["d2"])
            for r in slsh_verified_pairs(emb, prepped, planes, cap).collect()
        }

    capped = pairset(_SLSH_BUCKET_CAP)
    uncapped = pairset(1 << 40)
    assert capped <= uncapped
    # uncapped ⊇ all within-family pairs (cross-family cosine 0 < 0.30;
    # a couple of random background pairs may clear 0.30 by chance)
    within = 2 * (n_fam * (n_fam - 1) // 2)
    assert within <= len(uncapped) <= within + 20
    recall = len(capped) / len(uncapped)
    assert 0.10 <= recall < 1.0, recall
    # survivorship identical: same dup (d2) set under parity interleave
    assert {b for _, b in capped} == {b for _, b in uncapped}


def test_paircap_recall_floor_minhash(spark):
    """The minhash twin of the slsh floor test: two text families
    sharing heavy boilerplate (band minima collide, so band buckets are
    MIXED and oversized), parity-interleaved ids. Capped pairs stay a
    subset, recall stays above the floor, and the dup-flag set is
    preserved exactly."""
    from fund_data_etl_pipeline_spark.functions.text import MINHASH_BUCKET_CAP

    n_fam = 80  # mixed bucket occupancy 160 > cap 32
    boiler = " ".join(f"bw{w}" for w in range(90))
    rows = []
    for i in range(2 * n_fam):
        fam = "fa0 fa1" if i % 2 == 0 else "fb0 fb1"
        rows.append((i, f"{boiler} {fam} m{i}x"))
    for i in range(30):  # distinct background
        rows.append((1000 + i, " ".join(f"bg{i}w{w}" for w in range(25))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pairset(cap):
        return {
            (r["d1"], r["d2"])
            for r in D.minhash_lsh_pairs(
                docs, threshold=0.9, bucket_cap=cap
            ).collect()
        }

    capped = pairset(MINHASH_BUCKET_CAP)
    uncapped = pairset(1 << 40)
    assert capped <= uncapped
    assert len(uncapped) > len(capped) > 0
    recall = len(capped) / len(uncapped)
    assert recall >= 0.10, recall
    assert {b for _, b in capped} == {b for _, b in uncapped}


def test_giant_cluster_log_rounds(spark):
    """r8 giant-cluster contract: ONE boilerplate family of C=4000
    members must resolve to a single group with propagation rounds
    ~log2(C), not C/stride. Under the old fixed 1..128 ladder this C
    needs ceil(4000/128)=32 rounds — past the 25-round limit; the
    rank-doubling pairing converges in <= log2(C)+2 rounds."""
    n = 4000
    base = " ".join(f"gtok{w}" for w in range(40))
    docs = spark.createDataFrame(
        [(i, f"{base} u{i}") for i in range(n)],
        "doc_id long, text string",
    )
    pairs = D.minhash_lsh_pairs(docs, threshold=0.8)
    stats: dict = {}
    labels = D.connected_components(pairs, docs.select("doc_id"), stats=stats)
    rows = labels.collect()
    assert {r["group_id"] for r in rows} == {0}
    assert all(r["group_size"] == n for r in rows)
    import math

    assert stats["rounds"] <= math.ceil(math.log2(n)) + 2, stats


def test_minhash_oversized_cluster_stays_one_group(spark):
    """r7/r8 chain-cap connectivity guard: a duplicate cluster larger
    than MINHASH_BUCKET_CAP pairs by id-rank doubling instead of
    all-pairs — connected components must STILL resolve it to a single
    group (the j=0 stride chains every member to its id-neighbor; it is
    structurally always live since 2^0 < occ whenever occ > cap >= 1).
    Guards the exact regression a pairing rule without the unit stride
    would introduce."""
    from fund_data_etl_pipeline_spark.functions.text import (
        MINHASH_BUCKET_CAP,
    )

    n = MINHASH_BUCKET_CAP + 40
    base = " ".join(f"tok{w}" for w in range(40))
    docs = spark.createDataFrame(
        [(i, f"{base} uniq{i}") for i in range(n)],
        "doc_id long, text string",
    )
    pairs = D.minhash_lsh_pairs(docs, threshold=0.8)
    groups = D.connected_components(pairs, docs.select("doc_id"))
    rows = groups.collect()
    assert len(rows) == n
    assert {r["group_id"] for r in rows} == {0}, (
        "chain-capped pairing must keep the duplicate cluster connected"
    )
    assert all(r["group_size"] == n for r in rows)


def test_adaptive_ann_widths(spark, sf_dir):
    """r10 note-10 discipline on the ANN paths: (a) the width ladders
    track N (occupancy/probe cost ~constant as the corpus grows);
    (b) planes=None / n_lists=None resolve from the corpus count and
    run end-to-end, returning exactly k ranked neighbors per query;
    (c) the pinned registered widths are the ladders' small-corpus
    values, so the oracle-checked form IS the adaptive form at test
    scale."""
    from fund_data_etl_pipeline_spark.operators.similarity import (
        ANN_OCC_TARGET,
        ann_lsh_topk,
        ann_planes,
        ivf_lists,
        ivf_seed_topk,
    )
    from fund_data_etl_pipeline_spark.sources import load_table

    # (a) ladder shapes
    assert ann_planes(500) == 4          # registered/pinned width
    assert ann_planes(200_000) == 12     # the r10 probe's 100x corpus
    for n in (10_000, 1_000_000, 100_000_000):
        p = ann_planes(n)
        assert n <= ANN_OCC_TARGET * (1 << p) or p == 24
    assert ivf_lists(500) == 32
    assert ivf_lists(200) == 16          # floor = pinned width
    for n in (10_000, 1_000_000):
        ls = ivf_lists(n)
        assert ls * ls >= n and (ls & (ls - 1)) == 0

    # (b) auto widths execute and keep the top-k contract
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(emb.vec_id < 3)
    for out in (
        ann_lsh_topk(emb, queries, k=3),
        ivf_seed_topk(emb, queries, k=3, n_probe=2),
    ):
        rows = out.collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r["rank"])
        assert set(by_q) == {0, 1, 2}
        assert all(sorted(v) == [1, 2, 3] for v in by_q.values())
