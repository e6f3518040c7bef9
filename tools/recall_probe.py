"""Pair-cap recall quantifier (VERDICT r7 next-step #2).

Measures what the oversized-bucket pair cap actually costs on the
twin-family clustered staging (tools/scale_probe.build_clustered_dir:
near-dup families engineered to SHARE oversized LSH buckets, including
cross-family TRUE near-dups — the exact regime the cap forgoes pairs
in). For each scale factor and for both capped operators:

  dedup_minhash_lsh  — operators/dedup.minhash_lsh_pairs, band buckets
  dedup_semantic_lsh — plans/dedup.slsh_verified_pairs, RHP buckets

the probe runs the CAPPED form (shipped bucket cap) and the UNCAPPED
form (cap = 2^40) on the identical corpus and reports:

  pair_recall     |verified pairs capped| / |verified pairs uncapped|
                  (uncapped is the denominator the judge asked for; the
                  cap can only remove candidates, never add, since the
                  doubling strides are a subset of all-pairs)
  dup_agreement   |dup-flagged ids capped ∩ uncapped| / |uncapped| —
                  the survivorship metric the dedup queries actually
                  output (a doc is "dup" when it appears as d2 of a
                  verified pair)
  time_capped / time_uncapped — the runtime side of the frontier

plus mixed-bucket diagnostics (how many oversized buckets hold >1
family — recomputed from the staging's deterministic id->family rule).

Usage: python tools/recall_probe.py [--factors 10,100] [--frac 0.02]
       [--sf /root/testdata/sf0.1]

Results land in BASELINE.md's recall table. Run SOLO (memory note 5).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tools.scale_probe import (  # noqa: E402
    _CLUSTER_FAM_RULE,
    _CLUSTER_MEMBER_RULE,
    build_clustered_dir,
)

UNCAPPED = 1 << 40


def _fam_col(id_col: str, frac: float):
    member = F.expr(_CLUSTER_MEMBER_RULE.format(id=id_col)) < int(
        frac * 1_000_000
    )
    fam = F.expr(_CLUSTER_FAM_RULE.format(id=id_col))
    return F.when(member, fam).otherwise(F.lit(-1))


def _pair_metrics(spark, pairs_fn) -> dict:
    """{n_pairs, dup_ids (set), seconds} for one pairing form. The pair
    count and the distinct-d2 collection both execute the plan; timing
    wraps the count (the heavy pass — dup ids reuse nothing, so a small
    double-execution is accepted for metric clarity)."""
    t0 = time.time()
    pairs = pairs_fn()
    n = pairs.count()
    dt = round(time.time() - t0, 3)
    dups = {r["d2"] for r in pairs.select("d2").distinct().collect()}
    spark.catalog.clearCache()
    return {"n_pairs": n, "dups": dups, "sec": dt}


def _recall_row(capped: dict, uncapped: dict) -> dict:
    inter = len(capped["dups"] & uncapped["dups"])
    return {
        "pairs_capped": capped["n_pairs"],
        "pairs_uncapped": uncapped["n_pairs"],
        "pair_recall": round(capped["n_pairs"] / uncapped["n_pairs"], 4)
        if uncapped["n_pairs"]
        else None,
        "dup_agreement": round(inter / len(uncapped["dups"]), 4)
        if uncapped["dups"]
        else None,
        "dups_capped": len(capped["dups"]),
        "dups_uncapped": len(uncapped["dups"]),
        "time_capped_s": capped["sec"],
        "time_uncapped_s": uncapped["sec"],
    }


def probe_minhash(spark, sf_dir: str, frac: float) -> dict:
    from fund_data_etl_pipeline_spark.functions.text import MINHASH_BUCKET_CAP
    from fund_data_etl_pipeline_spark.operators.dedup import minhash_lsh_pairs
    from fund_data_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    capped = _pair_metrics(
        spark,
        lambda: minhash_lsh_pairs(
            docs, threshold=0.8, bucket_cap=MINHASH_BUCKET_CAP
        ),
    )
    uncapped = _pair_metrics(
        spark, lambda: minhash_lsh_pairs(docs, threshold=0.8, bucket_cap=UNCAPPED)
    )
    return _recall_row(capped, uncapped)


def probe_slsh(spark, sf_dir: str, frac: float) -> dict:
    from fund_data_etl_pipeline_spark.operators.similarity import as_double, norm
    from fund_data_etl_pipeline_spark.plans.dedup import (
        _SLSH_BUCKET_CAP,
        slsh_planes,
        slsh_verified_pairs,
    )
    from fund_data_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    planes = slsh_planes(emb.count())
    prepped = emb.select("vec_id", "v", norm(F.col("v")).alias("nv"))
    capped = _pair_metrics(
        spark,
        lambda: slsh_verified_pairs(emb, prepped, planes, _SLSH_BUCKET_CAP),
    )
    uncapped = _pair_metrics(
        spark, lambda: slsh_verified_pairs(emb, prepped, planes, UNCAPPED)
    )
    return _recall_row(capped, uncapped)


def mixed_bucket_diag(spark, sf_dir: str, frac: float) -> dict:
    """Oversized-bucket purity: for slsh RHP buckets, how many buckets
    past the cap hold members of more than one staged family."""
    from fund_data_etl_pipeline_spark.operators.similarity import (
        as_double,
        rhp_bucket,
    )
    from fund_data_etl_pipeline_spark.plans.dedup import (
        _SLSH_BUCKET_CAP,
        _SLSH_P_MAX,
        _SLSH_TABLES,
        slsh_planes,
    )
    from fund_data_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    p = slsh_planes(emb.count())
    sig = emb.select(
        "vec_id",
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
        ).alias("tb"),
    ).select("vec_id", "tb.tbl", "tb.bucket")
    withfam = sig.withColumn("fam", _fam_col("vec_id", frac))
    agg = (
        withfam.groupBy("tbl", "bucket")
        .agg(
            F.count(F.lit(1)).alias("occ"),
            F.countDistinct("fam").alias("n_fams"),
        )
        .filter(F.col("occ") > _SLSH_BUCKET_CAP)
    )
    row = agg.agg(
        F.count(F.lit(1)).alias("oversized"),
        F.sum(F.when(F.col("n_fams") > 1, 1).otherwise(0)).alias("mixed"),
        F.max("occ").alias("max_occ"),
    ).collect()[0]
    return {
        "oversized_buckets": int(row["oversized"] or 0),
        "mixed_oversized_buckets": int(row["mixed"] or 0),
        "max_occ": int(row["max_occ"] or 0),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", default="10,100")
    ap.add_argument("--frac", type=float, default=0.02)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--ops", default="minhash,slsh", help="subset: minhash,slsh"
    )
    args = ap.parse_args()
    factors = [int(f) for f in args.factors.split(",")]
    ops = [o.strip() for o in args.ops.split(",")]

    from fund_data_etl_pipeline_spark.session import get_spark

    spark = get_spark("recall-probe")
    spark.sparkContext.setLogLevel("ERROR")

    out = {"frac": args.frac, "factors": factors, "rows": []}
    for f in factors:
        d = build_clustered_dir(spark, args.sf, f, args.frac)
        diag = mixed_bucket_diag(spark, d, args.frac)
        print(f"{f}x slsh oversized-bucket diag: {diag}")
        for op in ops:
            fn = probe_minhash if op == "minhash" else probe_slsh
            row = {"factor": f, "op": op, **fn(spark, d, args.frac)}
            if op == "slsh":
                row["diag"] = diag
            out["rows"].append(row)
            print(
                f"{f}x {op}: recall={row['pair_recall']} "
                f"dup_agree={row['dup_agreement']} "
                f"pairs {row['pairs_capped']}/{row['pairs_uncapped']} "
                f"time {row['time_capped_s']}s vs {row['time_uncapped_s']}s"
            )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
