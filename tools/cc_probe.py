"""One-giant-cluster stress for connected components
(VERDICT r7 next-step #3).

Real crawl corpora contain boilerplate families with 10^4-10^5
near-identical members. This probe stages the sf0.1 documents corpus
plus ONE planted boilerplate family of C members (ids 10_000_000+i, so
the family is a contiguous id block labeled by its minimum), runs the
shipped pair machinery (minhash_lsh_pairs — the family lands in one
oversized band bucket per band and pairs by id-rank doubling), then
resolves groups with connected_components, recording its rounds and
time, the doubling-capped edge count n_pairs (~C*log2(C)*bands), and
whether the family resolves to ONE group of size C.
The claim under test: rounds ∝ log2(C), within the round limit — this
probe is what exposed the r7 fixed stride ladder's C/128-round
behavior and motivated the r8 doubling-pairs fix.

Usage: python tools/cc_probe.py [--sizes 1000,10000,100000]
       [--sf /root/testdata/sf0.1]

Run SOLO (memory note 5). Results land in BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANT_BASE = 10_000_000


def build_giant_cluster_dir(spark, sf_dir: str, size: int) -> str:
    from fund_data_etl_pipeline_spark.sources.tables import TABLE_NAMES, load_table

    out_dir = os.path.join(REPO, f".cc_probe_c{size}")
    marker = os.path.join(out_dir, ".complete")
    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    fingerprint = f"docs:{st.st_size}:{st.st_mtime_ns}:c{size}"
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == fingerprint:
                return out_dir
        import shutil

        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)

    docs = load_table(spark, sf_dir, "documents")
    boiler = " ".join(f"giant{w}" for w in range(40))
    planted = (
        spark.range(size)
        .select(
            (F.col("id") + PLANT_BASE).alias("doc_id"),
            F.concat(
                F.lit(boiler + " u"), F.col("id").cast("string")
            ).alias("text"),
            F.lit("en").alias("lang"),
            F.lit("boiler").alias("source"),
        )
        .select(
            "doc_id", "text", "lang", "source",
            F.length("text").cast("long").alias("n_chars"),
        )
    )
    docs.unionByName(planted).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )
    for name in TABLE_NAMES:
        if name == "documents":
            continue
        link = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(sf_dir, f"{name}.parquet"), link)
    with open(marker, "w") as fh:
        fh.write(fingerprint)
    return out_dir


def probe_size(spark, sf_dir: str, size: int, recover: bool = False) -> dict:
    from fund_data_etl_pipeline_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
        minhash_recovery_pairs,
    )
    from fund_data_etl_pipeline_spark.sources.tables import load_table

    d = build_giant_cluster_dir(spark, sf_dir, size)
    docs = load_table(spark, d, "documents")
    ids = docs.select("doc_id")

    t0 = time.time()
    pairs = minhash_lsh_pairs(docs, threshold=0.8)
    n_pairs = pairs.count()
    t_pairs = round(time.time() - t0, 3)

    # banding-recall stragglers: a member whose unique-token shingles
    # claim a band minimum in all 4 bands shares NO band bucket with the
    # cluster — it is isolated under UNCAPPED all-pairs too (it has no
    # candidate pair at all), so stragglers measure minhash banding
    # recall, not chain connectivity. Count them so the coverage number
    # below has its denominator explained.
    in_any_pair = pairs.select(
        F.explode(F.array("d1", "d2")).alias("id")
    ).distinct()
    n_paired = in_any_pair.filter(F.col("id") >= PLANT_BASE).count()
    row = {
        "C": size,
        "n_pairs": n_pairs,
        "time_pairs_s": t_pairs,
        "banding_stragglers": size - n_paired,
    }
    if recover:
        # r9 stretch: second-seed pass over ONLY unpaired docs — how
        # many stragglers does it reattach, at what cost?
        t0 = time.time()
        rec = minhash_recovery_pairs(docs, pairs, threshold=0.8)
        n_rec = rec.count()
        t_rec = round(time.time() - t0, 3)
        rec_ids = rec.select(F.explode(F.array("d1", "d2")).alias("id")).distinct()
        recovered = (
            rec_ids.filter(F.col("id") >= PLANT_BASE)
            .join(in_any_pair, "id", "left_anti")
            .count()
        )
        row.update(
            {
                "recovery_pairs": n_rec,
                "recovered_stragglers": recovered,
                "time_recover_s": t_rec,
            }
        )
        spark.catalog.clearCache()
    spark.catalog.clearCache()
    stats: dict = {}
    t0 = time.time()
    labels = connected_components(pairs, ids, stats=stats)
    giant = (
        labels.filter(F.col("group_id") == PLANT_BASE)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    row["time_cc_s"] = round(time.time() - t0, 3)
    row["rounds_cc"] = stats.get("rounds")
    n_in_giant = int(giant["n"] or 0)
    row["giant_cover"] = round(n_in_giant / size, 5)
    # connectivity contract: every PAIRED member lands in the giant
    # group (the chain resolves everything banding reached)
    row["connected_ok"] = n_in_giant == n_paired
    spark.catalog.clearCache()
    return row


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="1000,10000,100000")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--recover",
        action="store_true",
        help="run the second-seed straggler recovery pass and report "
        "cost/recovery per size (r9 stretch)",
    )
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    from fund_data_etl_pipeline_spark.session import get_spark

    spark = get_spark("cc-probe")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for size in sizes:
        row = probe_size(spark, args.sf, size, recover=args.recover)
        rows.append(row)
        print(
            f"C={size}: pairs={row['n_pairs']} ({row['time_pairs_s']}s) "
            f"stragglers={row['banding_stragglers']}  "
            f"cc rounds={row['rounds_cc']} {row['time_cc_s']}s "
            f"cover={row['giant_cover']} ok={row['connected_ok']}"
            + (
                f"  recovery: +{row['recovery_pairs']} pairs, "
                f"{row['recovered_stragglers']} stragglers reattached "
                f"({row['time_recover_s']}s)"
                if args.recover
                else ""
            )
        )
    print(json.dumps({"rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
