"""Round-14 optimization pin (no SparkSession needed — pure Python):
the LSH bucket-pair caps stay under the documented ceiling
(grouped_bucket_pairs materializes O(cap²) structs per group row —
VERDICT r13 #7).
"""

from __future__ import annotations


# ---------------------------------------------------------------------------
# pair-cap ceiling
# ---------------------------------------------------------------------------

# O(cap²) structs are materialized per bucket row in the all-pairs branch
# of grouped_bucket_pairs; 256 caps that at ~32k structs per row. A
# larger cap needs a redesign (stream the expansion), not a constant bump.
PAIR_CAP_CEILING = 256


def test_bucket_pair_caps_within_ceiling():
    from fund_data_etl_pipeline_spark.functions.text import MINHASH_BUCKET_CAP
    from fund_data_etl_pipeline_spark.plans.dedup import _SLSH_BUCKET_CAP

    assert 2 <= MINHASH_BUCKET_CAP <= PAIR_CAP_CEILING
    assert 2 <= _SLSH_BUCKET_CAP <= PAIR_CAP_CEILING
