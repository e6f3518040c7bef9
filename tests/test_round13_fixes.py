"""Round-13 fixes (ADVICE r12 + VERDICT r12 next-steps).

- index cache keyed by (data fingerprint x build params) under a
  configurable non-world-shared root, with LRU eviction (ADVICE medium
  + VERDICT #4);
- table_fingerprint detects timestamp-preserving regeneration via a
  head/tail content sample (ADVICE low).
"""

from __future__ import annotations

import os
import time

import pytest

from fund_data_etl_pipeline_spark.operators import index_store as IS


# ---------------------------------------------------------------------------
# index_cache_dir: param keying + root override


def test_cache_dir_varies_with_params_and_data():
    a = IS.index_cache_dir("minhash", "f" * 32, {"pred": "x", "format": 1})
    b = IS.index_cache_dir("minhash", "f" * 32, {"pred": "y", "format": 1})
    c = IS.index_cache_dir("minhash", "0" * 32, {"pred": "x", "format": 1})
    d = IS.index_cache_dir("minhash", "f" * 32, {"pred": "x", "format": 2})
    assert len({a, b, c, d}) == 4, "params/data/format must all key the dir"
    # same inputs -> same dir (the cache must actually hit)
    assert a == IS.index_cache_dir("minhash", "f" * 32, {"pred": "x", "format": 1})


def test_cache_dir_requires_format_tag():
    with pytest.raises(ValueError, match="format"):
        IS.index_cache_dir("minhash", "f" * 32, {"pred": "x"})


def test_cache_dir_root_override(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path / "r"))
    p = IS.index_cache_dir("ivf", "a" * 32, {"format": 1})
    assert p.startswith(str(tmp_path / "r"))
    monkeypatch.delenv("SPARK_GRAFT_INDEX_ROOT")
    q = IS.index_cache_dir("ivf", "a" * 32, {"format": 1})
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert q.startswith(os.path.join(repo_root, ".index_cache"))


# ---------------------------------------------------------------------------
# evict_stale: keep newest N + the just-built leaf


def test_evict_stale_keeps_newest_and_skip(tmp_path):
    kind = tmp_path / "minhash"
    leaves = []
    for i in range(5):
        leaf = kind / f"leaf{i}"
        leaf.mkdir(parents=True)
        # stamp strictly increasing mtimes without sleeping
        t = time.time() - (5 - i) * 100
        os.utime(leaf, (t, t))
        leaves.append(leaf)
    # skip the OLDEST leaf (as if just re-attached) — it must survive
    removed = IS.evict_stale(str(kind), keep=2, skip=str(leaves[0]))
    assert removed == 2
    survivors = sorted(p.name for p in kind.iterdir())
    assert survivors == ["leaf0", "leaf3", "leaf4"]
    # idempotent: nothing more to remove
    assert IS.evict_stale(str(kind), keep=2, skip=str(leaves[0])) == 0


def test_evict_stale_missing_dir_is_noop(tmp_path):
    assert IS.evict_stale(str(tmp_path / "absent")) == 0


def test_touch_cache_leaf_bumps_mtime(tmp_path):
    leaf = tmp_path / "leaf"
    leaf.mkdir()
    old = time.time() - 1000
    os.utime(leaf, (old, old))
    IS.touch_cache_leaf(str(leaf))
    assert os.path.getmtime(leaf) > old + 500


# ---------------------------------------------------------------------------
# table_fingerprint: content sample defeats timestamp-preserving swaps


def _write_table(tmp_path, name: str, payload: bytes) -> str:
    sf_dir = tmp_path / "sf"
    tdir = sf_dir / f"{name}.parquet"
    tdir.mkdir(parents=True, exist_ok=True)
    f = tdir / "part-0.parquet"
    f.write_bytes(payload)
    return str(sf_dir), f


def test_fingerprint_detects_equal_size_mtime_swap(tmp_path):
    sf_dir, f = _write_table(tmp_path, "documents", b"A" * 512)
    st = os.stat(f)
    fp1 = IS.table_fingerprint(sf_dir, "documents")
    # same size, same mtime, different content (rsync -t / tar -p class)
    f.write_bytes(b"B" * 512)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    fp2 = IS.table_fingerprint(sf_dir, "documents")
    assert fp1 != fp2


def test_fingerprint_samples_tail_of_large_files(tmp_path):
    # change ONLY the last bytes of a >8KB file (parquet footer region)
    body = b"x" * 10_000
    sf_dir, f = _write_table(tmp_path, "documents", body + b"FOOTER_A")
    st = os.stat(f)
    fp1 = IS.table_fingerprint(sf_dir, "documents")
    f.write_bytes(body + b"FOOTER_B")
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert IS.table_fingerprint(sf_dir, "documents") != fp1


def test_fingerprint_stable_across_calls(tmp_path):
    sf_dir, _ = _write_table(tmp_path, "documents", b"stable")
    assert IS.table_fingerprint(sf_dir, "documents") == IS.table_fingerprint(
        sf_dir, "documents"
    )


# ---------------------------------------------------------------------------
# indexed queries: a build-constant change misses the cache (end-to-end,
# via the same index_cache_dir the registered queries call)


def test_param_change_never_reuses_old_leaf(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path))
    old = IS.index_cache_dir(
        "minhash", "d" * 32, {"pred": "doc_id % 4 = 1", "format": 1}
    )
    os.makedirs(old)
    new = IS.index_cache_dir(
        "minhash", "d" * 32, {"pred": "doc_id % 5 = 1", "format": 1}
    )
    assert new != old and not os.path.exists(new)


# ---------------------------------------------------------------------------
# dims metadata (VERDICT r12 #3): load_table attaches the vector width
# as StructField metadata, and check_dims' schema-first branch runs
# ZERO Spark jobs on metadata-bearing input.


def test_load_table_attaches_dims_metadata(spark):
    from fund_data_etl_pipeline_spark.sources.tables import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    md = df.schema["embedding"].metadata
    assert md and "dims" in md, "embeddings load must carry dims metadata"
    # the attached width matches what a Spark probe would measure
    from pyspark.sql import functions as F

    probed = df.select(F.size("embedding").alias("d")).first()["d"]
    assert int(md["dims"]) == probed


def test_check_dims_schema_first_runs_no_job(spark):
    """check_dims on metadata-bearing input must not launch ANY Spark
    job: the vector column here is produced by a UDF that always raises
    — planning succeeds, but any job that evaluates it fails. If the
    LIMIT-1 probe fired, this test would error.

    (A row-wise Python UDF is deliberate and test-only: a poison pill
    needs per-row Python execution; nothing here ever runs it.)"""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType

    from fund_data_etl_pipeline_spark.operators.similarity import check_dims

    @F.udf(returnType=ArrayType(DoubleType()))
    def poison(_):
        raise RuntimeError("probe job executed the poison column")

    ghost = spark.range(4).select(
        F.col("id").alias("vec_id"),
        poison("id").alias("embedding", metadata={"dims": 64}),
    )
    check_dims(ghost, "embedding", 64)  # schema-first: no job, no error
    # the metadata is also AUTHORITATIVE: a mismatch fails fast without a job
    with pytest.raises(ValueError, match="64"):
        check_dims(ghost, "embedding", 32)
    # sanity: a job that touches the column really does fail, i.e. the
    # assertions above could not have survived a probe job
    with pytest.raises(Exception):
        ghost.select(F.size("embedding")).first()


def test_registered_lsh_plans_build_on_metadata_bearing_input(spark):
    """dedup_semantic_lsh and vector_ann_lsh validate width on the raw
    load_table column (where the metadata lives), so their builds are
    probe-free; a build at the smoke SF must succeed end-to-end."""
    from fund_data_etl_pipeline_spark.plans.dedup import dedup_semantic_lsh
    from fund_data_etl_pipeline_spark.plans.vectors import vector_ann_lsh

    assert dedup_semantic_lsh(spark, "/root/testdata/sf0.001").count() >= 0
    assert vector_ann_lsh(spark, "/root/testdata/sf0.001").count() >= 0
