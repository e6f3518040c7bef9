"""On-disk persistence for the prebuilt ANN / minhash indexes (r11 —
VERDICT r10 #2: the ``index_tables=`` convention previously handed over
in-memory DataFrames; the 100 TB story is "written out, BUCKETED by the
probe-join key so the per-batch/per-query joins are co-located").

Spark's bucketing metadata lives in the catalog, not in the parquet
files, so the store writes each index table with
``bucketBy(...).sortBy(...).saveAsTable`` (an EXTERNAL table at an
explicit location) and drops a tiny JSON manifest next to the data. A
FRESH session re-attaches the files with ``CREATE TABLE ... USING
parquet CLUSTERED BY ... INTO n BUCKETS LOCATION ...`` built from the
manifest — the dependency-free stand-in for a shared Hive metastore /
Iceberg catalog, which is what holds this metadata on a real cluster.
Bucket files carry their bucket id in the filename (Spark's bucketed
write layout), so re-attachment preserves co-location: a probe join on
the bucket key plans with NO Exchange on the index side
(``Bucketed: true`` scan, probe side alone shuffles to the bucket
count) — asserted by tests/test_index_store.py.

Sizing: ``n_buckets`` should track the index's steady-state size the
same way shuffle partitions do (a fixed bucket count over a growing
index is the note-10 trap in disguise — buckets are the unit of probe
parallelism AND of the merge-free join's partitioning, so aim for
~128 MB of index per bucket at rest).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_INDEX_MANIFEST.json"


def _ddl(schema) -> str:
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )


def save_bucketed_table(
    df: DataFrame,
    name: str,
    location: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Write ``df`` as an external bucketed parquet table at
    ``location`` and record the attach manifest. Overwrites."""
    sort_cols = sort_cols or bucket_cols
    spark = df.sparkSession
    # a previous registration under this name (any location/spec) would
    # shadow the rewrite — saveAsTable(overwrite) replaces it in-catalog
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*sort_cols)
        .option("path", location)
        .saveAsTable(name)
    )
    manifest = {
        "name": name,
        "location": location,
        "ddl": _ddl(spark.table(name).schema),
        "bucket_cols": bucket_cols,
        "sort_cols": sort_cols,
        "n_buckets": n_buckets,
    }
    tmp = os.path.join(location, MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(location, MANIFEST))


def _table_location(spark: SparkSession, name: str) -> str | None:
    for row in spark.sql(f"DESCRIBE TABLE EXTENDED `{name}`").collect():
        if row["col_name"] == "Location":
            return row["data_type"]
    return None


def table_fingerprint(sf_dir: str, table: str) -> str:
    """Cheap content fingerprint of one testdata table's parquet files
    ((relpath, size, mtime_ns, head+tail sample) per file — no Spark
    job): keys an on-disk index directory so a regenerated testdata set
    can never be probed against a stale index.

    The 4 KB head+tail sample (ADVICE r12) makes timestamp-preserving
    regeneration (``rsync -t``, tar extraction with stored mtimes,
    equal-size content swaps) detectable: a parquet file's tail holds
    the footer (row-group stats, so any data change perturbs it) and
    the head its first pages. Still a heuristic — a change confined to
    the middle of a >8 KB file with identical footer stats would slip
    through — but that requires a deliberately crafted file, not any
    real regeneration path."""
    import hashlib

    target = os.path.join(sf_dir, f"{table}.parquet")
    h = hashlib.md5()
    entries = []

    def _sample(path: str, size: int) -> bytes:
        with open(path, "rb") as fh:
            head = fh.read(4096)
            if size > 8192:
                fh.seek(-4096, os.SEEK_END)
                tail = fh.read(4096)
            else:
                tail = b""
        return head + tail

    if os.path.isdir(target):
        for root, _dirs, files in os.walk(target):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                entries.append(
                    (
                        os.path.relpath(p, target),
                        st.st_size,
                        st.st_mtime_ns,
                        _sample(p, st.st_size),
                    )
                )
    else:
        st = os.stat(target)
        entries.append(
            (f"{table}.parquet", st.st_size, st.st_mtime_ns,
             _sample(target, st.st_size))
        )
    for e in sorted(entries):
        h.update(repr(e).encode())
    return h.hexdigest()


def index_cache_dir(kind: str, data_fp: str, params: dict) -> str:
    """Resolve the cache directory for one (index kind, corpus
    fingerprint, build parameters) triple.

    Root: ``$SPARK_GRAFT_INDEX_ROOT`` if set, else ``<repo>/.index_cache``
    (gitignored). NOT the world-shared tempdir — a predictable /tmp path
    admits cross-process build races and, on a multi-user host,
    pre-planted index data (ADVICE r12).

    The leaf name hashes BOTH the data fingerprint AND the build
    parameters: the persisted index content depends on code constants
    baked in at build time (batch predicate, minhash/banding constants,
    n_lists, assignment path), so a constant change with unchanged
    testdata must MISS the cache, never silently attach an index built
    by the old code (ADVICE r12 medium — the stale-index class
    ``table_fingerprint`` exists to prevent, from the code side).
    ``params`` must include a ``"format"`` version tag; bump it on any
    layout/schema change to the saved tables."""
    import hashlib

    if "format" not in params:
        raise ValueError("index_cache_dir params must carry a 'format' tag")
    param_fp = hashlib.md5(
        repr(sorted(params.items())).encode()
    ).hexdigest()[:12]
    root = os.environ.get("SPARK_GRAFT_INDEX_ROOT") or os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        ".index_cache",
    )
    return os.path.join(root, kind, f"{data_fp[:16]}_{param_fp}")


def evict_stale(kind_dir: str, keep: int = 2, skip: str | None = None) -> int:
    """Delete all but the ``keep`` most-recently-used cache leaves under
    ``kind_dir`` (one leaf per (fingerprint, params) pair), never
    touching ``skip`` (the leaf the caller just built/attached).
    Recency is the leaf's mtime, which ``touch_cache_leaf`` bumps on
    every attach. Returns the number of leaves removed. Keeps repeated
    runs across regenerated testdata / changed constants from
    accumulating stale index dirs without bound (VERDICT r12 #4)."""
    import shutil

    if not os.path.isdir(kind_dir):
        return 0
    leaves = [
        os.path.join(kind_dir, d)
        for d in os.listdir(kind_dir)
        if os.path.isdir(os.path.join(kind_dir, d))
    ]
    keep_set = set(
        sorted(leaves, key=os.path.getmtime, reverse=True)[: max(keep, 1)]
    )
    if skip is not None:
        keep_set.add(os.path.realpath(skip))
    removed = 0
    for leaf in leaves:
        if leaf in keep_set or os.path.realpath(leaf) in keep_set:
            continue
        shutil.rmtree(leaf, ignore_errors=True)
        removed += 1
    return removed


def touch_cache_leaf(leaf: str) -> None:
    """Bump the leaf's mtime so LRU eviction sees this attach as use."""
    try:
        os.utime(leaf, None)
    except OSError:
        pass


def _norm_path(p: str) -> str:
    from urllib.parse import unquote, urlparse

    parsed = urlparse(p)
    if parsed.scheme == "file":
        # file://host/path has a host authority — its path component is
        # NOT a local filesystem path on this machine; manual prefix
        # stripping left "host/path" to resolve against cwd (r11 advice)
        if parsed.netloc not in ("", "localhost"):
            raise ValueError(
                f"non-local file URI (host {parsed.netloc!r}): {p!r}"
            )
        p = unquote(parsed.path) or "/"
    return os.path.realpath(p)


def attach_bucketed_table(
    spark: SparkSession, location: str, name: str | None = None
) -> DataFrame:
    """Return the bucketed index table at ``location`` as a DataFrame,
    registering it in THIS session's catalog from the manifest if the
    session doesn't know it yet (the fresh-session path). ``name``
    overrides the manifest's table name (two sessions can attach the
    same files under different names).

    If the session ALREADY has a table under this name, it must point at
    this ``location`` — a second index saved under the default prefix to
    a different directory re-registers the name in-catalog, and silently
    returning that table would probe the wrong index. Raises ValueError
    on a location mismatch; pass a distinct ``name`` (or prefix) per
    index instead."""
    with open(os.path.join(location, MANIFEST)) as fh:
        m = json.load(fh)
    name = name or m["name"]
    if not spark.catalog.tableExists(name):
        spark.sql(
            f"CREATE TABLE `{name}` ({m['ddl']}) USING parquet "
            f"CLUSTERED BY ({', '.join(m['bucket_cols'])}) "
            f"SORTED BY ({', '.join(m['sort_cols'])}) "
            f"INTO {m['n_buckets']} BUCKETS "
            f"LOCATION '{location}'"
        )
    else:
        have = _table_location(spark, name)
        if have is not None and _norm_path(have) != _norm_path(location):
            raise ValueError(
                f"catalog table `{name}` points at {have}, not the "
                f"requested {location}; attach it under a distinct "
                f"name= / prefix= (or drop the stale registration)"
            )
    return spark.table(name)


# ---------------------------------------------------------------------------
# Index-specific wrappers: one directory per index, one subdir per table.


def save_minhash_index(
    index_tables: tuple[DataFrame, DataFrame],
    base_dir: str,
    n_buckets: int = 32,
    prefix: str = "mh_idx",
    id_col: str = "doc_id",
) -> None:
    """Persist a build_minhash_index result: ``prepped`` bucketed by the
    doc id (the verify join's key), ``bands`` bucketed by (band, key)
    (the candidate join's key). Per-batch probes against the attached
    tables shuffle ONLY the batch side."""
    prepped, bands = index_tables
    save_bucketed_table(
        prepped,
        f"{prefix}_prepped",
        os.path.join(base_dir, "prepped"),
        [id_col],
        n_buckets,
    )
    save_bucketed_table(
        bands,
        f"{prefix}_bands",
        os.path.join(base_dir, "bands"),
        ["band", "key"],
        n_buckets,
        sort_cols=["band", "key", id_col],
    )


def load_minhash_index(
    spark: SparkSession, base_dir: str, prefix: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """The ``index_tables=`` pair for incremental_minhash_pairs, backed
    by the on-disk bucketed tables."""
    names = (f"{prefix}_prepped", f"{prefix}_bands") if prefix else (None, None)
    return (
        attach_bucketed_table(spark, os.path.join(base_dir, "prepped"), names[0]),
        attach_bucketed_table(spark, os.path.join(base_dir, "bands"), names[1]),
    )


def save_ivf_index(
    index_tables: tuple[DataFrame, DataFrame],
    base_dir: str,
    n_buckets: int = 32,
    prefix: str = "ivf_idx",
) -> None:
    """Persist a build_ivf_index result: ``assigned`` bucketed by
    list_id (the probe join's key); ``seeds`` is n_lists rows — plain
    parquet, it is broadcast/collected wherever it is used."""
    seeds, assigned = index_tables
    seeds.write.mode("overwrite").parquet(os.path.join(base_dir, "seeds"))
    save_bucketed_table(
        assigned,
        f"{prefix}_assigned",
        os.path.join(base_dir, "assigned"),
        ["list_id"],
        n_buckets,
        sort_cols=["list_id", "neighbor_id"],
    )


def load_ivf_index(
    spark: SparkSession, base_dir: str, prefix: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """The ``index_tables=`` pair for ivf_seed_topk, backed by disk."""
    seeds = spark.read.parquet(os.path.join(base_dir, "seeds"))
    assigned = attach_bucketed_table(
        spark,
        os.path.join(base_dir, "assigned"),
        f"{prefix}_assigned" if prefix else None,
    )
    return seeds, assigned
