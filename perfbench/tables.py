"""Seeded toolkit tables with the shapes of the driver's sf0.01 tables.

``REFERENCE`` is ``shapes.measure`` run on the driver's sf0.01 tables
(TESTDATA.md: deterministic, seed 42); every constant below is read off
those tables, and tests/test_tables.py checks the generated tables against
``REFERENCE``:

- ``documents``: 500 texts of 10-99 words (uniform), words drawn uniformly
  from the same 30-word vocabulary; then one text in twenty (25, as in the
  reference) is replaced by another text with " dup" appended, in index
  order, so a few chains arise as in the reference; the reference's
  language shares and 20 round-robin sources;
- ``embeddings``: 500 isotropic Gaussian 64-dim vectors scaled to unit
  norm, with uniform labels 0-9 that carry no direction (the reference's
  label centroids have norm ~1/sqrt(members), and no pair of vectors has
  cosine above 0.9);
- ``lineitem``: 60,000 rows with part and supplier keys uniform over
  2,000 / 100, so the bipartite part-supplier graph that PageRank walks has
  the reference's ~51,700 edges. These two keys are all the benchmarked
  queries and their oracles read of it; no query reads ``part`` or
  ``supplier``.

The inputs live inside the benchmark's own work directory; the same seed
writes the same bytes.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# shapes.measure() of the driver's sf0.01 tables
REFERENCE = {
    "documents": {
        "rows": 500, "words_min": 10, "words_median": 56.0, "words_max": 99,
        "vocab": 30, "dup_docs": 25, "dup_chains": 1, "distinct_texts": 500,
        "lang_share": {"de": 0.14, "en": 0.436, "es": 0.146, "fr": 0.128, "zh": 0.15},
        "sources": 20,
    },
    "embeddings": {
        "rows": 500, "dims": 64, "norm_mean": 1.0, "coord_std": 0.125,
        "labels": 10, "label_min_count": 44, "label_max_count": 59,
        "centroid_norm_mean": 0.146, "nn_cos_median": 0.367, "pairs_cos_over_0.9": 0,
    },
    "lineitem": {
        "rows": 60000, "parts": 2000, "suppliers": 100, "edges": 51731,
        "part_degree_mean": 25.87, "supplier_degree_mean": 517.31,
    },
}

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big group filter stream vector"
).split()

N_DOCS, N_VECS, DIMS, N_LABELS = 500, 500, 64, 10
WORDS = (10, 100)  # words per text, half-open
DUP_P = 0.05  # share of texts replaced by a near-duplicate
N_LINES, N_PARTS, N_SUPPS = 60_000, 2_000, 100


def documents(rng: np.random.Generator) -> pa.Table:
    # the reference's language shares exactly, in a seeded order
    share = REFERENCE["documents"]["lang_share"]
    langs = [lang for lang, f in share.items() for _ in range(round(f * N_DOCS))]
    texts = [" ".join(rng.choice(VOCAB, size=int(rng.integers(*WORDS)))) for _ in range(N_DOCS)]
    for i in sorted(rng.choice(N_DOCS, size=int(N_DOCS * DUP_P), replace=False)):
        j = int(rng.integers(N_DOCS - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": texts,
            "lang": rng.permutation(langs).tolist(),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator) -> pa.Table:
    x = rng.standard_normal((N_VECS, DIMS)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, N_LABELS, N_VECS), pa.int32()),
        }
    )


def lineitem(rng: np.random.Generator) -> pa.Table:
    return pa.table(
        {
            "l_partkey": pa.array(rng.integers(0, N_PARTS, N_LINES), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPS, N_LINES), pa.int64()),
        }
    )


BUILDERS = {
    "documents": documents,
    "embeddings": embeddings,
    "lineitem": lineitem,
}


def build_tables(out_dir: Path, seed: int) -> Path:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for i, (name, build) in enumerate(BUILDERS.items()):
        rng = np.random.default_rng([seed, i])
        pq.write_table(build(rng), out_dir / f"{name}.parquet")
    return out_dir
