"""Shape summary of a directory of toolkit tables: the properties the cost of
the benchmarked dedup, graph and curation queries depends on.

    python3 perfbench/shapes.py <tables-dir>

prints one JSON object. ``tables.REFERENCE`` holds this summary measured on
the driver's sf0.01 tables (TESTDATA.md), and the generator in tables.py is
checked against it (tests/test_tables.py).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq


def documents(path: Path) -> dict:
    docs = pq.read_table(path, columns=["text", "lang", "source"]).to_pydict()
    texts = docs["text"]
    words = [t.split() for t in texts]
    lengths = np.array([len(w) for w in words])
    vocab = {w for ws in words for w in ws} - {"dup"}
    langs = sorted(set(docs["lang"]))
    return {
        "rows": len(texts),
        "words_min": int(lengths.min()),
        "words_median": float(np.median(lengths)),
        "words_max": int(lengths.max()),
        "vocab": len(vocab),
        # near-duplicates are earlier or later texts with " dup" appended
        "dup_docs": sum(t.endswith(" dup") for t in texts),
        "dup_chains": sum(t.count(" dup") > 1 for t in texts),
        "distinct_texts": len(set(texts)),
        "lang_share": {
            lang: round(docs["lang"].count(lang) / len(texts), 3) for lang in langs
        },
        "sources": len(set(docs["source"])),
    }


def embeddings(path: Path) -> dict:
    tbl = pq.read_table(path, columns=["embedding", "label"]).to_pydict()
    x = np.array(tbl["embedding"], dtype=np.float64)
    labels = np.array(tbl["label"])
    unit = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = unit @ unit.T
    np.fill_diagonal(sims, -1.0)
    counts = np.bincount(labels - labels.min())
    # a label's centroid norm is ~1/sqrt(members) when labels carry no
    # direction (isotropic vectors) and approaches 1 for tight clusters
    centroids = [np.linalg.norm(unit[labels == lab].mean(0)) for lab in np.unique(labels)]
    return {
        "rows": int(x.shape[0]),
        "dims": int(x.shape[1]),
        "norm_mean": round(float(np.linalg.norm(x, axis=1).mean()), 4),
        "coord_std": round(float(x.std()), 4),
        "labels": len(counts),
        "label_min_count": int(counts.min()),
        "label_max_count": int(counts.max()),
        "centroid_norm_mean": round(float(np.mean(centroids)), 3),
        "nn_cos_median": round(float(np.median(sims.max(1))), 3),
        "pairs_cos_over_0.9": int((sims > 0.9).sum() // 2),
    }


def lineitem(path: Path) -> dict:
    li = pq.read_table(path, columns=["l_partkey", "l_suppkey"]).to_pandas()
    edges = li.drop_duplicates()
    return {
        "rows": len(li),
        "parts": int(li.l_partkey.nunique()),
        "suppliers": int(li.l_suppkey.nunique()),
        # the bipartite part-supplier graph PageRank walks
        "edges": len(edges),
        "part_degree_mean": round(len(edges) / edges.l_partkey.nunique(), 2),
        "supplier_degree_mean": round(len(edges) / edges.l_suppkey.nunique(), 2),
    }


def measure(tables_dir: str | Path) -> dict:
    d = Path(tables_dir)
    return {
        "documents": documents(d / "documents.parquet"),
        "embeddings": embeddings(d / "embeddings.parquet"),
        "lineitem": lineitem(d / "lineitem.parquet"),
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python3 perfbench/shapes.py <tables-dir>")
    print(json.dumps(measure(sys.argv[1]), indent=1))
