"""Seeded ``documents`` table for the catalog workload.

The catalog queries the benchmark runs read the driver-style
``documents`` table.  This module writes it with the column names,
types and value distributions of the repository's test tables: a
31-word vocabulary drawn uniformly, 8-99 words a document, five
languages with English the most common, twenty round-robin sources,
and a handful of exact duplicates.  ``sf=0.1`` gives 5,000 documents.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data spark scan filter join group agg sort hash window stream batch "
    "table column row key value query order line part customer vector merge "
    "fast slow big small"
).split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def generate(out_dir: str, seed: int, sf: float) -> int:
    """Write ``documents.parquet`` under ``out_dir``; return its rows."""
    rng = np.random.default_rng(seed)
    n = int(50_000 * sf)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(8, 100, n)]
    for i in rng.choice(n, max(1, n // 600), replace=False):  # exact duplicates
        texts[i] = texts[(i + 1) % n]
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return n
