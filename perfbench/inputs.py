"""Seeded input tables for the query workloads.

Each generator writes ``<dir>/<table>.parquet`` as one row group, with
the schema and value domains of the repository's fixture tables
(``FIXTURES.md``), so every registry query runs unchanged against the
directory.  The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "es", "de", "fr", "zh"])


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def write_documents(out_dir: str, seed: int, n: int) -> None:
    """Word-salad documents; one in twenty is an earlier document of at
    least 50 words with `` dup`` appended.  Those near-duplicate pairs
    have 3-gram Jaccard >= 0.98, where MinHash LSH recalls every pair
    with near certainty, so the LSH result equals the exact oracle."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    sources: list[int] = []
    dups = rng.random(n) < 0.05
    for i in range(n):
        if dups[i] and sources:
            texts.append(texts[sources[int(rng.integers(0, len(sources)))]] + " dup")
            continue
        words = rng.integers(10, 101)
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), words)]))
        if words >= 50:
            sources.append(i)
    lang = rng.choice(LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    _write(
        pa.table({
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(lang),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        out_dir, "documents",
    )


def write_embeddings(out_dir: str, seed: int, n: int, dim: int = 64) -> None:
    """Unit vectors around ten weakly separated cluster centres."""
    rng = np.random.default_rng(seed)
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.normal(0.0, 0.6, (10, dim))
    x = centres[labels] + rng.normal(0.0, 1.0, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }),
        out_dir, "embeddings",
    )


def write_lineitem(out_dir: str, seed: int, n: int) -> None:
    """TPC-H-shaped line items; the manifest queries derive their
    listing (``data/<flag>/<order>/part-<line>.parquet``) from it."""
    rng = np.random.default_rng(seed)
    n_orders = max(1, n // 4)
    day0 = np.datetime64("1995-01-02", "D")
    days = rng.integers(0, 2498, n)
    _write(
        pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n)),
            "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n)),
            "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(rng.integers(90_068, 10_500_000, n) / 100.0),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array((day0 + days).astype("datetime64[us]")),
        }),
        out_dir, "lineitem",
    )
