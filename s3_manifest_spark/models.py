"""Durable store for session-trained model artifacts.

Every trained operator (quality classifier, bigram LM, BPE merges,
IVF/PQ/semdedup quantizers, the MinHash band index, the TF-IDF
document-frequency table) session-caches its model in
``spark._smsp_model_cache`` — built once, served warm, priced in
``BENCH_FULL.json``'s ``cold_sec``.  In production those artifacts
outlive the session: the daily job LOADS yesterday's tokenizer /
classifier / index instead of retraining.  This module is that
persistence layer:

    from s3_manifest_spark.models import save_models, load_models
    save_models(spark, "/models/2026-08-15")        # after training
    ...                                              # new session:
    load_models(spark, "/models/2026-08-15")         # warm-start
    QUERIES["bpe_tokenize"](spark, sf)               # no retrain jobs

Formats are engine-neutral and deterministic: numpy arrays as ``.npy``,
plain-python payloads (merge lists, df-req dicts, scalars) as sorted
JSON, opaque serialized sketches (the Count-Min Sketch) as ``.bin``
bytes, DataFrame-backed models (bigram count tables, the band index)
as parquet subdirectories.  ``load_models`` reconstructs each value in
the exact shape its trainer caches — persisted DataFrames persisted
again, broadcast payloads re-broadcast — so trainers find a cache hit
and never re-run (tests/test_models.py pins the zero-jobs cache-hit
and output-hash equality per kind).

Contracts this file enforces rather than assumes:

- ``save_models`` MERGES into an existing ``MODELS.json`` — a second
  save with a ``keys`` subset must not orphan previously saved models
  (the loader reads only the manifest).
- Slugs key on a hash of the FULL ``sf_dir`` path, not its basename —
  two fixture dirs sharing a basename must not overwrite each other.
- Frame-backed kinds record their exact frame count in the manifest
  and the loader reads exactly that many, failing loudly on a missing
  frame — an ``os.path.exists`` probe would silently load zero frames
  from a non-local ``store_dir`` that ``df.write.parquet`` happily
  wrote to.
- ``frames+scalars`` tuples must be frames-first (every DataFrame
  before every scalar, the shape ``train_bigram_lm`` caches);
  ``save_models`` raises on any other ordering instead of silently
  reconstructing a permuted tuple.

Scope: the TRAINED artifacts above.  Derived session caches (the
multimodal encoded corpus, CDC state, the plan memo, the contamination
bloom bitset — rebuilt from data by design) are skipped and reported,
never silently dropped on a future trainer's behalf.

The reference (/root/reference/src/main.rs) has no model surface; this
backs the engine's trained-operator extension (SURVEY.md §2B).
bench.py is the resident caller: every run round-trips the trained
models through a scratch store and times the warm-started queries
(``warm_start_sec`` vs ``cold_sec`` in BENCH_FULL.json).
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

#: model-cache key prefix -> storage kind
_KINDS = {
    "lr_quality": "npy",
    "ivf": "npy",
    "pq": "npy",
    "semdedup": "npy",
    "bpe_merges": "json",
    "cms_sketch": "bytes",
    "tfidf_dfreq": "broadcast_json",
    "bigram_lm": "frames+scalars",
    "minhash_index": "frames",
    # full-corpus shingle-fingerprint posting relation (r18): the
    # shared input of the shingle family (ngram-Jaccard, containment,
    # MinHash banding, df profile, incremental probe) — derived index
    # state per SURVEY §7.4a, the batch twin of the streaming index
    # maintainer's durable shingles store.
    "shingle_fps": "frames",
    "ann_exact": "frames",
    "knn_exact": "frames",
    "knn_exact_sampled": "frames",
    # (packed bucket relation, plane count): the probe bit width
    # travels WITH the served index (ADVICE r14) — a reloaded index
    # must be probed with the planes it was packed under, never a
    # count re-derived from the current corpus file.
    "knn_ann_index": "frames+scalars",
    "knn_query_pack": "frames+scalars",
    "ann_membership_knn": "frames+scalars",
    "ann_membership_knn_s": "frames+scalars",
    "ann_membership_lsh": "frames",
    "ann_membership_ivf": "frames",
    "ann_membership_pq": "frames",
    "ann_membership_ivf_pq": "frames",
    "pagerank_graph": "frames+scalars",
    "dedup_components": "frames",
}

_MANIFEST = "MODELS.json"


def _slug(key: tuple) -> str:
    name, sf_dir = key
    path = str(sf_dir).rstrip("/")
    digest = hashlib.sha256(path.encode()).hexdigest()[:12]
    return f"{name}__{os.path.basename(path)}__{digest}"


def save_models(
    spark: SparkSession, store_dir: str, keys: list | None = None
) -> dict[str, list]:
    """Persist cached models to ``store_dir``; returns
    ``{"saved": [...], "skipped": [...]}`` (skipped = cache entries of
    kinds this store does not cover — derived caches).  Merges into an
    existing store: models already on disk but absent from this call's
    cache (or filtered out by ``keys``) stay in the manifest."""
    import numpy as np

    mc = getattr(spark, "_smsp_model_cache", {}) or {}
    os.makedirs(store_dir, exist_ok=True)
    manifest_path = os.path.join(store_dir, _MANIFEST)
    manifest: dict[str, Any] = {}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
    saved, skipped = [], []
    for key, value in mc.items():
        if keys is not None and key not in keys:
            continue
        if not (isinstance(key, tuple) and len(key) == 2):
            skipped.append(repr(key))
            continue
        kind = _KINDS.get(key[0])
        if kind is None:
            skipped.append(repr(key))
            continue
        slug = _slug(key)
        base = os.path.join(store_dir, slug)
        entry: dict[str, Any] = {"key": list(key), "kind": kind}
        if kind == "npy":
            np.save(base + ".npy", np.asarray(value))
        elif kind == "bytes":
            with open(base + ".bin", "wb") as f:
                f.write(value)
        elif kind == "json":
            with open(base + ".json", "w") as f:
                json.dump(value, f)
        elif kind == "broadcast_json":
            if not hasattr(value, "value"):
                # Documented overflow shape: a trainer whose payload
                # outgrew its broadcast cap caches the RELATIONAL frame
                # instead (tfidf_dfreq past TFIDF_VOCAB_BROADCAST_CAP).
                # That frame is rebuilt from data by design — skip it
                # like other derived caches, never store a corpus-sized
                # table as a JSON blob.
                skipped.append(repr(key))
                continue
            with open(base + ".json", "w") as f:
                json.dump(dict(value.value), f, sort_keys=True)
        elif kind in ("frames", "frames+scalars"):
            frames = [v for v in value if isinstance(v, DataFrame)]
            scalars = [v for v in value if not isinstance(v, DataFrame)]
            if kind == "frames" and scalars:
                raise ValueError(
                    f"{slug}: kind 'frames' cache entry holds non-frame "
                    f"members {scalars!r}"
                )
            # trainers cache (frames..., scalars...) tuples — the load
            # path reconstructs in that order, so any interleaving
            # would silently permute the tuple.  Fail loudly instead.
            if list(value) != frames + scalars:
                raise ValueError(
                    f"{slug}: cache tuple must be frames-first "
                    f"(got member types "
                    f"{[type(v).__name__ for v in value]})"
                )
            for i, df in enumerate(frames):
                df.write.mode("overwrite").parquet(f"{base}__f{i}.parquet")
            entry["n_frames"] = len(frames)
            if kind == "frames+scalars":
                with open(base + ".json", "w") as f:
                    json.dump(scalars, f)
        manifest[slug] = entry
        saved.append(slug)
    # Atomic manifest replace: a reader (or a crash) mid-write must see
    # either the old manifest or the new one, never a truncated file.
    # The merge itself is still read-modify-write — concurrent writers
    # to one store_dir can drop each other's entries, so the store
    # assumes a single writer (the daily training job).
    tmp_path = manifest_path + ".tmp"
    with open(tmp_path, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp_path, manifest_path)
    return {"saved": sorted(saved), "skipped": sorted(skipped)}


def load_models(
    spark: SparkSession, store_dir: str, sf_dir: str | None = None
) -> list[str]:
    """Load every model in ``store_dir`` into the session cache so the
    trainers cache-hit; returns the loaded slugs.  DataFrame-backed
    models are persisted again (the shape their trainers cache), so
    ``registry.clear_model_cache`` releases them exactly as if they
    had been trained in-session.

    ``sf_dir`` scopes the load to one dataset: a long-lived store
    accumulates manifests across runs AND across fixture dirs
    (``save_models`` merges by design), and a session serving sf0.01
    must not pay load time + driver/executor memory materializing every
    frame-backed model ever saved for sf0.1 (ADVICE r12).  Model keys
    are ``(kind, sf_dir)`` tuples, so the filter is exact; ``None``
    keeps the load-everything behavior for single-dataset stores.

    A model the session already holds is kept, not overwritten (an
    overwrite would orphan the live entry's blocks)."""
    from s3_manifest_spark.registry import cached

    with open(os.path.join(store_dir, _MANIFEST)) as f:
        manifest = json.load(f)
    loaded = []
    for slug, meta in sorted(manifest.items()):
        key = tuple(meta["key"])
        if sf_dir is not None and len(key) >= 2 and key[1] != sf_dir:
            continue
        cached(
            spark,
            key,
            lambda: _load_value(spark, os.path.join(store_dir, slug), meta),
        )
        loaded.append(slug)
    return loaded


def _load_value(spark: SparkSession, base: str, meta: dict) -> Any:
    """Reconstruct one stored model in the shape its trainer caches."""
    import numpy as np

    slug = os.path.basename(base)
    kind = meta["kind"]
    if kind == "npy":
        return np.load(base + ".npy")
    if kind == "bytes":
        with open(base + ".bin", "rb") as f:
            return f.read()
    if kind == "json":
        with open(base + ".json") as f:
            raw = json.load(f)
        # JSON round-trips tuples as lists; trainers cache tuples
        return [tuple(item) for item in raw]
    if kind == "broadcast_json":
        with open(base + ".json") as f:
            return spark.sparkContext.broadcast(json.load(f))
    if kind in ("frames", "frames+scalars"):
        # the saved frame count is the source of truth: a missing
        # frame directory is store corruption (or a non-local
        # store_dir the save path wrote through Hadoop), never
        # "fewer frames" — spark.read raises AnalysisException.
        if "n_frames" not in meta:
            raise ValueError(
                f"{slug}: manifest entry has no 'n_frames' — this "
                "store was written by an older save_models (pre "
                "frame-count manifests); re-save the models with "
                "the current version"
            )
        value = tuple(
            spark.read.parquet(f"{base}__f{i}.parquet").persist()
            for i in range(meta["n_frames"])
        )
        if kind == "frames+scalars":
            with open(base + ".json") as f:
                value = value + tuple(json.load(f))
        return value
    raise ValueError(f"unknown model kind {kind!r} for {slug}")  # pragma: no cover
