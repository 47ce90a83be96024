"""Streaming maintenance of the kNN-ANN LSH index (SURVEY.md §2B;
VERDICT r14 item 1 — the last build-once index gets a maintainer).

``knn_graph_ann`` serves its sweeps from a packed LSH bucket relation
(``_knn_ann_index_cached``: build once, query many — the FAISS
lifecycle).  At 100 TB an embedding corpus grows daily, and until this
round the only refresh path was a full rebuild, while the index's two
siblings (the MinHash band index, the boilerplate chunk index) were
already stream-maintained.  This module closes that asymmetry with the
index_update.py foreachBatch pattern:

- the embedding corpus replays as a multi-file parquet spool; the
  registered drain takes it in ONE availableNow micro-batch (a day's
  ingest), and the multi-batch arrival path (one file per trigger) is
  pinned equal to the batch-built index by
  tests/test_r15_knn_lifecycle.py — per-VECTOR closure (a vector's
  LSH signature derives only from its own embedding and the fixed
  seeded plane matrix) makes batch boundaries invisible to index
  content;
- ``foreachBatch`` computes each batch's bucket assignments with THE
  SAME seeded signature kernel the batch index uses
  (``_ann_signatures``, seed offset :data:`KNN_ANN_SEED_OFFSET`) and
  writes ``(vec_id, bucket, embedding)`` rows to the index store
  (executor→parquet, no driver hop; overwrite-by-batch, see
  ``streaming/scratch.py`` for the drain contract — an append would
  duplicate vectors inside packed blocks on re-delivery and corrupt
  every diagonal self-mask downstream);
- the PLANE COUNT is index metadata, pinned at drain start and
  verified on every append and read (``_PLANES.json``): signatures
  are only comparable under one plane matrix, so a corpus that grows
  across a ``_knn_ann_planes`` boundary must trigger a REBUILD, never
  a silent mixed-width store — the maintainer fails loud (the
  MINHASH_MAX_DF contract in index_update.py);
- after the drain, the registered query packs the streamed rows with
  the batch path's own ``_pack_buckets_salted`` (occupancy-adaptive
  hot-bucket salting is a GLOBAL property, so it belongs to read-time
  compaction, not per-batch appends) and answers the SAME completeness
  certificate as ``knn_graph_ann``, graded by the SAME oracle — the
  hash match certifies that streaming maintenance converges to exactly
  the batch-built index state.

State sizing at 100 TB: index rows are O(vectors) — one bucket long +
the vector itself (an ANN index stores its vectors; FAISS does too),
appended partition-parallel; per-trigger work is one Arrow matmul pass
over the batch — no join, no shuffle, no state-store lookup (the index
is append-only by per-vector closure).  The read-time pack is one
bucket-keyed exchange, priced per served-index refresh, not per
trigger.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_manifest_spark.operators.similarity import (
    _KNN_ANN_CERT_SQL,
    KNN_ANN_SEED_OFFSET,
    _ann_certificate,
    _ann_signatures,
    _knn_ann_membership,
    _knn_ann_planes,
    _knn_exact_cached,
    _membership_cached,
    _pack_buckets_salted,
    knn_graph_ann_neighbors,
)
from s3_manifest_spark.registry import register
from s3_manifest_spark.sources.tables import load_table, parquet_row_count
from s3_manifest_spark.streaming.scratch import (
    drain,
    frame_spool,
    open_spool,
    read_store,
    scratch_store,
    write_batch,
)

_PLANES_META = "_PLANES.json"


def _spool_embeddings(spark: SparkSession, sf_dir: str) -> str:
    """The embedding corpus as a multi-file parquet spool."""
    return frame_spool(
        "embfeed",
        f"{sf_dir}/embeddings.parquet",
        lambda: load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        ),
        "v1",
    )


def _check_planes(store: str, planes: int, what: str) -> None:
    meta_path = os.path.join(store, _PLANES_META)
    with open(meta_path) as f:
        stored = json.load(f)["planes"]
    if stored != planes:
        raise ValueError(
            f"kNN-ANN index store {what} with planes={planes} but the "
            f"store was built at planes={stored}: signatures are only "
            "comparable under one plane matrix — a corpus that crossed "
            "a _knn_ann_planes boundary needs an index REBUILD, not a "
            "mixed-width append"
        )


def drain_embedding_feed(
    spark: SparkSession,
    spool: str,
    planes: int,
    max_files_per_trigger: int | None = None,
) -> str:
    """Drain an embedding spool through the kNN-ANN index maintainer;
    returns the index-store directory of (vec_id, bucket, embedding)
    rows with its ``_PLANES.json`` metadata.  With
    ``max_files_per_trigger`` unset, availableNow takes every ready
    file in one micro-batch; set it to force a multi-batch drain
    (the batch-boundary invariance test)."""
    store = scratch_store("knnidx")
    with open(os.path.join(store, _PLANES_META), "w") as f:
        json.dump({"planes": planes}, f)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # Every append re-checks the store's plane metadata: a resumed
        # drain configured after a plane-boundary crossing must fail
        # loud on its FIRST batch, not silently mix signature widths.
        _check_planes(store, planes, "appended to")
        sigs = _ann_signatures(
            batch_df.select("vec_id", "embedding"),
            seed_offset=KNN_ANN_SEED_OFFSET,
            planes=planes,
        ).withColumnRenamed("sig", "bucket")
        write_batch(sigs.select("vec_id", "bucket", "embedding"), store, batch_id)

    feed = open_spool(spark, spool, max_files_per_trigger)
    drain(feed, "knn_index", sink, partitions=None)
    return store


def read_knn_index_store(
    spark: SparkSession, store: str, planes: int
) -> DataFrame:
    """Read the streamed (vec_id, bucket, embedding) rows, verifying
    the caller's plane count against the store metadata."""
    _check_planes(store, planes, "read")
    return read_store(spark, store).select("vec_id", "bucket", "embedding")


def _unpack_blocks(packed: DataFrame) -> DataFrame:
    """Invert a packed bucket relation back to (vec_id, bucket,
    embedding) member rows: ids index the flattened mat in fixed
    dim-strides (dim recovered as size(mat)/size(ids) — it is uniform
    per relation by construction).  Shared by the delta and full
    refresh paths so a future block-layout change cannot silently
    decode the two differently and break the pinned delta==full
    equality."""
    return packed.select(
        F.col("blk").alias("bucket"),
        F.explode(
            F.expr(
                "transform(ids, (id, i) -> struct(id as vec_id, "
                "slice(mat, i * int(size(mat) / size(ids)) + 1, "
                "int(size(mat) / size(ids))) as embedding))"
            )
        ).alias("m"),
    ).select("m.vec_id", "bucket", "m.embedding")


def delta_pack_knn_index(
    prev_packed: DataFrame, new_rows: DataFrame
) -> DataFrame:
    """Incrementally refresh a served packed relation with an append
    batch — pack cost bounded by the DELTA, not the store (VERDICT r15
    item 4: the full re-pack per refresh was the one non-incremental
    cost in the maintainer story).

    Correctness argument: occupancy salting is a PER-BUCKET property
    (``_pack_buckets_salted`` derives each bucket's salt count from
    its own member count, and the member→salt assignment is a
    deterministic ``xxhash64(vec_id) % nsalt``), so a bucket the
    append never touched packs to byte-identical block rows — reusable
    as-is.  Only TOUCHED buckets repack: their previous members are
    recovered from the served blocks themselves (``ids``/``mat``
    unzipped — never a store rescan), unioned with the new rows, and
    run through the same packer, which recomputes those buckets' salt
    counts at their NEW occupancy.  The result equals the full pack of
    (old ∪ new) exactly — pinned by
    tests/test_r16_consolidation.py::test_delta_pack_equals_full_pack.

    Shuffle accounting: one broadcast semi/anti split of the served
    blocks by the (append-sized) touched-bucket set, one explode of
    the touched blocks, and the packer's bucket-keyed exchange over
    touched members only — O(|append| · occupancy) rows, independent
    of store size (measured flat in KNN_MAINTAINER_SCALE_100x.json's
    ``pack_delta`` leg).

    BOTH inputs must be MATERIALIZED relations (checkpoint / cached
    parquet read): ``new_rows`` is consumed twice (touched-bucket
    broadcast + repack union) and ``prev_packed`` twice (anti + semi
    split), so a lazy plan on either side re-pays its computation per
    consumer — for a lazily-built served relation that is the O(store)
    pack exchange twice, the exact cost the delta path exists to avoid
    — and a non-deterministic source could split inconsistently
    between the reuse and repack legs.  The registered paths satisfy
    this (``_knn_ann_index_cached`` localCheckpoints the served
    relation; :func:`refresh_knn_index` checkpoints the append for
    you)."""
    touched = new_rows.select("bucket").distinct()
    untouched = prev_packed.join(
        F.broadcast(touched),
        prev_packed["blk"] == touched["bucket"],
        "left_anti",
    )
    old_members = _unpack_blocks(
        prev_packed.join(
            F.broadcast(touched),
            prev_packed["blk"] == touched["bucket"],
            "left_semi",
        )
    )
    repacked = _pack_buckets_salted(
        old_members.unionByName(
            new_rows.select("vec_id", "bucket", "embedding")
        )
    )
    return untouched.unionByName(repacked)


#: Delta-vs-full refresh crossover margin: the delta path repacks
#: ~A·occ member rows for an A-row append (uniform buckets: each
#: appended row pulls its whole ~occ-member bucket), so it wins only
#: while A·occ ≪ store.  The measured crossover sits near A ≈ 1% of
#: the store at occ≈24 (KNN_MAINTAINER_SCALE_100x.json: 3.3× faster at
#: 0.1%, slower at 1%); the policy switches an order of magnitude
#: below it.
KNN_REFRESH_DELTA_FRACTION = 1.0 / 1000.0


def refresh_knn_index(
    prev_packed: DataFrame,
    new_rows: DataFrame,
    store_rows: int,
    append_rows: int | None = None,
) -> tuple[DataFrame, str]:
    """Served-index refresh with the SCALE.md cadence policy applied:
    ``(refreshed_packed, path)`` where ``path`` is ``"delta"`` for an
    append small enough that the delta-pack's A·occ row volume beats a
    full re-pack (:data:`KNN_REFRESH_DELTA_FRACTION` of the store), or
    ``"full"`` for bulk loads, which are rebuilds, not appends.  Both
    paths produce the identical packed relation (the delta path is
    pinned equal to the full pack); only the work differs.

    ``new_rows`` is materialized here (eager localCheckpoint): the
    refresh plan consumes it up to three times (count, touched-bucket
    broadcast, repack union), so a lazy append — e.g. the signature
    pass over an incoming batch — would re-pay its computation per
    consumer, and a non-deterministic source could even split
    inconsistently between the reuse and repack legs (r16 review).

    ``append_rows``: pass the batch size when the caller already knows
    it (a streaming sink does — it's the micro-batch's row count);
    otherwise it is counted here (one job over the append, never the
    store).

    LIFECYCLE (ADVICE r16): the eager append checkpoint created here
    has no automatic release path — a long-lived per-micro-batch
    refresh loop that never frees it accumulates checkpoint blocks
    until GC + ContextCleaner get around to them.  Once the refreshed
    relation is MATERIALIZED (checkpointed/persisted/written), call
    :func:`release_refresh_inputs` on it — the append handle rides on
    the returned frame as ``_smsp_refresh_append`` — passing the
    superseded ``prev_packed`` too if nothing else serves it.  While
    the refreshed relation is still lazy, both inputs are live plan
    dependencies and MUST NOT be released."""
    new_rows = new_rows.select(
        "vec_id", "bucket", "embedding"
    ).localCheckpoint(eager=True)
    if append_rows is None:
        append_rows = new_rows.count()
    if append_rows <= max(1, int(store_rows * KNN_REFRESH_DELTA_FRACTION)):
        refreshed, path = delta_pack_knn_index(prev_packed, new_rows), "delta"
    else:
        refreshed, path = (
            _pack_buckets_salted(
                _unpack_blocks(prev_packed).unionByName(
                    new_rows.select("vec_id", "bucket", "embedding")
                )
            ),
            "full",
        )
    # Ride the append-checkpoint handle on the result so the caller
    # can release it without threading a third tuple element through
    # every call site (the (packed, path) contract is pinned by
    # tests and the maintainer-scale probes).
    refreshed._smsp_refresh_append = new_rows
    return refreshed, path


def release_refresh_inputs(refreshed: DataFrame, prev_packed=None) -> None:
    """Free the blocks a :func:`refresh_knn_index` call pinned, AFTER
    ``refreshed`` has been materialized: the internal append checkpoint
    (riding on the frame as ``_smsp_refresh_append``) and, when the
    caller passes it, the superseded served relation.  Both release
    paths per the r16 rule — ``unpersist`` covers store-loaded
    (plan-keyed persisted) frames, the checkpoint release covers
    session-built LogicalRDDs; each is a no-op for the other shape."""
    from s3_manifest_spark.registry import release

    append = getattr(refreshed, "_smsp_refresh_append", None)
    release((append, prev_packed))
    if append is not None:
        refreshed._smsp_refresh_append = None


@register("stream_knn_index_live", oracle=_KNN_ANN_CERT_SQL)
def stream_knn_index_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the embedding feed through the streaming kNN-ANN index
    maintainer, pack the streamed rows with the batch path's own
    occupancy-salted packer, then answer the SAME corpus-wide
    completeness certificate as ``knn_graph_ann`` from the STREAMED
    index — same output, same oracle, so the hash match certifies that
    streaming maintenance converges to exactly the batch-built index
    state (the index_update.py precedent, applied to the last
    build-once index)."""
    n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    p = _knn_ann_planes(n)
    spool = _spool_embeddings(spark, sf_dir)
    store = drain_embedding_feed(spark, spool, planes=p)
    packed = _pack_buckets_salted(read_knn_index_store(spark, store, p))
    exact = _knn_exact_cached(spark, sf_dir)
    membership = _membership_cached(
        spark,
        sf_dir,
        "knn",
        # the drained store's plane count IS p here (verified against
        # the store metadata on every append/read), so the membership's
        # should_find promise is stated at the width the sweep probes.
        lambda: _knn_ann_membership(spark, sf_dir, exact, planes=p),
        planes=p,
        # corpus-wide kind — distributed, never a driver collect
        # (ADVICE r17; see knn_graph_ann's call site).
        localize=False,
    )
    cert = _ann_certificate(
        spark,
        sf_dir,
        knn_graph_ann_neighbors(
            spark, sf_dir, index=(packed, p)
        ).withColumnRenamed("vec_id", "query_id"),
        membership.withColumnRenamed("vec_id", "query_id"),
        exact=exact.withColumnRenamed("vec_id", "query_id"),
        # corpus-wide certificate, same as knn_graph_ann: never force
        # the N·k sweep through a BroadcastExchange driver collect
        broadcast_found=False,
    )
    return cert.withColumnRenamed("query_id", "vec_id")
