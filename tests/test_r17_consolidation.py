"""Round-17 consolidation pins: the two ADVICE-r16 lifecycle fixes and
the fused single-aggregation ANN certificate.

- star_join_revenue's broadcast-threshold swap must be re-entrant: a
  second invocation before the deferred restore drains must NOT copy
  the override "-1" into the adaptive threshold (which would disable
  AQE broadcast conversion for its own fact join).
- refresh_knn_index's internal append checkpoint needs a release path
  (ADVICE r16): the handle rides on the returned frame and
  release_refresh_inputs frees it (plus the superseded served
  relation) once the refreshed relation is materialized.
- _ann_certificate computes both certificate columns in ONE
  aggregation (r17 shave): no join above the final aggregate, values
  identical to the two-aggregate formulation.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

STATIC_KEY = "spark.sql.autoBroadcastJoinThreshold"
ADAPTIVE_KEY = "spark.sql.adaptive.autoBroadcastJoinThreshold"


def test_star_join_threshold_swap_is_reentrant(spark, sf_dir):
    """With the static threshold already overridden to -1 (first
    invocation's swap still pending restore), a second build must not
    write -1 into the adaptive threshold — that would disable AQE
    broadcast conversion for the very fact join the override exists to
    protect (ADVICE r16)."""
    from s3_manifest_spark.operators.relational import star_join_revenue

    old_static = spark.conf.get(STATIC_KEY)
    old_adaptive = spark.conf.get(ADAPTIVE_KEY, None)
    try:
        spark.conf.set(STATIC_KEY, "-1")
        if old_adaptive is not None:
            spark.conf.unset(ADAPTIVE_KEY)
        df = star_join_revenue(spark, sf_dir)
        # the guard must SKIP the swap: adaptive stays unset (falls
        # back to its own default), static stays at the caller's -1
        # until the first invocation's deferred restore drains.
        assert spark.conf.get(ADAPTIVE_KEY, None) is None
        assert spark.conf.get(STATIC_KEY) == "-1"
        # and the plan still computes under the composed confs
        assert df.limit(1).count() >= 0
    finally:
        spark.conf.set(STATIC_KEY, old_static)
        if old_adaptive is None:
            spark.conf.unset(ADAPTIVE_KEY)
        else:
            spark.conf.set(ADAPTIVE_KEY, old_adaptive)


def _packed_rows(spark, ids, dim=8, seed=17):
    rng = np.random.RandomState(seed)
    rows = [
        (int(i), int(i % 4), [float(x) for x in rng.standard_normal(dim)])
        for i in ids
    ]
    return spark.createDataFrame(
        rows, "vec_id long, bucket long, embedding array<double>"
    )


def test_release_refresh_inputs_frees_append_checkpoint(spark):
    """refresh_knn_index rides its internal append checkpoint on the
    returned frame; release_refresh_inputs must free its blocks (the
    LogicalRDD's backing RDD drops to StorageLevel.NONE) and clear the
    handle — after the refreshed relation is materialized."""
    from s3_manifest_spark.operators.similarity import _pack_buckets_salted
    from s3_manifest_spark.streaming.knn_index import (
        refresh_knn_index,
        release_refresh_inputs,
    )

    prev = _pack_buckets_salted(
        _packed_rows(spark, range(0, 40))
    ).localCheckpoint(eager=True)
    append = _packed_rows(spark, range(40, 44), seed=23)
    refreshed, path = refresh_knn_index(prev, append, store_rows=40)
    assert path in ("delta", "full")
    handle = getattr(refreshed, "_smsp_refresh_append", None)
    assert handle is not None, "append checkpoint handle must ride the frame"
    # materialize the refreshed relation first (the documented contract)
    refreshed = refreshed.localCheckpoint(eager=True)
    # the original lazy frame still carries the handle
    level = (
        handle._jdf.queryExecution().analyzed().rdd().getStorageLevel()
    )
    assert level.useMemory() or level.useDisk()
    release_refresh_inputs_target = refreshed
    release_refresh_inputs_target._smsp_refresh_append = handle
    release_refresh_inputs(release_refresh_inputs_target, prev_packed=prev)
    level_after = (
        handle._jdf.queryExecution().analyzed().rdd().getStorageLevel()
    )
    assert not (level_after.useMemory() or level_after.useDisk())
    assert release_refresh_inputs_target._smsp_refresh_append is None
    # the refreshed relation itself still serves
    assert refreshed.count() > 0


def test_fused_certificate_single_agg_and_values(spark):
    """_ann_certificate (r17 fused form): one aggregation computes both
    exact_kth_sim and ann_complete_ok — no join sits above the final
    aggregate in the optimized plan — and the values match the
    hand-computed two-step semantics on a fixture where one probed
    member is missing from the ANN output."""
    from s3_manifest_spark.operators.similarity import _ann_certificate

    exact = spark.createDataFrame(
        [
            (1, 10, 0.9),
            (1, 11, 0.8),
            (2, 20, 0.7),
            (2, 21, 0.6),
        ],
        "query_id long, neighbor_id long, cos_sim double",
    )
    membership = spark.createDataFrame(
        [
            (1, 10, True),
            (1, 11, False),
            (2, 20, True),
            (2, 21, True),
        ],
        "query_id long, neighbor_id long, should_find boolean",
    )
    # ann misses (2, 21) although it is probed -> query 2 incomplete
    ann = spark.createDataFrame(
        [
            (1, 10, 0.9),
            (2, 20, 0.7),
        ],
        "query_id long, neighbor_id long, cos_sim double",
    )
    cert = _ann_certificate(spark, "unused", ann, membership, exact=exact)
    rows = {r["query_id"]: r for r in cert.collect()}
    assert rows[1]["exact_kth_sim"] == pytest.approx(0.8)
    assert rows[1]["ann_complete_ok"] is True  # 11 unprobed, vacuous
    assert rows[2]["exact_kth_sim"] == pytest.approx(0.6)
    assert rows[2]["ann_complete_ok"] is False  # 21 probed but missing
    # plan shape: the final aggregate is the plan root's child chain —
    # nothing joins ABOVE it (the old eagg ⨝ checks shape is gone).
    plan = cert._jdf.queryExecution().optimizedPlan().toString()
    first_agg = plan.index("Aggregate")
    assert "Join" not in plan[:first_agg]


def test_prefer_parallel_exchanges_scoped_and_reentrant(spark, sf_dir):
    """The CPU-dense opt-out from size-driven AQE coalescing: sets
    parallelism-first for the query's execution, restores the session
    value at the next registry invocation, and a nested second call is
    a no-op (no double-defer, no restore of the override itself)."""
    from s3_manifest_spark import registry

    registry.load_all()
    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        registry.prefer_parallel_exchanges(spark)
        assert spark.conf.get(key) == "true"
        registry.prefer_parallel_exchanges(spark)  # re-entrant no-op
        assert spark.conf.get(key) == "true"
        # next registry invocation drains the deferred restore
        registry.QUERIES["filter_pushdown"](spark, sf_dir).count()
        assert spark.conf.get(key) == "false"
        # the three CPU-dense queries opt out during their build
        registry.QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
        assert spark.conf.get(key) == "true"
        registry.QUERIES["filter_pushdown"](spark, sf_dir).count()
        assert spark.conf.get(key) == "false"
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_drain_confs_scoped_and_restored(spark):
    """The drain conf manager must apply the drain-scoped settings
    (few state partitions, no trailing no-data micro-batch) inside the
    context and restore the caller's session values afterwards — the
    no-data default must NOT leak out of a drain into batch queries or
    long-lived streams started later in the session."""
    from s3_manifest_spark.streaming.scratch import (
        DRAIN_NO_DATA_BATCHES,
        STREAM_SHUFFLE_PARTITIONS,
        _drain_confs,
    )

    nd_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    sp_key = "spark.sql.shuffle.partitions"
    spark.conf.set(nd_key, "true")
    old_parts = spark.conf.get(sp_key)
    try:
        with _drain_confs(spark):
            assert spark.conf.get(nd_key) == DRAIN_NO_DATA_BATCHES == "false"
            assert spark.conf.get(sp_key) == STREAM_SHUFFLE_PARTITIONS
        assert spark.conf.get(nd_key) == "true"
        assert spark.conf.get(sp_key) == old_parts
    finally:
        spark.conf.unset(nd_key)


def test_finished_drain_keeps_no_state_versions_in_the_heap(spark):
    """A drain's state stores retain no committed version in memory, so
    the CDC drain's recorded progress reports only a few KB of state
    memory per operator (Spark's default of 2 retained versions keeps
    every key's map in the heap after the drain has finished)."""
    import __spark_entry__ as entrymod

    from s3_manifest_spark.registry import session_dict

    progress = session_dict(spark, "_smsp_drain_progress")
    progress.pop("cdc_apply", None)
    entrymod.queries()["stream_cdc_apply_live"](spark, "/root/testdata/sf0.001")
    used = [
        op["memoryUsedBytes"]
        for p in progress["cdc_apply"]
        for op in p["stateOperators"]
    ]
    assert used and max(used) <= 4096, used
