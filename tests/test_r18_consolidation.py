"""Round-18 consolidation pins: the ADVICE-r17 fixes.

- ``_membership_cached`` must NOT driver-localize corpus-wide
  membership kinds (``localize=False`` keeps a distributed
  checkpoint); query-bounded kinds stay driver-local relations.
- ``_drain``'s no-data-micro-batch skip must not apply to an
  append-mode streaming aggregation (whose finalized windows are only
  emitted in the trailing no-data batch) — the guard re-enables
  Spark's default for that shape.
- ``similarity_ann_lsh_neighbors``' query-probe broadcast is session
  state: one broadcast per (sf_dir, seed offset), not one per call,
  and ``clear_model_cache`` destroys it.
- the LSH hyperplane matrix has ONE construction point
  (``_lsh_plane_matrix``) shared by driver-side probe derivation and
  the executor kernels.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def _plan_node(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_membership_cache_localize_flag(spark, sf_dir):
    """localize=True -> driver-local relation (LocalRelation);
    localize=False -> distributed checkpoint (LogicalRDD), the shape
    the corpus-wide certificate joins need (ADVICE r17)."""
    from s3_manifest_spark.operators.similarity import _membership_cached
    from s3_manifest_spark.registry import clear_model_cache

    clear_model_cache(spark)

    def builder():
        return spark.range(10).select(
            F.col("id").alias("query_id"),
            (F.col("id") + 1).alias("neighbor_id"),
            F.lit(True).alias("should_find"),
        )

    local = _membership_cached(spark, sf_dir, "test_loc", builder)
    assert _plan_node(local) == "LocalRelation"
    dist = _membership_cached(
        spark, sf_dir, "test_dist", builder, localize=False
    )
    assert _plan_node(dist) == "LogicalRDD"
    # cache hit: second call returns the same frame, no rebuild
    again = _membership_cached(
        spark, sf_dir, "test_dist", builder, localize=False
    )
    assert again is dist
    clear_model_cache(spark)


def test_exact_topk_is_arrow_local_relation_with_arrow_conf_off(spark, sf_dir):
    """With spark.sql.execution.arrow.pyspark.enabled false (a plain
    session's default), the driver-collected exact top-k relation is
    still an Arrow local relation: its executed plan's one leaf is a
    LocalTableScan and no PythonRDD produces its rows."""
    from s3_manifest_spark.operators.similarity import (
        _exact_topk_cached,
        similarity_topk,
    )
    from s3_manifest_spark.registry import clear_model_cache

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    clear_model_cache(spark)
    try:
        exact = _exact_topk_cached(spark, sf_dir)
        qe = exact._jdf.queryExecution()
        leaves = qe.executedPlan().collectLeaves()
        names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
        assert names == ["LocalTableScan"], names
        lineage = qe.toRdd().toDebugString()
        assert "PythonRDD" not in lineage, lineage
        want = sorted(map(tuple, similarity_topk(spark, sf_dir).collect()))
        assert want and sorted(map(tuple, exact.collect())) == want
    finally:
        clear_model_cache(spark)
        spark.conf.set(key, before)


def test_corpus_wide_membership_is_distributed(spark):
    """The registered corpus-wide 'knn' kind must come back as a
    distributed checkpoint, never a single-partition LocalRelation
    (the exact configuration ADVICE r17 flagged as an unbounded
    driver collect at the 100 TB design point)."""
    from s3_manifest_spark.operators.similarity import (
        _knn_ann_index_cached,
        _knn_ann_membership,
        _knn_exact_cached,
        _membership_cached,
    )
    from s3_manifest_spark.registry import clear_model_cache

    sf = "/root/testdata/sf0.001"
    clear_model_cache(spark)
    exact = _knn_exact_cached(spark, sf)
    idx = _knn_ann_index_cached(spark, sf)
    m = _membership_cached(
        spark,
        sf,
        "knn",
        lambda: _knn_ann_membership(spark, sf, exact, planes=idx[1]),
        planes=idx[1],
        localize=False,
    )
    assert _plan_node(m) == "LogicalRDD"
    clear_model_cache(spark)


def test_no_data_guard_append_aggregation(spark):
    """_drain_no_data_conf: append + streaming aggregation keeps
    Spark's default (the trailing no-data batch fires); every shape
    registered today (complete/update aggs, append join without
    aggregation) keeps the skip."""
    from s3_manifest_spark.streaming.scratch import (
        DRAIN_NO_DATA_BATCHES,
        _drain_no_data_conf,
    )

    agg = spark.range(10).groupBy((F.col("id") % 2).alias("k")).count()
    plain = spark.range(10).select("id")
    assert _drain_no_data_conf(agg, "append") == "true"
    assert _drain_no_data_conf(agg, "complete") == DRAIN_NO_DATA_BATCHES
    assert _drain_no_data_conf(agg, "update") == DRAIN_NO_DATA_BATCHES
    assert _drain_no_data_conf(plain, "append") == DRAIN_NO_DATA_BATCHES


def test_lsh_probe_broadcast_is_session_state(spark, sf_dir):
    """One query-probe broadcast per (sf_dir, seed offset): a second
    serving call reuses the cached broadcast (ADVICE r17 — the old
    path leaked one ~2 MB broadcast per warm call), and
    clear_model_cache destroys it."""
    from s3_manifest_spark.operators.similarity import (
        similarity_ann_lsh_neighbors,
    )
    from s3_manifest_spark.registry import clear_model_cache

    clear_model_cache(spark)
    similarity_ann_lsh_neighbors(spark, sf_dir).count()
    mc = spark._smsp_model_cache
    key = ("lsh_query_probes", sf_dir, 0)
    assert key in mc
    bc = mc[key]
    similarity_ann_lsh_neighbors(spark, sf_dir).count()
    assert mc[key] is bc  # reused, not re-broadcast
    clear_model_cache(spark)
    assert key not in spark._smsp_model_cache
    # destroyed JVM-side: the broadcast's executor blocks are gone (the
    # driver-local Python mirror of .value stays readable by design, so
    # probe the JVM handle instead)
    assert bc._jbroadcast.isValid() is False


def test_fused_certificate_equals_join_path(spark, sf_dir):
    """The r18 corpus-wide certificate path (membership pre-fused with
    cos_sim at build time + per-query found-set aggregation) must
    produce row-identical output to the r17 exact⋈membership⋈found
    join path — on the working sweep AND on a broken sweep (so the
    completeness flag stays falsifiable through the new shape)."""
    from s3_manifest_spark.operators.similarity import (
        _ann_certificate,
        _knn_ann_membership,
        _knn_exact_cached,
        knn_graph_ann_neighbors,
    )
    from s3_manifest_spark.registry import clear_model_cache

    clear_model_cache(spark)
    exact = _knn_exact_cached(spark, sf_dir)
    fused = _knn_ann_membership(spark, sf_dir, exact)
    assert "cos_sim" in fused.columns  # production exact → fused build
    bare = fused.select("vec_id", "neighbor_id", "should_find")

    for radius in (None, 0):  # working sweep, then broken (radius-0)
        kwargs = {} if radius is None else {"probe_radius": radius}
        ann = knn_graph_ann_neighbors(spark, sf_dir, **kwargs)
        args = dict(
            spark=spark,
            sf_dir=sf_dir,
            exact=exact.withColumnRenamed("vec_id", "query_id"),
            broadcast_found=False,
        )
        new = (
            _ann_certificate(
                ann=ann.withColumnRenamed("vec_id", "query_id"),
                membership=fused.withColumnRenamed("vec_id", "query_id"),
                **args,
            )
            .toPandas()
            .sort_values("query_id")
            .reset_index(drop=True)
        )
        old = (
            _ann_certificate(
                ann=ann.withColumnRenamed("vec_id", "query_id"),
                membership=bare.withColumnRenamed("vec_id", "query_id"),
                **args,
            )
            .toPandas()
            .sort_values("query_id")
            .reset_index(drop=True)
        )
        assert new.equals(old)
        if radius == 0:  # the broken sweep must falsify through BOTH paths
            assert not new["ann_complete_ok"].all()
    clear_model_cache(spark)


def test_lsh_plane_matrix_single_construction_point(spark):
    """Driver probes and executor kernels must derive the SAME plane
    matrix — the shared helper is the construction point, and its
    output matches the canonical RandomState recipe."""
    from s3_manifest_spark.operators.similarity import (
        LSH_SEED,
        _lsh_plane_matrix,
    )

    got = _lsh_plane_matrix(6, 8)
    want = np.random.RandomState(LSH_SEED).standard_normal((6, 8))
    assert np.array_equal(got, want)
    shifted = _lsh_plane_matrix(6, 8, seed_offset=3)
    assert not np.array_equal(shifted, want)
