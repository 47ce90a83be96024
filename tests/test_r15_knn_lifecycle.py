"""Round-15 pins for the kNN-ANN index lifecycle (ADVICE r14 + the
stream-maintained index): generalized multi-probe radii, the plane
count traveling with a served index, and (in test_streaming_state's
sibling below) the streamed index converging to the batch-built one.
Synthetic frames route through monkeypatched loaders and call the
module-level (unmemoized) functions, so nothing poisons the session
plan cache."""

from __future__ import annotations

import numpy as np
import pandas as pd

from s3_manifest_spark.operators import similarity as S
from s3_manifest_spark.registry import session_model_cache

SF = "/root/testdata/sf0.001"


def _emb_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _numpy_sigs(rows, p):
    planes = np.random.RandomState(
        S.LSH_SEED + S.KNN_ANN_SEED_OFFSET
    ).standard_normal((p, len(rows[0][1])))
    m = np.array([r[1] for r in rows])
    powers = 1 << np.arange(p, dtype=np.int64)
    return (((m @ planes.T) > 0) * powers).sum(axis=1).astype("int64")


def _numpy_ann_topk(rows, p, radius, k):
    """Independent twin of the candidate sweep: exact top-k per vector
    RESTRICTED to candidates within Hamming ``radius`` of its seeded
    signature, under the shared (rounded sim desc, id asc) order."""
    ids = np.array([r[0] for r in rows], dtype="int64")
    m = np.array([r[1] for r in rows], dtype="float64")
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    sims = np.round(m @ m.T, 6)
    sigs = _numpy_sigs(rows, p)
    out = []
    for i, qid in enumerate(ids):
        ham = np.array(
            [bin(int(sigs[i]) ^ int(s)).count("1") for s in sigs]
        )
        keep = (ham <= radius) & (ids != qid)
        cand_ids, cand_sims = ids[keep], sims[i, keep]
        order = np.lexsort((cand_ids, -cand_sims))[:k]
        for j in order:
            out.append((qid, cand_ids[j], cand_sims[j]))
    return (
        pd.DataFrame(out, columns=["vec_id", "neighbor_id", "cos_sim"])
        .sort_values(["vec_id", "neighbor_id"])
        .reset_index(drop=True)
    )


def test_knn_graph_ann_radius2_matches_numpy_twin(spark, monkeypatch):
    """ADVICE r14: probe_radius=2 must actually widen the probe set to
    all 2-bit flips (the old comprehension silently probed radius 1).
    The sweep's output must equal the independent numpy twin's exact
    top-k restricted to Hamming<=2 candidates — which, on a corpus
    where some exact neighbor sits exactly 2 bits away, differs from
    the radius-1 result."""
    rng = np.random.RandomState(23)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)], 0)
        for i in range(60)
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    from s3_manifest_spark.sources.tables import parquet_row_count

    p = S._knn_ann_planes(parquet_row_count(f"{SF}/embeddings.parquet"))

    got2 = (
        S.knn_graph_ann_neighbors(spark, SF, probe_radius=2)
        .toPandas()
        .sort_values(["vec_id", "neighbor_id"])
        .reset_index(drop=True)
    )
    want2 = _numpy_ann_topk(rows, p, radius=2, k=S.KNN_GRAPH_K)
    pd.testing.assert_frame_equal(
        got2[["vec_id", "neighbor_id", "cos_sim"]], want2
    )

    # and the widening is real on this corpus: radius 2 surfaces at
    # least one (vec, neighbor) pair radius 1 cannot generate
    want1 = _numpy_ann_topk(rows, p, radius=1, k=S.KNN_GRAPH_K)
    k2 = set(map(tuple, got2[["vec_id", "neighbor_id"]].to_numpy()))
    k1 = set(map(tuple, want1[["vec_id", "neighbor_id"]].to_numpy()))
    assert k2 - k1, "fixture never exercises a 2-bit probe"


def test_served_index_plane_count_wins(spark, monkeypatch):
    """ADVICE r14: a served index is probed with ITS OWN plane count,
    not one re-derived from the current corpus file.  Build an index
    at a deliberately different plane count than _knn_ann_planes(file)
    and check the sweep against a numpy twin at the INDEX's count —
    a file-derived flip set would probe the wrong bits."""
    rng = np.random.RandomState(31)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)], 0)
        for i in range(50)
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    from s3_manifest_spark.sources.tables import parquet_row_count

    p_file = S._knn_ann_planes(parquet_row_count(f"{SF}/embeddings.parquet"))
    p_idx = p_file + 3  # the other side of a plane boundary

    sigs = S._ann_signatures(
        _emb_df(spark, rows).select("vec_id", "embedding"),
        seed_offset=S.KNN_ANN_SEED_OFFSET,
        planes=p_idx,
    ).withColumnRenamed("sig", "bucket")
    packed = S._pack_buckets_salted(
        sigs.select("vec_id", "embedding", "bucket")
    )
    got = (
        S.knn_graph_ann_neighbors(spark, SF, index=(packed, p_idx))
        .toPandas()
        .sort_values(["vec_id", "neighbor_id"])
        .reset_index(drop=True)
    )
    want = _numpy_ann_topk(rows, p_idx, radius=1, k=S.KNN_GRAPH_K)
    pd.testing.assert_frame_equal(
        got[["vec_id", "neighbor_id", "cos_sim"]], want
    )


def test_index_cache_carries_plane_count(spark):
    """The session cache stores (packed, planes) so a reload across a
    corpus-growth boundary keeps probing its own bit width."""
    packed, p = S._knn_ann_index_cached(spark, SF)
    assert isinstance(p, int) and S.KNN_ANN_MIN_PLANES <= p <= S.KNN_ANN_MAX_PLANES
    cached = session_model_cache(spark)[("knn_ann_index", SF)]
    assert int(cached[1]) == p


# ---------------------------------------------------------------------------
# Streamed kNN-ANN index maintainer (VERDICT r14 item 1)
# ---------------------------------------------------------------------------


def _norm_packed(df):
    """Comparable form of a packed bucket relation: one row per
    (bucket, member-id tuple) with the flattened matrix rounded —
    sub-block salt values are an internal detail, but MEMBERSHIP per
    sub-block must match exactly for the streamed and batch packs to
    be the same index."""
    pdf = df.toPandas()
    rows = sorted(
        (int(r["blk"]), tuple(r["ids"]), tuple(np.round(r["mat"], 6)))
        for _, r in pdf.iterrows()
    )
    return rows


def test_streamed_knn_index_multi_batch_equals_batch_index(spark):
    """The kNN-ANN index maintainer under FORCED multi-batch arrival
    (one file per trigger) must produce exactly the batch-built packed
    index — per-vector closure makes batch boundaries invisible, and
    read-time packing recomputes the global occupancy salting the
    batch path uses."""
    from s3_manifest_spark.sources.tables import load_table, parquet_row_count
    from s3_manifest_spark.streaming import knn_index as ki

    sf = "/root/testdata/sf0.001"
    p = S._knn_ann_planes(parquet_row_count(f"{sf}/embeddings.parquet"))
    spool = ki._spool_embeddings(spark, sf)
    store = ki.drain_embedding_feed(spark, spool, planes=p,
                                    max_files_per_trigger=1)
    streamed = S._pack_buckets_salted(
        ki.read_knn_index_store(spark, store, p)
    )
    v = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    sigs = S._ann_signatures(
        v, seed_offset=S.KNN_ANN_SEED_OFFSET, planes=p
    ).withColumnRenamed("sig", "bucket")
    batch = S._pack_buckets_salted(
        sigs.select("vec_id", "embedding", "bucket")
    )
    assert _norm_packed(streamed) == _norm_packed(batch)
    # and the served sweep over the streamed index equals the batch one
    got = (
        S.knn_graph_ann_neighbors(spark, sf, index=(streamed, p))
        .toPandas().sort_values(["vec_id", "neighbor_id"])
        .reset_index(drop=True)
    )
    want = (
        S.knn_graph_ann_neighbors(spark, sf)
        .toPandas().sort_values(["vec_id", "neighbor_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_knn_index_sink_is_idempotent_under_redelivery(spark):
    """Re-delivering a micro-batch (at-least-once foreachBatch
    semantics) must leave the store unchanged: overwrite-by-batch, not
    append — an append would duplicate vectors inside packed blocks
    and corrupt the scorer's diagonal self-mask."""
    import os

    from s3_manifest_spark.sources.tables import parquet_row_count
    from s3_manifest_spark.streaming import knn_index as ki

    sf = "/root/testdata/sf0.001"
    p = S._knn_ann_planes(parquet_row_count(f"{sf}/embeddings.parquet"))
    spool = ki._spool_embeddings(spark, sf)
    store = ki.drain_embedding_feed(spark, spool, planes=p)
    cols = ["vec_id", "bucket"]

    def norm():
        pdf = ki.read_knn_index_store(spark, store, p).toPandas()[cols]
        return pdf.sort_values(cols).reset_index(drop=True)

    before = norm()
    # simulate foreachBatch re-delivering batch 0 (the whole spool
    # drained in one availableNow trigger)
    sigs = S._ann_signatures(
        spark.read.parquet(spool).select("vec_id", "embedding"),
        seed_offset=S.KNN_ANN_SEED_OFFSET,
        planes=p,
    ).withColumnRenamed("sig", "bucket")
    sigs.select("vec_id", "bucket", "embedding").write.mode(
        "overwrite"
    ).parquet(os.path.join(store, "batch0"))
    after = norm()
    pd.testing.assert_frame_equal(before, after)


def test_knn_index_plane_boundary_fails_loud(spark):
    """A drain or read configured with a different plane count than
    the store's metadata must raise (the rebuild trigger), never
    silently mix signature widths."""
    import pytest

    from s3_manifest_spark.sources.tables import parquet_row_count
    from s3_manifest_spark.streaming import knn_index as ki

    sf = "/root/testdata/sf0.001"
    p = S._knn_ann_planes(parquet_row_count(f"{sf}/embeddings.parquet"))
    spool = ki._spool_embeddings(spark, sf)
    store = ki.drain_embedding_feed(spark, spool, planes=p)
    with pytest.raises(ValueError, match="REBUILD"):
        ki.read_knn_index_store(spark, store, p + 1)
    with pytest.raises(ValueError, match="REBUILD"):
        ki._check_planes(store, p - 1, "appended to")


# ---------------------------------------------------------------------------
# kNN-ANN tuning curve (VERDICT r14 item 5)
# ---------------------------------------------------------------------------


def _python_capture(cos, p, radius):
    """Pure-Python twin of _hyperplane_capture_expr."""
    import math

    q = 1.0 - math.acos(min(max(cos, -1.0), 1.0)) / math.pi
    total = 0.0
    for j in range(radius + 1):
        total += math.comb(p, j) * (q ** (p - j)) * ((1.0 - q) ** j)
    return total


def test_knn_ann_tuning_curve_matches_python_twin(spark):
    """Every grid cell's expected/min capture equals a pure-Python
    recomputation from the same exact kNN edges (1.01x-quantum
    tolerance: Python round is banker's, the engines' is half-up)."""
    got = S.knn_ann_tuning_curve(spark, SF).toPandas()
    edges = S._knn_exact_cached(spark, SF).toPandas()
    assert set(got["planes"]) == set(S.KNN_ANN_TUNING_PLANES)
    assert set(got["probe_radius"]) == set(S.KNN_ANN_TUNING_RADII)
    for _, row in got.iterrows():
        caps = [
            _python_capture(c, int(row["planes"]), int(row["probe_radius"]))
            for c in edges["cos_sim"]
        ]
        assert row["n_edges"] == len(caps)
        assert abs(row["expected_capture"] - sum(caps) / len(caps)) <= 1.01e-6
        assert abs(row["min_capture"] - min(caps)) <= 1.01e-6


def test_knn_ann_tuning_curve_is_monotone(spark):
    """Capture must rise with probe radius at fixed planes and fall
    with planes at fixed radius — the recall-vs-cost dial the curve
    exists to expose."""
    got = S.knn_ann_tuning_curve(spark, SF).toPandas()
    piv = got.pivot(index="planes", columns="probe_radius",
                    values="expected_capture")
    for p in S.KNN_ANN_TUNING_PLANES:
        assert piv.loc[p, 0] < piv.loc[p, 1] < piv.loc[p, 2]
    for r in S.KNN_ANN_TUNING_RADII:
        col = piv[r]
        assert (col.sort_index(ascending=True).diff().dropna() < 0).all()


def test_knn_ann_tuning_expectation_tracks_empirical(spark):
    """The analytic expectation must track the MEASURED capture under
    the engine's actual seeded planes (the number the curve exists to
    predict).  Deterministic given the seed; the margin is ~4 sigma of
    the binomial spread at the fixture's 250 edges (KNN_ANN_TUNING.json
    carries the per-config gaps at sf0.1 — all within ~2 sigma)."""
    import math

    pmax = max(S.KNN_ANN_TUNING_PLANES)
    from s3_manifest_spark.sources.tables import load_table

    v = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    sigs = {
        int(r["vec_id"]): int(r["sig"])
        for r in S._ann_signatures(
            v, seed_offset=S.KNN_ANN_SEED_OFFSET, with_embedding=False,
            planes=pmax,
        ).collect()
    }
    edges = S._knn_exact_cached(spark, SF).toPandas()
    curve = S.knn_ann_tuning_curve(spark, SF).toPandas()
    for _, row in curve.iterrows():
        p, r = int(row["planes"]), int(row["probe_radius"])
        mask = (1 << p) - 1
        emp = (
            sum(
                1
                for _, e in edges.iterrows()
                if bin(
                    (sigs[int(e["vec_id"])] ^ sigs[int(e["neighbor_id"])])
                    & mask
                ).count("1")
                <= r
            )
            / len(edges)
        )
        exp = row["expected_capture"]
        sigma = math.sqrt(max(exp * (1 - exp), 1e-9) / len(edges))
        assert abs(emp - exp) <= 4 * sigma + 0.01, (p, r, emp, exp)


def test_legacy_index_cache_tuple_triggers_rebuild(spark):
    """A pre-r15 persisted store loads the index as a 1-tuple (no
    plane count): the cache read must REBUILD rather than pair the
    packed relation with a re-derived count."""
    mc = session_model_cache(spark)
    key = ("knn_ann_index", SF)
    fresh_packed, fresh_p = S._knn_ann_index_cached(spark, SF)
    try:
        mc[key] = (fresh_packed,)  # simulate a legacy store load
        packed, p = S._knn_ann_index_cached(spark, SF)
        assert p == fresh_p
        assert len(mc[key]) == 2  # rebuilt entry carries the count
    finally:
        mc.pop(key, None)


def test_probing_pack_requires_explicit_index(spark):
    """A query-side pack without its index's plane count is the silent
    bit-mismatch shape — reject it loudly."""
    import pytest

    packed, p = S._knn_ann_index_cached(spark, SF)
    with pytest.raises(ValueError, match="probing_pack requires"):
        S.knn_graph_ann_neighbors(spark, SF, probing_pack=packed)
