"""Edge-case pins for the r13 extension operators — the degenerate
shapes the fixtures never isolate: tiny corpora, single-member
groups, single-row covariance, identical documents, clique graphs,
and the shared-quantizer contract between the IVF family members.
All synthetic frames route through monkeypatched loaders and call the
module-level (unmemoized) functions, so nothing poisons the session
plan cache (register() returns the raw fn)."""

from __future__ import annotations

import numpy as np
import pytest

from s3_manifest_spark.operators import dedup as D
from s3_manifest_spark.operators import graph as G
from s3_manifest_spark.operators import semdedup as SD
from s3_manifest_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


def _emb_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_knn_graph_corpus_smaller_than_k(spark, monkeypatch):
    """3 vectors, k=5: every vector emits exactly its 2 real
    neighbors — the per-block partial top-k and the merge window must
    not pad, duplicate, or drop under-full candidate sets."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [0.0, 1.0], 0),
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    out = S.knn_graph(spark, SF).toPandas()
    per = out.groupby("vec_id").size()
    assert (per == 2).all() and len(per) == 3
    assert (out["vec_id"] != out["neighbor_id"]).all()
    # vec 1's nearest is 2 (cos ~0.994), then 3
    top1 = out[out["vec_id"] == 1].sort_values("cos_sim", ascending=False)
    assert list(top1["neighbor_id"]) == [2, 3]


def test_centroid_stats_single_member_label(spark, monkeypatch):
    """A label with one member: its centroid IS the member (up to the
    7-dp component rounding), so mean_cos = min_cos = 1.0."""
    rows = [
        (1, [0.3, 0.4, 0.5], 7),
        (2, [1.0, 0.0, 0.0], 8),
        (3, [0.0, 1.0, 0.0], 8),
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    res = {
        int(r["label"]): r
        for r in S.embedding_centroid_stats(spark, SF).collect()
    }
    assert res[7]["n_vecs"] == 1
    assert res[7]["mean_cos"] == 1.0 and res[7]["min_cos"] == 1.0
    # two orthogonal members: each at 45° from the centroid
    assert res[8]["n_vecs"] == 2
    assert abs(res[8]["mean_cos"] - 0.707107) < 2e-6


def test_covariance_single_row_is_zero(spark, monkeypatch):
    """One vector: E[xy] − E[x]E[y] = xy − xy = 0 for every (i, j),
    and the −0.0 canonicalization must leave +0.0 everywhere."""
    rows = [(1, [0.5, -0.25, 2.0], 0)]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    res = S.embedding_covariance(spark, SF).toPandas()
    assert len(res) == 6  # 3*(3+1)/2
    assert (res["cov"] == 0.0).all()
    assert not np.signbit(res["cov"].to_numpy()).any()


def test_containment_identical_docs_both_directions(spark, monkeypatch):
    """Two identical documents contain each other: exactly two rows,
    both with containment 1.0."""
    text = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    monkeypatch.setattr(D, "load_table", lambda s, d, n, widen=False: docs)
    res = D.doc_containment(spark, SF).toPandas()
    got = {
        (int(r["contained"]), int(r["container"])): r["containment"]
        for _, r in res.iterrows()
    }
    assert got == {(1, 2): 1.0, (2, 1): 1.0}


def test_triangles_on_k4_clique(spark, monkeypatch):
    """K4: every node has degree 3 and sits in C(3,2) = 3 triangles;
    Σ triangle_count = 12 = 3 × (4 triangles).  Pins the
    compact-forward join against an independent closed form."""
    from pyspark.sql import functions as F

    pairs = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    monkeypatch.setattr(
        G, "_pagerank_graph_cached", lambda s, d: (sym, deg, 4)
    )
    res = G.graph_triangles(spark, SF).toPandas()
    assert len(res) == 4
    assert (res["degree"] == 3).all()
    assert (res["triangle_count"] == 3).all()
    assert int(res["triangle_count"].sum()) == 12


def test_ivf_family_shares_one_quantizer(spark):
    """_ivf_centroids is the ONE coarse quantizer model: similarity_ivf
    and similarity_ivf_pq must serve the identical cached array (no
    second fit, no divergent routing between the family members)."""
    from s3_manifest_spark.registry import clear_model_cache

    clear_model_cache(spark)
    try:
        c1 = S._ivf_centroids(spark, SF)
        # a second call — and the composed index's internal call —
        # must return the SAME cached object, not a refit
        assert S._ivf_centroids(spark, SF) is c1
        S.similarity_ivf_pq_neighbors(spark, SF).toPandas()
        assert S._ivf_centroids(spark, SF) is c1
        mc = getattr(spark, "_smsp_model_cache", {})
        assert ("ivf", SF) in mc
    finally:
        clear_model_cache(spark)


def test_attribution_all_purchase_user(spark, monkeypatch):
    """A user whose EVERY event is a purchase: all rows kept, all
    attribution columns NULL (the ignorenulls window never finds a
    touch)."""
    import datetime as dt

    from s3_manifest_spark.operators import timeseries as T

    t0 = dt.datetime(2024, 6, 1, 9, 0, 0)
    ev = spark.createDataFrame(
        [
            (i, t0 + dt.timedelta(minutes=i), 42, "purchase", 1.0, "{}")
            for i in range(1, 4)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    monkeypatch.setattr(T, "load_table", lambda s, d, n, widen=False: ev)
    res = T.attribution_touch(spark, SF).toPandas()
    assert len(res) == 3
    assert res["first_touch_type"].isna().all()
    assert res["last_touch_id"].isna().all()


#: the knn cases' four-row corpus: vec_id 3 is the zero vector
_KNN_ZERO_ROWS = [
    (1, [1.0, 0.0], 0),
    (2, [0.9, 0.1], 0),
    (3, [0.0, 0.0], 0),
    (4, [0.0, 1.0], 0),
]


def _zero_corpus():
    """300 seeded dim-64 rows (semdedup pins the dim, PQ needs a
    multiple of PQ_M) with zero vectors at vec_id 8 — in the even-id
    IVF / PQ training sample and in the semdedup Lloyd — and 100, a
    similarity query (vec_id % QUERY_STRIDE == 0)."""
    m = np.random.RandomState(13).standard_normal((300, 64))
    m[[8, 100]] = 0.0
    return [(i, [float(x) for x in m[i]], 0) for i in range(300)]


_KNN_FNS = (S.knn_graph, S.knn_graph_ann_neighbors)


@pytest.mark.parametrize(
    "fn",
    [
        *_KNN_FNS,
        S.similarity_topk,
        S.similarity_ann_lsh_neighbors,
        S.similarity_ivf_neighbors,
        S.similarity_pq_neighbors,
        S.similarity_ivf_pq_neighbors,
        SD.semdedup,
    ],
    ids=lambda fn: fn.__name__,
)
def test_zero_vector_yields_no_nan(spark, monkeypatch, fn):
    """The zero-norm rule (``similarity._unit``) is load-bearing in
    every vector kernel: a zero vector must score cosine 0 against
    everything, as a neighbor and as a query — never NaN, which would
    poison every ranking it touches, or cross Arrow as a null into the
    IVF / PQ / semdedup Lloyd reduces and fail them."""
    from s3_manifest_spark.registry import clear_model_cache

    if fn in _KNN_FNS:
        rows, zero_ids = _KNN_ZERO_ROWS, (3,)
    else:
        rows, zero_ids = _zero_corpus(), (8, 100)
    for mod in (S, SD):
        monkeypatch.setattr(
            mod, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
        )
    # the trained quantizers and the query set are session-cached per
    # sf_dir: keep the synthetic corpus out of the other tests' models
    clear_model_cache(spark)
    try:
        out = fn(spark, SF).toPandas()
    finally:
        clear_model_cache(spark)
    assert len(out) > 0
    assert out.select_dtypes("number").notna().all().all()
    if "cos_sim" not in out:
        return
    qcol = "vec_id" if "vec_id" in out else "query_id"
    assert (out[qcol] != out["neighbor_id"]).all()
    # exactly 0 wherever a zero vector is the neighbor or the query
    z = out["neighbor_id"].isin(zero_ids) | out[qcol].isin(zero_ids)
    assert (out.loc[z, "cos_sim"] == 0.0).all()


def test_knn_graph_ann_candidates_respect_probe_radius(spark, monkeypatch):
    """Every (vec, neighbor) edge the candidate sweep emits must lie
    within Hamming radius KNN_ANN_MULTIPROBE of the seeded signature
    assignment — recomputed independently in numpy (the sweep may
    RETURN fewer per vector than knn_graph; it must never return a
    pair its buckets cannot have generated)."""
    rng = np.random.RandomState(7)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)], 0)
        for i in range(40)
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    out = S.knn_graph_ann_neighbors(spark, SF).toPandas()
    assert len(out) > 0
    from s3_manifest_spark.sources.tables import parquet_row_count

    p = S._knn_ann_planes(parquet_row_count(f"{SF}/embeddings.parquet"))
    planes = np.random.RandomState(
        S.LSH_SEED + S.KNN_ANN_SEED_OFFSET
    ).standard_normal((p, 8))
    m = np.array([r[1] for r in rows])
    powers = 1 << np.arange(p, dtype=np.int64)
    sigs = (((m @ planes.T) > 0) * powers).sum(axis=1)
    sig_of = {r[0]: int(s) for r, s in zip(rows, sigs)}
    for _, row in out.iterrows():
        ham = bin(sig_of[row["vec_id"]] ^ sig_of[row["neighbor_id"]]).count("1")
        assert ham <= S.KNN_ANN_MULTIPROBE, (row["vec_id"], row["neighbor_id"])


def test_knn_graph_ann_hot_bucket_salting(spark, monkeypatch):
    """A pathological hot bucket (every vector in one direction →
    one LSH bucket) must split into capped sub-blocks WITHOUT
    changing the output: same top-k as an uncapped all-in-one-bucket
    sweep, and no packed block larger than the cap."""
    import pandas as pd

    rng = np.random.RandomState(11)
    base = rng.standard_normal(8)
    rows = [
        (
            int(i),
            [float(x) for x in (base + 0.01 * rng.standard_normal(8))],
            0,
        )
        for i in range(120)
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    baseline = (
        S.knn_graph_ann_neighbors(spark, SF)
        .toPandas()
        .sort_values(["vec_id", "cos_sim", "neighbor_id"])
        .reset_index(drop=True)
    )
    monkeypatch.setattr(S, "KNN_ANN_MAX_BLOCK", 16)
    capped = (
        S.knn_graph_ann_neighbors(spark, SF)
        .toPandas()
        .sort_values(["vec_id", "cos_sim", "neighbor_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(capped, baseline)
    # and the packed relation actually respected the cap
    from s3_manifest_spark.sources.tables import parquet_row_count

    p = S._knn_ann_planes(parquet_row_count(f"{SF}/embeddings.parquet"))
    sigs = S._ann_signatures(
        _emb_df(spark, rows).select("vec_id", "embedding"),
        seed_offset=S.KNN_ANN_SEED_OFFSET,
        planes=p,
    ).withColumnRenamed("sig", "bucket")
    packed = S._pack_buckets_salted(
        sigs.select("vec_id", "embedding", "bucket")
    ).toPandas()
    sizes = packed["ids"].map(len)
    # the salt hash balances sub-blocks in EXPECTATION (binomial
    # spread around occ/nsalt) — a 120-member hot bucket at cap 16
    # must land far below the uncapped 120, not exactly at 16
    assert sizes.max() <= 2 * 16, sizes.tolist()
    assert sizes.mean() <= 16, sizes.tolist()
    # the hot direction really did concentrate: >1 sub-block per bucket
    assert (packed.groupby("blk").size() > 1).any()
