"""Round-16 pins for the ADVICE-r15 items: the query pack and the
membership relation traveling with their plane count (and rebuilding on
a mismatch instead of silently probing the wrong bit width), the
queries= path deduplicating repeated vec_ids, and the stats_funcs
Arrow kernel matching the JVM/oracle NULL semantics on degenerate
groups."""

from __future__ import annotations

import numpy as np
import pandas as pd

from s3_manifest_spark.operators import similarity as S
from s3_manifest_spark.registry import session_model_cache

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# ADVICE r15 (medium): _knn_query_pack_cached persists (pack, planes)
# ---------------------------------------------------------------------------


def test_query_pack_cache_carries_plane_count(spark):
    mc = session_model_cache(spark)
    key = ("knn_query_pack", SF)
    mc.pop(key, None)
    exact = S._knn_exact_sampled(spark, SF)
    _, p = S._knn_ann_index_cached(spark, SF)
    try:
        S._knn_query_pack_cached(spark, SF, exact, p)
        cached = mc[key]
        assert len(cached) == 2 and int(cached[1]) == int(p)
    finally:
        mc.pop(key, None)


def test_query_pack_plane_mismatch_triggers_rebuild(spark):
    """A pack persisted under a different plane count than the served
    index (legacy 1-tuple, partial store, or a _knn_ann_planes boundary
    crossing) must REBUILD at the caller's count — a stale hit is the
    silent bit-width mismatch the tuple exists to prevent."""
    mc = session_model_cache(spark)
    key = ("knn_query_pack", SF)
    mc.pop(key, None)
    exact = S._knn_exact_sampled(spark, SF)
    _, p = S._knn_ann_index_cached(spark, SF)
    fresh = S._knn_query_pack_cached(spark, SF, exact, p)
    try:
        # legacy planes-less 1-tuple -> rebuild
        mc[key] = (fresh,)
        S._knn_query_pack_cached(spark, SF, exact, p)
        assert len(mc[key]) == 2 and int(mc[key][1]) == int(p)
        # stored under a different count than the caller's -> rebuild
        mc[key] = (fresh, p + 3)
        S._knn_query_pack_cached(spark, SF, exact, p)
        assert int(mc[key][1]) == int(p)
    finally:
        mc.pop(key, None)


# ---------------------------------------------------------------------------
# ADVICE r15 (low): membership keyed on the served plane count
# ---------------------------------------------------------------------------


def test_membership_cache_keyed_on_planes(spark):
    """A membership relation certifies should_find at a specific bit
    width; a cached hit under a DIFFERENT served plane count must
    rebuild so the completeness certificate grades the promise the
    sweep actually probes."""
    mc = session_model_cache(spark)
    key = ("ann_membership_knn", SF)
    saved = mc.pop(key, None)
    calls = []

    def builder():
        calls.append(1)
        return spark.range(1).select(
            "id",
        )

    try:
        m1 = S._membership_cached(spark, SF, "knn", builder, planes=12)
        assert calls == [1]
        assert len(mc[key]) == 2 and int(mc[key][1]) == 12
        # same planes -> served from cache
        m2 = S._membership_cached(spark, SF, "knn", builder, planes=12)
        assert calls == [1] and m2 is m1
        # different planes -> rebuild, cached ALONGSIDE the first
        # width (two-slot cache: the boundary-reload scenario has two
        # live widths alternating per bench pass — neither thrashes)
        m3 = S._membership_cached(spark, SF, "knn", builder, planes=15)
        assert calls == [1, 1]
        assert sorted(
            int(v) for v in mc[key] if not hasattr(v, "columns")
        ) == [12, 15]
        # BOTH widths now serve from cache without rebuilds
        assert (
            S._membership_cached(spark, SF, "knn", builder, planes=12)
            is m1
        )
        assert (
            S._membership_cached(spark, SF, "knn", builder, planes=15)
            is m3
        )
        assert calls == [1, 1]
        # a third width evicts the oldest (bounded at two)
        S._membership_cached(spark, SF, "knn", builder, planes=18)
        assert calls == [1, 1, 1]
        assert sorted(
            int(v) for v in mc[key] if not hasattr(v, "columns")
        ) == [15, 18]
        # legacy planes-less entry -> rebuild when a count is demanded
        mc[key] = (m1,)
        S._membership_cached(spark, SF, "knn", builder, planes=15)
        assert calls == [1, 1, 1, 1]
    finally:
        mc.pop(key, None)
        if saved is not None:
            mc[key] = saved


def test_knn_ann_membership_accepts_served_plane_count(spark, monkeypatch):
    """The should_find flags at the served index's count must match an
    independent numpy recomputation at that SAME count — and differ
    from the file-derived count's flags on a corpus where the two
    widths disagree (the post-reload shape ADVICE r15 names)."""
    rng = np.random.RandomState(47)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)], 0)
        for i in range(60)
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb(spark, rows)
    )
    from s3_manifest_spark.sources.tables import parquet_row_count

    p_file = S._knn_ann_planes(parquet_row_count(f"{SF}/embeddings.parquet"))
    p_idx = p_file + 4

    exact = spark.createDataFrame(
        [(int(i), int((i + 1) % 60)) for i in range(60)],
        "vec_id long, neighbor_id long",
    )
    got = {
        (r.vec_id, r.neighbor_id): r.should_find
        for r in S._knn_ann_membership(
            spark, SF, exact, planes=p_idx
        ).collect()
    }

    planes = np.random.RandomState(
        S.LSH_SEED + S.KNN_ANN_SEED_OFFSET
    ).standard_normal((p_idx, 8))
    m = np.array([r[1] for r in rows])
    powers = 1 << np.arange(p_idx, dtype=np.int64)
    sigs = (((m @ planes.T) > 0) * powers).sum(axis=1).astype("int64")
    for i in range(60):
        j = (i + 1) % 60
        want = (
            bin(int(sigs[i]) ^ int(sigs[j])).count("1")
            <= S.KNN_ANN_MULTIPROBE
        )
        assert got[(i, j)] == want, (i, j)


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


# ---------------------------------------------------------------------------
# ADVICE r15 (low): queries= path deduplicates repeated vec_ids
# ---------------------------------------------------------------------------


def test_queries_path_dedups_repeated_vec_ids(spark, monkeypatch):
    """A caller passing a relation with repeated vec_ids (e.g. the
    exact kNN edges, k rows per query) must get ONE output set per
    query, not duplicates multiplied through the inner join."""
    rng = np.random.RandomState(53)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)], 0)
        for i in range(40)
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb(spark, rows)
    )
    from s3_manifest_spark.sources.tables import parquet_row_count

    p = S._knn_ann_planes(parquet_row_count(f"{SF}/embeddings.parquet"))
    sigs = S._ann_signatures(
        _emb(spark, rows).select("vec_id", "embedding"),
        seed_offset=S.KNN_ANN_SEED_OFFSET,
        planes=p,
    ).withColumnRenamed("sig", "bucket")
    idx = (
        S._pack_buckets_salted(sigs.select("vec_id", "embedding", "bucket")),
        p,
    )
    q_ids = [0, 3, 7]
    uniq = spark.createDataFrame([(i,) for i in q_ids], "vec_id long")
    dup = spark.createDataFrame(
        [(i,) for i in q_ids for _ in range(4)], "vec_id long"
    )
    want = (
        S.knn_graph_ann_neighbors(spark, SF, index=idx, queries=uniq)
        .toPandas()
        .sort_values(["vec_id", "neighbor_id"])
        .reset_index(drop=True)
    )
    got = (
        S.knn_graph_ann_neighbors(spark, SF, index=idx, queries=dup)
        .toPandas()
        .sort_values(["vec_id", "neighbor_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


# ---------------------------------------------------------------------------
# ADVICE r15 (low): stats_funcs degenerate groups -> NULL, not NaN
# ---------------------------------------------------------------------------


def test_stats_funcs_degenerate_groups_null_like_oracle(spark, monkeypatch):
    """Singleton groups (n<2) and zero-variance corr must come back
    NULL (the JVM stddev_samp/var_samp/corr and the DuckDB oracle's
    behavior), not numpy NaN — NaN hashes differently from NULL in the
    driver's compare."""
    import duckdb

    from s3_manifest_spark.operators import analytics as A

    pdf = pd.DataFrame(
        {
            "l_returnflag": ["S", "C", "C", "C", "N", "N", "N"],
            "l_extendedprice": [10.0, 5.0, 5.0, 5.0, 1.0, 2.0, 3.0],
            "l_quantity": [1.0, 2.0, 2.0, 2.0, 4.0, 5.0, 6.0],
            "l_discount": [0.1, 0.2, 0.2, 0.2, 0.01, 0.02, 0.03],
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(
        A, "load_table", lambda s, d, n, widen=False: sdf
    )
    got = {
        r["l_returnflag"]: r.asDict()
        for r in A.stats_funcs(spark, SF).collect()
    }
    con = duckdb.connect()
    con.register("lineitem", pdf)
    want = {
        r[0]: dict(
            zip(
                [
                    "l_returnflag",
                    "price_stddev",
                    "disc_var",
                    "qty_price_corr",
                    "qty_price_covar",
                    "price_median",
                    "price_p95",
                ],
                r,
            )
        )
        for r in con.execute(
            """
            SELECT l_returnflag,
                   round(stddev_samp(l_extendedprice), 4),
                   round(var_samp(l_discount), 6),
                   round(corr(l_quantity, l_extendedprice), 6),
                   round(covar_samp(l_quantity, l_extendedprice), 4),
                   round(quantile_cont(l_extendedprice, 0.5), 4),
                   round(quantile_cont(l_extendedprice, 0.95), 4)
            FROM lineitem GROUP BY l_returnflag
            """
        ).fetchall()
    }
    assert set(got) == {"S", "C", "N"}
    # singleton: every sample aggregate NULL on both engines
    for col in (
        "price_stddev",
        "disc_var",
        "qty_price_corr",
        "qty_price_covar",
    ):
        assert got["S"][col] is None, col
        assert want["S"][col] is None, col
    # constant group: zero-variance corr NULL, stddev/var/cov 0.0
    assert got["C"]["qty_price_corr"] is None
    assert want["C"]["qty_price_corr"] is None
    assert got["C"]["price_stddev"] == want["C"]["price_stddev"] == 0.0
    # healthy group: values agree with the oracle
    for col in got["N"]:
        assert got["N"][col] == want["N"][col], (col, got["N"], want["N"])


# ---------------------------------------------------------------------------
# VERDICT r15 item 4: delta-pack of the streamed kNN index
# ---------------------------------------------------------------------------


def _norm_packed(df):
    pdf = df.toPandas()
    return sorted(
        (int(r["blk"]), tuple(r["ids"]), tuple(np.round(r["mat"], 6)))
        for _, r in pdf.iterrows()
    )


def test_delta_pack_equals_full_pack(spark):
    """delta_pack_knn_index(prev_packed, append) must equal the full
    pack of (old ∪ new) exactly — untouched buckets reuse their served
    blocks byte-identically (per-bucket salting), touched buckets
    repack at their new occupancy."""
    from s3_manifest_spark.streaming.knn_index import delta_pack_knn_index

    rng = np.random.RandomState(61)
    dim = 8

    def rows_df(ids):
        rows = [
            (int(i), [float(x) for x in rng.standard_normal(dim)], 0)
            for i in ids
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).select("vec_id", "embedding")

    old = rows_df(range(200))
    new = rows_df(range(200, 260))
    p = 6  # few planes -> plenty of shared + hot buckets to salt

    def sig(df):
        return S._ann_signatures(
            df, seed_offset=S.KNN_ANN_SEED_OFFSET, planes=p
        ).withColumnRenamed("sig", "bucket").select(
            "vec_id", "bucket", "embedding"
        )

    old_rows, new_rows = sig(old), sig(new)
    prev_packed = S._pack_buckets_salted(old_rows)
    got = delta_pack_knn_index(prev_packed, new_rows)
    want = S._pack_buckets_salted(old_rows.unionByName(new_rows))
    assert _norm_packed(got) == _norm_packed(want)
    # the delta genuinely touched a strict subset: some served blocks
    # must survive untouched for the reuse claim to mean anything
    touched = {r.bucket for r in new_rows.select("bucket").distinct().collect()}
    all_blks = {r.blk for r in prev_packed.select("blk").distinct().collect()}
    assert touched - all_blks or all_blks - touched


def test_delta_pack_resalts_hot_bucket(spark):
    """An append that pushes one bucket past KNN_ANN_MAX_BLOCK must
    re-split THAT bucket into more sub-blocks (salt count is a
    function of new occupancy), while leaving other buckets' block
    rows identical to the served relation."""
    from s3_manifest_spark.streaming.knn_index import delta_pack_knn_index

    rng = np.random.RandomState(67)
    dim = 4
    cap = S.KNN_ANN_MAX_BLOCK

    def mk(ids, bucket):
        rows = [
            (int(i), int(bucket), [float(x) for x in rng.standard_normal(dim)])
            for i in ids
        ]
        return spark.createDataFrame(
            rows, "vec_id long, bucket long, embedding array<float>"
        )

    # bucket 1 at exactly cap (1 sub-block served); bucket 2 small
    old_rows = mk(range(cap), 1).unionByName(mk(range(cap, cap + 3), 2))
    prev_packed = S._pack_buckets_salted(old_rows)
    served_b1 = [r for r in _norm_packed(prev_packed) if r[0] == 1]
    served_b2 = [r for r in _norm_packed(prev_packed) if r[0] == 2]
    assert len(served_b1) == 1
    # append cap more members to bucket 1 -> must split into 2 salts
    new_rows = mk(range(1000, 1000 + cap), 1)
    got = _norm_packed(delta_pack_knn_index(prev_packed, new_rows))
    got_b1 = [r for r in got if r[0] == 1]
    got_b2 = [r for r in got if r[0] == 2]
    assert len(got_b1) == 2
    assert got_b2 == served_b2  # untouched bucket reused as-is
    want = _norm_packed(
        S._pack_buckets_salted(old_rows.unionByName(new_rows))
    )
    assert got == want


# ---------------------------------------------------------------------------
# VERDICT r15 item 5: expected_capture surfaced next to completeness
# ---------------------------------------------------------------------------


def test_expected_capture_matches_registered_curve_row(spark):
    """knn_ann_expected_capture at a grid config must equal the
    registered tuning curve's expected_capture for that (planes,
    radius) row — same expression, same edges, same rounding."""
    curve = {
        (r.planes, r.probe_radius): r.expected_capture
        for r in S.knn_ann_tuning_curve(spark, SF).collect()
    }
    for p, rad in ((8, 1), (16, 0), (12, 2)):
        got = S.knn_ann_expected_capture(spark, SF, planes=p, radius=rad)
        assert got == curve[(p, rad)], (p, rad, got, curve[(p, rad)])


def test_expected_capture_default_is_active_dial(spark):
    """With no overrides the number describes the PRODUCTION dial —
    the corpus-adaptive plane count at KNN_ANN_MULTIPROBE — and lands
    in (0, 1]."""
    from s3_manifest_spark.sources.tables import parquet_row_count

    p = S._knn_ann_planes(parquet_row_count(f"{SF}/embeddings.parquet"))
    got = S.knn_ann_expected_capture(spark, SF)
    explicit = S.knn_ann_expected_capture(
        spark, SF, planes=p, radius=S.KNN_ANN_MULTIPROBE
    )
    assert got == explicit
    assert 0.0 < got <= 1.0


def test_refresh_knn_index_policy_and_equality(spark):
    """refresh_knn_index applies the SCALE.md cadence policy (delta for
    small appends, full re-pack for bulk loads) and BOTH paths produce
    the identical packed relation."""
    from s3_manifest_spark.streaming.knn_index import (
        KNN_REFRESH_DELTA_FRACTION,
        refresh_knn_index,
    )

    rng = np.random.RandomState(71)
    dim = 8

    def rows_df(ids):
        rows = [
            (int(i), [float(x) for x in rng.standard_normal(dim)])
            for i in ids
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    p = 6
    n_store = 300

    def sig(df):
        return S._ann_signatures(
            df, seed_offset=S.KNN_ANN_SEED_OFFSET, planes=p
        ).withColumnRenamed("sig", "bucket").select(
            "vec_id", "bucket", "embedding"
        )

    old_rows = sig(rows_df(range(n_store)))
    prev = S._pack_buckets_salted(old_rows).localCheckpoint(eager=True)

    # a 1-row append sits under fraction*store -> delta path
    small = sig(rows_df([10_000]))
    got_small, path_small = refresh_knn_index(prev, small, n_store)
    assert path_small == "delta"
    want_small = S._pack_buckets_salted(old_rows.unionByName(small))
    assert _norm_packed(got_small) == _norm_packed(want_small)

    # a bulk append (half the store) -> full re-pack path
    bulk = sig(rows_df(range(20_000, 20_000 + n_store // 2)))
    got_bulk, path_bulk = refresh_knn_index(prev, bulk, n_store)
    assert path_bulk == "full"
    want_bulk = S._pack_buckets_salted(old_rows.unionByName(bulk))
    assert _norm_packed(got_bulk) == _norm_packed(want_bulk)

    assert 0 < KNN_REFRESH_DELTA_FRACTION < 0.01


# ---------------------------------------------------------------------------
# Property pin: delta-pack == full pack under arbitrary append shapes
# ---------------------------------------------------------------------------


def test_delta_pack_property_random_appends(spark):
    """For arbitrary (store, append) splits — including empty appends,
    all-new buckets, all-touched buckets, and appends that push buckets
    over the salt cap — delta_pack_knn_index(prev, append) equals the
    full pack of the union.  A deterministic seed sweep stands in for
    hypothesis here: each example costs several Spark jobs, so the
    sweep keeps the example count bounded while still varying store
    size, append size, bucket skew, and dimension."""
    from s3_manifest_spark.streaming.knn_index import delta_pack_knn_index

    for seed, n_old, n_new, n_buckets, dim in (
        (1, 40, 0, 8, 4),      # empty append: result == prev exactly
        (2, 30, 30, 4, 4),     # heavy overlap, hot buckets past the cap
        (3, 25, 10, 1000, 6),  # sparse buckets: appends land in NEW buckets
        (4, 5, 60, 6, 3),      # append dominates the store
        (5, 64, 7, 2, 5),      # two buckets only, both necessarily touched
    ):
        rng = np.random.RandomState(seed)

        def mk(ids):
            rows = [
                (
                    int(i),
                    int(rng.randint(0, n_buckets)),
                    [float(x) for x in rng.standard_normal(dim)],
                )
                for i in ids
            ]
            return spark.createDataFrame(
                rows, "vec_id long, bucket long, embedding array<float>"
            )

        old_rows = mk(range(n_old))
        new_rows = mk(range(10_000, 10_000 + n_new))
        prev = S._pack_buckets_salted(old_rows)
        got = _norm_packed(delta_pack_knn_index(prev, new_rows))
        want = _norm_packed(
            S._pack_buckets_salted(old_rows.unionByName(new_rows))
        )
        assert got == want, (seed, n_old, n_new, n_buckets, dim)


def test_stats_funcs_keeps_null_keyed_group(spark, monkeypatch):
    """GROUP BY keeps a NULL l_returnflag as its own group on both
    engines — the moments ⋈ percentiles split must too (null-safe
    join; a plain inner join drops it)."""
    from s3_manifest_spark.operators import analytics as A

    pdf = pd.DataFrame(
        {
            "l_returnflag": [None, None, "N", "N", "N"],
            "l_extendedprice": [7.0, 9.0, 1.0, 2.0, 3.0],
            "l_quantity": [1.0, 2.0, 4.0, 5.0, 6.0],
            "l_discount": [0.1, 0.3, 0.01, 0.02, 0.03],
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(A, "load_table", lambda s, d, n, widen=False: sdf)
    got = {r["l_returnflag"]: r.asDict() for r in A.stats_funcs(spark, SF).collect()}
    assert set(got) == {None, "N"}
    assert got[None]["price_median"] == 8.0
    assert got[None]["qty_price_covar"] is not None
