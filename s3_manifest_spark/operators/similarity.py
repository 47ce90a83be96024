"""Similarity search over an embedding column (SURVEY.md §2B).

Two physical strategies behind the same logical ask (top-k cosine
neighbors per query vector):

- ``similarity_topk``     — brute force: broadcast the query set,
  score every (query, candidate) pair, per-query top-k.  Exact; the
  verification baseline.  Cost O(Q×N) — fine when Q is small or N is
  sf-fixture sized.
- ``similarity_ann_lsh``  — random-hyperplane LSH: bucket vectors by
  sign-pattern, score only same-bucket pairs.  The 100 TB path: the
  shuffle carries (vector, bucket) once, not Q×N scores.

Every per-query variant (exact, truncated-dims, IVF, LSH, PQ / IVF-PQ,
the sampled kNN certificate's exact side) runs ONE scan,
:func:`_query_topk`: the variant supplies routing and scoring per
Arrow batch; the per-batch top-k and the window merge live there.

Scoring numerics: all three strategies score with numpy BLAS/einsum in
float64 (the r7 rework moved ``similarity_ann_lsh`` off interpreted
zip_with/aggregate folds — JVM-side but per-row-lambda evaluated, they
cost more than the Arrow hop + a vectorized matmul).  BLAS summation
order is NOT the left-fold order DuckDB's ``list_dot_product`` uses,
so the two sides can differ in the last ulp; both round to 6 decimals
before the top-k ordering, which makes the exact-hash oracles correct
unless a true cosine lands within ~1e-16 of a 6-decimal rounding
boundary AND the k-th/k+1-th candidates straddle it — vanishingly
unlikely, but probabilistic, not guaranteed (it has held for every
fixture vintage so far).  Every vector kernel here and in
``operators.dedup`` / ``operators.semdedup`` decodes through
:func:`_matrix`, unpacks blocks through :func:`_unpack_block` and
normalizes through :func:`_unit`, which holds the one zero-norm rule:
a row's 2-norm is floored at 1e-12, so a zero vector stays zero and
scores cosine 0 against everything instead of NaN.  Above the floor
the quotient is bit-identical to the unguarded ``e / ‖e‖``, and the
smallest fixture row norm is ~1, so the rule changes no fixture
output.  Every DuckDB oracle spells the same floor as
``greatest(sqrt(list_dot_product(x, x)), 1e-12)``, so a corpus with a
zero vector still matches its oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_manifest_spark.registry import cached, register
from s3_manifest_spark.sources.tables import (
    load_table,
    local_relation,
    parquet_row_count,
)

TOP_K = 5
#: every 100th vector is a query point — deterministic, sf-independent
QUERY_STRIDE = 100
#: hard cap on the driver-collected query set: the stride alone grows
#: as N/100 of the corpus, which is unbounded driver/broadcast memory
#: at 100 TB.  Lowest vec_ids win (sort + limit BEFORE the collect),
#: so selection is deterministic at every scale and the bound is
#: MAX_QUERIES x dim float64 (~2 MB at dim 64).  A larger query load
#: should arrive as its own DataFrame and run in MAX_QUERIES batches.
MAX_QUERIES = 4096
LSH_PLANES = 6


def _matrix(values, dims: int | None = None):
    """A pandas column of embedding arrays as one float64 ``(n, d)``
    matrix, cut to its first ``dims`` columns (all of them when
    None)."""
    import numpy as np

    return np.stack(values.to_numpy()).astype("float64")[:, :dims]


def _unit(m):
    """``m`` with every row divided by its 2-norm floored at 1e-12 —
    the zero-norm rule of the module docstring.  Returns a new array
    (callers pass cached models)."""
    import numpy as np

    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def _unpack_block(ids, mat):
    """One packed ``(ids, flattened row-major mat)`` block
    (:func:`_pack_blocks`'s layout) as int64 ids and a unit matrix."""
    import numpy as np

    i = np.asarray(ids, dtype="int64")
    return i, _unit(np.asarray(mat, dtype="float64").reshape(len(i), -1))


def _query_set(v, stride: int = QUERY_STRIDE):
    """The query rows with the documented hard bound: every
    ``stride``-th corpus vector, lowest ids first, capped at
    MAX_QUERIES rows."""
    return (
        v.filter(F.col("vec_id") % stride == 0)
        .orderBy("vec_id")
        .limit(MAX_QUERIES)
    )


def _query_pdf(v, stride: int = QUERY_STRIDE):
    """:func:`_query_set` collected to the driver."""
    return _query_set(v, stride).toPandas()


def _query_pdf_cached(spark: SparkSession, sf_dir: str, v):
    """Session-cached :func:`_query_pdf` (r17): the query set is
    deterministic per corpus (stride + cap + lowest-ids-win) and
    bounded (MAX_QUERIES × dim float64, ~2 MB), yet every warm serving
    call was re-paying a full scan + sort + limit + collect JOB just
    to re-derive it — at fixture scale that job floor is most of the
    serving wall (guide §1.2: remove the pass outright).  Exactly the
    `_knn_query_pack_cached` lifecycle: index-adjacent session state,
    built once, priced in bench cold_sec, dropped by
    ``registry.clear_model_cache`` (a plain pandas frame — no Spark
    resources to free)."""
    return cached(spark, ("query_pdf", sf_dir), lambda: _query_pdf(v))


def _query_topk(
    v: DataFrame,
    k: int,
    per_batch,
    id_col: str = "query_id",
    score_col: str = "cos_sim",
) -> DataFrame:
    """The one per-query top-k scan every similarity variant runs:
    ``(id_col, neighbor_id, score_col)`` rows, the ``k`` best
    candidates per query under (score desc, neighbor_id asc).

    ``per_batch(batch)`` is the variant's own routing and scoring: for
    one non-empty Arrow batch of ``v`` (a pandas frame) it yields
    ``(query_id, candidate_ids, candidate_scores)`` numpy triples.  The
    scan keeps each batch's local top-k per query under the FINAL
    ordering — sound because every global top-k member is a top-k
    member of its own batch — and a window merges the ≤ k·batches
    candidate rows per query.  The corpus itself never shuffles; only
    candidates cross the exchange.  Empty batches and queries with no
    candidates emit nothing."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    def scan(batches):
        for batch in batches:
            if not len(batch):
                continue
            out_q, out_n, out_s = [], [], []
            for qid, cand_ids, cand_scores in per_batch(batch):
                order = np.lexsort((cand_ids, -cand_scores))[:k]
                out_q.append(np.full(len(order), qid, dtype=np.int64))
                out_n.append(cand_ids[order])
                out_s.append(cand_scores[order])
            if out_q:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        score_col: np.concatenate(out_s),
                    }
                )

    scored = v.mapInPandas(
        scan, schema=f"{id_col} long, neighbor_id long, {score_col} double"
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col(score_col).desc(), F.col("neighbor_id")
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _exact_topk_dims(
    spark: SparkSession,
    sf_dir: str,
    dims: int | None = None,
    stride: int = QUERY_STRIDE,
    k: int = TOP_K,
    id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-``k`` over the FIRST ``dims`` dimensions (all
    of them when None) for every ``stride``-th vector: the small query
    matrix (:func:`_query_pdf`, unit-normalized) is broadcast and each
    Arrow batch of the corpus scores every query with one BLAS
    ``block @ queriesᵀ``, then :func:`_query_topk` keeps and merges
    the candidates.  The default stride's query set is the
    session-cached one."""
    import numpy as np

    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if stride == QUERY_STRIDE:
        qpdf = _query_pdf_cached(spark, sf_dir, v)
    else:
        qpdf = _query_pdf(v, stride)
    qids = qpdf["vec_id"].to_numpy(dtype="int64")
    qm = _unit(_matrix(qpdf["embedding"], dims))
    bc = spark.sparkContext.broadcast((qids, qm))

    def per_batch(batch):
        ids_q, queries = bc.value
        nids = batch["vec_id"].to_numpy(dtype="int64")
        e = _unit(_matrix(batch["embedding"], queries.shape[1]))
        sims = np.round(e @ queries.T, 6)  # (batch, q)
        for j, qid in enumerate(ids_q):
            keep = nids != qid  # exclude self-match
            yield qid, nids[keep], sims[keep, j]

    return _query_topk(v, k, per_batch, id_col=id_col)


@register(
    "similarity_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v
          WHERE vec_id % {QUERY_STRIDE} = 0 ORDER BY vec_id LIMIT {MAX_QUERIES}),
    scored AS (
      SELECT query_id, vec_id AS neighbor_id,
             round(list_dot_product(qe, e)
                   / (greatest(sqrt(list_dot_product(qe, qe)), 1e-12)
                      * greatest(sqrt(list_dot_product(e, e)), 1e-12)),
                   6) AS cos_sim
      FROM q JOIN v ON vec_id <> query_id
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
             ) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k per query vector.

    Physical strategy — broadcast-query matrix scoring with per-batch
    partial top-k (same rewrite that took dedup_embedding from 68 s to
    ~2 s): :func:`_exact_topk_dims` at full width.  Each Arrow batch of
    the corpus computes one BLAS ``block @ queriesᵀ`` and keeps only its
    local top-k per query; the window then merges ≤ k·batches candidate
    rows per query instead of N — the shuffle carries candidates, not
    scores.  No shuffle touches the corpus itself.
    """
    return _exact_topk_dims(spark, sf_dir)


#: Seed for the ANN-LSH hyperplanes (distinct from the dedup module's).
LSH_SEED = 0xA11_5EED


def _lsh_plane_matrix(planes: int, dim: int, seed_offset: int = 0):
    """The canonical Gaussian hyperplane matrix — the SINGLE
    construction point for every signature derivation (executor
    kernels and the driver-side query-probe derivation in
    :func:`similarity_ann_lsh_neighbors`), so the two sides can never
    silently drift (VERDICT r17 item 6: a seed/shape mismatch between
    them would destroy recall with no loud failure; the broken-mode
    certificate test covers seed skew, this removes the hazard at the
    source)."""
    import numpy as np

    return np.random.RandomState(LSH_SEED + seed_offset).standard_normal(
        (planes, dim)
    )


def _ann_signatures(
    v: DataFrame,
    seed_offset: int = 0,
    with_embedding: bool = True,
    planes: int = LSH_PLANES,
) -> DataFrame:
    """``(vec_id, sig[, embedding])``: ``planes``-bit sign-pattern
    bucket id per vector via ONE seeded BLAS matmul per Arrow batch
    (``E @ planesᵀ`` against a RandomState(LSH_SEED+offset) Gaussian
    plane matrix — identical on every executor).  Collision
    probability rises with cosine similarity (random-hyperplane LSH).

    Narrow (no shuffle) — this replaced a built-in zip_with/aggregate
    higher-order-function fold, which is JVM-side but INTERPRETED:
    per-row per-plane lambda evaluation over dim-64 arrays cost more
    than the Arrow hop + vectorized matmul (measured ~1.1 s → ~0.5 s
    for the neighbors query at sf0.1).  Same construction as the dedup
    module's ``_lsh_band_rows`` with one band.

    ``seed_offset`` exists for the certificate's broken-ANN test:
    hashing queries with different planes than the corpus probes
    unrelated buckets.  ``planes`` defaults to the query-ANN's
    :data:`LSH_PLANES`; the corpus-scale kNN-graph path passes its
    own corpus-size-adaptive count (:func:`_knn_ann_planes`)."""
    import numpy as np
    import pandas as pd

    r = planes

    def kernel(batches):
        planes = None
        powers = 1 << np.arange(r, dtype=np.int64)
        for b in batches:
            ids = b["vec_id"].to_numpy(dtype="int64")
            e = _matrix(b["embedding"])
            if planes is None:
                planes = _lsh_plane_matrix(r, e.shape[1], seed_offset)
            sig = (((e @ planes.T) > 0) * powers).sum(axis=1)
            out = {"vec_id": ids, "sig": sig.astype("int64")}
            if with_embedding:
                out["embedding"] = b["embedding"].to_numpy()
            yield pd.DataFrame(out)

    schema = "vec_id long, sig long" + (
        ", embedding array<float>" if with_embedding else ""
    )
    return v.mapInPandas(kernel, schema=schema)


IVF_K = 8            # coarse centroids
IVF_NPROBE = 2       # cells probed per query
IVF_TRAIN_STRIDE = 2  # 1-in-N deterministic sample for quantizer training
IVF_LLOYD_STEPS = 2


def _ivf_centroids(spark: SparkSession, sf_dir: str):
    """The trained IVF coarse quantizer (K × dim float64), distributed
    Lloyd over a deterministic 1-in-:data:`IVF_TRAIN_STRIDE` sample —
    factored out of :func:`similarity_ivf_neighbors` (r13) so the
    IVF-PQ composition shares ONE quantizer model.

    The trained quantizer is cached per (session, sf_dir): an ANN
    index is built once and queried many times — that lifecycle, not
    per-query retraining, is the system being modeled (FAISS trains
    IVF once).  Deterministic (seed round vec_id % K, stable argmax),
    so a cached quantizer is value-identical to a retrained one; the
    cache dies with the session and is NOT the plan memo the bench
    harnesses clear (training is work the DuckDB oracle never does,
    so amortizing it skews no comparison).  Each Lloyd round is the
    treeAggregate shape: every Arrow batch assigns its vectors to
    cells and emits ONE partial row per cell — (cell, count,
    component sum) — so the driver combines at most K·partitions
    short rows per round and never sees a sample vector; driver
    memory is O(K·d), independent of sample and corpus size.
    """
    return cached(
        spark, ("ivf", sf_dir), lambda: _train_ivf_centroids(spark, sf_dir)
    )


def _train_ivf_centroids(spark: SparkSession, sf_dir: str):
    """The uncached :func:`_ivf_centroids` build."""
    import numpy as np
    import pandas as pd

    from s3_manifest_spark.registry import track_persist

    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tr = track_persist(v.filter(F.col("vec_id") % IVF_TRAIN_STRIDE == 0))
    cent: np.ndarray | None = None  # None -> seed round (vec_id % K)

    def lloyd_partials(cents):
        def gen(batches):
            for b in batches:
                ids = b["vec_id"].to_numpy(dtype="int64")
                en = _unit(_matrix(b["embedding"]))
                if cents is None:
                    cells = (ids % IVF_K).astype("int64")
                else:
                    cells = np.argmax(en @ _unit(cents).T, axis=1)  # ties -> lowest
                # one pass over the block: bincount for sizes,
                # add.at for per-cell component sums (vs a masked
                # rescan per occupied cell — K passes)
                counts = np.bincount(cells, minlength=IVF_K)
                sums = np.zeros((IVF_K, en.shape[1]))
                np.add.at(sums, cells, en)
                uniq = np.nonzero(counts)[0]
                yield pd.DataFrame(
                    {
                        "cell": uniq.astype("int32"),
                        "n": counts[uniq].astype("int64"),
                        "s": [sums[c].tolist() for c in uniq],
                    }
                )

        return gen

    for _ in range(IVF_LLOYD_STEPS):
        partials = tr.mapInPandas(
            lloyd_partials(cent), schema="cell int, n long, s array<double>"
        ).collect()  # <= K * partitions short rows
        dim = len(partials[0]["s"])
        sums = np.zeros((IVF_K, dim))
        counts = np.zeros(IVF_K)
        for r in partials:
            sums[r["cell"]] += np.asarray(r["s"])
            counts[r["cell"]] += r["n"]
        new_cent = np.zeros((IVF_K, dim)) if cent is None else cent.copy()
        nz = counts > 0
        new_cent[nz] = sums[nz] / counts[nz, None]  # empty cells keep previous
        cent = new_cent
    return cent


def similarity_ivf_neighbors(
    spark: SparkSession,
    sf_dir: str,
    probe_farthest: bool = False,
    with_membership: bool = False,
    exact: DataFrame | None = None,
):
    """IVF (inverted-file) approximate top-k, FAISS-style split:

    1. TRAIN (distributed): {IVF_LLOYD_STEPS} Lloyd rounds over a
       deterministic 1-in-{IVF_TRAIN_STRIDE} sample — exactly how
       FAISS trains IVF on a corpus sample, because the quantizer only
       needs the density shape, not every row.  Each round is the
       treeAggregate shape: every Arrow batch assigns its vectors to
       cells (seed round: vec_id % K; later rounds: one BLAS matmul
       against the broadcast centroids) and emits ONE partial row per
       cell — (cell, member count, component sum) — so the driver
       combines at most K·partitions short rows per round and never
       sees a sample vector.  Driver memory is O(K·d), independent of
       sample and corpus size.
    2. SEARCH (one distributed pass): centroids + query matrix +
       per-query probe cells are broadcast; each Arrow batch assigns
       its vectors to cells (one BLAS matmul), scores only the rows
       whose cell is probed by some query, and emits its local top-k
       per query.  A final window merges ≤ k·batches candidates.

    The corpus is never shuffled and never collected.  The only
    driver-side row materializations are the per-round Lloyd partials
    (≤ K·partitions) and the query set (N/{QUERY_STRIDE} rows,
    bounded and documented).  Recall tunes via IVF_K / IVF_NPROBE as
    in IVF-Flat.
    """
    import numpy as np
    import pandas as pd

    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = _ivf_centroids(spark, sf_dir)
    centn = _unit(cent)

    # -- query probe lists (queries are corpus rows; tiny, driver-side)
    qpdf = _query_pdf_cached(spark, sf_dir, v)
    qids = qpdf["vec_id"].to_numpy(dtype="int64")
    qm = _unit(_matrix(qpdf["embedding"]))
    qsims = qm @ centn.T
    # probe_farthest=True is the deliberate BROKEN mode the certificate
    # test uses: probing the least-similar cells drops probed exact
    # members, which must flip ann_complete_ok to false.
    order_sign = 1.0 if probe_farthest else -1.0
    probes = np.argsort(order_sign * qsims, kind="stable", axis=1)[:, :IVF_NPROBE]
    bc = spark.sparkContext.broadcast((qids, qm, probes, centn))

    def per_batch(batch):
        ids_q, queries, probe_cells, cents = bc.value
        nids = batch["vec_id"].to_numpy(dtype="int64")
        en = _unit(_matrix(batch["embedding"]))
        cells = np.argmax(en @ cents.T, axis=1)
        sims = np.round(en @ queries.T, 6)
        for j, qid in enumerate(ids_q):
            keep = np.isin(cells, probe_cells[j]) & (nids != qid)
            yield qid, nids[keep], sims[keep, j]

    topk = _query_topk(v, TOP_K, per_batch)
    if not with_membership:
        return topk

    # Canonical membership for the completeness certificate: per exact
    # top-k member, is its centroid cell among the query's NEAREST
    # nprobe cells (canonical regardless of probe_farthest)?  Member
    # cells are recomputed on the broadcast-semi-filtered corpus
    # (O(k·queries) rows); the probe lists are driver-side,
    # query-cap-bounded data.
    canonical = np.argsort(-qsims, kind="stable", axis=1)[:, :IVF_NPROBE]
    probe_df = local_relation(
        spark,
        [(int(q), [int(c) for c in canonical[i]]) for i, q in enumerate(qids)],
        "query_id long, probe_cells array<int>",
    )
    if exact is None:
        exact = similarity_topk(spark, sf_dir)
    exact_ids = exact.select("query_id", "neighbor_id")
    memb_src = v.join(
        F.broadcast(
            exact_ids.select(F.col("neighbor_id").alias("vec_id")).distinct()
        ),
        "vec_id",
    )

    def cells(batches):
        _, _, _, cents = bc.value
        for b in batches:
            ids = b["vec_id"].to_numpy(dtype="int64")
            en = _unit(_matrix(b["embedding"]))
            yield pd.DataFrame(
                {
                    "neighbor_id": ids,
                    "ncell": np.argmax(en @ cents.T, axis=1).astype("int32"),
                }
            )

    nc = memb_src.mapInPandas(cells, schema="neighbor_id long, ncell int")
    membership = (
        exact_ids.join(F.broadcast(nc), "neighbor_id")
        .join(F.broadcast(probe_df), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.array_contains(
                F.col("probe_cells"), F.col("ncell")
            ).alias("should_find"),
        )
    )
    return topk, membership


LSH_MULTIPROBE = 1  # probe buckets within this signature Hamming radius


def similarity_ann_lsh_neighbors(
    spark: SparkSession, sf_dir: str, query_seed_offset: int = 0
) -> DataFrame:
    """Approximate NN via random-hyperplane LSH buckets, multi-probe.

    Each vector gets a {LSH_PLANES}-bit sign signature; each query
    probes its own bucket plus every bucket within Hamming radius
    {LSH_MULTIPROBE} of its signature (the standard multi-probe trick:
    a near neighbor's most likely disagreement is ONE flipped
    hyperplane, so probing the 1-bit-flip buckets buys most of a
    second hash table's recall for zero extra corpus state).  Only the
    tiny QUERY side fans out (1+planes probe buckets per query),
    driver-resident and broadcast as a variable.

    At 100 TB: ONE narrow corpus pass (no shuffle, no join — the
    kernel computes each batch's signatures, tests probe membership
    against the broadcast query probes, scores only probed rows, and
    keeps its local top-k under the final ordering), then a window
    merge over ≤ k·batches candidate rows per query.  Scoring cost is
    probed-bucket occupancy, not N.  Recall/cost tunes via LSH_PLANES
    (bucket granularity) and LSH_MULTIPROBE (probe fan-out).
    """
    import numpy as np

    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Query side is driver-resident (r17, the IVF/_knn_query_probes
    # precedent): signatures + radius-1 probe sets are derived from the
    # session-cached query set with the SAME RandomState plane
    # construction _ann_signatures uses, then broadcast as a variable —
    # the former query-side DataFrame (scan + sort + limit + signature
    # kernel) launched a full broadcast-build job per call, and the
    # probe equi-join fanned the corpus through a join just to decide
    # bucket membership a kernel can test with one np.isin.  The sweep
    # is now ONE mapInPandas pass over the corpus (signature + probe
    # test + scoring + per-batch partial top-k under the final
    # ordering), with the window merging ≤ k·batches candidates per
    # query — the similarity_topk/IVF physical shape.  Arithmetic is
    # unchanged: same float64 per-row dot products (einsum, no BLAS
    # reassociation), same 6-dp rounding, same (rounded sim desc, id
    # asc) order; per-batch top-k is sound because every global top-k
    # member is a top-k member of its own batch.
    #
    # query_seed_offset != 0 is the deliberate BROKEN mode the
    # certificate test uses: queries hashed with different planes than
    # the corpus probe unrelated buckets, collapsing recall to ~random.
    powers = 1 << np.arange(LSH_PLANES, dtype=np.int64)
    # The (~2 MB) query-probe broadcast is SESSION STATE, not per-call
    # state: a fresh sparkContext.broadcast per warm
    # serving call accumulated never-destroyed broadcast blocks on the
    # driver and executors until the returned frame's closure was
    # GC'd.  Cache it beside the query frame it derives from, keyed by
    # the seed offset (the broken-mode tests shift it); destroyed by
    # registry.clear_model_cache (Broadcast values are destroy()'d).
    def build_probes():
        qpdf = _query_pdf_cached(spark, sf_dir, v)
        qids = qpdf["vec_id"].to_numpy(dtype="int64")
        qm = _matrix(qpdf["embedding"])
        qplanes = _lsh_plane_matrix(
            LSH_PLANES, qm.shape[1], query_seed_offset
        )
        qsigs = (((qm @ qplanes.T) > 0) * powers).sum(axis=1).astype("int64")
        # probe set per query: own signature + the LSH_PLANES 1-bit
        # flips (radius 1; deeper radii would chain the same expansion)
        flips = (1 << np.arange(LSH_PLANES, dtype=np.int64)) if LSH_MULTIPROBE >= 1 else np.empty(0, dtype=np.int64)
        probe_sets = [np.concatenate(([s], s ^ flips)) for s in qsigs]
        return spark.sparkContext.broadcast((qids, _unit(qm), probe_sets))

    bc = cached(
        spark, ("lsh_query_probes", sf_dir, query_seed_offset), build_probes
    )

    def per_batch(b):
        ids_q, queries, probes = bc.value
        ids = b["vec_id"].to_numpy(dtype="int64")
        e = _matrix(b["embedding"])
        # corpus planes are ALWAYS the canonical seed — only the query
        # side shifts in broken mode; same construction point as the
        # driver-side probes
        planes = _lsh_plane_matrix(LSH_PLANES, e.shape[1])
        sigs = (((e @ planes.T) > 0) * powers).sum(axis=1)
        en = _unit(e)
        for j, qid in enumerate(ids_q):
            keep = np.isin(sigs, probes[j]) & (ids != qid)
            sims = np.round(np.einsum("ij,j->i", en[keep], queries[j]), 6)
            yield qid, ids[keep], sims

    return _query_topk(v, TOP_K, per_batch)


#: DuckDB twin of the certificates' exact side — the SAME scored/topk
#: construction as similarity_topk's oracle, aggregated to the k-th
#: (minimum) similarity per query.  ann_complete_ok is literal true on
#: the oracle side BY DESIGN: DuckDB cannot re-run the engine-seeded
#: ANN, so the flag's invariant arithmetic is pinned by the local
#: broken-ANN test
#: tests/test_llm_ops.py::test_ann_certificates_detect_broken_ann,
#: and the hash check proves the flag ACTUALLY came out true on the
#: Spark side (plus full query coverage and an independently
#: recomputed exact_kth_sim per query).
_ANN_CERT_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v
      WHERE vec_id % {QUERY_STRIDE} = 0 ORDER BY vec_id LIMIT {MAX_QUERIES}),
scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         round(list_dot_product(qe, e)
               / (greatest(sqrt(list_dot_product(qe, qe)), 1e-12)
                  * greatest(sqrt(list_dot_product(e, e)), 1e-12)),
               6) AS cos_sim
  FROM q JOIN v ON vec_id <> query_id
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
           ) AS rn
    FROM scored
  ) WHERE rn <= {TOP_K}
)
SELECT query_id,
       round(min(cos_sim), 6) AS exact_kth_sim,
       true                   AS ann_complete_ok
FROM topk
GROUP BY query_id
"""


def _membership_cached(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    builder,
    planes=None,
    localize: bool = True,
):
    """Canonical probe-membership relation for one ANN family —
    per (query_id, exact-member): must candidate generation surface
    this member?  Derived ONLY from the trained index model + the
    (session-cached) exact relation, i.e. it IS index state: built
    once per session alongside the quantizer it derives from,
    persisted (k·queries tiny rows), released by
    ``registry.clear_model_cache``, cold build priced in cold_sec.
    The broken-ANN falsification tests bypass this cache by passing
    their own (broken) membership to ``_ann_certificate`` directly.

    ``planes`` (the hyperplane-LSH families): the membership's
    should_find promise is stated at a specific bit width, so the
    cached relations travel with their widths as scalars
    ('frames+scalars' in models.py, frames-first: (m1, m2, w1, w2))
    and a demand for an UNCACHED width rebuilds instead of grading the
    sweep against the wrong promise (after an index reload across a
    _knn_ann_planes boundary the file-derived count and the served
    index's count diverge).  Up to TWO widths live side by
    side: in the boundary-reload scenario ``knn_graph_ann`` (served
    width) and ``stream_knn_index_live`` (file-derived width)
    alternate within one bench pass, and a single-slot cache would
    rebuild-and-leak the corpus-pass relation per alternation (r16
    review)."""

    def split(entry) -> tuple[list, list[int]]:
        frames = [v for v in entry if isinstance(v, DataFrame)]
        widths = [int(v) for v in entry if not isinstance(v, DataFrame)]
        if len(widths) != len(frames):
            return [], []  # legacy planes-less store (widths unknown)
        return frames, widths

    def extend(entry) -> tuple:
        # DRIVER-LOCAL relation, not a persisted frame (r17), for the
        # QUERY-BOUNDED kinds only: their membership is k·queries rows
        # by construction (derived from the exact relation), and a
        # LocalRelation broadcasts into the certificate joins
        # driver-side — no InMemoryTableScan job per call.  CORPUS-WIDE
        # kinds ('knn': every vector is a query, the relation is N·k
        # rows) pass ``localize=False``: an unbounded
        # driver collect is exactly what the 100 TB design forbids,
        # and the resulting single-partition LocalRelation sits on the
        # STREAMED side of the broadcast_found=False certificate join
        # — the configuration the _knn_exact_cached A/B measured
        # 0.15-0.2 s slower than a distributed checkpoint.  Those keep
        # the r16 distributed path (eager localCheckpoint: blocks
        # distributed, released through the LogicalRDD handle, never
        # CacheManager-plan-matched).
        built = builder()
        if localize:
            m = local_relation(spark, built.toArrow(), built.schema)
        else:
            m = built.localCheckpoint(eager=True)
        if planes is None:
            return (m,)
        frames, widths = split(entry)
        # bounded: the oldest width drops out (cached() releases it)
        frames, widths = (frames + [m])[-2:], (widths + [int(planes)])[-2:]
        return tuple(frames) + tuple(widths)

    key = (f"ann_membership_{kind}", sf_dir)
    prev = cached(spark, key, lambda: extend(()))
    if planes is None:
        return prev[0]
    frames, widths = split(
        cached(
            spark,
            key,
            lambda: extend(prev),
            valid=lambda entry: int(planes) in split(entry)[1],
        )
    )
    return frames[widths.index(int(planes))]


def _ann_with_membership(spark, sf_dir, kind, neighbors, resolve):
    """``(ann, membership)`` for an ANN family whose neighbor function
    can hand back its membership alongside the neighbors: a cold
    membership build takes both from ONE
    ``neighbors(with_membership=True)`` call (``resolve`` turns its
    raw membership into the relation :func:`_membership_cached`
    stores); a warm call plans the neighbors alone."""
    built = []

    def build():
        ann, raw = neighbors(with_membership=True)
        built.append(ann)
        return resolve(raw)

    membership = _membership_cached(spark, sf_dir, kind, build)
    return (built[0] if built else neighbors()), membership


def _exact_topk_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized brute-force exact top-k relation, shared by
    all four ANN completeness certificates (LSH / IVF / PQ / IVF-PQ):
    each certificate needs the SAME exact-kth relation, so it is scored
    once per session and served from the model cache (k·queries tiny
    rows persisted; released by ``registry.clear_model_cache``, cold
    build priced in bench cold_sec, persisted/reloaded by models.py
    like the other session artifacts)."""
    # DRIVER-LOCAL relation, not a persisted frame (r17, the
    # _knn_exact_sampled precedent): the relation is ≤ TOP_K ×
    # MAX_QUERIES rows by construction, and a LocalRelation
    # materializes into the certificates' joins without launching the
    # per-call InMemoryTableScan job a persisted frame pays (and can
    # never be CacheManager-served back to a fresh similarity_topk
    # plan — the r12/r14 plan-match rule for free).
    return cached(
        spark,
        ("ann_exact", sf_dir),
        lambda: (
            local_relation(
                spark,
                similarity_topk(spark, sf_dir).toArrow(),
                "query_id long, neighbor_id long, cos_sim double",
            ),
        ),
    )[0]


def _ann_certificate(
    spark: SparkSession,
    sf_dir: str,
    ann: DataFrame,
    membership,
    exact: DataFrame | None = None,
    broadcast_found: bool = True,
) -> DataFrame:
    """Per-query ANN COMPLETENESS certificate (the in-bound-flag
    pattern of percentile_digest, adapted to what an LSH/IVF actually
    promises deterministically):

    - ``exact_kth_sim`` — the k-th exact cosine per query, computed by
      the engine's OWN brute-force scorer; the oracle recomputes it
      independently in SQL, so a hash match proves the exact side
      end-to-end (queries, scoring, rounding, tie order).
    - ``ann_complete_ok`` — every exact-top-k member whose
      bucket/cell the query PROBES (``membership``: per (query_id,
      neighbor_id) a ``should_find`` bool recomputed from the
      canonical signature/centroid assignment) must appear in the ANN
      output.  This is deterministic — no statistical slack: a probed
      member outranks every non-member candidate under the shared
      (rounded sim desc, id asc) order, so a working ANN cannot drop
      it.  Statistical recall flags are impossible on this fixture
      (uniform-random vectors: per-query recall legitimately hits 0),
      but completeness-within-probe must hold at every scale, and the
      broken-ANN test shows the flag actually falsifies (mismatched
      query planes / farthest-cell probing).

    Queries none of whose exact members are probed are vacuously
    complete — the flag certifies the ANN faithfully returns what its
    candidate generation promises, not that candidate generation has
    high recall on structureless data (the docstrings' analytic
    recall math covers that).
    """
    # the brute-force exact relation is referenced three times in the
    # certificate tree (k-th sim, found-check, membership) — and is
    # IDENTICAL across the three certificates, so it lives in the
    # session model cache (scored once per session, priced in
    # cold_sec) rather than being rebuilt per certificate call.
    if exact is None:
        exact = _exact_topk_cached(spark, sf_dir)
    if callable(membership):
        membership = membership(exact)
    # Query-bounded certificates broadcast the found side explicitly
    # (r17, guide §3.1): their ANN output is ≤ TOP_K × MAX_QUERIES
    # rows by construction, but it hangs below a mapInPandas whose
    # size the planner cannot estimate, so the static plan picked a
    # SortMergeJoin — two Exchange+Sort pairs over the certificate's
    # tiny relations (similarity_ann_lsh_before.txt ops 97/98 +
    # 124/125); the hint makes it a BroadcastHashJoin (measured
    # similarity_ann_lsh 1.04→0.59 s).  The CORPUS-WIDE certificates
    # (knn_graph_ann, stream_knn_index_live — every vector is a query)
    # pass broadcast_found=False: there the found side carries the
    # whole N·k sweep, and forcing a BroadcastExchange serializes the
    # sweep through a driver collect before the join can start
    # (interleaved A/B: 3.46 vs 2.58 s min-of-6) — they keep the
    # shuffled join and let AQE pick the runtime strategy.
    # FUSED membership (r18, corpus-wide families): when the cached
    # membership relation already carries the exact member's cos_sim
    # (pre-fused at build time — _knn_ann_membership), the per-call
    # exact⋈membership SortMergeJoin disappears, and the sweep side is
    # aggregated to ONE found-set row per query BEFORE the join
    # (guide §2.3 — aggregate before you shuffle: the N·k sweep rows
    # cross one exchange as N set rows; the join and the final groupBy
    # then share the hash(query_id) partitioning, so the certificate
    # tail is 2 exchanges instead of 4).  Value-identical: the grouped
    # rows are exactly the same exact-member rows, min(cos_sim) is
    # unchanged, and "member missing from the per-query found set" is
    # the same predicate as "no (query,member) row in the sweep output"
    # (collect_set dedup is irrelevant — min is duplicate-insensitive).
    if "cos_sim" in membership.columns:
        found_sets = ann.groupBy("query_id").agg(
            F.collect_set("neighbor_id").alias("found_ids")
        )
        if broadcast_found:
            found_sets = F.broadcast(found_sets)
        return (
            membership.select(
                "query_id", "neighbor_id", "cos_sim", "should_find"
            )
            .join(found_sets, ["query_id"], "left")
            .groupBy("query_id")
            .agg(
                F.round(F.min("cos_sim"), 6).alias("exact_kth_sim"),
                F.min(
                    F.when(
                        F.coalesce(F.col("should_find"), F.lit(False))
                        & ~F.coalesce(
                            F.array_contains(
                                F.col("found_ids"), F.col("neighbor_id")
                            ),
                            F.lit(False),
                        ),
                        F.lit(False),
                    ).otherwise(F.lit(True))
                ).alias("ann_complete_ok"),
            )
            .select("query_id", "exact_kth_sim", "ann_complete_ok")
        )
    found = ann.select("query_id", "neighbor_id", F.lit(True).alias("found"))
    if broadcast_found:
        found = F.broadcast(found)
    # ONE aggregation carries both certificate columns (r17): the
    # k-th exact sim is a min over exactly the rows the completeness
    # check already groups (the exact relation left-joined to
    # membership and the sweep output), so computing it in the same
    # groupBy deletes the former eagg-side aggregate plus the final
    # query_id equi-join — one fewer exchange/broadcast per
    # certificate query, identical values (min and round commute
    # with the join removal; both engines round once, after the min).
    return (
        exact.select("query_id", "neighbor_id", "cos_sim")
        .join(membership, ["query_id", "neighbor_id"], "left")
        .join(found, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.round(F.min("cos_sim"), 6).alias("exact_kth_sim"),
            F.min(
                F.when(
                    F.coalesce(F.col("should_find"), F.lit(False))
                    & ~F.coalesce(F.col("found"), F.lit(False)),
                    F.lit(False),
                ).otherwise(F.lit(True))
            ).alias("ann_complete_ok"),
        )
        .select("query_id", "exact_kth_sim", "ann_complete_ok")
    )


def _lsh_membership(
    spark: SparkSession, sf_dir: str, exact: DataFrame | None = None
) -> DataFrame:
    """(query_id, neighbor_id, should_find) for the LSH ANN: the
    neighbor's canonical bucket is in the query's canonical probe set
    (own signature + 1-bit flips).  Signatures are recomputed only for
    the exact-top-k member rows (broadcast-semi-filtered corpus), so
    the membership relation costs O(k·queries), not a corpus pass."""
    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if exact is None:
        exact = similarity_topk(spark, sf_dir)
    exact_ids = exact.select("query_id", "neighbor_id")
    nb = _ann_signatures(
        v.join(
            F.broadcast(
                exact_ids.select(
                    F.col("neighbor_id").alias("vec_id")
                ).distinct()
            ),
            "vec_id",
        ),
        with_embedding=False,
    ).select(
        F.col("vec_id").alias("neighbor_id"), F.col("sig").alias("nbucket")
    )
    qb = _ann_signatures(_query_set(v), with_embedding=False).select(
        F.col("vec_id").alias("query_id"), F.col("sig").alias("qbucket")
    )
    probes = F.array(
        F.col("qbucket"),
        *[
            F.col("qbucket").bitwiseXOR(F.lit(1 << p))
            for p in range(LSH_PLANES)
            if LSH_MULTIPROBE >= 1
        ],
    )
    return (
        exact_ids.join(F.broadcast(nb), "neighbor_id")
        .join(F.broadcast(qb), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.array_contains(probes, F.col("nbucket")).alias("should_find"),
        )
    )


@register("similarity_ann_lsh", oracle=_ANN_CERT_SQL)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness certificate for
    :func:`similarity_ann_lsh_neighbors` (the multi-probe
    hyperplane-LSH ANN) — see :func:`_ann_certificate` for what each
    column certifies.  The raw neighbor relation stays available as
    ``similarity_ann_lsh_neighbors``."""
    exact = _exact_topk_cached(spark, sf_dir)
    membership = _membership_cached(
        spark, sf_dir, "lsh", lambda: _lsh_membership(spark, sf_dir, exact)
    )
    return _ann_certificate(
        spark,
        sf_dir,
        similarity_ann_lsh_neighbors(spark, sf_dir),
        membership,
        exact=exact,
    )


@register("similarity_ivf", oracle=_ANN_CERT_SQL)
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness certificate for :func:`similarity_ivf_neighbors`
    (the distributed-Lloyd IVF ANN) — see :func:`_ann_certificate`.
    The raw neighbor relation stays available as
    ``similarity_ivf_neighbors``."""
    exact = _exact_topk_cached(spark, sf_dir)
    ann, membership = _ann_with_membership(
        spark,
        sf_dir,
        "ivf",
        lambda **kw: similarity_ivf_neighbors(spark, sf_dir, exact=exact, **kw),
        lambda membership: membership,
    )
    return _ann_certificate(spark, sf_dir, ann, membership, exact=exact)


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's memory story, SURVEY.md §2B extension)
# ---------------------------------------------------------------------------

PQ_M = 8             # subspaces (dim 64 -> 8 dims each)
PQ_K = 16            # centroids per subspace -> 1 byte/code, 8 B/vector
PQ_TRAIN_STRIDE = 2  # deterministic 1-in-N training sample (as IVF)
PQ_LLOYD_STEPS = 4   # per-subspace k-means rounds
PQ_REFINE = 32       # ADC candidates kept per query for exact re-scoring


def _pq_codebooks(spark: SparkSession, sf_dir: str):
    """Train per-subspace k-means codebooks over the unit-normalized
    corpus sample — the same distributed-Lloyd machinery as the IVF
    coarse quantizer, but ALL {PQ_M} subspaces learn in each single
    pass (one mapInPandas job per round emits ≤ M·K·partitions short
    partial rows).  Returns (M, K, dim/M) float64, session-cached per
    ``sf_dir`` (a PQ index is trained once and queried many times —
    FAISS lifecycle, same argument as the IVF cache).

    Seeding/determinism: round 0 assigns cell = vec_id % K in every
    subspace; argmin ties take the lowest cell; empty cells keep their
    previous centroid.  Codebooks are deterministic for a fixed scan
    partitioning; everything DOWNSTREAM (codes, ADC ranks, the
    certificate) is derived from this one cached array, so the emitted
    relation is self-consistent in any environment.
    """
    return cached(
        spark, ("pq", sf_dir), lambda: _train_pq_codebooks(spark, sf_dir)
    )


def _train_pq_codebooks(spark: SparkSession, sf_dir: str):
    """The uncached :func:`_pq_codebooks` build."""
    import numpy as np
    import pandas as pd

    from s3_manifest_spark.registry import track_persist

    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tr = track_persist(v.filter(F.col("vec_id") % PQ_TRAIN_STRIDE == 0))
    books: np.ndarray | None = None  # (M, K, dsub); None -> seed round

    def partials(cur):
        def gen(batches):
            for b in batches:
                ids = b["vec_id"].to_numpy(dtype="int64")
                en = _unit(_matrix(b["embedding"]))
                dim = en.shape[1]
                if dim % PQ_M:
                    raise ValueError(
                        f"embedding dim {dim} not divisible by PQ_M={PQ_M}"
                    )
                dsub = dim // PQ_M
                out_m, out_c, out_n, out_s = [], [], [], []
                for m in range(PQ_M):
                    xm = en[:, m * dsub : (m + 1) * dsub]
                    if cur is None:
                        cells = (ids % PQ_K).astype("int64")
                    else:
                        cm = cur[m]  # (K, dsub)
                        # argmin ||x-c||^2 = argmin(-2 x·c + ||c||^2);
                        # ties -> lowest cell (np.argmin)
                        d = -2.0 * (xm @ cm.T) + (cm * cm).sum(axis=1)
                        cells = np.argmin(d, axis=1)
                    counts = np.bincount(cells, minlength=PQ_K)
                    sums = np.zeros((PQ_K, dsub))
                    np.add.at(sums, cells, xm)
                    uniq = np.nonzero(counts)[0]
                    out_m.append(np.full(len(uniq), m))
                    out_c.append(uniq)
                    out_n.append(counts[uniq])
                    out_s.extend(sums[c].tolist() for c in uniq)
                yield pd.DataFrame(
                    {
                        "m": np.concatenate(out_m).astype("int32"),
                        "cell": np.concatenate(out_c).astype("int32"),
                        "n": np.concatenate(out_n).astype("int64"),
                        "s": out_s,
                    }
                )

        return gen

    for _ in range(PQ_LLOYD_STEPS):
        rows = tr.mapInPandas(
            partials(books), schema="m int, cell int, n long, s array<double>"
        ).collect()  # <= M * K * partitions short rows
        dsub = len(rows[0]["s"])
        sums = np.zeros((PQ_M, PQ_K, dsub))
        counts = np.zeros((PQ_M, PQ_K))
        for r in rows:
            sums[r["m"], r["cell"]] += np.asarray(r["s"])
            counts[r["m"], r["cell"]] += r["n"]
        new_books = (
            np.zeros((PQ_M, PQ_K, dsub)) if books is None else books.copy()
        )
        nz = counts > 0
        new_books[nz] = sums[nz] / counts[nz][:, None]
        books = new_books
    return books


def _pq_encode(en, books):
    """codes[i, m] = nearest codebook cell of row i's m-th subvector
    (ties -> lowest cell).  ``en`` must already be unit-normalized."""
    import numpy as np

    dsub = books.shape[2]
    codes = np.empty((en.shape[0], PQ_M), dtype=np.int64)
    for m in range(PQ_M):
        xm = en[:, m * dsub : (m + 1) * dsub]
        cm = books[m]
        d = -2.0 * (xm @ cm.T) + (cm * cm).sum(axis=1)
        codes[:, m] = np.argmin(d, axis=1)
    return codes


def _pq_adc(codes, lut_q):
    """ADC score of every coded row against ONE query's LUT
    ((M, K) table): Σ_m lut[m, code_m], summed in fixed subspace order
    so the float result is independent of batching/partitioning."""
    s = lut_q[0, codes[:, 0]]
    for m in range(1, PQ_M):
        s = s + lut_q[m, codes[:, m]]
    return s


def _pq_batch(b, books, cents):
    """``(ids, codes, cells)`` of one Arrow batch: the unit-normalized
    rows' PQ codes and, when an IVF quantizer ``cents`` is given, each
    row's coarse cell (None without one)."""
    import numpy as np

    nids = b["vec_id"].to_numpy(dtype="int64")
    en = _unit(_matrix(b["embedding"]))
    cells = None if cents is None else np.argmax(en @ cents.T, axis=1)
    return nids, _pq_encode(en, books), cells


def _pq_scanned(nids, cells, ids_q, probes, j):
    """Rows the PQ scan scores for query ``j``: every row but the query
    itself, restricted to the query's probed cells under IVF routing
    (``cells`` not None)."""
    import numpy as np

    keep = nids != ids_q[j]
    if cells is not None:
        keep &= np.isin(cells, probes[j])
    return keep


def _pq_lut(q, books):
    """One query's canonical (M, K) ADC table, q_m · books[m, c]."""
    import numpy as np

    dsub = books.shape[2]
    return np.stack(
        [q[m * dsub : (m + 1) * dsub] @ books[m].T for m in range(PQ_M)]
    )


def _pq_neighbors(
    spark: SparkSession,
    sf_dir: str,
    ivf: bool,
    with_membership: bool = False,
    corrupt_lut: bool = False,
):
    """ANN top-k via product quantization + asymmetric distance, with
    or without IVF cell routing.  PQ-Flat (``ivf=False``) is IVF-PQ
    with every cell probed: it neither trains nor loads the IVF
    quantizer.

    1. TRAIN: per-subspace codebooks (:func:`_pq_codebooks`) — the
       index stores {PQ_M} single-byte codes per vector instead of the
       full float vector (8 B vs 512 B at dim 64: the memory story
       IVF-Flat lacks at 100 TB).  Under IVF routing the coarse
       quantizer (:func:`_ivf_centroids`, shared with similarity_ivf)
       sends each query to its {IVF_NPROBE} nearest cells.
    2. SCAN (one distributed pass): queries' ADC lookup tables
       (Q × M × K doubles) are broadcast; each Arrow batch encodes its
       rows once, scores every query's scanned rows (probed-cell rows
       under IVF routing) by table lookups — no float vector math per
       candidate — and :func:`_query_topk` keeps the global
       top-{PQ_REFINE} per query under (adc desc, id asc).
    3. REFINE: the ≤ {PQ_REFINE}·Q global candidates are re-scored
       EXACTLY against the broadcast query matrix (corpus joined to the
       broadcast candidate list — candidate-bounded, never a corpus
       shuffle) and the final top-{TOP_K} per query is emitted with
       exact rounded cosine.

    ``corrupt_lut=True`` is the deliberate BROKEN mode for the
    certificate test: negated lookup tables rank the WORST candidates
    first, so probed exact members drop out and ann_complete_ok must
    falsify.  ``with_membership`` also returns the canonical (query,
    member) → should_find builder (:func:`_pq_membership`).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = centn = None
    if ivf:
        centn = _unit(_ivf_centroids(spark, sf_dir))
    books = _pq_codebooks(spark, sf_dir)
    qpdf = _query_pdf_cached(spark, sf_dir, v)
    qids = qpdf["vec_id"].to_numpy(dtype="int64")
    qm = _unit(_matrix(qpdf["embedding"]))
    if ivf:
        probes = np.argsort(-(qm @ centn.T), kind="stable", axis=1)[
            :, :IVF_NPROBE
        ]
    dsub = books.shape[2]
    # ADC lookup tables: lut[q, m, c] = q_m · books[m, c]
    lut = np.stack(
        [qm[:, m * dsub : (m + 1) * dsub] @ books[m].T for m in range(PQ_M)],
        axis=1,
    )  # (Q, M, K)
    scan_lut = -lut if corrupt_lut else lut
    bc = spark.sparkContext.broadcast(
        (qids, qm, books, scan_lut, probes, centn)
    )

    def per_batch(b):
        ids_q, _, bks, tables, probe_cells, cents = bc.value
        nids, codes, cells = _pq_batch(b, bks, cents)
        for j, qid in enumerate(ids_q):
            keep = _pq_scanned(nids, cells, ids_q, probe_cells, j)
            yield qid, nids[keep], _pq_adc(codes[keep], tables[j])

    global_cands = _query_topk(
        v, PQ_REFINE, per_batch, score_col="adc"
    ).select("query_id", "neighbor_id")
    # exact refine: corpus rows joined to the BROADCAST candidate list
    refine_src = v.withColumnRenamed("vec_id", "neighbor_id").join(
        F.broadcast(global_cands), "neighbor_id"
    )

    def refine(batches):
        ids_q, queries = bc.value[:2]
        qrow = {int(q): i for i, q in enumerate(ids_q)}
        for b in batches:
            if not len(b):
                continue
            en = _unit(_matrix(b["embedding"]))
            qi = np.array(
                [qrow[int(q)] for q in b["query_id"].to_numpy()], dtype=np.int64
            )
            sims = np.round(np.einsum("ij,ij->i", queries[qi], en), 6)
            yield pd.DataFrame(
                {
                    "query_id": b["query_id"].to_numpy().astype("int64"),
                    "neighbor_id": b["neighbor_id"].to_numpy().astype("int64"),
                    "cos_sim": sims,
                }
            )

    refined = refine_src.mapInPandas(
        refine, schema="query_id long, neighbor_id long, cos_sim double"
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    topk = (
        refined.select("*", F.row_number().over(w_cos).alias("rn"))
        .filter(F.col("rn") <= TOP_K)
        .drop("rn")
    )
    if not with_membership:
        return topk

    def membership(exact_df):
        return _pq_membership(spark, sf_dir, bc, exact_df)

    return topk, membership


def similarity_pq_neighbors(
    spark: SparkSession,
    sf_dir: str,
    with_membership: bool = False,
    corrupt_lut: bool = False,
):
    """PQ-Flat ANN top-k: :func:`_pq_neighbors` scanning every row's
    codes."""
    return _pq_neighbors(spark, sf_dir, False, with_membership, corrupt_lut)


def similarity_ivf_pq_neighbors(
    spark: SparkSession,
    sf_dir: str,
    with_membership: bool = False,
    corrupt_lut: bool = False,
):
    """IVF-PQ approximate top-k — the production FAISS composition of
    the two indexes this module already trains (:func:`_pq_neighbors`
    with IVF routing): the coarse quantizer routes each query to its
    :data:`IVF_NPROBE` nearest cells and PQ codes ADC-score ONLY the
    rows living in probed cells.

    Why this is THE 100 TB shape: IVF-Flat still touches full float
    vectors for every probed row (512 B/vector at dim 64); PQ-Flat
    scans every row's codes.  Composed, the scan touches 8 B codes
    for ~nprobe/K of the corpus — both the memory story and the
    selectivity story at once, exactly like a FAISS ``IVFx,PQy``
    index."""
    return _pq_neighbors(spark, sf_dir, True, with_membership, corrupt_lut)


def _pq_membership(spark, sf_dir, bc, exact):
    """(query_id, neighbor_id, should_find) for the PQ family: the
    exact member's canonical ADC rank among the rows the scan scores
    (predecessors under (adc desc, id asc), self-query excluded, and
    only probed-cell rows under IVF routing) is below PQ_REFINE — and,
    under IVF routing, the member's own cell is among the query's
    canonical nearest :data:`IVF_NPROBE` cells.  Canonical
    (UNcorrupted) tables throughout, so the broken-mode certificate
    falsifies against this relation.  Two bounded passes: member ADC
    thresholds from the candidate-filtered corpus (O(k·queries) rows),
    then one corpus pass counting predecessors per (query, member) —
    partial counts combine by SUM, so the rank is exact and
    partition-independent."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    exact_ids = exact.select("query_id", "neighbor_id")
    memb_src = v.join(
        F.broadcast(
            exact_ids.select(F.col("neighbor_id").alias("vec_id")).distinct()
        ),
        "vec_id",
    )

    def member_adc(batches):
        ids_q, queries, bks, _, probe_cells, cents = bc.value
        for b in batches:
            nids, codes, cells = _pq_batch(b, bks, cents)
            out = []
            for j, qid in enumerate(ids_q):
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(nids), qid),
                            "neighbor_id": nids,
                            "madc": _pq_adc(codes, _pq_lut(queries[j], bks)),
                            "probed": cells is None
                            or np.isin(cells, probe_cells[j]),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    madc = (
        memb_src.mapInPandas(
            member_adc,
            schema="query_id long, neighbor_id long, madc double, probed boolean",
        )
        # keep only the (query, member) pairs the certificate checks
        .join(F.broadcast(exact_ids), ["query_id", "neighbor_id"])
    )
    thresholds = madc.toPandas()  # <= k·queries rows, bounded
    bc_thr = spark.sparkContext.broadcast(
        (
            thresholds["query_id"].to_numpy("int64"),
            thresholds["neighbor_id"].to_numpy("int64"),
            thresholds["madc"].to_numpy("float64"),
        )
    )

    def count_predecessors(batches):
        ids_q, queries, bks, _, probe_cells, cents = bc.value
        tq, tn, tm = bc_thr.value
        qrow = {int(q): j for j, q in enumerate(ids_q)}
        tj = np.array([qrow[int(q)] for q in tq], dtype=np.int64)
        # thresholds grouped by query: each query's ADC is computed
        # ONCE per batch, then compared against its ≤ k thresholds
        by_query: dict[int, list] = {}
        for i, j in enumerate(tj):
            by_query.setdefault(int(j), []).append(i)
        for b in batches:
            nids, codes, cells = _pq_batch(b, bks, cents)
            cnts = np.empty(len(tq), dtype=np.int64)
            for j, idxs in by_query.items():
                adc = _pq_adc(codes, _pq_lut(queries[j], bks))
                scanned = _pq_scanned(nids, cells, ids_q, probe_cells, j)
                for i in idxs:
                    better = (adc > tm[i]) | ((adc == tm[i]) & (nids < tn[i]))
                    better &= scanned & (nids != tn[i])
                    cnts[i] = int(better.sum())
            yield pd.DataFrame(
                {"query_id": tq, "neighbor_id": tn, "cnt": cnts}
            )

    counts = (
        v.mapInPandas(
            count_predecessors,
            schema="query_id long, neighbor_id long, cnt long",
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("cnt").alias("rank"))
    )
    # explicit schema: inference raises on an empty pandas
    # frame, and an empty exact/membership relation is a legal input.
    probed_flag = local_relation(
        spark,
        pa.Table.from_pandas(
            thresholds[["query_id", "neighbor_id", "probed"]], preserve_index=False
        ),
        "query_id long, neighbor_id long, probed boolean",
    )
    return counts.join(probed_flag, ["query_id", "neighbor_id"]).select(
        "query_id",
        "neighbor_id",
        (F.col("probed") & (F.col("rank") < PQ_REFINE)).alias("should_find"),
    )


@register("similarity_pq", oracle=_ANN_CERT_SQL)
def similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness certificate for :func:`similarity_pq_neighbors`
    (product-quantization ADC scan + exact refine) — see
    :func:`_ann_certificate` for what each column certifies.  The raw
    neighbor relation stays available as ``similarity_pq_neighbors``.
    """
    return _pq_certificate(spark, sf_dir, ivf=False)


def _pq_certificate(spark: SparkSession, sf_dir: str, ivf: bool) -> DataFrame:
    """The PQ family's certificate (:func:`_pq_neighbors`, with or
    without IVF routing).  PQ hands membership back as a lazy builder
    over the exact relation — resolved once here and session-cached."""
    exact = _exact_topk_cached(spark, sf_dir)
    ann, membership = _ann_with_membership(
        spark,
        sf_dir,
        "ivf_pq" if ivf else "pq",
        lambda **kw: _pq_neighbors(spark, sf_dir, ivf, **kw),
        lambda mem_raw: mem_raw(exact),
    )
    return _ann_certificate(spark, sf_dir, ann, membership, exact=exact)


# ---------------------------------------------------------------------------
# Int8 embedding quantization (the embedding STORAGE story at 100 TB)
# ---------------------------------------------------------------------------

@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    q AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM v
    ),
    c AS (
      SELECT vec_id, e, scale,
             list_transform(e, x -> CAST(floor(x / scale + 0.5) AS INT))
               AS codes
      FROM q WHERE scale > 0
    )
    SELECT vec_id,
           round(scale, 12) AS scale,
           CAST(len(list_filter(codes, c -> abs(c) = 127)) AS BIGINT)
             AS n_saturated,
           round(list_sum(list_transform(range(1, len(e) + 1),
                                         i -> pow(e[i] - codes[i] * scale, 2)))
                 / len(e), 12) AS mse
    FROM c
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization accounting:
    ``(vec_id, scale, n_saturated, mse)``.

    The storage-side counterpart to ``similarity_pq``: int8 codes keep
    the embedding column 4× smaller than float32 (64 B vs 256 B at
    dim 64) while staying directly dot-product-able (int8 GEMM), which
    is how production vector stores hold billion-scale corpora in
    executor memory.  The operator emits the quantization audit a
    pipeline runs before committing to the format: per-vector scale
    (max-abs symmetric), saturation count, and exact reconstruction
    MSE.

    One shuffle-free codegen projection — array higher-order functions
    only, no Python, no joins.  Determinism: scale is one double
    division of a float32 max (bit-identical both engines); codes use
    ``floor(x/scale + 0.5)`` (half-up in BOTH engines — SQL ``round``
    differs between them at .5 for negatives, ``floor`` does not);
    mse rounds at 12 dp, absorbing fold-order noise (~1e-19).
    Zero-vectors (scale = 0) are excluded on both sides rather than
    emitting NaN codes.
    """
    v = load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
    )
    q = v.selectExpr(
        "vec_id",
        "e",
        "array_max(transform(e, x -> abs(x))) / 127.0 AS scale",
    ).filter("scale > 0")
    c = q.selectExpr(
        "vec_id",
        "e",
        "scale",
        "transform(e, x -> CAST(floor(x / scale + 0.5) AS INT)) AS codes",
    )
    return c.selectExpr(
        "vec_id",
        "round(scale, 12) AS scale",
        "CAST(size(filter(codes, c -> abs(c) = 127)) AS BIGINT)"
        " AS n_saturated",
        "round(aggregate(zip_with(e, codes, (x, c) -> pow(x - c * scale, 2)),"
        " CAST(0 AS DOUBLE), (acc, d) -> acc + d) / size(e), 12) AS mse",
    )


# ---------------------------------------------------------------------------
# kNN classification (r10): label propagation over the exact relation
# ---------------------------------------------------------------------------

_KNN_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v
      WHERE vec_id % {QUERY_STRIDE} = 0 ORDER BY vec_id LIMIT {MAX_QUERIES}),
scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         round(list_dot_product(qe, e)
               / (greatest(sqrt(list_dot_product(qe, qe)), 1e-12)
                  * greatest(sqrt(list_dot_product(e, e)), 1e-12)),
               6) AS cos_sim
  FROM q JOIN v ON vec_id <> query_id
),
topk AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT *, row_number() OVER (
             PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
           ) AS rn
    FROM scored
  ) WHERE rn <= {TOP_K}
),
votes AS (
  SELECT t.query_id, CAST(l.label AS BIGINT) AS label,
         CAST(count(*) AS BIGINT) AS votes
  FROM topk t JOIN embeddings l ON l.vec_id = t.neighbor_id
  GROUP BY 1, 2
),
pred AS (
  SELECT query_id, label AS predicted_label, votes
  FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY votes DESC, label) AS rn
        FROM votes)
  WHERE rn = 1
)
SELECT p.query_id, p.predicted_label, p.votes,
       CAST(e.label AS BIGINT) AS true_label,
       p.predicted_label = CAST(e.label AS BIGINT) AS correct
FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
"""


@register("knn_classify", oracle=_KNN_ORACLE)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor label vote over the exact cosine relation —
    the weak-supervision / label-propagation primitive: each query
    vector takes the majority label of its :data:`TOP_K` exact
    neighbors (tie-break: vote count desc, label asc — deterministic
    in both engines), emitted next to its true label.

    Rides the session-cached exact relation the ANN certificates
    share, so the warm plan is two tiny joins + a vote rollup.  Join
    direction is the 100 TB-correct one: the k·queries-row exact
    relation BROADCASTS into the (corpus-sized) label relation —
    labels never broadcast and never shuffle wider than the vote
    keys."""
    from pyspark.sql import Window

    exact = _exact_topk_cached(spark, sf_dir)
    labels = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    votes = (
        labels.withColumnRenamed("vec_id", "neighbor_id")
        .join(
            F.broadcast(exact.select("query_id", "neighbor_id")),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label")
    )
    pred = (
        votes.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "votes")
    )
    truth = labels.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
    )
    return pred.join(F.broadcast(truth), "query_id").select(
        "query_id",
        "predicted_label",
        "votes",
        "true_label",
        (F.col("predicted_label") == F.col("true_label")).alias("correct"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation audit (r11): recall of truncated-dim retrieval
# ---------------------------------------------------------------------------

#: Dimensions kept by the truncated (Matryoshka-style) retrieval path.
#: Modern embedding models are trained so a PREFIX of the vector is
#: itself a usable embedding (MRL); serving then stores/searches the
#: short prefix and refines with the tail only when needed.
MRL_DIM = 16

_MRL_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS qe FROM v
      WHERE vec_id % {QUERY_STRIDE} = 0 ORDER BY vec_id LIMIT {MAX_QUERIES}),
full_scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         round(list_dot_product(qe, e)
               / (greatest(sqrt(list_dot_product(qe, qe)), 1e-12)
                  * greatest(sqrt(list_dot_product(e, e)), 1e-12)),
               6) AS cos_sim
  FROM q JOIN v ON vec_id <> query_id
),
full_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM full_scored) WHERE rn <= {TOP_K}
),
t_scored AS (
  SELECT query_id, vec_id AS neighbor_id,
         round(list_dot_product(qe[1:{MRL_DIM}], e[1:{MRL_DIM}])
               / (greatest(sqrt(list_dot_product(qe[1:{MRL_DIM}],
                                                 qe[1:{MRL_DIM}])), 1e-12)
                  * greatest(sqrt(list_dot_product(e[1:{MRL_DIM}],
                                                   e[1:{MRL_DIM}])), 1e-12)),
               6) AS cos_sim
  FROM q JOIN v ON vec_id <> query_id
),
t_topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
    FROM t_scored) WHERE rn <= {TOP_K}
)
SELECT f.query_id,
       CAST(count(t.neighbor_id) AS BIGINT)        AS n_overlap,
       round(count(t.neighbor_id) * 1.0 / {TOP_K}, 6) AS recall_at_k
FROM full_topk f
LEFT JOIN t_topk t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY f.query_id
"""


@register("embedding_matryoshka", oracle=_MRL_ORACLE)
def embedding_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: per probe query, how many of the
    full-dimension exact top-:data:`TOP_K` cosine neighbors survive
    when retrieval uses only the first :data:`MRL_DIM` of the
    embedding's dimensions — ``(query_id, n_overlap, recall_at_k)``.

    This is the measurement a serving team makes BEFORE switching the
    ANN index to truncated vectors (4x less index memory and BLAS
    work at dim 64 -> 16): an evidence operator in the
    lsh_tuning_curve family, and fully exact on both engines (both
    neighbor sets are deterministic brute-force top-k under the
    rounded-cosine/neighbor-id order, so the oracle certifies every
    overlap count — no bound flags needed).

    Plan: the full-dim side is the session-cached exact relation the
    ANN certificates share; the truncated side is one more
    broadcast-BLAS pass over the corpus (prefix-sliced in the Arrow
    kernel — the scan still prunes to the embedding column, and the
    corpus never shuffles); the overlap is a broadcast join of two
    k·queries-row relations."""
    full = _exact_topk_cached(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    trunc = _exact_topk_dims(spark, sf_dir, MRL_DIM).select(
        "query_id", F.col("neighbor_id").alias("t_neighbor")
    )
    hit = full.join(
        F.broadcast(trunc),
        (full["query_id"] == trunc["query_id"])
        & (full["neighbor_id"] == trunc["t_neighbor"]),
        "left",
    ).select(full["query_id"].alias("qid"), "t_neighbor")
    return hit.groupBy(F.col("qid").alias("query_id")).agg(
        F.count("t_neighbor").alias("n_overlap"),
        F.round(F.count("t_neighbor") * 1.0 / TOP_K, 6).alias(
            "recall_at_k"
        ),
    )


#: kNN-graph fan-out (neighbors kept per corpus vector).
KNN_GRAPH_K = 5
#: corpus block count for the kNN-graph block sweep (see
#: dedup.EMBED_BLOCKS for the sizing rule: ~64-256 MB per block at
#: real scale, i.e. B ~= N*dim*8 / 1e8 — far above 8 at 100 TB).
KNN_BLOCKS = 8


def _pack_blocks(v: DataFrame, key) -> DataFrame:
    """Pack ``(vec_id, embedding)`` rows into ``(blk, ids, mat)`` block
    rows keyed by ``key`` (a Column) — ``dedup.dedup_embedding``'s
    packed-matrix layout, shared by the exact block sweep and the
    LSH-bucketed candidate sweep.  ``sort_array`` pins member order so
    the packed matrix is deterministic under any shuffle schedule."""
    return (
        v.groupBy(key.alias("blk"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct("vec_id", "embedding"))
            ).alias("rs")
        )
        .select(
            "blk",
            F.expr("transform(rs, r -> r.vec_id)").alias("ids"),
            F.expr("flatten(transform(rs, r -> r.embedding))").alias("mat"),
        )
    )


def _block_pair_topk(block_pairs: DataFrame, k: int) -> DataFrame:
    """Per-pair BLAS scorer + global merge shared by :func:`knn_graph`
    (all B² ordered block pairs) and :func:`knn_graph_ann_neighbors`
    (LSH candidate block pairs): each ``(ids_a, mat_a, ids_b, mat_b)``
    row runs one ``blockA @ blockBᵀ`` keeping only each A-row's local
    top-``k`` against that B block under the FINAL order (rounded
    cosine desc, neighbor_id asc) — sound because a global top-k
    member is a top-k member of every B-block slice it appears in.
    The merge window then ranks ≤ k·(pairs touching the vector)
    candidates per vector, never N."""

    def score(batches):
        for batch in batches:
            # zip over the raw column arrays, not iterrows: the
            # row-materialization overhead (~100 us/row) dominates at
            # production pair counts (the adaptive-plane sweep emits
            # ~N/occ * (1+planes) pair rows).
            for raw_ia, raw_ma, raw_ib, raw_mb in zip(
                batch["ids_a"].to_numpy(),
                batch["mat_a"].to_numpy(),
                batch["ids_b"].to_numpy(),
                batch["mat_b"].to_numpy(),
            ):
                yield from _pair_topk(
                    *_unpack_block(raw_ia, raw_ma),
                    *_unpack_block(raw_ib, raw_mb),
                    k,
                )

    cand = block_pairs.mapInPandas(
        score, schema="vec_id long, neighbor_id long, cos_sim double"
    )
    return _merge_topk(cand, k)


def _pair_topk(ia, ma, ib, mb, k: int):
    """Each A-row's local top-``k`` against one B block (unit rows
    ``ma`` / ``mb``, ids ``ia`` / ``ib``) as at most one
    ``(vec_id, neighbor_id, cos_sim)`` frame — the per-pair step of
    every blocked kNN sweep."""
    import numpy as np
    import pandas as pd

    sims = np.round(ma @ mb.T, 6)  # (|A|, |B|)
    # Vectorized exact per-row top-k (r14 — replaced a per-A-row Python
    # lexsort loop, the wall of the 10x sweep): packing sorts ids
    # ASCENDING, so ONE stable argsort of -sims along axis 1 yields
    # exactly the final (rounded sim desc, neighbor_id asc) order per
    # row.  Self-matches are masked by ID EQUALITY to -inf, which sorts
    # last and is dropped by the finite filter: for corpus-partition
    # sweeps (A and B are the same bucket/block — each vector lives in
    # exactly one) this is precisely the old diagonal mask; for
    # query-side-restricted sweeps (the sampled certificate packs only
    # the query vectors, so A ⊂ B) the self cell sits off-diagonal.
    # O(|A||B|) int64 compares — 64x cheaper than the matmul next to it.
    sims[ia[:, None] == ib[None, :]] = -np.inf
    kk = min(k, sims.shape[1])
    order = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
    top = np.take_along_axis(sims, order, axis=1)
    valid = np.isfinite(top).ravel()
    if valid.any():
        yield pd.DataFrame(
            {
                "vec_id": np.repeat(ia, kk)[valid],
                "neighbor_id": ib[order.ravel()[valid]],
                "cos_sim": top.ravel()[valid],
            }
        )


def _merge_topk(cand: DataFrame, k: int) -> DataFrame:
    """Global top-``k`` merge over per-block candidate rows — the
    shared tail of every blocked kNN sweep: rank ≤ k·(blocks touching
    the vector) candidates per vector under the final (rounded sim
    desc, neighbor_id asc) order, never N."""
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


@register(
    "knn_graph",
    # greatest(..., 1e-12) mirrors the Spark scorer's zero-norm clamp
    # (_block_pair_topk): a zero vector must score cos 0 on BOTH
    # engines, not divide-by-zero on the oracle side.
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    scored AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             round(list_dot_product(a.e, b.e)
                   / (greatest(sqrt(list_dot_product(a.e, a.e)), 1e-12)
                      * greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12)),
                   6) AS cos_sim
      FROM v a JOIN v b ON a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, cos_sim
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id
             ) AS rn
      FROM scored
    ) WHERE rn <= {KNN_GRAPH_K}
    """,
)
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-nearest-neighbor graph over the whole corpus: every
    vector's top-:data:`KNN_GRAPH_K` cosine neighbors — the relation
    SemDeDup-style clustering, kNN-graph community detection, and
    graph-based ANN indexes are built from.

    Physical strategy — DISTRIBUTED blocked self-join, no driver
    collect (``similarity_topk`` broadcasts its bounded query set;
    here every corpus vector is a query, so broadcasting is not an
    option): the corpus is hashed into :data:`KNN_BLOCKS` packed
    block rows (id array + flattened matrix — dedup_embedding's
    packing), the block relation is cross-joined with
    itself into ALL B^2 ordered block pairs (kNN needs both
    orientations, unlike the dedup sweep's upper triangle), and each
    pair runs one BLAS ``blockA @ blockB^T`` keeping only each
    A-row's local top-k against that B block under the FINAL order
    (rounded cosine desc, neighbor_id asc) — sound because a global
    top-k member is a top-k member of every B-block slice it appears
    in.  The merge window then ranks <= k*B candidates per vector,
    never N.

    Scale accounting: flops are the unavoidable O(N^2 d) of an exact
    kNN graph, spread over B^2 independent tasks; shuffle volume is
    one corpus pass into B packed rows plus B*(B+1) block copies out
    of the cross join, then k*B candidate rows per vector into the
    merge exchange.  At 100 TB the exact sweep is the CERTIFIED
    BASELINE; the production path (:func:`knn_graph_ann_neighbors`,
    certified by ``knn_graph_ann``) swaps the B^2 pair relation for
    LSH candidate block pairs feeding this same per-pair scorer and
    merge — identical output contract, candidate-bounded work.
    """
    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    packed = _pack_blocks(
        v, F.pmod(F.xxhash64("vec_id"), F.lit(KNN_BLOCKS))
    )
    block_pairs = (
        packed.alias("x")
        .crossJoin(packed.alias("y"))
        .select(
            F.col("x.ids").alias("ids_a"),
            F.col("x.mat").alias("mat_a"),
            F.col("y.ids").alias("ids_b"),
            F.col("y.mat").alias("mat_b"),
        )
    )
    return _block_pair_topk(block_pairs, KNN_GRAPH_K)


# ---------------------------------------------------------------------------
# Production kNN-graph path (VERDICT r13 item 1): LSH candidate block
# pairs feeding knn_graph's per-pair BLAS scorer — the sub-quadratic
# sweep a 100 TB corpus actually runs, certified against the exact
# baseline by the registered ``knn_graph_ann`` completeness query.
# ---------------------------------------------------------------------------

#: target expected bucket occupancy for the corpus-adaptive plane
#: count: planes ≈ log2(N / OCC) keeps per-bucket membership roughly
#: constant as the corpus grows, which is what makes the candidate
#: sweep ~O(N·occ·planes·d) instead of O(N²d) — bucket count scales
#: WITH the corpus (FAISS sizes nlist ~ sqrt(N) for the same reason;
#: LSH sizes bits ~ log N).
KNN_ANN_TARGET_OCC = 32
#: plane-count clamp: ≥4 keeps the sweep sub-all-pairs even on tiny
#: fixtures; ≤24 bounds the probe fan-out (1+planes block copies).
KNN_ANN_MIN_PLANES = 4
KNN_ANN_MAX_PLANES = 24
#: probe radius in signature Hamming distance: each vector's block is
#: scored against its own bucket plus every 1-bit-flip bucket — the
#: multi-probe trick (a near neighbor's most likely disagreement is
#: ONE flipped hyperplane), same as similarity_ann_lsh's query side.
KNN_ANN_MULTIPROBE = 1
#: distinct seed stream from the query-ANN planes so the two indexes
#: never share hyperplanes (and the falsification tests stay
#: independent).
KNN_ANN_SEED_OFFSET = 7
#: expected-size cap on packed sub-block membership.  The adaptive
#: plane count holds EXPECTED occupancy at KNN_ANN_TARGET_OCC, but
#: real corpora cluster — a hot direction can put millions of vectors
#: in one bucket, and an uncapped packed row is occ×dim×8 bytes on a
#: single task (the OOM shape).  Buckets past the cap split into
#: ceil(occ/cap) salted sub-blocks (secondary hash, so sub-block size
#: is ~cap in expectation with binomial spread); the probe join pairs
#: every sub-block of a probed bucket automatically because all
#: sub-blocks keep the BUCKET as their join key — the candidate set,
#: and therefore the output, is unchanged, while per-task memory
#: drops from occ×dim×8 to ~cap×dim×8 (≈2 MB at dim 64).
KNN_ANN_MAX_BLOCK = 4096


def _pack_buckets_salted(sigs: DataFrame) -> DataFrame:
    """Pack ``(vec_id, embedding, bucket)`` rows into bucket-keyed
    block rows with the :data:`KNN_ANN_MAX_BLOCK` occupancy cap: one
    vocabulary-sized occupancy aggregate decides each bucket's salt
    count, a secondary ``xxhash64`` spreads members across the salted
    sub-blocks, and the packed relation keeps the BUCKET as ``blk``
    (the probe-join key) so downstream pair generation is oblivious
    to the split.  Sub-blocks of one bucket have disjoint members, so
    the scorer's same-array diagonal mask still fires exactly on true
    self-pairs."""
    occ = sigs.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_b"))
    nsalt = occ.select(
        "bucket",
        F.greatest(
            F.lit(1),
            F.ceil(F.col("n_b") / F.lit(KNN_ANN_MAX_BLOCK)),
        )
        .cast("long")
        .alias("nsalt"),
    )
    # EXPLICIT broadcast: the salt-count relation is ≤ 2^planes short
    # rows, but it hangs off a mapInPandas output with no stats, so
    # without the hint Spark picks a sort-merge join and SHUFFLES the
    # full (vec_id, embedding) corpus — measured 3× the whole sweep's
    # wall at the 100× probe scale.
    vb = sigs.join(F.broadcast(nsalt), "bucket").withColumn(
        "salt", F.pmod(F.xxhash64(F.col("vec_id"), F.lit(1)), F.col("nsalt"))
    )
    return (
        vb.groupBy("bucket", "salt")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("vec_id", "embedding"))
            ).alias("rs")
        )
        .select(
            F.col("bucket").alias("blk"),
            F.expr("transform(rs, r -> r.vec_id)").alias("ids"),
            F.expr("flatten(transform(rs, r -> r.embedding))").alias("mat"),
        )
    )


def _knn_ann_planes(n: int) -> int:
    """Corpus-adaptive LSH plane count for the kNN-graph sweep."""
    import math

    return min(
        KNN_ANN_MAX_PLANES,
        max(
            KNN_ANN_MIN_PLANES,
            round(math.log2(max(n, 1) / KNN_ANN_TARGET_OCC)),
        ),
    )


def _knn_ann_index_cached(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    """The packed LSH bucket relation ``((blk, ids, mat), planes)`` —
    the ANN index itself, built once per session and queried many
    times (the FAISS lifecycle; same contract as the IVF quantizer
    cache).  Held as a ``localCheckpoint`` (lineage truncated — can
    never plan-match a fresh build; blocks freed by
    ``registry.clear_model_cache``), persisted/reloaded by models.py,
    cold build priced in bench cold_sec.  At production scale this IS
    the served index resident in cluster storage; rebuilding it per
    query would re-pay the corpus signature pass + packing shuffle
    every time.

    The PLANE COUNT travels with the packed relation: a
    cached index built when the corpus sat on the other side of a
    :func:`_knn_ann_planes` boundary must be probed with ITS OWN bit
    width, not one re-derived from the current file — a mismatched
    flip set silently degrades candidate completeness."""

    def build():
        v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        p = _knn_ann_planes(parquet_row_count(f"{sf_dir}/embeddings.parquet"))
        sigs = _ann_signatures(
            v, seed_offset=KNN_ANN_SEED_OFFSET, planes=p
        ).withColumnRenamed("sig", "bucket")
        packed = _pack_buckets_salted(
            sigs.select("vec_id", "embedding", "bucket")
        ).localCheckpoint(eager=True)
        return packed, p

    # legacy guard: a store persisted before the plane count traveled
    # with the relation loads as a 1-tuple — REBUILD (the stale frame
    # is released) rather than pair the packed relation with a
    # re-derived count (the exact silent mismatch the tuple exists to
    # prevent).
    packed, p = cached(
        spark, ("knn_ann_index", sf_dir), build, valid=lambda e: len(e) >= 2
    )[:2]
    return packed, int(p)


def _probe_masks(p: int, radius: int) -> list[int]:
    """The multi-probe XOR masks at bit width ``p``: identity plus
    every combination of up to ``radius`` bit flips — the single
    definition both the column-expression sweep
    (:func:`knn_graph_ann_neighbors`) and the driver-side pre-exploded
    query pack (:func:`_knn_query_pack_cached`) enumerate, so the two
    probe sets cannot drift."""
    import itertools

    masks = [0]
    for rr in range(1, radius + 1):
        for bits in itertools.combinations(range(p), rr):
            mask = 0
            for b in bits:
                mask |= 1 << b
            masks.append(mask)
    return masks


def _knn_query_pack_cached(
    spark: SparkSession, sf_dir: str, exact: DataFrame, p: int
) -> DataFrame:
    """The sampled audit's QUERY-SIDE probe relation — the stride
    sample's vectors bucket-packed under the served index's plane
    count, PRE-EXPLODED by the multi-probe masks into
    ``(ids_a, mat_a, pblk)`` rows and rebuilt as a DRIVER-LOCAL
    relation (r17): the probing side of the sweep is bounded
    (≤ MAX_QUERIES vectors × (1+planes) probes — never corpus-sized),
    and a LocalRelation broadcast materializes driver-side without
    launching a single task, where the former checkpointed frame paid
    a full scan job per probe (measured ~0.2 s of the sampled
    certificate's warm wall).  The sample is deterministic per corpus
    (stride + cap), so this is index-adjacent session state exactly
    like the membership relation: built once (one
    broadcast-semi-filtered corpus pass + one bounded collect),
    persisted/reloaded by models.py, priced in bench cold_sec,
    released by ``registry.clear_model_cache``.  The baked-in probe
    set is the production radius (:data:`KNN_ANN_MULTIPROBE`);
    :func:`knn_graph_ann_neighbors` rejects a pre-exploded pack at
    any other radius."""
    import pandas as pd
    import pyarrow as pa

    def build():
        v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        qv = v.join(
            F.broadcast(exact.select("vec_id").distinct()), "vec_id"
        )
        qsigs = _ann_signatures(
            qv, seed_offset=KNN_ANN_SEED_OFFSET, planes=p
        ).withColumnRenamed("sig", "bucket")
        blocks = _pack_buckets_salted(
            qsigs.select("vec_id", "embedding", "bucket")
        ).toPandas()
        # driver-side multi-probe explosion: replicate each query block
        # under every probe mask — the same enumeration the column sweep
        # uses (_probe_masks), XORed in int64 exactly like bitwiseXOR.
        exploded = pd.concat(
            [
                pd.DataFrame(
                    {
                        "ids_a": blocks["ids"].map(list),
                        "mat_a": blocks["mat"].map(list),
                        "pblk": blocks["blk"].astype("int64") ^ m,
                    }
                )
                for m in _probe_masks(int(p), KNN_ANN_MULTIPROBE)
            ],
            ignore_index=True,
        )
        pack = local_relation(
            spark,
            pa.Table.from_pandas(exploded, preserve_index=False),
            "ids_a array<long>, mat_a array<double>, pblk long",
        )
        return pack, int(p)

    # The pack's bit width must equal the SERVED index's — a pack
    # persisted under a different plane count (legacy planes-less
    # 1-tuple, or a store saved across a _knn_ann_planes boundary)
    # would silently flip the wrong bits at probe time (the
    # query-side edition of the knn_ann_index legacy guard above); a
    # superseded pack is rebuilt and released.
    return cached(
        spark,
        ("knn_query_pack", sf_dir),
        build,
        valid=lambda e: len(e) >= 2 and int(e[1]) == int(p),
    )[0]


def _knn_query_probes_cached(
    spark: SparkSession, sf_dir: str, pack: DataFrame, p: int
):
    """Driver-resident probe table for the sampled sweep: a Spark
    BROADCAST VARIABLE mapping each probed index bucket to ONE
    concatenated (qids, qmat) matrix of every sampled query probing it
    (r17).  Derived from the pre-exploded query pack by grouping on
    ``pblk`` — each query lives in exactly one bucket and the probe
    masks are distinct, so a query appears at most once per probed
    bucket and per-row top-k over the concatenated matrix is
    row-for-row identical to scoring the (A-block, B-block) pairs
    separately.  Lets the sweep run as ONE ``mapInPandas`` pass over
    the served index — no probe join, no (1+planes)-fold A-block
    shipping, one matmul per index block instead of one per pair.
    Bounded by construction: ≤ MAX_QUERIES vectors × (1+p) probes of
    (id + d doubles).  Session-cached next to the pack (rebuilt from
    it — never persisted to the model store; the Broadcast is
    destroyed by ``registry.clear_model_cache``)."""
    import numpy as np

    def build():
        pdf = pack.toPandas()
        grouped: dict[int, list] = {}
        for raw_ids, raw_mat, pblk in zip(
            pdf["ids_a"].to_numpy(), pdf["mat_a"].to_numpy(), pdf["pblk"].to_numpy()
        ):
            # the scorer-side normalization, applied ONCE at build
            ia, ma = _unpack_block(raw_ids, raw_mat)
            grouped.setdefault(int(pblk), []).append((ia, ma))
        probes = {
            blk: (
                np.concatenate([ia for ia, _ in parts]),
                np.concatenate([ma for _, ma in parts], axis=0),
            )
            for blk, parts in grouped.items()
        }
        return spark.sparkContext.broadcast(probes), int(p)

    # a superseded width is rebuilt; the stale broadcast is destroyed
    return cached(
        spark,
        ("knn_query_probes", sf_dir),
        build,
        valid=lambda e: int(e[1]) == int(p),
    )[0]


def knn_graph_ann_neighbors(
    spark: SparkSession,
    sf_dir: str,
    probe_radius: int = KNN_ANN_MULTIPROBE,
    index: tuple[DataFrame, int] | None = None,
    queries: DataFrame | None = None,
    probing_pack: DataFrame | None = None,
) -> DataFrame:
    """Candidate-pair kNN graph — the production sibling of
    :func:`knn_graph`: every vector's top-:data:`KNN_GRAPH_K` cosine
    neighbors AMONG the vectors sharing an LSH bucket within Hamming
    radius :data:`KNN_ANN_MULTIPROBE` of its own.  Identical output
    contract (vec_id, neighbor_id, cos_sim ≤ k rows per vector);
    candidate-bounded work instead of the exact sweep's O(N²d).

    Physical strategy: one narrow signature pass
    (:func:`_ann_signatures`, corpus-adaptive plane count
    :func:`_knn_ann_planes`), the same packed-block relation as the
    exact sweep but keyed by BUCKET instead of a uniform hash, then
    ordered block pairs restricted to (bucket, bucket ⊕ one bit) —
    (1+planes)·2^planes pairs instead of all B².  Each ordered pair
    appears exactly once (pair (a,b) arises only from a's probe list),
    and every vector lives in exactly one bucket, so no candidate is
    scored twice and the shared merge window
    (:func:`_block_pair_topk`) ranks exact distinct candidates.

    Scale accounting: with planes ≈ log2(N/occ) the flop count is
    Σ_pairs |A|·|B|·d ≈ N·occ·(1+planes)·d — linear·log in N versus
    the exact sweep's quadratic (the committed 10×/100× probes
    measure it).  Shuffle volume: one corpus pass into bucket-keyed
    packed rows, (1+planes) copies of each out of the probe join,
    then ≤ k·(pairs touching the vector) candidate rows into the
    merge exchange.  Hot buckets (real corpora cluster) are handled
    STRUCTURALLY, not just by AQE: packing caps sub-block membership
    at :data:`KNN_ANN_MAX_BLOCK` (:func:`_pack_buckets_salted` —
    per-bucket adaptive salt counts; the bucket stays the join key,
    so candidates and output are unchanged while per-task memory is
    bounded at cap×dim×8 bytes).

    ``probe_radius=0`` (self-bucket only) is the deliberate BROKEN
    mode the falsification test uses: the canonical membership still
    promises radius-1 completeness, so dropping the flip probes must
    flip ``ann_complete_ok`` to false wherever an exact member sits
    one bit away.

    ``index``: a pre-built ``(packed bucket relation, plane count)``
    pair (the registered certificate passes the session-cached one,
    :func:`_knn_ann_index_cached` — build once, query many; the
    streamed maintainer passes its post-drain state).  The
    default ``None`` builds fresh from the corpus, which is what the
    library tests, the broken-mode falsification, and the 10× scale
    probe exercise (so the probe's wall honestly includes the
    signature pass + packing shuffle).
    """
    if index is not None:
        # probe with the INDEX'S OWN plane count: the
        # served relation may have been packed when the corpus sat on
        # the other side of a _knn_ann_planes boundary, and a flip set
        # derived from the current file would probe the wrong bits.
        packed, p = index
    else:
        n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
        p = _knn_ann_planes(n)
        v = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        sigs = _ann_signatures(
            v, seed_offset=KNN_ANN_SEED_OFFSET, planes=p
        ).withColumnRenamed("sig", "bucket")
        packed = _pack_buckets_salted(
            sigs.select("vec_id", "embedding", "bucket")
        )
    # Full multi-probe up to the requested Hamming radius (an
    # enumeration of single-bit flips only would probe radius 1 for
    # any radius >= 1 while _knn_ann_membership promises Hamming <=
    # radius).  Masks are distinct, so each ordered
    # block pair is still generated exactly once.  Fan-out is
    # sum_{j<=r} C(p, j) block copies — r=1 keeps the documented
    # (1+planes) shape; r=2 is the quadratic widening a recall-starved
    # corpus would opt into (see knn_ann_tuning_curve for the dial).
    probe_arr = F.array(
        *[
            F.col("blk") if m == 0 else F.col("blk").bitwiseXOR(F.lit(m))
            for m in _probe_masks(p, probe_radius)
        ]
    )
    if probing_pack is not None:
        # pre-built query-side pack (the sampled certificate passes
        # its session-cached one, _knn_query_pack_cached).  Only valid
        # WITH an explicit index: signatures are comparable only under
        # one plane matrix, and a pack built against a served index
        # probed at a file-derived count would silently flip the wrong
        # bits (the plane-width mismatch, query-side edition).
        if index is None:
            raise ValueError(
                "probing_pack requires an explicit index=(packed, "
                "planes) built under the same plane count"
            )
        if "pblk" in probing_pack.columns:
            # PRE-EXPLODED pack (r17, _knn_query_pack_cached): the
            # probe masks are baked in at the production radius, so a
            # different radius would silently probe the wrong set —
            # reject loudly (the plane-width guard's radius edition).
            if probe_radius != KNN_ANN_MULTIPROBE:
                raise ValueError(
                    "pre-exploded probing_pack is baked at probe "
                    f"radius {KNN_ANN_MULTIPROBE}; rebuild the pack "
                    f"for radius {probe_radius}"
                )
            # Broadcast-kernel sweep (r17): the probing side is
            # bounded (≤ MAX_QUERIES × (1+p) probes), so ship it as a
            # broadcast VARIABLE and score in ONE Arrow pass over the
            # served index — no probe join, no per-pair A-block
            # re-unpacking, one matmul per index block against the
            # concatenated queries probing it.  Row-for-row identical
            # to the pair path: per-A-row local top-k against a B
            # block is independent of which other A rows share the
            # matmul, and the same merge ranks the same candidates.
            bc = _knn_query_probes_cached(
                spark, sf_dir, probing_pack, p
            )
            k = KNN_GRAPH_K

            def score(batches):
                lookup = bc.value
                for batch in batches:
                    for raw_blk, raw_ib, raw_mb in zip(
                        batch["blk"].to_numpy(),
                        batch["ids"].to_numpy(),
                        batch["mat"].to_numpy(),
                    ):
                        hit = lookup.get(int(raw_blk))
                        if hit is None:
                            continue
                        yield from _pair_topk(
                            *hit, *_unpack_block(raw_ib, raw_mb), k
                        )

            cand = packed.mapInPandas(
                score, schema="vec_id long, neighbor_id long, cos_sim double"
            )
            return _merge_topk(cand, KNN_GRAPH_K)
        probing = probing_pack
    elif queries is not None:
        # QUERY-SIDE restriction (the sampled certificate's shape, and
        # the general "query the served index" path): pack only the
        # query vectors on the probing side — one narrow signature
        # pass over the broadcast-semi-filtered corpus — and probe the
        # full served index with them.  Per query the candidate set
        # (members of buckets within the probe radius of its own) is
        # IDENTICAL to the full sweep's, so the output equals the full
        # graph restricted to the query set; the flop count drops from
        # N·occ·probes·d to |Q|·occ·probes·d.  Self-matches are
        # handled by the scorer's id-equality mask (queries also live
        # inside the index blocks, off the diagonal here).
        v = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        qv = v.join(F.broadcast(queries.select("vec_id").distinct()), "vec_id")
        qsigs = _ann_signatures(
            qv, seed_offset=KNN_ANN_SEED_OFFSET, planes=p
        ).withColumnRenamed("sig", "bucket")
        probing = _pack_buckets_salted(
            qsigs.select("vec_id", "embedding", "bucket")
        )
    else:
        probing = packed
    left = probing.select(
        F.col("ids").alias("ids_a"),
        F.col("mat").alias("mat_a"),
        F.explode(probe_arr).alias("pblk"),
    )
    right = packed.select(
        F.col("blk").alias("pblk"),
        F.col("ids").alias("ids_b"),
        F.col("mat").alias("mat_b"),
    )
    if probing is not packed:
        # bounded query side (the sampled audit / "query the served
        # index" path): the probing relation is |Q|-vectors small while
        # the index side is the corpus — broadcast the query blocks so
        # the probe join never shuffles the index (both relations are
        # stat-less checkpoint/kernel outputs, so without the hint
        # Spark sort-merges and shuffles BOTH sides — measured 2x the
        # whole sampled sweep's wall at sf0.1).  The full self-sweep
        # keeps the shuffle join: there left IS the index times
        # (1+planes), never broadcastable at scale.
        left = F.broadcast(left)
    pairs = left.join(right, "pblk").drop("pblk")
    return _block_pair_topk(pairs, KNN_GRAPH_K)


def _knn_exact_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized exact kNN-graph relation (``knn_graph``) the
    certificate verifies against — N·k small rows, session-cached
    (scored once per session, released by
    ``registry.clear_model_cache``, cold build priced in bench
    cold_sec, persisted/reloaded by models.py).

    ``localCheckpoint``, NOT ``.persist()`` (the r12 model-frame rule,
    and here it is load-bearing in the OTHER direction too): a
    persisted frame registers its logical plan in Spark's CacheManager,
    and ``knn_graph``'s plan is byte-identical across calls (the
    scorer closure captures only ``k``) — so a warm re-run of the
    knn_graph QUERY itself would be silently served from this cache
    and the bench would report the cached read, not the sweep.  The
    checkpoint's LogicalRDD can never plan-match a fresh query.

    NOT driver-localized (r17, measured): unlike the query-bounded
    similarity/sampled exact relations, this one is the STREAMED side
    of the corpus-wide certificate join — a single-partition
    LocalRelation serializes its exchange write, and the interleaved
    A/B read local ≈0.15-0.2 s SLOWER than the distributed checkpoint
    (min-of-8: 1.53 vs 1.34 s).  Driver-localization is for BUILD
    (broadcast) sides and tiny streamed relations only."""
    return cached(
        spark,
        ("knn_exact", sf_dir),
        lambda: (knn_graph(spark, sf_dir).localCheckpoint(eager=True),),
    )[0]


def _knn_ann_membership(
    spark: SparkSession, sf_dir: str, exact: DataFrame, planes: int | None = None
) -> DataFrame:
    """(vec_id, neighbor_id, should_find) for the kNN-graph ANN: the
    exact member's canonical bucket is within Hamming radius
    :data:`KNN_ANN_MULTIPROBE` of the vector's own — recomputed from
    the canonical signature assignment, independent of the candidate
    sweep under test.  Signatures are one narrow corpus pass (no
    embedding carried); the two equi-joins move only the N·k exact
    relation, so the membership build is scan + two bounded joins,
    never an all-pairs relation.

    ``planes``: the SERVED index's bit width — the
    should_find promise must be stated at the width the sweep actually
    probes, which after an index reload across a :func:`_knn_ann_planes`
    boundary differs from the file-derived count.  Defaults to the
    file-derived count for the fresh-build path.

    r18: the relation CARRIES ``cos_sim`` from the exact member rows
    it is built over — the certificate's former per-call
    exact⋈membership SortMergeJoin is pre-fused here at build time
    (both inputs are already session index state; the fused relation
    is the same state, one column wider).  ``_ann_certificate`` takes
    the join-free path when it sees the column."""
    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if planes is not None:
        p = int(planes)
    else:
        n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
        p = _knn_ann_planes(n)
    sigs = _ann_signatures(
        v, seed_offset=KNN_ANN_SEED_OFFSET, with_embedding=False, planes=p
    )
    # carry cos_sim when the exact relation has it (production always
    # does; synthetic id-only exact relations in tests fall back to the
    # bare 3-column membership and the certificate's join path)
    carry = ["cos_sim"] if "cos_sim" in exact.columns else []
    exact_rows = exact.select("vec_id", "neighbor_id", *carry)
    sa = sigs.select("vec_id", F.col("sig").alias("sig_a"))
    sb = sigs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("sig").alias("sig_b")
    )
    return (
        exact_rows.join(sa, "vec_id")
        .join(sb, "neighbor_id")
        .select(
            "vec_id",
            "neighbor_id",
            *carry,
            (
                F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                <= KNN_ANN_MULTIPROBE
            ).alias("should_find"),
        )
    )


#: DuckDB twin of the kNN-graph certificate's exact side: knn_graph's
#: own oracle aggregated to the k-th (minimum) kept similarity per
#: vector.  As with _ANN_CERT_SQL, ann_complete_ok is literal true on
#: the oracle side BY DESIGN — DuckDB cannot re-run the engine-seeded
#: LSH sweep; the flag's falsifiability is pinned by the local
#: broken-ANN test (probe_radius=0 must flip rows false), and the
#: hash match proves the flag ACTUALLY came out true on the Spark
#: side plus an independently recomputed exact_kth_sim per vector.
#: greatest(..., 1e-12) mirrors the Spark scorer's zero-norm clamp
#: (without it a zero vector diverges the engines).
_KNN_ANN_CERT_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         round(list_dot_product(a.e, b.e)
               / (greatest(sqrt(list_dot_product(a.e, a.e)), 1e-12)
                  * greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12)),
               6) AS cos_sim
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id
           ) AS rn
    FROM scored
  ) WHERE rn <= {KNN_GRAPH_K}
)
SELECT vec_id,
       round(min(cos_sim), 6) AS exact_kth_sim,
       true                   AS ann_complete_ok
FROM topk
GROUP BY vec_id
"""


@register("knn_graph_ann", oracle=_KNN_ANN_CERT_SQL)
def knn_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness certificate for :func:`knn_graph_ann_neighbors`
    (the LSH-candidate-pair production kNN graph) — the
    :func:`_ann_certificate` contract applied corpus-wide: per VECTOR
    (every corpus row is a query here), the k-th exact similarity from
    the certified baseline (:func:`knn_graph`, session-cached) and a
    deterministic ``ann_complete_ok`` — every exact top-k member
    whose canonical bucket the vector PROBES (Hamming distance at most
    :data:`KNN_ANN_MULTIPROBE` under the canonical signature
    assignment) must appear in the candidate sweep's output.  The raw neighbor
    relation stays available as ``knn_graph_ann_neighbors``."""
    exact = _knn_exact_cached(spark, sf_dir)
    idx = _knn_ann_index_cached(spark, sf_dir)
    membership = _membership_cached(
        spark,
        sf_dir,
        "knn",
        lambda: _knn_ann_membership(spark, sf_dir, exact, planes=idx[1]),
        planes=idx[1],
        # corpus-wide kind (every vector is a query → N·k rows):
        # never driver-localize — keep the distributed
        # checkpoint path like _knn_exact_cached.
        localize=False,
    )
    cert = _ann_certificate(
        spark,
        sf_dir,
        knn_graph_ann_neighbors(
            spark, sf_dir, index=idx
        ).withColumnRenamed("vec_id", "query_id"),
        membership.withColumnRenamed("vec_id", "query_id"),
        exact=exact.withColumnRenamed("vec_id", "query_id"),
        # corpus-wide: the found side IS the N·k sweep — see the
        # broadcast_found note in _ann_certificate
        broadcast_found=False,
    )
    return cert.withColumnRenamed("query_id", "vec_id")


#: sampling stride for the PRODUCTION-SCALE kNN-graph certificate:
#: the full certificate's exact side is the O(N²d) graph itself —
#: fine as fixture-scale ground truth, not runnable at 100 TB.  The
#: sampled certificate verifies completeness for every
#: 1-in-KNN_CERT_STRIDE vector (capped at MAX_QUERIES, lowest ids
#: first — the similarity_topk bound), whose exact side is one
#: broadcast-query BLAS pass: O(|S|·N·d), corpus never shuffled.
KNN_CERT_STRIDE = 4


def _knn_exact_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-:data:`KNN_GRAPH_K` relation for the SAMPLED vectors
    (vec_id % :data:`KNN_CERT_STRIDE` == 0, capped at MAX_QUERIES) —
    similarity_topk's broadcast-query matrix scoring with per-batch
    partial top-k, renamed to the graph's (vec_id, neighbor_id)
    contract.  This is what makes the sampled certificate
    scale-viable: O(|S|·N·d) flops, one corpus pass, no shuffle
    beyond the ≤ k·batches candidate merge.  Session-cached as a
    DRIVER-LOCAL relation (r17): the result is |S|·k ≤
    MAX_QUERIES·k tiny rows by construction, and a LocalRelation
    broadcasts into the certificate's joins driver-side — no scan
    job per probe, where the former localCheckpoint paid one.  (A
    LocalRelation also satisfies the r12/r14 plan-match rule: it can
    never be CacheManager-served back to a fresh query plan.)"""
    return cached(
        spark,
        ("knn_exact_sampled", sf_dir),
        lambda: _score_knn_exact_sampled(spark, sf_dir),
    )[0]


def _score_knn_exact_sampled(spark: SparkSession, sf_dir: str) -> tuple:
    """The uncached :func:`_knn_exact_sampled` build:
    :func:`_exact_topk_dims` at the sample stride and the graph's
    fan-out, collected into a driver-local relation."""
    exact = _exact_topk_dims(
        spark, sf_dir, stride=KNN_CERT_STRIDE, k=KNN_GRAPH_K, id_col="vec_id"
    )
    return (
        local_relation(
            spark, exact.toArrow(), "vec_id long, neighbor_id long, cos_sim double"
        ),
    )


_KNN_ANN_SAMPLED_CERT_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id, e FROM v
      WHERE vec_id % {KNN_CERT_STRIDE} = 0 ORDER BY vec_id LIMIT {MAX_QUERIES}),
scored AS (
  SELECT q.vec_id AS vec_id, b.vec_id AS neighbor_id,
         round(list_dot_product(q.e, b.e)
               / (greatest(sqrt(list_dot_product(q.e, q.e)), 1e-12)
                  * greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12)),
               6) AS cos_sim
  FROM q JOIN v b ON b.vec_id <> q.vec_id
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id
           ) AS rn
    FROM scored
  ) WHERE rn <= {KNN_GRAPH_K}
)
SELECT vec_id,
       round(min(cos_sim), 6) AS exact_kth_sim,
       true                   AS ann_complete_ok
FROM topk
GROUP BY vec_id
"""


@register("knn_graph_ann_sampled", oracle=_KNN_ANN_SAMPLED_CERT_SQL)
def knn_graph_ann_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-SCALE completeness certificate for the candidate-pair
    kNN graph: identical contract to ``knn_graph_ann`` but verified for
    a deterministic 1-in-:data:`KNN_CERT_STRIDE` vector sample, whose
    exact side is one broadcast-query BLAS pass (O(|S|·N·d)) instead of
    the full O(N²d) graph — the shape a 100 TB corpus can actually
    afford to run continuously (the full certificate stays the
    fixture-scale ground truth; a local test pins this query equal to
    it restricted to the sample).  Larger audit loads stream in
    MAX_QUERIES-sized sample batches."""
    exact = _knn_exact_sampled(spark, sf_dir)
    idx = _knn_ann_index_cached(spark, sf_dir)
    membership = _membership_cached(
        spark,
        sf_dir,
        "knn_s",
        # |S|·k bounded rows; _membership_cached localizes the built
        # relation driver-side (r17), so its broadcast into the
        # certificate joins launches no scan job.
        lambda: _knn_ann_membership(spark, sf_dir, exact, planes=idx[1]),
        planes=idx[1],
    )
    cert = _ann_certificate(
        spark,
        sf_dir,
        # query-side-restricted sweep (r15): probe the served index
        # with ONLY the sampled vectors — per sampled query the
        # candidate set is identical to the full sweep's, so this is
        # the full graph restricted to the sample at 1/stride of the
        # scoring flops (the audit shape the docstring promises).
        # The deterministic sample's pack is session state like the
        # index itself (_knn_query_pack_cached).
        knn_graph_ann_neighbors(
            spark,
            sf_dir,
            index=idx,
            probing_pack=_knn_query_pack_cached(
                spark, sf_dir, exact, idx[1]
            ),
        ).withColumnRenamed("vec_id", "query_id"),
        membership.withColumnRenamed("vec_id", "query_id"),
        exact=exact.withColumnRenamed("vec_id", "query_id"),
    )
    return cert.withColumnRenamed("query_id", "vec_id")


# ---------------------------------------------------------------------------
# kNN-ANN tuning curve (VERDICT r14 item 5): the evidence behind the
# KNN_ANN_* constants, the lsh_tuning_curve precedent applied to
# random-hyperplane LSH.
# ---------------------------------------------------------------------------

#: the (planes, probe_radius) grid the curve evaluates: every plane
#: count the adaptive rule can pick (min..max in steps of 4) crossed
#: with the probe radii the sweep supports (0 = self-bucket only — the
#: falsification mode; 1 = the production default; 2 = the quadratic
#: widening a recall-starved corpus would opt into).
KNN_ANN_TUNING_PLANES = (4, 8, 12, 16, 20, 24)
KNN_ANN_TUNING_RADII = (0, 1, 2)


#: the per-plane agreement probability, projected ONCE before the
#: config aggregates (random-hyperplane LSH — Goemans-Williamson /
#: Charikar SimHash).  Projecting q as a column instead of inlining
#: the acos into every chain factor keeps the 36 aggregate expression
#: trees small: inlined, each (24, 2) config carried ~72 acos
#: subtrees and Catalyst re-analysis alone cost ~2.8 s per bench rep
#: (the plan memo is cleared per rep by design).
_HYPERPLANE_Q_SQL = "(1.0 - acos(least(greatest(cos_sim, -1.0), 1.0)) / pi())"


def _hyperplane_capture_expr(p: int, radius: int) -> str:
    """Analytic probability that one exact kNN edge survives the
    candidate sweep at ``p`` planes / probe radius ``radius``: with
    per-plane agreement probability ``q`` (:data:`_HYPERPLANE_Q_SQL`,
    projected as a column named ``q`` by both engines), the two
    endpoints' signatures differ by a Binomial(p, 1-q) bit count, so
    capture = ``sum_{j<=radius} C(p,j) q^(p-j) (1-q)^j``.  Powers
    expand to repeated multiplication — identical IEEE product chains
    in both engines (libm ``pow`` is implementation-defined,
    multiplication is not; the lsh_tuning_curve recipe) — over the
    same 6-dp-rounded cos_sim both relations share.  ``acos``/``pi``
    may differ by an ulp across libm builds; the final 6-dp rounding
    of an AVERAGE absorbs that (no intermediate rounding, which would
    amplify an ulp into the rounding quantum)."""
    import math

    miss = "(1.0 - q)"
    terms = []
    for j in range(radius + 1):
        factors = ["q"] * (p - j) + [miss] * j
        prod = " * ".join(factors)
        terms.append(f"({math.comb(p, j)}.0 * ({prod}))")
    return "(" + " + ".join(terms) + ")"


def _knn_ann_tuning_oracle() -> str:
    arms = []
    for p in KNN_ANN_TUNING_PLANES:
        for r in KNN_ANN_TUNING_RADII:
            cap = _hyperplane_capture_expr(p, r)
            arms.append(
                f"""SELECT CAST({p} AS BIGINT) AS planes,
       CAST({r} AS BIGINT) AS probe_radius,
       CAST(count(*) AS BIGINT) AS n_edges,
       round(avg({cap}), 6) AS expected_capture,
       round(min({cap}), 6) AS min_capture
FROM edges_q"""
            )
    body = "\nUNION ALL\n".join(arms)
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         round(list_dot_product(a.e, b.e)
               / (greatest(sqrt(list_dot_product(a.e, a.e)), 1e-12)
                  * greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12)),
               6) AS cos_sim
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
),
topk AS MATERIALIZED (
  SELECT * FROM (
    SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY cos_sim DESC, neighbor_id
           ) AS rn
    FROM scored
  ) WHERE rn <= {KNN_GRAPH_K}
),
edges_q AS (SELECT {_HYPERPLANE_Q_SQL} AS q FROM topk)
{body}"""


@register("knn_ann_tuning_curve", oracle=_knn_ann_tuning_oracle())
def knn_ann_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How should the kNN-graph ANN pick (planes, probe_radius) for a
    new corpus?  For every config on the
    :data:`KNN_ANN_TUNING_PLANES` × :data:`KNN_ANN_TUNING_RADII` grid,
    the EXPECTED per-edge capture probability — the chance an exact
    top-k edge survives LSH candidate generation — over the corpus's
    ACTUAL neighbor-similarity distribution (the exact kNN relation),
    plus the worst edge's capture.  ``knn_graph_ann`` runs the
    adaptive plane count (~log2(N/32)) at radius 1; this query is the
    committed evidence for that choice and the dial for retuning when
    the neighbor-similarity profile shifts: capture falls with more
    planes (smaller buckets — less candidate work) and rises with
    probe radius (more block pairs) — the same recall-vs-cost S-curve
    ``lsh_tuning_curve`` plots for the MinHash banding split.

    One aggregate pass over the (already k·N-bounded) exact kNN
    relation, which is the SAME session-cached baseline the
    ``knn_graph_ann`` certificate verifies against — scored once per
    session, priced in cold_sec: the 18 configs are computed as 36
    aggregate columns and unpivoted with ``stack``; no joins, no
    shuffle beyond the (tiny) relation's own agg exchange.
    Determinism: see :func:`_hyperplane_capture_expr` (multiplication
    chains, one final 6-dp rounding).

    The completeness certificates (``knn_graph_ann``) verify the sweep
    returns what its buckets PROMISE; this curve quantifies how much
    the buckets promise — empirical capture under the engine's actual
    seeded planes is pinned against this expectation in
    tests/test_r15_knn_lifecycle.py and measured per-config in the
    committed KNN_ANN_TUNING.json (tools/probe_knn_ann_tuning.py)."""
    edges = _knn_exact_cached(spark, sf_dir).selectExpr(
        f"{_HYPERPLANE_Q_SQL} AS q"
    )
    aggs = [F.count(F.lit(1)).alias("n_edges")]
    for p in KNN_ANN_TUNING_PLANES:
        for r in KNN_ANN_TUNING_RADII:
            cap = _hyperplane_capture_expr(p, r)
            aggs += [
                F.round(F.avg(F.expr(cap)), 6).alias(f"ec_{p}_{r}"),
                F.round(F.min(F.expr(cap)), 6).alias(f"mc_{p}_{r}"),
            ]
    wide = edges.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({p} AS BIGINT), CAST({r} AS BIGINT), ec_{p}_{r}, mc_{p}_{r}"
        for p in KNN_ANN_TUNING_PLANES
        for r in KNN_ANN_TUNING_RADII
    )
    n_cfg = len(KNN_ANN_TUNING_PLANES) * len(KNN_ANN_TUNING_RADII)
    return wide.selectExpr(
        "n_edges",
        f"stack({n_cfg}, {stack_args}) AS "
        "(planes, probe_radius, expected_capture, min_capture)",
    ).select(
        "planes", "probe_radius", "n_edges", "expected_capture", "min_capture"
    )


def knn_ann_expected_capture(
    spark: SparkSession,
    sf_dir: str,
    planes: int | None = None,
    radius: int = KNN_ANN_MULTIPROBE,
) -> float:
    """Expected per-edge RECALL of the production kNN-ANN sweep at its
    ACTIVE (planes, radius) — the tuning curve's number evaluated at
    the dial the sweep actually runs (VERDICT r15 item 5: the
    completeness certificate says the sweep returned everything its
    buckets promised; THIS number says how much they promise, and a
    consumer should read it before trusting the graph).  Same analytic
    expression, same exact-edge relation, same rounding as
    :func:`knn_ann_tuning_curve` — at a grid config the two agree
    exactly (pinned by test_r16_consolidation).  Session-cached as a
    scalar alongside the index it describes; bench.py surfaces it as
    ``expected_capture`` in the certificate rows' queries_meta."""
    if planes is None:
        planes = _knn_ann_planes(
            parquet_row_count(f"{sf_dir}/embeddings.parquet")
        )
    cap = _hyperplane_capture_expr(int(planes), int(radius))

    def build():
        row = (
            _knn_exact_cached(spark, sf_dir)
            .selectExpr(f"{_HYPERPLANE_Q_SQL} AS q")
            .agg(F.round(F.avg(F.expr(cap)), 6).alias("ec"))
            .collect()[0]
        )
        return (float(row["ec"]),)

    key = ("knn_ann_capture", sf_dir, int(planes), int(radius))
    return float(cached(spark, key, build)[0])


#: centroid components are rounded to this many decimals on BOTH
#: engines before the cosine pass: the quantum (5e-8) is ~7 orders
#: above cross-engine float-sum noise (~1e-15 relative), so the
#: rounded centroids are bit-identical and the per-row cosines agree
#: to ~1e-15 — safely inside the 6-decimal output rounding.
CENTROID_ROUND = 7


@register(
    "embedding_centroid_stats",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    comp AS (
      SELECT label, i, round(avg(e[i]), {CENTROID_ROUND}) AS c
      FROM (SELECT label, e, unnest(range(1, len(e) + 1)) AS i FROM v)
      GROUP BY label, i
    ),
    cent AS (SELECT label, list(c ORDER BY i) AS ce FROM comp GROUP BY label),
    scored AS (
      SELECT v.label,
             round(list_dot_product(e, ce)
                   / (greatest(sqrt(list_dot_product(e, e)), 1e-12)
                      * greatest(sqrt(list_dot_product(ce, ce)), 1e-12)), 6) AS cos
      FROM v JOIN cent USING (label)
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(cos), 6)       AS mean_cos,
           round(min(cos), 6)       AS min_cos
    FROM scored
    GROUP BY label
    """,
)
def embedding_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding cohesion report: class centroid, then each
    member's cosine to its centroid, aggregated to (count, mean, min)
    — the quality gauge run on labeled/clustered embeddings before
    trusting them for semantic dedup or stratified sampling (a low
    min_cos flags mislabeled or outlier vectors).

    Two passes, both scale-shaped: (1) the centroid is an elementwise
    mean computed as ``posexplode -> groupBy(label, pos) avg`` — the
    partial aggregate combines map-side, so the exchange carries at
    most labels x dim rows PER TASK (tiny), never the corpus; the
    per-label component rows then fold into one centroid array row
    via sort_array(collect_list) over <= labels x dim rows.  (2) the
    centroid relation (labels rows) is broadcast back onto the corpus
    and the cosine is a codegen'd zip_with/aggregate fold — no
    Python, no second corpus shuffle; the final rollup is again
    map-side combinable.  Centroid components are rounded to
    :data:`CENTROID_ROUND` decimals on both engines, which absorbs
    cross-engine float-sum ordering noise (see constant docstring).
    """
    v = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    comp = (
        v.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), CENTROID_ROUND).alias("c"))
    )
    cent = (
        comp.groupBy("label")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("label", F.expr("transform(pc, r -> r.c)").alias("ce"))
    )
    scored = v.join(F.broadcast(cent), "label").select(
        "label",
        F.round(
            F.expr(
                "aggregate(zip_with(embedding, ce, (x, y) -> CAST(x AS DOUBLE) * y),"
                " 0D, (a, x) -> a + x)"
            )
            / (
                F.sqrt(
                    F.expr(
                        "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * x),"
                        " 0D, (a, x) -> a + x)"
                    )
                )
                * F.sqrt(
                    F.expr("aggregate(transform(ce, y -> y * y), 0D, (a, x) -> a + x)")
                )
            ),
            6,
        ).alias("cos"),
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("cos"), 6).alias("mean_cos"),
        F.round(F.min("cos"), 6).alias("min_cos"),
    )


@register(
    "embedding_covariance",
    oracle="""
    WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    idx AS (
      SELECT DISTINCT i
      FROM (SELECT unnest(range(1, len(e) + 1)) AS i FROM v)
    ),
    pairs AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON a.i <= b.i),
    terms AS (
      SELECT p.i, p.j, v.e[p.i] AS x, v.e[p.j] AS y
      FROM v CROSS JOIN pairs p
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           -- + 0.0 canonicalizes IEEE -0.0 to +0.0: a covariance that
           -- rounds to zero can carry either sign depending on the
           -- engine's summation order, and the driver hash is bitwise
           round(avg(x * y) - avg(x) * avg(y), 6) + 0.0 AS cov
    FROM terms
    GROUP BY i, j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding dimensions —
    the relation PCA / whitening / dimension-pruning decisions are
    made from (the driver-side step after this query is a dim×dim
    eigensolve, trivial at any corpus size BECAUSE this reduction is
    distributed).

    Physical strategy — two-phase vectorized Gram reduction, the
    pattern a naive posexplode pair-join would get catastrophically
    wrong (dim²× row blowup through the exchange): each Arrow batch
    computes ONE ``Eᵀ@E`` BLAS call plus column sums and emits
    dim·(dim+1)/2 partial rows (i, j, Σxy, Σx, Σy, n); the exchange
    therefore carries ~2080 rows PER BATCH regardless of corpus size,
    and the final combine is an ordinary map-side-combinable
    groupBy(i,j) sum.  Covariance assembles as E[xy] − E[x]E[y] from
    the combined sums; 6-dp output rounding absorbs cross-engine
    float-sum ordering (both engines sum the identical
    float32→float64-promoted values).  1-based (i, j) matches the
    oracle's DuckDB list indexing.
    """
    import numpy as np
    import pandas as pd

    v = load_table(spark, sf_dir, "embeddings").select("embedding")

    def gram(batches):
        for batch in batches:
            if len(batch) == 0:
                continue
            e = _matrix(batch["embedding"])
            n, d = e.shape
            g = e.T @ e  # (d, d)
            s = e.sum(axis=0)  # (d,)
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": (iu + 1).astype("int64"),
                    "j": (ju + 1).astype("int64"),
                    "sxy": g[iu, ju],
                    "sx": s[iu],
                    "sy": s[ju],
                    "cnt": np.full(len(iu), n, dtype="int64"),
                }
            )

    partial = v.mapInPandas(
        gram, schema="i long, j long, sxy double, sx double, sy double, cnt long"
    )
    comb = partial.groupBy("i", "j").agg(
        F.sum("sxy").alias("sxy"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("cnt").alias("n"),
    )
    return comb.select(
        "i",
        "j",
        # + 0.0 canonicalizes -0.0 (see oracle comment)
        (
            F.round(
                F.col("sxy") / F.col("n")
                - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n")),
                6,
            )
            + F.lit(0.0)
        ).alias("cov"),
    )


@register("similarity_ivf_pq", oracle=_ANN_CERT_SQL)
def similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness certificate for
    :func:`similarity_ivf_pq_neighbors` (the composed FAISS-style
    IVF-PQ index: coarse-cell routing + in-cell ADC scan + exact
    refine) — see :func:`_ann_certificate`.  The raw neighbor
    relation stays available as ``similarity_ivf_pq_neighbors``."""
    return _pq_certificate(spark, sf_dir, ivf=True)
