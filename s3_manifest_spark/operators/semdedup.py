"""Semantic (cluster-then-prune) deduplication — SemDeDup-style.

The embedding-dedup family (operators/dedup.py) finds near-duplicates
by exact pairwise cosine (``dedup_embedding``) or LSH candidate
generation (``dedup_embedding_lsh*``).  Large-scale curation pipelines
use a third published shape — *SemDeDup* (Abbas et al., 2023,
arXiv:2303.09540): k-means-cluster the embedding space, then search
for near-duplicate pairs ONLY within each cluster, so the pair search
is O(Σ cᵢ²) with cᵢ ≈ N/K instead of O(N²).  This module adds that
operator Spark-first:

- **Train** (distributed Lloyd, :data:`SEM_ROUNDS` rounds over the
  full corpus): every Arrow batch assigns its vectors to cells and
  emits ONE partial row per cell — (cell, count, component-sum) — so
  the driver combines ≤ K·partitions short rows per round and never
  sees a vector (the ``similarity_ivf`` treeAggregate shape,
  operators/similarity.py).  Centroids are session-cached per
  ``sf_dir`` — the index-build-once lifecycle.
- **Assign + prune** (one pass + one keyed exchange): a mapInPandas
  kernel assigns each vector to its final cell (one BLAS matmul
  against the broadcast centroids), then ``applyInPandas`` per cell
  marks a member a duplicate iff an EARLIER member (lower ``vec_id``)
  of the same cluster has cosine ≥ :data:`SEM_TAU` — the deterministic
  keep-first representative rule.  The within-cluster Gram matrix is
  computed in row blocks of :data:`SEM_BLOCK_ROWS`, so kernel memory
  is O(block · cᵢ), never cᵢ².

At 100 TB: K grows with the corpus (the paper uses ~100k clusters) so
cᵢ stays bounded; training cost is rounds × one narrow pass with
K·partitions-row driver combines; the only shuffle is the cell-keyed
exchange whose volume is the embedding column itself.  Cluster skew is
bounded by the balanced seeding + the block loop; a pathological giant
cell degrades to the documented O(cᵢ²) SemDeDup cost, not to a failure.

Determinism contract (why the oracle hash-matches — same scheme as
operators/ml.py): centroids round to :data:`SEM_CENT_ROUND` decimals
after every Lloyd round (absorbs partial-sum order and engine avg
order, ~1e-15); assignment similarities round to
:data:`SEM_SIM_ROUND` decimals before the argmax (ties → lowest
cell); pair cosines round to 6 dp before the ≥ τ cut.  The DuckDB
oracle re-runs the SAME unrolled Lloyd schedule in SQL (chained CTEs,
one per round) with identical rounding, so a hash match certifies the
whole trajectory — seeding, every centroid update, final assignment,
and the prune — not just the output labels.

The reference (/root/reference/src/main.rs) has no embedding surface;
this extends the declared training-data-pipeline family (SURVEY.md
§2B) alongside dedup_embedding/dedup_embedding_lsh.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from s3_manifest_spark.operators.similarity import _matrix, _unit
from s3_manifest_spark.registry import cached, register
from s3_manifest_spark.sources.tables import load_table

#: number of clusters / Lloyd rounds — fixed hyperparameters, part of
#: the operator definition (the oracle unrolls the same schedule).
SEM_K = 8
SEM_ROUNDS = 4
#: fixture embedding dimensionality (asserted at runtime; the oracle's
#: componentwise-mean CTE iterates range(1, SEM_DIM+1)).
SEM_DIM = 64
#: rounding contract (module docstring).
SEM_CENT_ROUND = 8
SEM_SIM_ROUND = 7
#: within-cluster near-duplicate threshold (matches the exact-pairs
#: operator dedup_embedding's EMBED_DUP_THRESHOLD so the two surfaces
#: are comparable on the same fixture).
SEM_TAU = 0.4
#: Gram-matrix row-block size for the prune kernel.
SEM_BLOCK_ROWS = 1024


def _normalize_batch(batch):
    """(ids, unit-norm float64 matrix) for one Arrow batch — the
    arithmetic the oracle mirrors (cast to double, divide by the
    2-norm; components deliberately NOT rounded, the downstream sims
    are).  The norm goes through ``similarity._unit``, so it is
    floored at 1e-12, as in the oracle: a zero vector stays zero
    (cosine 0 to every centroid and member); no fixture row is near
    the floor."""
    ids = batch["vec_id"].to_numpy(dtype="int64")
    e = _matrix(batch["embedding"])
    if e.shape[1] != SEM_DIM:
        raise ValueError(
            f"semdedup oracle is pinned to dim={SEM_DIM}, got {e.shape[1]}"
        )
    return ids, _unit(e)


def _assign_cells(ids, en, cent):
    """Final-round cell assignment: sims rounded, ties → lowest cell."""
    import numpy as np

    sims = np.round(en @ _unit(cent).T, SEM_SIM_ROUND)
    return np.argmax(sims, axis=1)  # np.argmax ties -> lowest index


def train_semdedup_centroids(spark: SparkSession, sf_dir: str):
    """Distributed Lloyd over the full corpus; returns the (K, dim)
    rounded centroid matrix, session-cached per ``sf_dir``.

    Seed round assigns ``vec_id % K`` (balanced, deterministic — the
    similarity_ivf seeding); each round the driver combines
    ≤ K·partitions (cell, count, component-sum) rows and rounds the
    new means to SEM_CENT_ROUND decimals.  Raises if any cell empties
    (the oracle's unrolled SQL has no keep-previous branch; with
    balanced seeding and K ≪ N an empty cell indicates a degenerate
    corpus, and silence would be a cross-engine divergence)."""
    return cached(
        spark, ("semdedup", sf_dir), lambda: _lloyd_centroids(spark, sf_dir)
    )


def _lloyd_centroids(spark: SparkSession, sf_dir: str):
    """The uncached :func:`train_semdedup_centroids` build."""
    import numpy as np
    import pandas as pd

    from s3_manifest_spark.registry import track_persist

    v = track_persist(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    cent = None  # None -> seed round (vec_id % K)

    def partials(cents):
        def gen(batches):
            for b in batches:
                ids, en = _normalize_batch(b)
                if cents is None:
                    cells = (ids % SEM_K).astype("int64")
                else:
                    cells = _assign_cells(ids, en, cents)
                counts = np.bincount(cells, minlength=SEM_K)
                sums = np.zeros((SEM_K, en.shape[1]))
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

    for _ in range(SEM_ROUNDS):
        rows = v.mapInPandas(
            partials(cent), schema="cell int, n long, s array<double>"
        ).collect()  # <= K * partitions short rows
        sums = np.zeros((SEM_K, SEM_DIM))
        counts = np.zeros(SEM_K)
        for r in rows:
            sums[r["cell"]] += np.asarray(r["s"])
            counts[r["cell"]] += r["n"]
        if (counts == 0).any():
            raise ValueError(
                "semdedup: empty cluster during Lloyd — corpus too small "
                f"for K={SEM_K} (counts={counts.tolist()})"
            )
        cent = np.round(sums / counts[:, None], SEM_CENT_ROUND)
    return cent


def _semdedup_oracle() -> str:
    """Unrolled-Lloyd k-means + within-cluster prune, as one chained
    CTE per round — the loop-free twin of the distributed trainer
    (recursive CTEs disallow the grouped aggregate each round needs,
    so the fixed SEM_ROUNDS schedule is unrolled at import time)."""
    parts = [
        f"""
pts AS MATERIALIZED (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x / nrm) AS en
  FROM (SELECT vec_id, embedding,
               greatest(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[]))),
                        1e-12) AS nrm
        FROM embeddings)
),
a0 AS (SELECT vec_id, en, vec_id % {SEM_K} AS cell FROM pts)"""
    ]
    for t in range(SEM_ROUNDS):
        parts.append(f"""
c{t} AS (
  SELECT cell, list(v ORDER BY idx) AS c
  FROM (SELECT a.cell, r.idx, round(avg(a.en[r.idx]), {SEM_CENT_ROUND}) AS v
        FROM a{t} a CROSS JOIN (SELECT unnest(range(1, {SEM_DIM + 1})) AS idx) r
        GROUP BY a.cell, r.idx)
  GROUP BY cell
)""")
        if t < SEM_ROUNDS - 1:
            parts.append(f"""
a{t + 1} AS (
  SELECT vec_id, en, cell FROM (
    SELECT p.vec_id, p.en, c.cell,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY round(list_dot_product(p.en, c.c)
                            / greatest(sqrt(list_dot_product(c.c, c.c)), 1e-12),
                            {SEM_SIM_ROUND}) DESC,
                      c.cell ASC) AS rn
    FROM pts p CROSS JOIN c{t} c)
  WHERE rn = 1
)""")
    last_c = SEM_ROUNDS - 1
    parts.append(f"""
fin AS MATERIALIZED (
  SELECT vec_id, en, cell FROM (
    SELECT p.vec_id, p.en, c.cell,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY round(list_dot_product(p.en, c.c)
                            / greatest(sqrt(list_dot_product(c.c, c.c)), 1e-12),
                            {SEM_SIM_ROUND}) DESC,
                      c.cell ASC) AS rn
    FROM pts p CROSS JOIN c{last_c} c)
  WHERE rn = 1
)""")
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT a.vec_id,
       CAST(a.cell AS INT) AS cluster,
       EXISTS (SELECT 1 FROM fin b
               WHERE b.cell = a.cell AND b.vec_id < a.vec_id
                 AND round(list_dot_product(a.en, b.en), 6) >= {SEM_TAU})
         AS is_dup
FROM fin a"""
    )


@register("semdedup", oracle=_semdedup_oracle())
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup labeling of the whole embedding corpus:
    (vec_id, cluster, is_dup) where ``is_dup`` marks a vector whose
    cluster contains an earlier member with cosine ≥ SEM_TAU.

    Train (distributed Lloyd, session-cached centroids) → assign (one
    broadcast-matmul pass) → prune (one cell-keyed exchange,
    block-BLAS Gram per cluster).  The oracle re-runs the full
    trajectory in SQL — see the module docstring's determinism
    contract."""
    import numpy as np
    import pandas as pd

    cent = train_semdedup_centroids(spark, sf_dir)
    bc = spark.sparkContext.broadcast(cent)

    v = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def assign(batches):
        for b in batches:
            ids, en = _normalize_batch(b)
            cells = _assign_cells(ids, en, bc.value)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cluster": cells.astype("int32"),
                    "en": list(en),
                }
            )

    assigned = v.mapInPandas(
        assign, schema="vec_id long, cluster int, en array<double>"
    )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
        en = _matrix(pdf["en"])
        n = len(pdf)
        dup = np.zeros(n, dtype=bool)
        # row-blocked Gram: memory O(block * n), never n^2
        for lo in range(0, n, SEM_BLOCK_ROWS):
            hi = min(lo + SEM_BLOCK_ROWS, n)
            g = np.round(en[lo:hi] @ en.T, 6)  # (block, n)
            for i in range(lo, hi):
                if i > 0:
                    dup[i] = bool((g[i - lo, :i] >= SEM_TAU).any())
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cluster": pdf["cluster"],
                "is_dup": dup,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        prune, schema="vec_id long, cluster int, is_dup boolean"
    )
