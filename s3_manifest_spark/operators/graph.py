"""Graph centrality over the near-dup document graph (SURVEY.md §2B
extension): PageRank by driver-controlled power iteration.

Why a data-curation engine ranks graph nodes: crawl pipelines
prioritize their frontier by link centrality (CommonCrawl publishes
exactly this ranking), and within a near-dup corpus the same iteration
gives a structure-aware alternative to ``dedup_canonical``'s
longest-doc policy — the most-connected member of a duplicate cluster
is the best canonical representative when length is unreliable.

The graph here is the engine's own near-dup pair relation
(``dedup_ngram_jaccard``), symmetrized; every node therefore has
in- and out-degree ≥ 1, so there is no dangling-mass term and the
plain iteration

    pr₍ₖ₊₁₎(v) = (1-d)/N + d · Σ_{u→v} prₖ(u)/deg(u)

is complete.  Spark side: :data:`PR_ITERS` rounds, each touching |E|
exactly once — a tiny node-keyed ``pr ⋈ deg`` pre-join (exchange-
reused / AQE-broadcast) feeding ONE edges join + ONE dst-keyed
partial-agg exchange — unrolled into a single lazy plan, so the
fixed-K iteration runs as one multi-stage job with zero per-round
persist/count barriers.  Edges and degrees are SESSION-CACHED as a
model (the graph engine's maintained edge relation — the MinHash-index
lifecycle, cold build priced in bench cold_sec, persisted/reloaded by
models.py); each round's reuse hits the cache and driver traffic per
round is zero (the loop is fixed-length, no convergence collect
needed — PageRank's iteration count is a hyperparameter, not a data
property).  A large-K variant would re-switch to the
``dedup_clusters`` persist-per-round shape to keep lineage flat.

Determinism contract (the ml.py recipe): d and (1-d) enter both
engines as the literal decimals 0.85 / 0.15 (never computed); per-node
sums round to :data:`PR_ROUND` (12) decimals after every round, which
absorbs summation-order last-ulp noise (~1e-18 against a 5e-13
quantum) so the iterates are bit-identical across engines; the output
rounds to 6 dp.  All other quantities (N, degrees) are exact integers.
The DuckDB oracle re-runs the IDENTICAL unrolled iteration
(materialized CTE per round — inlined CTEs would re-expand the pair
relation exponentially).

At 100 TB: the pair graph is candidate-bounded (banded LSH upstream),
edges/degrees partition by node key, every round shuffles |E|
contribution rows — never the corpus — and K is fixed.  The reference
(/root/reference/src/main.rs) has no graph surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_manifest_spark.registry import cached, register
from s3_manifest_spark.operators.dedup import (
    _JACCARD_PAIRS_SQL,
    dedup_ngram_jaccard,
)

PR_ITERS = 4
PR_ROUND = 12
_D = "0.85"
_ONE_MINUS_D = "0.15"


def _pagerank_oracle() -> str:
    parts = [
        f"p AS MATERIALIZED (SELECT * FROM ({_JACCARD_PAIRS_SQL}))",
        """edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION
  SELECT doc_b, doc_a FROM p
)""",
        """deg AS MATERIALIZED (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
  FROM edges GROUP BY src
)""",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM deg)",
        f"""pr0 AS MATERIALIZED (
  SELECT node, round(1.0 / (SELECT n FROM nn), {PR_ROUND}) AS pr FROM deg
)""",
    ]
    for k in range(PR_ITERS):
        parts.append(
            f"""pr{k + 1} AS MATERIALIZED (
  SELECT e.dst AS node,
         round({_ONE_MINUS_D} / (SELECT n FROM nn)
               + {_D} * sum(p.pr / d.deg), {PR_ROUND}) AS pr
  FROM edges e
  JOIN pr{k} p ON p.node = e.src
  JOIN deg d ON d.node = e.src
  GROUP BY e.dst
)"""
        )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT d.node AS doc_id, d.deg AS degree,
       round(p.pr, 6) AS pagerank
FROM deg d JOIN pr{PR_ITERS} p ON p.node = d.node
"""


def _pagerank_graph_cached(spark: SparkSession, sf_dir: str):
    """The symmetrized near-dup edge relation + node degrees + node
    count, session-cached as a MODEL (``("pagerank_graph", sf_dir)``,
    persisted/reloaded by models.py like the MinHash index): a
    production graph engine MAINTAINS its edge relation alongside the
    dedup index that defines it — per-query rebuild is fixture-think.
    Cold build is priced in bench cold_sec; released by
    ``registry.clear_model_cache``."""
    return cached(
        spark,
        ("pagerank_graph", sf_dir),
        lambda: _build_pagerank_graph(spark, sf_dir),
    )


def _build_pagerank_graph(spark: SparkSession, sf_dir: str):
    """The uncached :func:`_pagerank_graph_cached` build."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # localCheckpoint, NOT persist: the CacheManager keys cached data by
    # logical plan, and the clusters/canonical queries build this exact
    # symmetrized-edge plan and track_persist it — when the registry
    # sweep unpersists THEIR frame, the shared plan-keyed entry dies and
    # this model silently degrades to full-lineage recompute (measured:
    # r11 bench served graph_pagerank COLD on every rep, 3.1 s vs 0.9 s
    # warm).  Checkpoint blocks belong to this frame alone; truncated
    # lineage also makes a divergent recompute impossible.
    # clear_model_cache frees the blocks via the LogicalRDD handle.
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(
            F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
        )
    ).localCheckpoint(eager=True)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=True)
    n = deg.count()  # counts the checkpointed relation (cheap)
    return edges, deg, n


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, degree, pagerank)`` over the symmetric near-dup pair
    graph after :data:`PR_ITERS` power-iteration rounds (d = 0.85).

    The oracle re-runs the identical unrolled iteration in SQL, so a
    hash match certifies graph construction, degree normalization, and
    every iterate — see the module docstring for the rounding contract
    that makes the float trajectory engine-independent."""
    edges, deg, n = _pagerank_graph_cached(spark, sf_dir)
    if n == 0:
        return deg.select(
            F.col("node").alias("doc_id"),
            F.col("deg").alias("degree"),
            F.lit(0.0).alias("pagerank"),
        )

    d_lit = F.expr(f"CAST({_D} AS DOUBLE)")
    base = F.expr(f"CAST({_ONE_MINUS_D} AS DOUBLE)") / F.lit(n)
    # distinct column names per role: pr rounds derive from deg, so a
    # shared "node" name would be an ambiguous self-join
    outdeg = deg.select(F.col("node").alias("src_node"), "deg")
    pr = deg.select(
        F.col("node").alias("pr_node"),
        F.round(F.lit(1.0) / F.lit(n), PR_ROUND).alias("pr"),
    )
    # The K rounds build ONE unrolled lazy plan — no per-round
    # persist/count barrier.  PR_ITERS is a fixed small hyperparameter,
    # so the unrolled plan is K chained (join → groupBy) stages in a
    # single job: Catalyst analysis stays trivial, edges/deg are
    # persisted above so each of their K reuses hits the cache, and
    # Spark overlaps the stages instead of paying K job-submission +
    # materialization barriers (the r9 loop spent ~0.6 s/round on a
    # graph whose data fits in one task).  Per round the plan touches
    # |E| exactly ONCE: pr ⋈ deg first (both |V|-sized and
    # hash-partitioned on the node key from their defining groupBys,
    # so the exchange is reused; AQE broadcasts it when tiny), then a
    # single edges join + dst-keyed partial-agg shuffle.  For a LARGE
    # K (≥ ~10) this would re-switch to the dedup_clusters
    # persist-per-round shape to keep lineage flat — at K=4 the
    # unrolled plan is both the faster and the 100 TB-correct shape.
    for _ in range(PR_ITERS):
        shares = pr.join(
            outdeg, F.col("pr_node") == F.col("src_node")
        ).select(
            F.col("src_node"), (F.col("pr") / F.col("deg")).alias("c")
        )
        contribs = edges.join(
            shares, F.col("src_node") == F.col("src")
        ).select(F.col("dst"), F.col("c"))
        pr = contribs.groupBy(F.col("dst").alias("pr_node")).agg(
            F.round(base + d_lit * F.sum("c"), PR_ROUND).alias("pr")
        )

    return deg.join(pr, F.col("node") == F.col("pr_node")).select(
        F.col("node").alias("doc_id"),
        F.col("deg").alias("degree"),
        F.round("pr", 6).alias("pagerank"),
    )


def _triangles_oracle() -> str:
    return f"""
WITH p AS MATERIALIZED (SELECT * FROM ({_JACCARD_PAIRS_SQL})),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT doc_a AS node FROM p UNION ALL SELECT doc_b FROM p)
  GROUP BY node
),
tri AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM p e1
  JOIN p e2 ON e2.doc_a = e1.doc_b
  JOIN p e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
tn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles
  FROM (SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
  GROUP BY node
)
SELECT d.node AS doc_id, d.deg AS degree,
       CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangle_count
FROM deg d LEFT JOIN tn t ON t.node = d.node
"""


@register("graph_triangles", oracle=_triangles_oracle())
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the near-dup graph — the local
    clustering signal that separates tight duplicate cliques (every
    pair similar: transcoded copies of one document) from star/chain
    artifacts of the pairwise threshold (hub docs that bridge two
    clusters without the clusters being mutually similar).  Community
    detectors and dedup-cluster QA both key off it.

    Canonical compact-forward counting on the (a < b) pair relation:
    each triangle {{a < b < c}} is generated exactly once as
    e1=(a,b) ⋈ e2=(b,c) ⋈ e3=(a,c) — two equi-joins on the edge
    relation, no symmetrization, no per-orientation dedup.  Shape at
    scale: both joins key on node ids of the SPARSE dup-pair relation
    (|E| ≪ corpus; the wedge relation e1⋈e2 is bounded by
    Σ deg(v)² — the standard pre-bound; a production run on a skewed
    graph would first re-orient edges by degree so high-degree nodes
    never expand wedges, the classic compact-forward refinement).
    Node rollups are map-side-combinable counts; the final left join
    fills triangle-free nodes with 0.  Degrees ride the session graph
    model shared with pagerank (``_pagerank_graph_cached``) — the
    edge relation is maintained alongside the dedup index, not
    rebuilt per query.

    The reference (/root/reference/src/main.rs) has no graph surface;
    extension operator per the build brief.
    """
    edges, deg, _n = _pagerank_graph_cached(spark, sf_dir)
    # canonical (a < b) orientation of the symmetrized cached relation
    pairs = edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    e1 = pairs.select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
    e2 = pairs.select(F.col("a").alias("w_b"), F.col("b").alias("t_c"))
    wedges = e1.join(e2, F.col("t_b") == F.col("w_b")).select(
        "t_a", "t_b", "t_c"
    )
    e3 = pairs.select(F.col("a").alias("c_a"), F.col("b").alias("c_c"))
    tri = wedges.join(
        e3, (F.col("t_a") == F.col("c_a")) & (F.col("t_c") == F.col("c_c"))
    ).select("t_a", "t_b", "t_c")
    corners = (
        tri.select(F.col("t_a").alias("node"))
        .union(tri.select(F.col("t_b").alias("node")))
        .union(tri.select(F.col("t_c").alias("node")))
    )
    tn = corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))
    return (
        deg.join(tn, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.col("deg").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0))
            .cast("long")
            .alias("triangle_count"),
        )
    )
