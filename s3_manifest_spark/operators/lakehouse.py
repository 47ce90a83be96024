"""Lakehouse table-maintenance planning over the manifest (SURVEY.md
§2B extension, r10) — the OPTIMIZE/VACUUM/ANALYZE/scan-planning suite
that completes ``compaction_plan``'s story: a 100 TB table is kept
healthy by a handful of planning queries, and every one of them is a
manifest-sized metadata job, never a data job.

- :func:`vacuum_plan` — retention planning: per-key snapshot
  reconciliation (the ``manifest_diff`` old/new predicates) finds
  files present in the old snapshot but absent from the new one, gates
  them on an age watermark, and rolls the delete list up per prefix
  with reclaimable bytes — what a VACUUM executor consumes.
- :func:`zorder_layout` — OPTIMIZE ZORDER planning: a 32-bit Morton
  (bit-interleaved) key over quantized (size, modification-day)
  coordinates, rolled up into 256 spatial cells.  Multi-dimensional
  clustering is THE lakehouse answer to two-column pruning: files
  sorted by z-key give both size-range and time-range scans bounded
  false-positive reads.  The interleave is integer-exact and the
  expression text is GENERATED ONCE for both engines, so the oracle
  certifies every bit.
- :func:`partition_advisor` — write-distribution planning: exact
  balanced range-partition boundaries (the keys at ordinal positions
  ``i·(n-1)//N``) via the shared sort_offsets/global_ordinal
  machinery — what you feed ``repartitionByRange`` or a table's
  partition spec so writers stay skew-free.
- :func:`profile_table` — ANALYZE: per-column null counts, exact
  distinct cardinalities, and min/max over one scan.
- :func:`zorder_prune` / :func:`manifest_prune` — scan-planning
  certificates: the false-read rate a pruned scan pays under the
  z-cell layout (two-column predicate) and under Iceberg-style
  two-level manifest-list stats (key-range predicate).

The reference (/root/reference/src/main.rs) builds the manifest these
queries plan over; it has no maintenance surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_manifest_spark.operators.manifest_queries import (
    _DIFF_NEW_PRED,
    _DIFF_OLD_PRED,
)
from s3_manifest_spark.registry import cached, register
from s3_manifest_spark.sources.tables import (
    SYNTH_LISTING_SQL,
    listing_model,
    load_table,
    local_relation,
    parquet_row_count,
)

#: vacuum age watermark: dangling files whose (old-snapshot) mtime is
#: older than this are delete candidates; newer ones are kept for
#: time-travel / reader-grace retention.  RFC3339 strings compare
#: lexicographically, so both engines gate on plain string order.
VACUUM_WATERMARK = "1996-01-01T00:00:00Z"

# --------------------------------------------------------------------------
# vacuum_plan
# --------------------------------------------------------------------------

_VACUUM_ORACLE = f"""
WITH listing AS ({SYNTH_LISTING_SQL}),
per_key AS (
  SELECT key,
         max(CASE WHEN {_DIFF_OLD_PRED} THEN size END) AS old_sz,
         max(CASE WHEN {_DIFF_NEW_PRED} THEN 1 ELSE 0 END) AS in_new,
         max(CASE WHEN {_DIFF_OLD_PRED} THEN last_modified END) AS mtime
  FROM listing GROUP BY key
)
SELECT split_part(key, '/', 1) || '/' || split_part(key, '/', 2) AS prefix,
       CAST(count(*) AS BIGINT)    AS n_files,
       CAST(sum(old_sz) AS BIGINT) AS reclaim_bytes,
       min(mtime)                  AS oldest,
       max(mtime)                  AS newest
FROM per_key
WHERE old_sz IS NOT NULL AND in_new = 0
  AND mtime < '{VACUUM_WATERMARK}'
GROUP BY 1
"""


@register("vacuum_plan", oracle=_VACUUM_ORACLE)
def vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention (VACUUM) plan: per top-level prefix, the files that
    are DANGLING — present in the old snapshot (``manifest_diff``'s
    ``size % 3 != 0`` split) with no key surviving into the new one
    (``size % 5 != 0``) — and older than :data:`VACUUM_WATERMARK`,
    with reclaimable bytes and the candidate age range.

    Shape: ONE map-side-combinable key aggregation (the same per-key
    snapshot reconciliation the CDC state maintains — old size,
    new-membership flag, old mtime ride one shuffle), a filter, and a
    tiny per-prefix rollup.  Nothing is driver-side; at 100 TB this is
    the manifest-sized keyed exchange every diff already pays, and the
    delete list an executor fans out over.  Key-level (not row-level)
    reconciliation matters: a key re-written into the new snapshot
    must protect ALL its old rows from deletion.

    CONSUMES the session-shared CDC state (r11): ``_cdc_state`` keeps
    ``(k, old_sz, new_sz, old_mtime_d)`` per key — a dangling file is
    exactly ``old_sz IS NOT NULL AND new_sz IS NULL``, so retention
    planning is a filter + tiny per-prefix rollup over state the
    session already maintains for diff/apply; no scan, no new keyed
    exchange.  The returnflag (the prefix's variable segment) is
    RE-DERIVED from the key — ``char(k % 256)`` under the packed-key
    fusion (ascii(rf) occupies the low byte; see ``_packed_key``),
    string-split otherwise — so the state carries nothing
    vacuum-specific but the mtime date (native, not RFC3339; the
    format is a monotone injective map so min/max commute with it and
    strings are rebuilt once per RESULT row)."""
    from s3_manifest_spark.operators.manifest_queries import _cdc_state

    state, packed = _cdc_state(spark, sf_dir)
    rf = (
        F.expr("char(pmod(k, 256))")
        if packed
        else F.substring_index(F.substring_index("k", "/", 2), "/", -1)
    )
    cand = state.filter(
        F.col("old_sz").isNotNull()
        & F.col("new_sz").isNull()
        & (
            F.col("old_mtime_d")
            < F.lit(VACUUM_WATERMARK[:10]).cast("timestamp")
        )
    )
    rfc = "yyyy-MM-dd'T'HH:mm:ss'Z'"
    return cand.groupBy(
        F.concat(F.lit("data/"), rf).alias("prefix")
    ).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("old_sz").alias("reclaim_bytes"),
        F.date_format(F.min("old_mtime_d"), rfc).alias("oldest"),
        F.date_format(F.max("old_mtime_d"), rfc).alias("newest"),
    )


# --------------------------------------------------------------------------
# zorder_layout
# --------------------------------------------------------------------------

Z_BITS = 16  # bits per dimension -> 32-bit Morton key
Z_CELL_SHIFT = 24  # top 8 Morton bits = 256 spatial cells
Z_EPOCH = "1992-01-01"  # fixture shipdates start here; day 0


def _z_expr(spark_side: bool) -> str:
    """The 32-bit Morton interleave of quantized (size, day)
    coordinates, generated as ONE expression text per engine from the
    same loop — so the engines cannot drift bit-by-bit.  Size maps to
    the odd bit positions, day to the even ones."""
    if spark_side:
        qs = "least(shiftright(size, 8), 65535)"
        qd = (
            "(datediff(to_date(substring(last_modified, 1, 10)), "
            f"DATE'{Z_EPOCH}') & 65535)"
        )
        bit = lambda src, k, j: f"shiftleft(shiftright({src}, {k}) & 1, {j})"
    else:
        qs = "least(size >> 8, 65535)"
        qd = (
            f"((CAST(substr(last_modified, 1, 10) AS DATE) "
            f"- DATE '{Z_EPOCH}') & 65535)"
        )
        bit = lambda src, k, j: f"((({src} >> {k}) & 1) << {j})"
    terms = []
    for k in range(Z_BITS):
        terms.append(bit(qs, k, 2 * k + 1))
        terms.append(bit(qd, k, 2 * k))
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
WITH listing AS ({SYNTH_LISTING_SQL}),
z AS (
  SELECT key, size, CAST({_z_expr(False)} AS BIGINT) AS zkey
  FROM listing
)
SELECT CAST(zkey >> {Z_CELL_SHIFT} AS BIGINT) AS zcell,
       CAST(count(*) AS BIGINT)   AS n_files,
       CAST(sum(size) AS BIGINT)  AS total_bytes,
       CAST(min(zkey) AS BIGINT)  AS min_zkey,
       CAST(max(zkey) AS BIGINT)  AS max_zkey
FROM z
GROUP BY 1
"""


@register("zorder_layout", oracle=_ZORDER_ORACLE)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER planning: every file gets a 32-bit Morton key —
    16 bits of quantized size (``size >> 8``, capped) interleaved with
    16 bits of modification day — and the layout rolls up into 256
    spatial cells ``(zcell, n_files, total_bytes, min/max zkey)``.

    A rewrite job sorts files by ``zkey`` and packs cells into output
    groups: scans filtering on EITHER size ranges or recency then
    touch a bounded band of cells instead of the whole table —
    two-column pruning one sort key cannot give.  Plan shape: one
    codegen'd integer projection (the interleave folds into
    whole-stage codegen; no Python, no shuffle) plus one combinable
    rollup keyed by the 256-value cell id.  The expression text is
    generated once for both engines (:func:`_z_expr`), so the oracle
    hash certifies all 32 interleaved bits."""
    li = listing_model(spark, sf_dir)
    z = li.select(
        "key",
        "size",
        F.expr(_z_expr(True)).cast("long").alias("zkey"),
    )
    return z.groupBy(
        F.shiftright("zkey", Z_CELL_SHIFT).cast("long").alias("zcell")
    ).agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("size").alias("total_bytes"),
        F.min("zkey").alias("min_zkey"),
        F.max("zkey").alias("max_zkey"),
    )


# --------------------------------------------------------------------------
# zorder_prune — the layout-quality certificate for zorder_layout
# --------------------------------------------------------------------------

#: the audit's two-dimensional scan predicate: a size band (cents) and
#: a modification-day band (days since Z_EPOCH) — the kind of
#: two-column filter z-ordering exists to serve.
ZPRUNE_SIZE_LO, ZPRUNE_SIZE_HI = 500_000, 5_000_000
ZPRUNE_DAY_LO, ZPRUNE_DAY_HI = 1500, 1900  # mid-1996 .. mid-1997

_ZPRUNE_ORACLE = f"""
WITH listing AS ({SYNTH_LISTING_SQL}),
z AS (
  SELECT size,
         (CAST(substr(last_modified, 1, 10) AS DATE) - DATE '{Z_EPOCH}')
           AS day,
         CAST({_z_expr(False)} AS BIGINT) >> {Z_CELL_SHIFT} AS zcell
  FROM listing
),
flagged AS (
  SELECT zcell,
         CASE WHEN size >= {ZPRUNE_SIZE_LO} AND size < {ZPRUNE_SIZE_HI}
               AND day >= {ZPRUNE_DAY_LO} AND day < {ZPRUNE_DAY_HI}
              THEN 1 ELSE 0 END AS hit
  FROM z
),
needed AS (SELECT DISTINCT zcell FROM flagged WHERE hit = 1)
SELECT CAST(count(*) AS BIGINT)                           AS n_files_total,
       CAST(sum(f.hit) AS BIGINT)                         AS n_matching,
       CAST((SELECT count(*) FROM needed) AS BIGINT)      AS n_cells_touched,
       CAST(sum(CASE WHEN n.zcell IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                          AS n_files_in_cells,
       round(1.0 - sum(f.hit)
             / sum(CASE WHEN n.zcell IS NOT NULL THEN 1 ELSE 0 END), 6)
                                                          AS false_read_rate
FROM flagged f LEFT JOIN needed n ON f.zcell = n.zcell
"""


@register("zorder_prune", oracle=_ZPRUNE_ORACLE)
def zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruning-quality certificate for :func:`zorder_layout`: for a
    fixed two-dimensional scan predicate (a size band × a
    modification-day band), compute the minimal set of z-cells a
    pruned scan must read and the fraction of files in those cells
    that do NOT match — the false-read rate the layout costs that
    predicate.  ``(n_files_total, n_matching, n_cells_touched,
    n_files_in_cells, false_read_rate)``.

    Deterministic end-to-end (the cell ids come from the shared
    generated interleave), so the oracle hash certifies the pruning
    claim itself, not a simulation of it.  Plan: ONE corpus pass — a
    codegen'd projection to (hit, zcell) feeding a combinable
    ≤256-key per-cell rollup — then every audit number derives from
    the tiny per-cell relation in a 1-row aggregate.  No join, no
    distinct aggregate, no second evaluation of the interleave."""
    li = listing_model(spark, sf_dir)
    flagged = li.select(
        F.shiftright(F.expr(_z_expr(True)).cast("long"), Z_CELL_SHIFT).alias(
            "zcell"
        ),
        F.when(
            (F.col("size") >= ZPRUNE_SIZE_LO)
            & (F.col("size") < ZPRUNE_SIZE_HI)
            & (
                F.datediff(
                    F.to_date(F.substring("last_modified", 1, 10)),
                    F.lit(Z_EPOCH).cast("date"),
                )
                >= ZPRUNE_DAY_LO
            )
            & (
                F.datediff(
                    F.to_date(F.substring("last_modified", 1, 10)),
                    F.lit(Z_EPOCH).cast("date"),
                )
                < ZPRUNE_DAY_HI
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("hit"),
    )
    per_cell = flagged.groupBy("zcell").agg(
        F.count(F.lit(1)).alias("files"), F.sum("hit").alias("hits")
    )
    in_cells = F.sum(F.when(F.col("hits") > 0, F.col("files")))
    return per_cell.agg(
        F.sum("files").alias("n_files_total"),
        F.sum("hits").alias("n_matching"),
        F.count(F.when(F.col("hits") > 0, F.lit(1))).alias(
            "n_cells_touched"
        ),
        in_cells.alias("n_files_in_cells"),
        F.round(F.lit(1.0) - F.sum("hits") / in_cells, 6).alias(
            "false_read_rate"
        ),
    )


# --------------------------------------------------------------------------
# partition_advisor
# --------------------------------------------------------------------------

ADVISOR_PARTITIONS = 32  # advise boundaries for this many ranges

_ADVISOR_ORACLE = f"""
WITH listing AS ({SYNTH_LISTING_SQL}),
ord AS (
  SELECT key,
         row_number() OVER (ORDER BY key, size) - 1 AS position
  FROM listing
),
n AS (SELECT count(*) AS cnt FROM listing),
targets AS (
  SELECT CAST(i.i AS BIGINT) AS boundary_idx,
         CAST((i.i * (n.cnt - 1)) // {ADVISOR_PARTITIONS} AS BIGINT)
           AS position
  FROM (SELECT unnest(range(1, {ADVISOR_PARTITIONS})) AS i) i, n
)
SELECT t.boundary_idx, t.position, o.key AS split_key
FROM targets t JOIN ord o ON o.position = t.position
"""


@register("partition_advisor", oracle=_ADVISOR_ORACLE)
def partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced range-partition boundaries for the manifest: the keys
    at exact ordinal positions ``i·(n-1) // N`` (i = 1..N-1) under
    (key, size) order — what a writer feeds ``repartitionByRange`` /
    a table's partition spec so each of the N ranges holds the same
    row count regardless of key skew.

    ``n`` comes from the parquet footer (a metadata read, no job); the
    ordinals come from the shared sort_offsets machinery
    (:func:`~s3_manifest_spark.operators.curation.global_ordinal` —
    range sort + partition-offset metadata + in-task enumeration), so
    no ``row_number() OVER (ORDER BY …)`` single-partition window
    appears anywhere; the N-1 picks ride a broadcast semi-filter.
    Ties on fully-identical (key, size) rows are interchangeable, so
    the advised keys are engine-independent."""
    from s3_manifest_spark.operators.curation import global_ordinal

    n = parquet_row_count(f"{sf_dir}/lineitem.parquet")
    targets = [
        (i, (i * (n - 1)) // ADVISOR_PARTITIONS)
        for i in range(1, ADVISOR_PARTITIONS)
    ]
    tdf = local_relation(spark, targets, "boundary_idx long, position long")
    li = listing_model(spark, sf_dir).select("key", "size")
    ordinal = global_ordinal(
        li, ["key", "size"], model_key=("advisor", sf_dir)
    )
    return (
        ordinal.join(F.broadcast(tdf), "position")
        .select(
            "boundary_idx", "position", F.col("key").alias("split_key")
        )
    )


# --------------------------------------------------------------------------
# profile_table
# --------------------------------------------------------------------------

#: profiled columns: strings + integers only — their CAST-to-string
#: form is engine-identical (float/timestamp formatting is not)
PROFILE_COLS = (
    "l_returnflag",
    "l_linestatus",
    "l_orderkey",
    "l_partkey",
    "l_linenumber",
)

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT)   AS n_distinct,
       CAST(min({c}) AS VARCHAR)             AS min_val,
       CAST(max({c}) AS VARCHAR)             AS max_val
FROM lineitem"""
    for c in PROFILE_COLS
)


def _exact_distincts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-column distinct cardinalities ``(col_name,
    n_distinct)`` as a session MODEL (r11): ANALYZE statistics are
    exactly what a catalog persists — both profile queries read the
    same NDV table, so it is computed once per session (two-phase
    distinct-pairs aggregation; see profile_table's docstring for why
    not countDistinct) and served warm.  Derived kind — rebuilt from
    data, not persisted by models.py; cold build priced in cold_sec."""
    def build():
        li = load_table(spark, sf_dir, "lineitem")
        pair_structs = ", ".join(
            f"struct('{c}' AS c, CAST({c} AS STRING) AS v)"
            for c in PROFILE_COLS
        )
        nd = (
            li.selectExpr(f"explode(array({pair_structs})) AS s")
            .select(F.col("s.c").alias("col_name"), F.col("s.v").alias("v"))
            .filter(F.col("v").isNotNull())
            .groupBy("col_name", "v")
            .agg(F.lit(1))
            .groupBy("col_name")
            .agg(F.count(F.lit(1)).alias("n_distinct"))
            .persist()
        )
        nd.count()
        return (nd,)

    return cached(spark, ("profile_ndv", sf_dir), build)[0]


@register("profile_table", oracle=_PROFILE_ORACLE)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE: per-column ``(n_nulls, exact n_distinct, min, max)``
    over ONE scan — the stats a cost-based optimizer and a data-quality
    gate both read.

    Plan: the nulls/min/max stats ride ONE wide aggregation (cheap
    combinable aggs, a single 1-row result unpivoted by ``stack``);
    the exact distincts deliberately do NOT use ``countDistinct`` —
    five distinct aggregates in one agg lower to an Expand that
    multiplies every row by the column count before the exchange
    (measured 5.5 s at sf0.1).  Instead the columns unpivot to
    (col, value) pairs in-task and a two-phase distinct-pairs
    aggregation map-side-combines, so the exchange carries only each
    partition's DISTINCT pairs (bounded by per-partition
    cardinality, not rows), then a tiny per-column count.  Min/max
    are cast to string AFTER aggregating on the native type, so
    numeric order is preserved and the string form is
    engine-identical (profiled columns are restricted to strings +
    integers for exactly that reason; the int→string cast is
    injective so pair-distinct equals native distinct).  At 100 TB
    swap the exact distinct for ``approx_count_distinct`` — exact is
    kept registered because the oracle hash certifies it."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("_total")]
    for c in PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _total - nn_{c}, mn_{c}, mx_{c}" for c in PROFILE_COLS
    )
    base = wide.selectExpr(
        f"stack({len(PROFILE_COLS)}, {stack_args}) AS "
        "(col_name, n_nulls, min_val, max_val)"
    )
    nd = _exact_distincts(spark, sf_dir)
    return base.join(nd, "col_name").select(
        "col_name", "n_nulls", "n_distinct", "min_val", "max_val"
    )


# --------------------------------------------------------------------------
# profile_table_approx — the sketch-NDV ANALYZE the 100 TB path runs
# --------------------------------------------------------------------------

#: Datasketches HLL_4 3-sigma relative error at the default lgK=12
#: (RSE = 1.04/sqrt(4096)); +16 additive slack for sparse mode —
#: same bound sketch_hll_merge certifies (timeseries.py).
_HLL_3SIGMA_RSE = 3 * 1.04 / 4096**0.5


def _hll_in_bound(exact: F.Column, approx: F.Column) -> F.Column:
    """True iff ``approx`` sits inside the 3-sigma HLL_4 error bound
    of ``exact`` — the certificate flag; falsified-by-construction in
    tests/test_lakehouse.py (a drifted estimate must flip it)."""
    tol = F.lit(_HLL_3SIGMA_RSE) * exact + F.lit(16)
    return F.abs(approx - exact) <= tol


_PROFILE_APPROX_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT)   AS exact_distinct,
       -- literal true by design: DuckDB cannot rerun the engine's
       -- mergeable HLL sketches; exact_distinct IS independently
       -- recomputed and hash-compared, and the bound arithmetic is
       -- falsification-tested locally (test_profile_approx_bound).
       true AS approx_in_bound,
       CAST(min({c}) AS VARCHAR)             AS min_val,
       CAST(max({c}) AS VARCHAR)             AS max_val
FROM lineitem"""
    for c in PROFILE_COLS
)


@register("profile_table_approx", oracle=_PROFILE_APPROX_ORACLE)
def profile_table_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE with SKETCHED distinct cardinalities — the form the
    100 TB path actually runs (``profile_table``'s docstring names
    this escape hatch; VERDICT r10 item 5 asked for it wired).

    All five per-column Datasketches HLL aggregates ride the SAME
    single wide aggregation as nulls/min/max — ``hll_sketch_agg`` is
    an ordinary combinable aggregate, so adding five of them does NOT
    lower to the Expand that five ``countDistinct``s would (each row
    multiplied by the column count; the reason profile_table uses
    distinct-pairs).  One scan, one 1-row result, partials are ~KB
    sketches per partition regardless of cardinality — at 100 TB this
    is the whole ANALYZE job.  The estimate itself is engine-specific,
    so the registered output is certificate-style (the
    ``sketch_hll_merge`` pattern): the exact distinct count (reused
    distinct-pairs plan — fixture-affordable, and the part the oracle
    hash certifies) next to a flag asserting the estimate sits inside
    the 3-sigma HLL_4 bound; a drifting estimator flips the flag and
    fails the driver hash."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("_total")]
    for c in PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
            F.hll_sketch_estimate(F.hll_sketch_agg(c))
            .cast("long")
            .alias(f"ad_{c}"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _total - nn_{c}, ad_{c}, mn_{c}, mx_{c}"
        for c in PROFILE_COLS
    )
    base = wide.selectExpr(
        f"stack({len(PROFILE_COLS)}, {stack_args}) AS "
        "(col_name, n_nulls, approx_distinct, min_val, max_val)"
    )
    nd = _exact_distincts(spark, sf_dir).withColumnRenamed(
        "n_distinct", "exact_distinct"
    )
    return base.join(nd, "col_name").select(
        "col_name",
        "n_nulls",
        "exact_distinct",
        _hll_in_bound(
            F.col("exact_distinct"), F.col("approx_distinct")
        ).alias("approx_in_bound"),
        "min_val",
        "max_val",
    )


# --------------------------------------------------------------------------
# manifest_prune — two-level (manifest-list) scan-planning certificate
# --------------------------------------------------------------------------

#: the audit's key-range scan predicate [lo, hi) — returnflag-N
#: orderkeys 2xxx..4xxx, ~7% of the fixture
MPRUNE_KEY_LO = "data/N/2"
MPRUNE_KEY_HI = "data/N/5"

_MPRUNE_ORACLE = f"""
WITH listing AS ({SYNTH_LISTING_SQL}),
flagged AS (
  SELECT split_part(key, '/', 1) || '/' || split_part(key, '/', 2)
           AS prefix,
         key,
         CASE WHEN key >= '{MPRUNE_KEY_LO}' AND key < '{MPRUNE_KEY_HI}'
              THEN 1 ELSE 0 END AS hit
  FROM listing
),
groups AS (
  SELECT prefix, min(key) AS min_key, max(key) AS max_key,
         CAST(count(*) AS BIGINT) AS files,
         CAST(sum(hit) AS BIGINT) AS hits
  FROM flagged GROUP BY prefix
)
SELECT CAST(count(*) AS BIGINT) AS n_groups_total,
       CAST(sum(CASE WHEN min_key < '{MPRUNE_KEY_HI}'
                      AND max_key >= '{MPRUNE_KEY_LO}'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_opened,
       CAST(sum(files) AS BIGINT) AS n_files_total,
       CAST(sum(CASE WHEN min_key < '{MPRUNE_KEY_HI}'
                      AND max_key >= '{MPRUNE_KEY_LO}'
                     THEN files ELSE 0 END) AS BIGINT)
         AS n_files_in_opened,
       CAST(sum(hits) AS BIGINT) AS n_matching,
       round(1.0 - sum(hits)
             / sum(CASE WHEN min_key < '{MPRUNE_KEY_HI}'
                         AND max_key >= '{MPRUNE_KEY_LO}'
                        THEN files ELSE 0 END), 6) AS false_open_rate
FROM groups
"""


@register("manifest_prune", oracle=_MPRUNE_ORACLE)
def manifest_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level scan-planning certificate — the Iceberg manifest-list
    shape: per-prefix group stats (min/max key, file count) decide
    which groups a key-range scan must OPEN, before any file is
    touched.  For the fixed range [:data:`MPRUNE_KEY_LO`,
    :data:`MPRUNE_KEY_HI`): groups opened (min/max overlap test),
    files inside them, files actually matching, and the false-open
    rate the grouping costs this predicate.

    Plan: ONE combinable per-prefix aggregation (min/max/count/hit-sum
    ride the same shuffle — the stats a real manifest list PERSISTS,
    recomputed here so the certificate is self-contained) and a 1-row
    rollup over the tiny group relation.  At 100 TB the group stats
    are the manifest-of-manifests (thousands of rows for billions of
    files): planning reads THEM, never the file list — which is
    exactly the claim the oracle hash certifies.

    Reads the session-cached :func:`listing_model` — the maintenance
    suite plans over one materialized manifest relation instead of
    five re-derivations (r11; build priced in cold_sec), so the
    per-prefix partials run at cache width with no per-query scan."""
    li = listing_model(spark, sf_dir)
    flagged = li.select(
        F.substring_index("key", "/", 2).alias("prefix"),
        "key",
        F.when(
            (F.col("key") >= MPRUNE_KEY_LO) & (F.col("key") < MPRUNE_KEY_HI),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("hit"),
    )
    groups = flagged.groupBy("prefix").agg(
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
        F.count(F.lit(1)).alias("files"),
        F.sum("hit").alias("hits"),
    )
    opened = (F.col("min_key") < MPRUNE_KEY_HI) & (
        F.col("max_key") >= MPRUNE_KEY_LO
    )
    in_opened = F.sum(F.when(opened, F.col("files")).otherwise(F.lit(0)))
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups_total"),
        F.sum(F.when(opened, F.lit(1)).otherwise(F.lit(0))).alias(
            "n_groups_opened"
        ),
        F.sum("files").alias("n_files_total"),
        in_opened.alias("n_files_in_opened"),
        F.sum("hits").alias("n_matching"),
        F.round(F.lit(1.0) - F.sum("hits") / in_opened, 6).alias(
            "false_open_rate"
        ),
    )
