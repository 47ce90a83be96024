"""Fixture-table access + the deterministic synthetic ``listing`` table.

The driver fixtures (TESTDATA.md) are plain parquet; ``load_table`` is a
thin reader so every operator takes the scale-factor directory as a
parameter.  The manifest core additionally needs an S3-listing-shaped
input (FIXTURES.md §B).  No such parquet exists, so we derive one
deterministically from ``lineitem`` — and, crucially, the SAME
derivation is expressed once in Spark and once in ANSI SQL
(:data:`SYNTH_LISTING_SQL`) so the DuckDB oracle sees byte-identical
input rows without any files changing hands.

Rows built on the driver (the listing's shard table, small query
results) become a relation through :func:`local_relation`, an Arrow
local relation that runs no Python task.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from s3_manifest_spark.registry import cached, session_dict

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to plain TIMESTAMP.

    events.parquet has shipped with two on-disk schemas for ts:
    TIMESTAMP(NANOS) (older fixtures) and timestamp[us] (current).
    Spark rejects NANOS outright unless nanosAsLong=true (set in
    session.py), in which case ts arrives as a raw nanosecond bigint.
    Branch on the loaded dtype: bigint → exact integer ns→us truncation
    (float division would wobble the last digit at int64 magnitude);
    timestamp_ntz → cast (session tz is UTC, so NTZ micros == instant
    micros); timestamp → pass through.  DuckDB truncates ns→us the same
    way when casting to TIMESTAMP, so the oracle sees identical
    instants for every fixture vintage.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: Parquet footer metadata cache: path -> num_row_groups.  Read once
#: per process via pyarrow (a footer read, not a Spark job).
_ROW_GROUPS: dict[str, int] = {}


def _parquet_files(path: str) -> list[str]:
    """The fixture tables are single .parquet files, but Spark WRITES
    parquet as a directory of part files — possibly NESTED under
    partition subdirectories — so library callers pointing these
    helpers at their own outputs get all three shapes.  An empty match
    RAISES rather than silently summing to zero (a zero row count
    would mis-size blooms / state stores downstream)."""
    import glob
    import os

    if os.path.isdir(path):
        files = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not files:
            raise FileNotFoundError(
                f"no *.parquet files under directory {path!r}"
            )
        return files
    return [path]


def parquet_row_groups(path: str) -> int:
    import os

    # Only single FILES are memoized: the fixtures are immutable, but
    # a directory is a mutable write target — an overwrite with a
    # different layout must not be served a stale count.
    if os.path.isdir(path):
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(f).metadata.num_row_groups
            for f in _parquet_files(path)
        )
    if path not in _ROW_GROUPS:
        import pyarrow.parquet as pq

        _ROW_GROUPS[path] = sum(
            pq.ParquetFile(f).metadata.num_row_groups
            for f in _parquet_files(path)
        )
    return _ROW_GROUPS[path]


def parquet_row_count(path: str) -> int:
    """Exact row count from the parquet footer(s) — a metadata read,
    no Spark job.  For guards like 'is the corpus bigger than X' this
    replaces a full ``df.count()`` scan."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path)
    )


def widen_scan(df: DataFrame, path: str) -> DataFrame:
    """Round-robin-repartition ``df`` to the session's parallelism IF
    the backing parquet file physically under-splits the scan.

    A parquet scan parallelizes at row-group granularity, so a file
    with fewer row groups than the box has cores runs the whole
    downstream narrow chain (projection, tokenization HOFs, Arrow
    encode for collect) at row-group width — the sf fixtures are
    single-row-group files, i.e. ONE task does all the work on a
    32-core host (measured: 3.4x on the manifest projection).  The
    gate is the physical split count, so at production scale — row
    groups >> cores — this is a no-op and no exchange is ever added;
    it widens exactly the degenerate-layout case, the same remedy a
    cluster applies to a few giant gzip files.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    if parquet_row_groups(path) >= cores:
        return df
    # Row-aware width: a Python-kernel stage pays ~7 ms of worker
    # round-trip PER TASK (measured), so widening a small table all
    # the way to core count over-taxes it — 5k docs ran ~25% faster at
    # 16 tasks than 32.  Floor 8 keeps real parallelism; any table
    # past ~10k rows still gets full width (and at production layouts
    # this whole branch is dead — the gate above returns early).
    rows = parquet_row_count(path)
    return df.repartition(min(cores, max(8, rows // 300)))


def _reader_cache(spark: SparkSession) -> dict:
    """Per-SESSION reader-DataFrame memo, stored on the session object
    itself: (sf_dir, table, widen) -> frame.  DataFrames are immutable
    lazy plans, so reuse is semantically free; what it saves is the
    per-call py4j construction + parquet footer schema read
    (~50-100 ms), which the floor-class profile showed was up to HALF
    of a trivial query's wall clock.  Living on the session (not in a
    module global) means entries die with the session wrapper — a
    process that creates and stops many sessions never accumulates
    plans that pin stopped sessions' JVM state, and an id() collision
    on a recycled address can never serve a stale plan."""
    return session_dict(spark, "_smsp_reader_cache")


def load_table(
    spark: SparkSession, sf_dir: str, name: str, widen: bool = False
) -> DataFrame:
    """Read a fixture table.  ``widen=True`` applies :func:`widen_scan`
    — opt-in for consumers whose per-row work dominates (text/dedup
    HOF chains, big collects); tiny-dim and floor-cost readers skip it
    so no extra exchange lands in their plans."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    cache = _reader_cache(spark)
    key = (sf_dir, name, widen)
    hit = cache.get(key)
    if hit is not None:
        return hit
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # Re-assert nanosAsLong for externally-created sessions that
        # bypassed get_spark (harmless for us-precision files).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = normalize_event_ts(spark.read.parquet(path))
    else:
        df = spark.read.parquet(path)
    df = widen_scan(df, path) if widen else df
    cache[key] = df
    return df


def local_relation(
    spark: SparkSession, data: pa.Table | list[tuple], schema: T.StructType | str
) -> DataFrame:
    """Driver-side rows as an Arrow local relation: ``data`` (a pyarrow
    Table, or row tuples in ``schema`` order) reaches
    ``spark.createDataFrame`` as a pyarrow Table, so the plan leaf is a
    ``LocalTableScan`` and no Python task runs to produce the rows.  A
    Python list handed to ``createDataFrame`` instead becomes
    ``parallelize`` plus a pickled identity map: a Python task per
    ``defaultParallelism`` slice every time the relation runs.

    The table goes over as one record batch per slice ``LocalTableScan``
    cuts, ``min(rows, defaultParallelism)`` contiguous ones.  Above
    ``spark.sql.execution.arrow.localRelationThreshold`` bytes Spark
    ships the batches as an RDD with one partition per batch, so the
    slicing is the same on both sides of the threshold (while no slice
    exceeds ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, which
    PySpark splits further)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not isinstance(data, pa.Table):
        arrow = to_arrow_schema(schema)
        data = pa.table(
            {f.name: [r[i] for r in data] for i, f in enumerate(arrow)}, schema=arrow
        )
    n = data.num_rows
    k = min(n, spark.sparkContext.defaultParallelism)
    if k:
        rows = data.combine_chunks().to_batches()[0]
        bounds = [i * n // k for i in range(k + 1)]
        data = pa.Table.from_batches(
            [rows.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])]
        )
    return spark.createDataFrame(data, schema)


def synth_listing(spark: SparkSession, sf_dir: str, widen: bool = True) -> DataFrame:
    """S3-listing-shaped rows derived from ``lineitem``.

    key          = data/<returnflag>/<orderkey>/part-<linenumber>.parquet
    size         = extendedprice in whole cents (bigint)
    last_modified= RFC3339 string of l_shipdate

    Purely column-level expressions over one scan — Catalyst prunes the
    read down to the four source columns.  The derived listing is
    :func:`widen_scan`-gated (AFTER the projection, so the shuffle
    ships the three derived columns, not lineitem): the fixture is a
    single-row-group file whose scan otherwise runs one task wide.

    ``widen=False`` for consumers whose NEXT operator is already a
    keyed Exchange (the diff/stats/CDC aggregations): their groupBy
    re-shuffles immediately, so the widening round-robin would be a
    second full exchange of the same rows for nothing (measured at
    sf0.1: apply-changes 2.55s -> 1.61s, stats 1.53s -> 0.88s median
    without it).  Keep the default for narrow consumers (projection,
    prefix filter) where the widening shuffle is the only exchange and
    buys 32-wide projection + Arrow encode.
    """
    cache = _reader_cache(spark)
    key = (sf_dir, "__synth_listing__", widen)
    hit = cache.get(key)
    if hit is not None:
        return hit
    li = load_table(spark, sf_dir, "lineitem")
    out = listing_projection(li)
    out = widen_scan(out, f"{sf_dir}/lineitem.parquet") if widen else out
    cache[key] = out
    return out


def listing_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED synthetic listing shared by the maintenance suite
    (vacuum / compaction / zorder / partition-advisor / prune audits).

    Every maintenance query plans over the SAME manifest relation; at
    100 TB that relation is the table's manifest (millions of rows for
    billions of files) and a maintenance sweep reads it several times
    per session — so it is a session model like the ANN exact/
    membership relations: built once (widened to session parallelism,
    persisted), served warm, released by ``clear_model_cache``.  A
    DERIVED kind — rebuilt from data by design, deliberately not
    persisted by models.py — and the cold build is priced in
    BENCH_FULL.json's cold_sec like every other session model."""
    def build():
        df = synth_listing(spark, sf_dir, widen=True).persist()
        df.count()
        return (df,)

    return cached(spark, ("synth_listing", sf_dir), build)[0]


def size_cents(col: F.Column | None = None) -> F.Column:
    """Whole-cent listing size: half-up rounding of ``price * 100``.

    Algebraic twin of ``CAST(round(p * 100) AS BIGINT)`` (the oracle's
    form, :data:`SYNTH_LISTING_SQL`): ``F.round`` on DOUBLE routes
    every row through a BigDecimal construction — measured ~0.16 s of
    SERIAL time at sf0.1, paid inside the 1-row-group scan task where
    it cannot parallelize — while this form stays in primitive
    whole-stage codegen and costs ~nothing.

    NOT the classic ``floor(x + 0.5)``: that addition can round UP in
    the last ulp (x = 0.49999999999999994 + 0.5 == 1.0 in doubles —
    the well-known Math.round defect), diverging from true HALF_UP.
    Instead the fraction is compared directly: ``floor(x) + (x -
    floor(x) >= 0.5)``.  For non-negative doubles ``x - floor(x)`` is
    EXACT (Sterbenz: x and floor(x) are within a factor of two for
    x ≥ 1, and floor is 0 below 1), so the comparison reproduces
    HALF_UP bit-for-bit on every non-negative input — pinned on the
    fixtures by test_size_cents_equals_round and on adversarial
    ulp-boundary values by test_size_cents_half_up_ulp_boundaries.
    """
    if col is None:
        col = F.col("l_extendedprice")
    scaled = col * 100
    return F.floor(scaled) + (scaled - F.floor(scaled) >= F.lit(0.5)).cast(
        "long"
    )


def listing_key_column() -> F.Column:
    """THE canonical listing-key template
    (``data/<rf>/<ok>/part-<ln>.parquet``) as a Column — single source
    of truth for every consumer (:func:`listing_projection`, the
    manifest diff/apply string-key fallback); the SQL twin lives in
    ``SYNTH_LISTING_SQL``.  ``concat`` nulls on any NULL component."""
    return F.concat(
        F.lit("data/"),
        F.col("l_returnflag"),
        F.lit("/"),
        F.col("l_orderkey").cast("string"),
        F.lit("/part-"),
        F.col("l_linenumber").cast("string"),
        F.lit(".parquet"),
    )


def listing_projection(li: DataFrame) -> DataFrame:
    """The lineitem → listing column derivation shared by
    :func:`synth_listing` (batch) and the streaming listing source
    (``streaming/cdc.py``) — pure column expressions, so it applies
    identically to a batch scan and a readStream relation."""
    return li.select(
        listing_key_column().alias("key"),
        size_cents().alias("size"),
        F.date_format(F.col("l_shipdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
            "last_modified"
        ),
    )


#: DuckDB twin of :func:`synth_listing` (referenced as a CTE by the
#: manifest oracles).  Must stay value-identical to the Spark version.
SYNTH_LISTING_SQL = """
SELECT
  'data/' || l_returnflag || '/' || CAST(l_orderkey AS VARCHAR)
          || '/part-' || CAST(l_linenumber AS VARCHAR) || '.parquet' AS key,
  CAST(round(l_extendedprice * 100) AS BIGINT)                       AS size,
  strftime(l_shipdate, '%Y-%m-%dT%H:%M:%SZ')                         AS last_modified
FROM lineitem
"""
