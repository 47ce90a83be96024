"""Central query registry backing ``__spark_entry__.py``.

Every operator module registers its ``queries()`` entries (and, where
SQL-expressible, the DuckDB oracle twin) via :func:`register`.  The
driver contract requires identical column names between the Spark
DataFrame and the oracle result — alias both sides, always.

Registry queries keep session state through one small API:

- :func:`cached` — build-once, serve-warm SESSION state (trained
  models, indexes, materialized relations) in the session model cache
  ``spark._smsp_model_cache``, keyed by tuples.  Lookup, build and
  store happen in one place under a per-key lock, so two threads
  missing the same key build it once.  :func:`release` frees one
  payload's Spark resources; :func:`clear_model_cache` drops them all.
- the calling thread's CLEANUP SCOPE — QUERY-scoped state a registered
  query leaves behind for its caller's lazy evaluation
  (:func:`track_persist`, :func:`track_cleanup`,
  :func:`pin_partitions`, :func:`defer_cleanup`).  Each thread has its
  own scope, swept at that thread's next outermost registry call, so
  one client's call never tears down another client's live result.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import Any

from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


class _CleanupScope(threading.local):
    """One thread's query-scoped state: frames persisted and callbacks
    deferred by its registry calls, released at its NEXT outermost
    registry call (the owner's result is evaluated lazily by the
    caller after the function returns, so the owner cannot release
    them itself).  ``depth`` counts nested registered calls
    (certificates compose other registered queries); only depth 0
    sweeps, so a nested call never tears down its caller's state
    mid-construction."""

    def __init__(self) -> None:
        self.persists: list[DataFrame] = []
        self.cleanups: list[Callable[[], None]] = []
        self.depth = 0

    def entries(self) -> int:
        return len(self.persists) + len(self.cleanups)

    def sweep(self) -> None:
        while self.persists:
            self.persists.pop().unpersist(blocking=False)
        while self.cleanups:
            self.cleanups.pop()()


_SCOPE = _CleanupScope()


def track_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for deferred cleanup.

    Registry queries must use this instead of bare ``.persist()`` so
    that the thread's next registry call unpersists exactly these
    blocks — not the whole session cache (``clearCache`` would also
    evict caches the driver or embedding application created outside
    the registry).
    """
    return track_cleanup(df.persist())


def track_cleanup(df: DataFrame) -> DataFrame:
    """Register an ALREADY-persisted frame for deferred unpersist —
    for frames persisted with a bare ``.persist()`` inside a loop
    (where superseded generations are unpersisted eagerly) whose final
    generation must outlive the query function."""
    _SCOPE.persists.append(df)
    return df


def pin_partitions(df: DataFrame, eager_cleanup: bool) -> DataFrame:
    """Freeze a frame's partition layout for plans whose later passes
    key off ``spark_partition_id()`` (the sort-based percentile and
    global-ordinal operators): a recomputation could re-sample
    ``repartitionByRange`` boundaries and silently misalign the
    metadata the driver already collected.

    Registry queries (``eager_cleanup=False``) persist via
    :func:`track_persist` — released at the next registry call.
    Library callers (``eager_cleanup=True``) get ``localCheckpoint``:
    partitions materialize in executor storage with lineage truncated,
    so the layout can never be recomputed differently, nothing routes
    through the driver, and the blocks free when the frame is
    garbage-collected — no registry cleanup needed.  (localCheckpoint
    is not executor-loss-tolerant; at production scale prefer the
    registry/persist path or a reliable checkpoint dir.)
    """
    if eager_cleanup:
        return df.localCheckpoint(eager=True)
    return track_persist(df)


def defer_cleanup(fn: Callable[[], None]) -> None:
    """Run ``fn`` at the thread's next registry invocation (after
    persists are released).  For query-scoped state — scratch
    directories, conf overrides, temp views — that the caller's lazy
    evaluation still needs after the query function returns."""
    _SCOPE.cleanups.append(fn)


def prefer_parallel_exchanges(spark) -> None:
    """Query-scoped opt-out of size-driven AQE partition coalescing
    (the session default since r17): restore Spark's
    parallelism-first policy for THIS query's execution, reverting at
    the next registry invocation (the lazy-plan-safe conf-swap
    pattern, star_join_revenue's precedent).

    For plans whose exchanges are CPU-DENSE PER BYTE — fingerprint /
    shingle-hash aggregations where a kilobyte of shuffle rows carries
    seconds of aggregate evaluation — byte-sized coalescing collapses
    the post-shuffle stage onto one or two tasks and serializes the
    CPU (measured 2x on dedup_ngram_jaccard / doc_containment /
    lsh_tuning_curve, FLOOR_CONF_AB.json); parallelism-first keeps
    those stages wide.  Idempotent and re-entrant: a nested second
    call sees the policy already parallelism-first and does nothing.
    """
    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    old = spark.conf.get(key, None)
    if old == "true":
        return
    spark.conf.set(key, "true")

    def _restore(k=key, o=old):
        if o is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, o)

    defer_cleanup(_restore)


def session_dict(spark: SparkSession, attr: str) -> dict:
    """The dict stored on the session object as ``attr``, created on
    first use.  Session state lives ON the session (model cache, plan
    memo, reader memo), so its entries die with the session instead of
    pinning a stopped session's JVM state from a module global;
    ``setdefault`` makes first use race-free across threads."""
    return vars(spark).setdefault(attr, {})


def session_model_cache(spark: SparkSession) -> dict:
    """The session model cache (``spark._smsp_model_cache``), created
    on first use.  Registry code reaches it only through
    :func:`cached`; release entries with :func:`clear_model_cache`,
    never a bare ``.clear()`` (see that function's docstring)."""
    return session_dict(spark, "_smsp_model_cache")


_MISSING = object()


def cached(
    spark: SparkSession,
    key: tuple,
    build: Callable[[], Any],
    valid: Callable[[Any], bool] | None = None,
) -> Any:
    """The session model cache entry for ``key``, built by ``build()``
    and stored on a miss.

    Builds run under a per-key lock: of two threads missing the same
    key, one builds and the other is served its payload (two builds
    would overwrite one payload in the dict and leave its persisted or
    checkpointed blocks unreleasable).  Builders may call
    :func:`cached` for OTHER keys (derived indexes nest).  ``valid``
    screens a hit — a superseded plane width, a legacy store shape: a
    rejected entry is rebuilt, and the parts of it the new payload no
    longer holds are released.  Callers that must not touch the cache
    (test doubles, forced strategies) call their builder directly."""
    mc = session_model_cache(spark)
    hit = mc.get(key, _MISSING)
    if hit is not _MISSING and (valid is None or valid(hit)):
        return hit
    lock = session_dict(spark, "_smsp_build_locks").setdefault(
        key, threading.Lock()
    )
    with lock:
        hit = mc.get(key, _MISSING)
        if hit is not _MISSING and (valid is None or valid(hit)):
            return hit
        value = mc[key] = build()
    if hit is not _MISSING:
        kept = {id(p) for p in _parts(value)}
        release(tuple(p for p in _parts(hit) if id(p) not in kept))
    return value


def _parts(payload: Any) -> tuple:
    return payload if isinstance(payload, tuple) else (payload,)


def release(payload: Any) -> None:
    """Free the Spark resources a model-cache payload holds: a
    DataFrame is unpersisted AND its checkpoint blocks freed (each a
    no-op for the other shape — store-loaded frames persist,
    session-built ones localCheckpoint), a Broadcast is destroyed, a
    tuple is released member by member.  Other payloads (numpy
    arrays, scalars, bytes, pandas frames) hold nothing to free."""
    for p in _parts(payload):
        try:
            if isinstance(p, DataFrame):
                p.unpersist(blocking=False)
                # checkpointed frames never register in the
                # CacheManager: their blocks hang off the LogicalRDD's
                # backing RDD and would otherwise linger until the
                # ContextCleaner GCs it (ADVICE r11)
                analyzed = p._jdf.queryExecution().analyzed()
                if analyzed.getClass().getSimpleName() == "LogicalRDD":
                    analyzed.rdd().unpersist(False)
            elif isinstance(p, Broadcast):
                p.destroy()
        except Exception:
            pass  # session already stopped / blocks already freed


def clear_model_cache(spark: SparkSession) -> None:
    """Release the session model cache (trained quantizers, LSH
    indexes, CDC state, broadcast filters) WITHOUT leaking its
    payloads (see :func:`release`).  This — not
    ``spark._smsp_model_cache.clear()`` — is the supported way to drop
    models (a bare ``clear()`` orphans the persisted blocks in the
    BlockManager with no reachable handle).  The plan memo is dropped
    WITH the models: memoized plans may reference the destroyed
    broadcasts/persisted frames, and serving one after this call would
    fail at evaluation time."""
    session_dict(spark, "_smsp_plan_cache").clear()
    mc = session_model_cache(spark)
    while mc:
        release(mc.popitem()[1])


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Cleanup between registry calls: release only the state
            # THIS thread's prior registry queries left behind (its
            # cleanup scope).  By the time the thread requests its next
            # query, its previous result is materialized, so this frees
            # executor memory without evicting anything still needed —
            # without touching caches created outside the registry, and
            # without touching another thread's live results.  Only the
            # OUTERMOST registered call sweeps (see _CleanupScope).
            scope = _SCOPE
            if scope.depth == 0:
                scope.sweep()
            # Plan memoization (prepared-statement reuse): DataFrames
            # are immutable LAZY plans, so re-serving one is
            # semantically identical to rebuilding it, while skipping
            # the per-call py4j expression construction + analysis
            # (50-700 ms — up to half a floor-class query's wall).
            # A query whose call put entries in the cleanup scope is
            # NOT memoized: its returned plan depends on query-scoped
            # state (scratch spools, conf overrides, persisted
            # intermediates) that the thread's next outermost registry
            # call tears down.  Nested calls never sweep, so scope
            # growth across ``fn`` is exactly this call's entries.
            memo = session_dict(spark, "_smsp_plan_cache")
            # The memo key carries every piece of session state a
            # plan CONSTRUCTION reads: the session TIMEZONE (manifest
            # timestamp fusions branch on it via _utc_session),
            # shuffle.partitions (widen_scan / _keyed_parts bake it
            # into repartition widths), and defaultParallelism
            # (row-aware widening caps at it).  A session that changes
            # any of these gets a fresh plan, not a stale one.
            # IMMUTABLE-FIXTURE ASSUMPTION (documented limit): plans
            # may also capture driver-collected fixture data (e.g.
            # similarity_topk's broadcast query matrix) and parquet
            # footer metadata; rewriting files under sf_dir mid-
            # session serves a stale plan — the harness fixtures are
            # read-only by contract (TESTDATA.md), so this is safe
            # here; an embedding application mutating its inputs must
            # clear spark._smsp_plan_cache itself.
            key = (
                name,
                sf_dir,
                spark.conf.get("spark.sql.session.timeZone", "UTC"),
                spark.conf.get("spark.sql.shuffle.partitions", "200"),
                spark.sparkContext.defaultParallelism,
            )
            plan = memo.get(key)
            if plan is not None:
                return plan
            before = scope.entries()
            scope.depth += 1
            try:
                df = fn(spark, sf_dir)
            finally:
                scope.depth -= 1
            if scope.entries() == before:
                memo[key] = df
            return df

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module for its registration side effects."""
    from s3_manifest_spark.operators import (  # noqa: F401
        manifest_queries,
        lakehouse,
        ingest,
        corpus,
        relational,
        bpe,
        dedup,
        graph,
        retrieval,
        semdedup,
        similarity,
        text,
        multimodal,
        joins_advanced,
        ml,
        analytics,
        timeseries,
        curation,
        quantiles,
    )
    from s3_manifest_spark.functions import scalar  # noqa: F401
    from s3_manifest_spark.streaming import (  # noqa: F401
        boilerplate,
        cdc,
        heavy_hitters,
        index_update,
        knn_index,
        windows,
    )
