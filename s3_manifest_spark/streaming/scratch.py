"""The drain layer: the one place a bounded streaming maintainer's
plumbing lives.

Every registered ``stream_*_live`` query replays a fixture as a file
stream, drains it with ``availableNow`` and stops.  The maintainers
(``windows``, ``cdc``, ``boilerplate``, ``index_update``,
``knn_index``, ``heavy_hitters``) keep only their sink body and their
policy; this module owns the rest:

- **Spool identity.**  A stream source watches a directory of files,
  so a fixture is staged as a spool directory first.
  :func:`build_spool` names it by a sha256 over every source file's
  absolute path, mtime_ns and size plus a writer-format version, and
  per uid: a regenerated fixture, a same-basename tree from another
  root or a format change gets a fresh spool.  It is built in a
  private staging directory and renamed into place with its ready
  marker inside, so a reader never lists half-written files, racing
  builders keep one winner, and markerless debris self-heals.
  :func:`frame_spool` stages a DataFrame as :data:`SPOOL_FILES`
  files; the file count is the micro-batch's scan width, and
  ``availableNow`` without ``maxFilesPerTrigger`` still takes every
  file in one micro-batch.  Spools are the only scratch that outlives
  a call: they are reused across calls and sessions.
- **Scratch lifetime.**  Everything else lives exactly as long as the
  call that made it.  The checkpoint is a temporary directory removed
  when :func:`drain` returns.  An index or snapshot store
  (:func:`scratch_store`) is removed by the calling thread's next
  outermost registry call (``registry.defer_cleanup``), because the
  caller still reads it lazily after the query returns.
- **Sinks.**  A memory sink (``sink`` is a table name) drains into a
  driver-memory table and returns it; the query name doubles as the
  table name, and two active queries cannot share a name — the drain
  lock (below) keeps two threads draining the same query apart.  A
  ``foreachBatch`` sink (``sink`` is a function) runs on the driver
  per micro-batch and writes executor-side; index stores use one
  overwritten ``batch<N>`` subdirectory per micro-batch
  (:func:`write_batch`), so a re-delivered batch replaces its own
  rows instead of duplicating them.
- **Conf scoping.**  The shuffle width at query start fixes the number
  of state stores; ``partitions`` sets it for the drain only
  (:data:`STREAM_SHUFFLE_PARTITIONS` by default, ``None`` leaves the
  session's width alone).  A drain's state stores keep no committed
  version in the heap (:data:`DRAIN_RETAINED_BATCHES`), so a finished
  drain leaves no state maps behind.  Prior values are restored on
  exit.  The confs are session-wide, so one lock per session keeps
  drains on that session from overlapping.
- **No-data guard.**  A drain skips Spark's trailing no-data
  micro-batch (:data:`DRAIN_NO_DATA_BATCHES`) unless its output
  depends on it: an append-mode streaming aggregation keeps Spark's
  default (:func:`_drain_no_data_conf`).
- **Progress.**  Each drain's ``recentProgress`` is kept on the
  session under its family name (:func:`_record_progress`).

Scratch location: a RAM-backed filesystem is free speed for scratch
whose lifetime is the call.  Measured on the sf0.1 drains, a
checkpoint on ``/dev/shm`` instead of a disk-backed ``/tmp`` saves
10-18% wall clock (stream_cdc_apply_live 2.72s -> 2.22s,
stream_dedup_live 1.32s -> 1.14s; fsync-heavy commit-log writes
dominate the difference).  Production streaming checkpoints are
DURABLE state and belong on durable storage (HDFS/S3/EBS); this
policy applies only to drains whose checkpoint lifetime is the call.
An explicit ``$TMPDIR`` always wins.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from s3_manifest_spark.registry import defer_cleanup, session_dict

#: Files per staged spool: the ``availableNow`` micro-batch's scan
#: width.  A single-file spool ran every drain's addBatch projection
#: in ONE task before the state shuffle (measured ~0.9 s of serial
#: addBatch for the sf0.1 listing feed).
SPOOL_FILES = 8

#: State-store partition count for the fixture drains.  The number of
#: state stores (and per-micro-batch task waves, checkpoint files,
#: store commits) is fixed by shuffle.partitions WHEN THE QUERY STARTS;
#: 32 stores for a bounded fixture drain is pure overhead.  On a real
#: cluster this is sized to executor count × cores — it's a per-query
#: knob, which is exactly why it's scoped here and not in session.py.
#: (Measured on the sf0.1 drains: 8 → 4 stores saves ~25%; 2 is flat.)
STREAM_SHUFFLE_PARTITIONS = "4"

#: Spark (by default) appends a NO-DATA micro-batch after the last data
#: batch whenever the watermark advanced, so stateful operators can
#: evict expired state and append-mode window aggregations can EMIT
#: their finalized windows.  For these bounded availableNow drains the
#: extra batch is pure machinery: every registered drain is either a
#: complete-mode aggregation (full state re-emitted each data batch),
#: an update-mode stateful map (emits only on state change; no input →
#: no change), an INNER time-bound stream-stream join (emits on match
#: during data batches; the no-data batch only evicts buffered state)
#: or a stateless foreachBatch maintainer — none is the append-mode
#: *aggregation* shape whose output depends on post-watermark emission.
#: The no-data batch still pays a full trigger + offset/commit WAL +
#: state-store commit on every state partition: measured on the sf0.1
#: fixtures it fires for stream_dedup_live and stream_join_live (2
#: batches → 1) and costs 26-30% of their wall (interleaved A/B
#: min-of-6: dedup 1.31→0.97 s, join 2.12→1.49 s; replicated
#: 1.80→1.01 / 2.44→1.51 in a second window), identical output rows.
#: On an unbounded production stream the default stays on — this is
#: drain-scoped, like the partition sizing above.
DRAIN_NO_DATA_BATCHES = "false"

#: State versions an HDFS-backed state store keeps in the heap after a
#: commit.  Spark keeps 2, so a finished drain's providers hold their
#: last versions' maps until the next maintenance pass (60 s by
#: default).  A drain is over when it returns; a version is reloaded
#: from its checkpoint files only by a later micro-batch of the same
#: multi-batch drain.  Measured on the sf0.01 CDC drain:
#: ``stateOperators[0].memoryUsedBytes`` 10,353,984 -> 640.
DRAIN_RETAINED_BATCHES = "0"


def scratch_base() -> str:
    """Base directory for ephemeral drain scratch: ``$TMPDIR`` when the
    user set one, else ``/dev/shm`` when present and writable, else the
    platform default temp dir."""
    # Read $TMPDIR directly: tempfile.gettempdir() caches its answer
    # process-wide at FIRST call, so an override exported after any
    # earlier gettempdir() call would be silently ignored.  Validate
    # it the way gettempdir validates its candidates (isdir + W_OK):
    # a $TMPDIR pointing at a missing/unwritable path falls through to
    # /dev/shm / platform default instead of making every drain's
    # mkdtemp raise (ADVICE r7).
    tmpdir = os.environ.get("TMPDIR")
    if tmpdir and os.path.isdir(tmpdir) and os.access(tmpdir, os.W_OK):
        return tmpdir
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return shm
    return tempfile.gettempdir()


def build_spool(
    name: str,
    src_paths: list[str] | tuple[str, ...],
    version: str,
    build,
) -> str:
    """Concurrency-safe, content-fingerprinted spool builder (see the
    module docstring's spool identity).  ``build`` receives the
    staging directory path and must write the spool's data files into
    it.  Returns the ready spool path."""
    import hashlib
    import uuid

    parts = []
    for p in src_paths:
        st = os.stat(p)
        parts.append(f"{os.path.abspath(p)}|{st.st_mtime_ns}|{st.st_size}")
    tag = hashlib.sha256(("||".join(parts) + f"|{version}").encode()).hexdigest()[:16]
    spool = os.path.join(scratch_base(), f"smsp-{name}-{os.getuid()}-{tag}")
    done = os.path.join(spool, "_SPOOL_READY")
    if os.path.exists(done):
        return spool
    # Markerless debris: re-check the marker right before touching the
    # directory, then move it aside atomically and remove the moved
    # copy — never rmtree the live final path directly.
    if os.path.isdir(spool) and not os.path.exists(done):
        debris = f"{spool}.__debris_{uuid.uuid4().hex}__"
        try:
            os.rename(spool, debris)
            shutil.rmtree(debris, ignore_errors=True)
        except OSError:
            pass  # a concurrent builder renamed its spool in first
    if os.path.exists(done):
        return spool
    staging = f"{spool}.__build_{uuid.uuid4().hex}__"
    try:
        build(staging)
        open(os.path.join(staging, "_SPOOL_READY"), "w").close()
        os.rename(staging, spool)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        if not os.path.exists(done):
            raise
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return spool


def frame_spool(
    name: str, src: str, frame: Callable[[], DataFrame], version: str
) -> str:
    """Stage ``frame()`` — a DataFrame derived from the file ``src`` —
    as a :data:`SPOOL_FILES`-file parquet spool; returns its path.
    Bump ``version`` when what ``frame`` stages changes shape, so a
    stale spool is never reused."""
    return build_spool(
        name,
        [src],
        f"{version}x{SPOOL_FILES}",
        lambda staging: frame()
        .repartition(SPOOL_FILES)
        .write.mode("overwrite")
        .parquet(staging),
    )


def open_spool(
    spark: SparkSession, spool: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """A parquet file stream over ``spool``.  The file source needs an
    explicit schema, so it is probed with a footer-only batch read.
    ``max_files_per_trigger`` splits the drain into micro-batches of
    that many files (unset: one micro-batch)."""
    schema = spark.read.parquet(spool).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(spool)


def scratch_store(kind: str) -> str:
    """A fresh store directory for one drain's output, removed at the
    calling thread's next outermost registry call."""
    path = tempfile.mkdtemp(prefix=f"smsp-{kind}-", dir=scratch_base())
    defer_cleanup(lambda: shutil.rmtree(path, ignore_errors=True))
    return path


def write_batch(df: DataFrame, store: str, batch_id: int) -> None:
    """Write one micro-batch's rows to ``store/batch<batch_id>``,
    overwriting: foreachBatch may re-deliver a batch id after a
    failure, and an append would duplicate the batch's rows.  Writes
    run at full stage width (a ``coalesce`` here would narrow the
    upstream stages to its task count)."""
    df.write.mode("overwrite").parquet(os.path.join(store, f"batch{batch_id}"))


def read_store(spark: SparkSession, store: str) -> DataFrame:
    """Every row a drain wrote to ``store`` with :func:`write_batch`."""
    return spark.read.option("recursiveFileLookup", "true").parquet(store)


@contextlib.contextmanager
def _drain_confs(
    spark: SparkSession,
    partitions: str | None = STREAM_SHUFFLE_PARTITIONS,
    no_data_batches: str = DRAIN_NO_DATA_BATCHES,
):
    """Scoped session confs for a bounded availableNow drain: the
    state-store partition count (``None`` leaves the session's shuffle
    width alone), the trailing no-data micro-batch switch and the
    state versions kept in memory (:data:`DRAIN_RETAINED_BATCHES`).
    Restores prior values on exit.

    The confs are session-wide, so the scope holds the session's drain
    lock throughout: two overlapping scopes would each save the
    other's values and restore them last.  Not re-entrant — nothing
    that runs inside a drain (a sink included) may start another."""
    pairs = {
        "spark.sql.streaming.noDataMicroBatches.enabled": no_data_batches,
        "spark.sql.streaming.maxBatchesToRetainInMemory": DRAIN_RETAINED_BATCHES,
    }
    if partitions is not None:
        pairs["spark.sql.shuffle.partitions"] = partitions
    # setdefault: first use is race-free across threads (session_dict)
    with vars(spark).setdefault("_smsp_drain_lock", threading.Lock()):
        old = {k: spark.conf.get(k, None) for k in pairs}
        for k, v in pairs.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, o in old.items():
                if o is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, o)


def _has_streaming_aggregation(df: DataFrame) -> bool:
    """True when the streaming frame's analyzed logical plan contains
    an aggregation — the shape whose append-mode output is emitted by
    watermark advance (possibly only in the trailing no-data batch).
    Conservative by construction: any Aggregate in the plan counts."""
    try:
        return "Aggregate" in df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return True  # can't prove it's safe -> keep Spark's default


def _drain_no_data_conf(df: DataFrame, mode: str) -> str:
    """GUARD: DRAIN_NO_DATA_BATCHES='false' is only sound
    for shapes whose output cannot depend on the trailing no-data
    batch — complete-mode aggs, update-mode stateful maps, inner
    time-bound stream-stream joins, stateless sinks (every drain
    registered today).  An APPEND-MODE STREAMING AGGREGATION emits a
    finalized window only when the watermark passes it, i.e. often
    exactly IN the no-data batch — skipping it would silently drop the
    last windows and fail oracles far from the cause.  Enforce the
    invariant in code, not a comment: such a drain keeps Spark's
    default (the no-data batch fires)."""
    if mode == "append" and _has_streaming_aggregation(df):
        return "true"
    return DRAIN_NO_DATA_BATCHES


def _record_progress(spark: SparkSession, q, family: str) -> None:
    """Keep ``q.recentProgress`` as the session's last progress of
    ``family`` (``spark._smsp_drain_progress``).  Rows carry
    ``durationMs`` (triggerExecution / addBatch / walCommit /
    commitOffsets / queryPlanning / getBatch / latestOffset) and
    ``stateOperators`` commit metrics, so a drain's wall decomposes
    into data work, commit-log fsyncs, state-store commits and
    start/stop machinery.  Never raises: observability must not fail a
    drain (a progress payload Spark changes shape on is dropped, not
    fatal)."""
    try:
        progress = session_dict(spark, "_smsp_drain_progress")
        progress[family] = [
            p if isinstance(p, dict) else json.loads(str(p))
            for p in q.recentProgress
        ]
    except Exception:  # pragma: no cover - defensive by contract
        pass


def drain(
    df: DataFrame,
    family: str,
    sink: str | Callable[[DataFrame, int], None],
    mode: str = "append",
    partitions: str | None = STREAM_SHUFFLE_PARTITIONS,
) -> DataFrame | None:
    """Run one ``availableNow`` drain of the streaming frame ``df`` to
    completion (module docstring has the contract).

    ``sink`` is a memory-table name — the drained table is returned,
    resolved inside the drain scope so a concurrent drain of the same
    name cannot swap it — or a ``foreachBatch`` function (returns
    None).  ``family`` names the drain's progress record."""
    spark = df.sparkSession
    memory = isinstance(sink, str)
    with _drain_confs(
        spark, partitions, _drain_no_data_conf(df, mode)
    ), tempfile.TemporaryDirectory(prefix="smsp-ckpt-", dir=scratch_base()) as ckpt:
        writer = df.writeStream.outputMode(mode).option("checkpointLocation", ckpt)
        if memory:
            writer = writer.format("memory").queryName(sink)
        else:
            writer = writer.foreachBatch(sink)
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        _record_progress(spark, q, family)
        return spark.table(sink) if memory else None
