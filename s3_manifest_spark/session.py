"""SparkSession factory with the engine's canonical configuration.

The settings here are correctness-relevant (UTC session time zone and
millisecond parquet timestamps reproduce the reference's tz-naive-UTC,
ms-precision output — /root/reference/src/main.rs:140-144,385) or
scale-relevant (AQE, skew-join handling, Arrow for the pandas-UDF
boundary).  Tests and bench.py both go through :func:`get_spark` so
every run sees identical semantics.

Transport.  On a ``local[...]`` master the driver JVM, the Python
daemon and its workers talk over Unix domain sockets instead of
loopback TCP (``spark.python.unix.domain.socket.*``).  On TCP every
Python task waited about 40 ms for its first input batch: a small
write held back by Nagle's algorithm until the peer's delayed ACK
timer (40 ms at least on Linux) fired.  A Unix socket has neither:
over one build's listing tasks the median wait fell from 41 to 0.3 ms
(4 vCPUs).  The sockets live in one directory per
driver process (:func:`_socket_dir`), which must be

* private: in this mode ``pyspark/daemon.py`` skips the secret
  handshake, so the directory's mode 0700 is the only access control;
* short: pyspark names each socket ``.<uuid4>.sock`` (42 characters)
  and ``sun_path`` holds 107, so the directory's path fits in 64.
  ``java.io.tmpdir``, pyspark's default, is often longer, and then
  session start fails with ``AF_UNIX path too long``.

A non-local master keeps TCP: the directory exists only on the
driver's host, and an executor's tmpdir (a YARN container's, say) is
far longer than 64 characters.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import socket
import sys
import tempfile

from pyspark.sql import SparkSession

# Pin BLAS pools to one thread per process BEFORE the JVM (and thus the
# Python workers, which inherit its environment) is launched.  Spark
# already runs one Python worker per core; letting each worker's
# OpenBLAS/MKL spawn a full pool oversubscribes cores×cores threads and
# turned a ~10 ms numpy matmul into seconds of contention.  Parallelism
# belongs to Spark's partitioning, not to nested BLAS pools.
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")


def _stat_checked_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_mtime_ns, st_size)`` differs from the stamp taken at
    its last read.

    PySpark's worker calls ``importlib.invalidate_caches()`` before
    every task (``worker_util.setup_spark_files``).  Before CPython
    3.13 that makes each cached ``zipimporter`` (16 for pyspark.zip,
    one per package directory) re-read its archive's central
    directory: about 0.2 s per task on a reused worker.  A rewritten
    or newly added archive is still read.  This package's ``__init__``
    imports this module in every worker that unpickles program code,
    so the shim lands there.  Delete it once requires-python >= 3.13,
    whose ``invalidate_caches`` only drops the cached directory.
    """
    import zipimport

    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls.invalidate_caches, "stamps"):
        return
    read, reread = zipimport._read_directory, cls.invalidate_caches
    stamps: dict[str, tuple[int, int] | None] = {}

    def stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def read_directory(archive):
        taken = stamp(archive)  # before the read: a rewrite mid-read re-reads
        files = read(archive)
        stamps[archive] = taken
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        now = stamp(self.archive)
        if files is not None and now is not None and stamps.get(self.archive) == now:
            self._files = files
        else:
            reread(self)

    invalidate_caches.stamps = stamps
    zipimport._read_directory = read_directory
    cls.invalidate_caches = invalidate_caches
    # Archives read before the shim have no stamp: read each once more.
    for archive in list(zipimport._zip_directory_cache):
        try:
            zipimport._zip_directory_cache[archive] = read_directory(archive)
        except zipimport.ZipImportError:
            pass


_stat_checked_zip_invalidation()

# Correctness configs: identical results on local[*] and a real cluster.
_SEMANTIC_CONFS = {
    # Reference emits tz-naive UTC timestamps at ms precision
    # (main.rs:140-144); DuckDB oracle comparisons need the same zone.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MILLIS",
    # ANSI off: out-of-range casts become NULL (the reference defaults
    # every unparseable value rather than erroring, main.rs:373-387).
    "spark.sql.ansi.enabled": "false",
    # Parquet TIMESTAMP(NANOS) columns (which Spark otherwise refuses to
    # read) load as raw nanosecond longs.  Harmless for us/ms-precision
    # files — they still load as timestamps — so this is safe session-wide.
    # Readers that may see a NANOS file (events) branch on the loaded
    # dtype and convert bigint→timestamp explicitly (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Scale configs: sized for local testing, but every one of these is the
# setting we would ship to a 1000-executor cluster (AQE re-plans at
# runtime, so shuffle.partitions is only an upper-bound hint there).
_SCALE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce post-shuffle partitions by SIZE (advisory 64 MB / min
    # 1 MB), not down to the cluster's parallelism (r17, measured
    # -20-30% across the floor/mid classes interleaved —
    # FLOOR_CONF_AB.json): with the default parallelism-first policy
    # a kilobyte-sized exchange still schedules #parallelism tasks of
    # pure overhead.  At scale partition counts are size-driven
    # either way, so the setting only stops the optimizer from
    # keeping tiny partitions alive for parallelism's sake.  Queries
    # whose exchanges are CPU-dense per byte (fingerprint aggregates:
    # dedup_ngram_jaccard, doc_containment, lsh_tuning_curve —
    # measured 2x worse size-coalesced) opt back into
    # parallelism-first per query via
    # registry.prefer_parallel_exchanges.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # 10 MB default broadcast threshold is fine; dims here are tiny and
    # we add explicit broadcast() hints where the dimension is known small.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # Arrow for the pandas-UDF boundary (similarity / multimodal ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Keep scan partitions full-sized so small files coalesce.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
}


#: pyspark's socket name is ``.<uuid4>.sock`` (42 characters) and
#: ``sun_path`` holds 107 bytes, so the directory's path holds at most
#: 107 - 1 - 42.
_SOCKET_DIR_MAX = 64


@functools.cache
def _socket_dir() -> str | None:
    """A private (mode 0700) directory for this driver's Unix sockets,
    made once per process under ``tempfile.gettempdir()`` if its path
    fits in :data:`_SOCKET_DIR_MAX` bytes, else under ``/tmp``, and
    removed at exit.  ``None`` when neither fits or the platform has
    no Unix sockets."""
    if not hasattr(socket, "AF_UNIX"):
        return None
    for base in dict.fromkeys((tempfile.gettempdir(), "/tmp")):
        try:
            path = tempfile.mkdtemp(prefix="spark-uds-", dir=base)
        except OSError:
            continue
        if len(os.fsencode(path)) <= _SOCKET_DIR_MAX:
            atexit.register(shutil.rmtree, path, ignore_errors=True)
            return path
        os.rmdir(path)
    return None


def _transport_confs(master: str) -> dict[str, str]:
    """The Unix-socket confs for a ``local[...]`` master with a socket
    directory (see the module docstring); none otherwise."""
    if master != "local" and not master.startswith("local["):
        return {}
    path = _socket_dir()
    if path is None:
        return {}
    return {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": path,
    }


def get_spark(
    app_name: str = "s3-manifest-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the canonical SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster the submitter sets master/deploy-mode and this factory
    only contributes conf.
    """
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = {**_SEMANTIC_CONFS, **_SCALE_CONFS, **_transport_confs(master)}
    for k, v in {**confs, **(extra_confs or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate can return a pre-existing session whose builder confs
    # were ignored; re-assert the runtime-settable semantic confs.
    for k, v in _SEMANTIC_CONFS.items():
        spark.conf.set(k, v)
    return spark
