"""Parallel S3 object-listing connector (reference operators S1/S2/R1/
C1/C2 — the reference's main.rs:86-118, 187-257, 294-319).

The reference lists serially: one tokio task, 1000 keys per round trip
(main.rs:187-257) — its throughput ceiling is ~page_size/RTT.  Here the
keyspace is split into shards (delimiter-discovered common prefixes)
and the shards are paged concurrently: at most ``defaultParallelism``
Spark tasks, each paging its slice of the shards on a small thread
pool over one client, so listing throughput scales with requests in
flight instead of being pinned to one connection — and a task's fixed
Python cost is paid once per slice, not once per shard (SURVEY.md §4,
"serial listing" anti-pattern row).  The shard table is an Arrow local
relation (a ``LocalTableScan``, no Python RDD under it), so a listing
task makes one Python pass: the paging itself.

Dataflow::

    discover_shards (driver; start_after         # StartAfter on every listing:
                     honoured)                   #   only the tail is walked
        ├ flat probe: one page_size page         # on the first level's pool: no
        │                                        #   extra round trip
        └ delimiter BFS, one round trip a level  # skipped after the first level's
                                                 #   round trip when the probe
                                                 #   page is not truncated
        → shards left to page:
            local_relation(shard table)          # Arrow local relation:
                                                 #   min(shards, defaultParallelism)
                                                 #   contiguous slices, no shuffle
            → mapInArrow(_list_shards per slice) # the task's one Python pass;
                                                 #   MAX_IN_FLIGHT requests in
                                                 #   flight; one page → one
                                                 #   Arrow batch
              via _paged_ahead                   # a pager thread requests the
                                                 #   next round while the task
                                                 #   writes: at most
                                                 #   2 x MAX_IN_FLIGHT pages held
        → no shard left (the probe page is the   # e.g. a short refresh tail
          whole listing, or the bucket is
          shallower than the BFS):
            local_relation(direct objects)       # the same Arrow local relation
                                                 #   path, no Python task
        → list_objects_df: listing DataFrame(key, size, last_modified,
          etag, storage_class), each task's pages as Arrow batches
        → manifest_from_s3 into a local          # no Spark write job:
          directory (snappy codec, not           #   _task_pages is the one
          single-object):                        #   paging code for both
            shards: mapInArrow(write task)       # each task derives its pages
                                                 #   (core.manifest_batch) and
                                                 #   writes its own part(s)
                                                 #   (core.write_parts); the job
                                                 #   collects one summary row per
                                                 #   part, then the driver
                                                 #   writes _SUCCESS
            no shard: the driver derives and     # no Spark plan for the write
                      writes the direct objects
            → returns the parts read back        # no job; lists nothing again
        → any other output:
            derive_manifest(...)                 # manifest/core.py
            → write_manifest(...)                # hdfs://, s3a://, another
                                                 #   codec, single-object mode
            → upload_parquet_boto3(...)          # s3:// without hadoop-aws: its
                                                 #   tasks write through the
                                                 #   same core.write_parts

boto3 is import-gated (an optional dependency): pass any picklable
zero-arg ``client_factory`` returning an object with ``list_objects_v2``
(see sources.fake_s3 for the test double with real S3 pagination
semantics).
"""

from __future__ import annotations

import os
import queue
import random
import re
import shutil
import threading
import time
import uuid
from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import closing
from itertools import islice
from urllib.parse import urlparse

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from s3_manifest_spark.sources.tables import local_relation

#: Listing rows mirror rusoto_s3::Object's consumed fields (main.rs:209,
#: 361-390) — nullable, RFC3339 string mtime, exactly what
#: derive_manifest expects.
LISTING_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("size", T.LongType(), True),
        T.StructField("last_modified", T.StringType(), True),
        T.StructField("etag", T.StringType(), True),
        T.StructField("storage_class", T.StringType(), True),
    ]
)

PAGE_SIZE = 1000  # the reference's max_keys (main.rs:192)


def parse_s3_uri(uri: str) -> tuple[str, str]:
    """``s3://bucket/prefix`` → (bucket, prefix) — main.rs:86-104."""
    if not uri.startswith("s3://"):
        raise ValueError(f"not an s3 uri: {uri!r}")
    rest = uri[len("s3://"):]
    if not rest or rest.startswith("/"):
        raise ValueError(f"missing bucket in {uri!r}")
    bucket, _, prefix = rest.partition("/")
    return bucket, prefix


def parse_output_location(output: str) -> tuple[str | None, str]:
    """Output arg → (bucket | None, path/key) — main.rs:106-118."""
    if output.startswith("s3://"):
        bucket, key = parse_s3_uri(output)
        if not key:
            raise ValueError(f"missing key in output {output!r}")
        return bucket, key
    return None, output


def make_boto3_client_factory(
    endpoint_url: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    region: str | None = None,
    max_attempts: int = 3,
) -> Callable[[], object]:
    """Picklable boto3 client factory mirroring the reference's client
    config (custom endpoint, static-or-default credential chain,
    3-attempt adaptive retry — main.rs:174, 294-319).  Import-gated:
    raises only when actually called without boto3 installed."""

    def factory():
        import boto3  # gated: not available in every environment
        from botocore.config import Config

        kwargs: dict = {
            "config": Config(retries={"mode": "adaptive", "max_attempts": max_attempts})
        }
        if endpoint_url:
            kwargs["endpoint_url"] = endpoint_url
        if region:
            kwargs["region_name"] = region
        if access_key and secret_key:
            # both provided → static creds; else default provider chain
            # (matches main.rs:303-312)
            kwargs["aws_access_key_id"] = access_key
            kwargs["aws_secret_access_key"] = secret_key
        return boto3.client("s3", **kwargs)

    return factory


#: Error codes S3 sends with a 4xx status when the caller should slow
#: down and retry rather than give up.
THROTTLE_CODES = frozenset(
    {
        "SlowDown",
        "Throttling",
        "ThrottlingException",
        "RequestLimitExceeded",
        "TooManyRequests",
    }
)


def _fatal(e: Exception) -> bool:
    """True for an error response that retrying cannot fix: a 4xx
    status whose code is not a throttling code (AccessDenied,
    NoSuchBucket, ...).  Reads the ``response`` dict botocore's
    ``ClientError`` carries, so botocore stays optional."""
    resp = getattr(e, "response", None)
    if not isinstance(resp, dict):
        return False
    status = resp.get("ResponseMetadata", {}).get("HTTPStatusCode")
    code = resp.get("Error", {}).get("Code")
    return (
        isinstance(status, int)
        and 400 <= status < 500
        and code not in THROTTLE_CODES
    )


def _retry(fn, attempts: int = 3, base_ms: int = 100):
    """Exponential backoff + jitter around an API call (main.rs:174,
    196-206).  boto3 retries transport errors itself; this guards
    non-boto clients and throttling responses uniformly.  A fatal
    error response (:func:`_fatal`) raises on its first attempt."""
    for attempt in range(attempts):
        try:
            return fn()
        except Exception as e:
            if attempt == attempts - 1 or _fatal(e):
                raise
            delay = (base_ms / 1000.0) * (2**attempt) * (0.5 + random.random())
            time.sleep(delay)


def _pages(client, **request) -> Iterator[dict]:
    """Every ListObjectsV2 response page of one listing, following
    continuation tokens (``StartAfter`` rides on the first request
    only; the token already encodes the position).  A truncated page
    must carry a new token: one with no token, or with the token it
    was requested with, would restart or repeat the listing and
    duplicate keys forever, so it raises instead.  Keys must strictly
    increase across the whole listing — a page that replays or
    reorders keys raises before it is yielded, rather than emitting
    duplicates."""
    kw = request
    last = None
    while True:
        resp = _retry(lambda: client.list_objects_v2(**kw))
        for obj in resp.get("Contents", ()):
            key = obj["Key"]
            if last is not None and key <= last:
                raise RuntimeError(
                    f"ListObjectsV2 {request.get('Prefix', '')!r}: key "
                    f"{key!r} does not sort after {last!r}"
                )
            last = key
        yield resp
        if not resp.get("IsTruncated"):
            return
        token = resp.get("NextContinuationToken")
        if not token or token == kw.get("ContinuationToken"):
            raise RuntimeError(
                f"ListObjectsV2 {request.get('Prefix', '')!r}: truncated "
                f"page with continuation token {token!r} does not advance"
            )
        kw = {k: v for k, v in request.items() if k != "StartAfter"}
        kw["ContinuationToken"] = token


#: ListObjectsV2 requests one pager keeps in flight: discovery's driver
#: pool and each listing task's pool.
MAX_IN_FLIGHT = 16


def _rounds(
    pagers: Iterable[tuple[str | None, Iterator[dict]]]
) -> Iterator[tuple[str | None, dict]]:
    """``(tag, page)`` for every page of every ``(tag, pager)``, with up
    to :data:`MAX_IN_FLIGHT` pagers advanced concurrently on one pool.

    Each round advances every active pager by one page on a thread pool
    and yields the round's pages in pager order before the next round
    starts.  So at most ``MAX_IN_FLIGHT`` pages are requested and not
    yet yielded, the output order is deterministic, a request's error
    (or ``_pages``' own) propagates out of this generator, and closing
    it early leaves no request running."""
    waiting = iter(pagers)
    active: list[tuple[str | None, Iterator[dict]]] = []
    with ThreadPoolExecutor(MAX_IN_FLIGHT) as pool:
        while True:
            active += islice(waiting, MAX_IN_FLIGHT - len(active))
            if not active:
                return
            pages = list(pool.map(lambda a: next(a[1], None), active))
            for (tag, _), page in zip(active, pages):
                if page is not None:
                    yield tag, page
            active = [a for a, page in zip(active, pages) if page is not None]


def _list_shards(
    client, prefixes: Iterable[str], **request
) -> Iterator[tuple[str, dict]]:
    """``(prefix, page)`` for every page of every prefix's listing,
    paged by :func:`_rounds` over one (thread-safe) client."""
    return _rounds((p, _pages(client, Prefix=p, **request)) for p in prefixes)


def _paged_ahead(items: Iterator) -> Iterator:
    """``items``' items in order, drawn on one pager thread through a
    hand-off of up to :data:`MAX_IN_FLIGHT` items, so the pager keeps
    requesting while the consumer writes what it already has.

    Over :func:`_list_shards` the consumer holds at most
    2 x ``MAX_IN_FLIGHT`` pages it has not yielded: a full hand-off,
    plus one round of ``_rounds`` that is in flight or yielded only in
    part.  An error in the pager thread raises here, in the consumer.
    Closing this generator stops the pager, which closes ``items`` on
    its own thread (so ``_rounds`` leaves no request running), and
    joins it."""
    handoff: queue.Queue = queue.Queue(MAX_IN_FLIGHT)
    stop = threading.Event()
    done = object()
    error: list[BaseException] = []

    def pager() -> None:
        try:
            with closing(items):
                for item in items:
                    handoff.put(item)
                    if stop.is_set():
                        return
        except BaseException as e:  # re-raised in the consumer
            error.append(e)
        handoff.put(done)

    thread = threading.Thread(target=pager, name="list-pager", daemon=True)
    thread.start()
    try:
        while (item := handoff.get()) is not done:
            yield item
        if error:
            raise error[0]
    finally:
        stop.set()
        # At most one put follows this drain (the pager checks stop
        # after each put), so the pager never blocks on a full hand-off.
        while True:
            try:
                handoff.get_nowait()
            except queue.Empty:
                break
        thread.join()


#: BFS levels :func:`discover_shards` expands at most.
DISCOVER_MAX_ROUNDS = 3


def discover_shards(
    client,
    bucket: str,
    prefix: str = "",
    delimiter: str = "/",
    target_shards: int = 64,
    start_after: str = "",
    page_size: int = PAGE_SIZE,
) -> tuple[list[str], list[dict]]:
    """Split the keyspace under ``prefix`` into disjoint shard prefixes
    via delimiter listings (S3 CommonPrefixes), BFS-expanding until
    ``target_shards`` is reached or nothing expands.

    Each BFS level's prefixes are listed CONCURRENTLY
    (:func:`_list_shards`; the calls are pure I/O waits) — a level with
    N prefixes costs ~1 round-trip instead of N.  Results are
    re-assembled in frontier order so shard discovery stays
    deterministic.

    Returns (shard_prefixes, direct_objects): objects that live at a
    listed level (not under any returned shard) come back as rows so
    coverage is exact — every key is in exactly one shard or in
    direct_objects.

    Alongside the first level, on the same pool, goes one flat page of
    the prefix (no delimiter, ``page_size`` keys).  When that page is
    not truncated it is the whole listing: discovery returns no shard
    and the page's objects after that one round trip.  A truncated
    page is discarded and the BFS goes on as if it had not been sent.

    ``start_after`` rides on every listing as S3 ``StartAfter``, so
    only the keyspace above the marker is walked: every direct object
    sorts above it, and every returned shard either holds a key above
    it or is one of the marker's own ancestor prefixes.  S3 leaves out
    a ``CommonPrefixes`` group that sorts at or below ``StartAfter``
    even when it holds keys above it — the group the marker itself
    falls in — so at each level that group is expanded without being
    asked for (a server that returns it anyway gets the same requests).
    It is the only prefix at or below the marker that is ever
    requested: at most one per level.
    """
    request = {"Bucket": bucket, "Delimiter": delimiter, "MaxKeys": PAGE_SIZE}
    if start_after:
        request["StartAfter"] = start_after
    flat = {k: v for k, v in request.items() if k != "Delimiter"}
    flat["MaxKeys"] = page_size
    # The probe, tagged None: the first page of _pages, so retry and the
    # key-order check apply to it.
    pagers: list[tuple[str | None, Iterator[dict]]] = [
        (None, islice(_pages(client, Prefix=prefix, **flat), 1))
    ]
    direct: list[dict] = []
    frontier = [prefix]
    for _ in range(DISCOVER_MAX_ROUNDS):
        pages: dict[str, list[dict]] = {p: [] for p in frontier}
        pagers += [(p, _pages(client, Prefix=p, **request)) for p in frontier]
        with closing(_rounds(pagers)) as level:  # a return leaves no request running
            for p, resp in level:
                if p is not None:
                    pages[p].append(resp)
                elif not resp.get("IsTruncated"):
                    return [], resp.get("Contents", [])
        pagers = []
        children: list[str] = []
        for p, resps in pages.items():  # frontier order
            groups = [cp["Prefix"] for r in resps for cp in r.get("CommonPrefixes", [])]
            d = -1
            if delimiter and start_after.startswith(p):
                d = start_after.find(delimiter, len(p))
            if d >= 0 and (held := start_after[: d + len(delimiter)]) not in groups:
                groups.insert(0, held)  # held <= marker < every returned group
            children += groups
            for r in resps:
                direct.extend(r.get("Contents", []))
        frontier = children
        if not frontier or len(frontier) >= target_shards:
            break  # else: not enough parallelism yet — expand one more level
    return frontier, direct


#: The ListObjectsV2 ``Contents`` field behind each LISTING_SCHEMA column.
_S3_FIELDS = {"key": "Key", "size": "Size", "last_modified": "LastModified",
              "etag": "ETag", "storage_class": "StorageClass"}
_ARROW_LISTING_SCHEMA = to_arrow_schema(LISTING_SCHEMA)
#: A ``Contents`` entry as a Spark struct, ``LastModified`` as RFC 3339 text.
_CONTENTS = T.StructType(
    [T.StructField(f, LISTING_SCHEMA[c].dataType) for c, f in _S3_FIELDS.items()]
)
#: One row per shard; the first row also carries discovery's direct objects.
_TASK_SCHEMA = T.StructType().add("shard", T.StringType()).add(
    "direct", T.ArrayType(_CONTENTS)
)


def _page_batch(contents: list[dict]) -> pa.RecordBatch:
    """ListObjectsV2 ``Contents`` entries as one LISTING_SCHEMA batch."""
    cols = {c: [o.get(f) for o in contents] for c, f in _S3_FIELDS.items()}
    cols["last_modified"] = [
        t.isoformat() if hasattr(t, "isoformat") else t for t in cols["last_modified"]
    ]
    return pa.RecordBatch.from_pydict(cols, schema=_ARROW_LISTING_SCHEMA)


def _shard_table(spark: SparkSession, shards: list[str], direct: list[dict]) -> DataFrame:
    """One row per shard as an Arrow local relation: min(rows,
    defaultParallelism) contiguous slices, no shuffle, and the task's
    pages are the only Python pass a listing task makes.  The direct
    objects ride on the first row as ``Contents`` entries, so a listing
    is this one relation, never a union."""
    entries = pa.StructArray.from_arrays(
        _page_batch(direct).columns, list(_S3_FIELDS.values())
    )
    direct_col = pa.ListArray.from_arrays(
        pa.array([0] + [len(direct)] * len(shards), pa.int32()), entries
    )
    table = pa.table({"shard": shards, "direct": direct_col})
    return local_relation(spark, table, _TASK_SCHEMA)


def _task_pages(
    client_factory: Callable[[], object],
    bucket: str,
    page_size: int,
    start_after: str,
    progress,
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[list[dict]]]:
    """``pages(batches)``: the ``Contents`` list of each page a listing
    task over shard-table ``batches`` lists.  The slice's direct objects
    come first, then every page of its shards, through
    :func:`_list_shards` on one pager thread (:func:`_paged_ahead`).
    Each list's length goes to ``progress`` on the task's own thread.
    Both the listing task and the manifest-writing task page this way."""
    request = {"Bucket": bucket, "MaxKeys": page_size}
    if start_after:
        request["StartAfter"] = start_after
    # Only the accumulator crosses into the task closure (it pickles by
    # reference); the progress object's thread/stream stay driver-side.
    acc = progress.accumulator if progress is not None else None

    def counted(contents: list[dict]) -> list[dict]:
        # Called in the task's own thread, never a pager thread:
        # Accumulator.add is an unlocked read-modify-write.
        if acc is not None:
            acc.add(len(contents))
        return contents

    def pages(batches: Iterator[pa.RecordBatch]) -> Iterator[list[dict]]:
        mine: list[str] = []
        for b in batches:
            mine += b.column("shard").to_pylist()
            direct = b.column("direct").flatten().to_pylist()
            if direct:
                yield counted(direct)
        if mine:
            client = client_factory()  # one client per task, never pickled
            with closing(_paged_ahead(_list_shards(client, mine, **request))) as listed:
                for _, page in listed:
                    if page.get("Contents"):
                        yield counted(page["Contents"])

    return pages


def list_objects_df(
    spark: SparkSession,
    bucket: str,
    prefix: str = "",
    client_factory: Callable[[], object] | None = None,
    delimiter: str = "/",
    target_shards: int = 64,
    page_size: int = PAGE_SIZE,
    progress=None,
    start_after: str = "",
) -> DataFrame:
    """Listing DataFrame over ``s3://bucket/prefix``, parallel by shard.

    The prefix predicate is pushed into the API request itself (S2,
    main.rs:190).  The shards run in at most ``defaultParallelism``
    tasks with no shuffle; each task pages its shards through
    :func:`_list_shards` on one pager thread (:func:`_paged_ahead`),
    which keeps the next round's requests in flight while the task
    writes the pages it already has.  So a task holds at most
    2 x ``MAX_IN_FLIGHT`` pages (``page_size`` rows each) and the Arrow
    batch it is emitting — the reference's bounded-buffer flush loop
    (main.rs:236-246), which keeps paging while it writes, N-wide.

    ``progress`` (a :class:`~s3_manifest_spark.manifest.progress.
    ListingProgress`) gets its accumulator incremented by each emitted
    batch's row count — the live spinner's data feed (U1,
    main.rs:176-183).

    ``start_after`` makes the listing INCREMENTAL: only keys strictly
    greater than the marker are returned (S3 ``StartAfter``, pushed
    into the API like the prefix).  Feed it the previous manifest's
    ``max(Key)`` and only the tail of the keyspace is ever listed:
    discovery sends the marker on its listings too, so below the marker
    it requests only the marker's own ancestor groups
    (:func:`discover_shards`).  A tail that fits one ``page_size`` page
    costs one round trip (discovery's flat probe page is the whole
    listing); a longer one costs the BFS's round trip per level and
    then the shard paging, never O(bucket).  Composes with the
    CDC apply (``operators/manifest_queries.py``) for incremental
    manifest maintenance.  Note: S3 keys are append-sorted only by name — this
    captures keys ABOVE the marker, the common log/date-partitioned
    layout; arbitrary inserts need the full listing + ``manifest_diff``.

    When discovery leaves no shard to page (a tail or bucket that fits
    the probe page, or a bucket shallower than discovery's BFS), its
    direct objects are the whole listing: they already sit on the
    driver, so they become a local Arrow relation and the listing runs
    no Python task.  The driver adds their count to ``progress`` itself.
    :func:`manifest_from_s3` writes such a listing's manifest from the
    driver, with no Spark plan.
    """
    client_factory = client_factory or make_boto3_client_factory()
    shards, direct = discover_shards(
        client_factory(), bucket, prefix, delimiter, target_shards, start_after,
        page_size,
    )
    if not shards:
        if progress is not None:
            progress.accumulator.add(len(direct))
        return local_relation(spark, pa.table(_page_batch(direct)), LISTING_SCHEMA)
    pages = _task_pages(client_factory, bucket, page_size, start_after, progress)
    return _shard_table(spark, shards, direct).mapInArrow(
        lambda b: map(_page_batch, pages(b)), LISTING_SCHEMA
    )


#: One row per manifest part written by a listing task or the driver.
_PART_SUMMARY = (
    T.StructType()
    .add("file", T.StringType())
    .add("objects", T.LongType())
    .add("total_bytes", T.LongType())
    .add("bytes", T.LongType())
)
_ARROW_PART_SUMMARY = to_arrow_schema(_PART_SUMMARY)


def _part_dir(spark: SparkSession, path: str) -> str | None:
    """The absolute local directory :func:`manifest_from_s3` writes
    ``path``'s manifest parts into itself, or None when ``path`` goes
    to ``write_manifest``: a scheme other than ``file:``, no scheme
    while Hadoop's default filesystem is not local, or a session whose
    Parquet codec is not snappy (the rule of the driver writer,
    ``core._driver_table``)."""
    if spark.conf.get("spark.sql.parquet.compression.codec") != "snappy":
        return None
    url = urlparse(path)
    if url.scheme == "file":
        return os.path.abspath(url.path)
    default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    if url.scheme or urlparse(default_fs).scheme != "file":
        return None
    return os.path.abspath(path)


def _observed(summaries: DataFrame, observation) -> DataFrame:
    """``summaries`` observed into ``observation`` as the reference's run
    stats (object count and total bytes, main.rs:231, 284-289)."""
    from pyspark.sql import functions as F

    return summaries.observe(
        observation,
        F.coalesce(F.sum("objects"), F.lit(0)).alias("objects"),
        F.coalesce(F.sum("total_bytes"), F.lit(0)).alias("total_bytes"),
    )


def _manifest_to_dir(
    spark: SparkSession,
    out_dir: str,
    bucket: str,
    prefix: str,
    delimiter: str,
    client_factory: Callable[[], object],
    target_shards: int,
    observation,
    progress,
    start_after: str,
) -> DataFrame:
    """:func:`manifest_from_s3` into the local directory ``out_dir``,
    written straight from the listing's pages through the one part
    writer (``core.write_parts``), wherever the pages are.

    With shards, each listing task derives its pages
    (``core.manifest_batch``) and writes its own part(s), named
    ``part-<partition>-<job>-c<n>.snappy.parquet`` so a retried task
    overwrites its own; the job collects one summary row per part
    instead of running Spark's write job.  With no shard, the driver
    derives and writes the direct objects, and builds no Spark plan for
    the write.  Either way the directory is replaced first, a listing
    of no rows writes one 0-row part, ``_SUCCESS`` is written after
    every task has returned, and a failed build removes the directory.
    The summary rows pass through one ``observe`` when an
    ``observation`` is given: in the listing job, or on the driver path
    in a local relation of the driver's summary rows.  Returns the
    written parts read with ``MANIFEST_SCHEMA``: no inference, no job,
    and acting on the frame reads the parts, never the bucket."""
    from pyspark import TaskContext

    from s3_manifest_spark.manifest.core import (
        MANIFEST_SCHEMA,
        MAX_RECORDS_PER_FILE,
        manifest_batch,
        part_schema,
        write_parts,
    )

    shards, direct = discover_shards(
        client_factory(), bucket, prefix, delimiter, target_shards, start_after
    )
    pages = _task_pages(client_factory, bucket, PAGE_SIZE, start_after, progress)
    schema = part_schema(spark, MANIFEST_SCHEMA)
    job = uuid.uuid4()

    def parts(pid: int, batches, empty_part: bool = False) -> Iterator[tuple]:
        def open_part(n: int) -> str:
            return os.path.join(out_dir, f"part-{pid:05d}-{job}-c{n:03d}.snappy.parquet")

        for path, rows, total in write_parts(
            batches, schema, open_part, MAX_RECORDS_PER_FILE, empty_part, "Size"
        ):
            yield path, rows, total, os.path.getsize(path)

    def write_task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        derived = (manifest_batch(c, bucket, prefix, delimiter) for c in pages(batches))
        for row in parts(TaskContext.get().partitionId(), derived):
            yield pa.RecordBatch.from_arrays(
                [[v] for v in row], schema=_ARROW_PART_SUMMARY
            )

    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    elif os.path.lexists(out_dir):
        os.remove(out_dir)
    os.makedirs(out_dir)
    try:
        if shards:
            written = _shard_table(spark, shards, direct).mapInArrow(write_task, _PART_SUMMARY)
            if observation is not None:
                written = _observed(written, observation)
            summaries = [tuple(r) for r in written.collect()]
        else:
            if progress is not None:
                progress.accumulator.add(len(direct))
            summaries = list(parts(0, [manifest_batch(direct, bucket, prefix, delimiter)]))
        if not summaries:
            summaries = list(parts(0, [], empty_part=True))
        if not shards and observation is not None:
            _observed(local_relation(spark, summaries, _PART_SUMMARY), observation).collect()
        open(os.path.join(out_dir, "_SUCCESS"), "wb").close()
    except BaseException:
        shutil.rmtree(out_dir, ignore_errors=True)
        raise
    # Spark globs a read path: escape the directory's glob characters.
    literal = re.sub(r"([][{}*?\\])", r"\\\1", out_dir)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(f"file://{literal}")


def manifest_from_s3(
    spark: SparkSession,
    source_uri: str,
    output: str | None = None,
    delimiter: str = "/",
    client_factory: Callable[[], object] | None = None,
    target_shards: int = 64,
    observation=None,
    single_object: bool = False,
    progress=None,
    start_after: str = "",
    dest_client_factory: Callable[[], object] | None = None,
) -> DataFrame:
    """The reference CLI's whole job (main.rs:120-292): list → derive
    manifest → optionally write parquet.  Returns the derived manifest
    DataFrame.  Three paths write it, picked by what the call already
    shows (no option picks one):

    - **A local directory** (no scheme while Hadoop's default
      filesystem is local, or ``file:``), the session's Parquet codec
      snappy, and ``single_object`` False: the manifest is written
      straight from the listing's pages by the one Arrow part writer
      (:func:`_manifest_to_dir`).  Each listing task writes its own
      parts, and a listing with no shard (a short refresh) is written
      by the driver with no Spark plan.  The returned frame reads the
      written parts, so acting on it lists nothing; its columns are
      nullable, as Spark's file source makes them.  A later build into
      the same directory replaces the files it reads.
    - **S3 output**: the s3a:// filesystem when hadoop-aws is on the
      JVM classpath (streaming multipart upload — fixes the
      whole-file-in-RAM defect at main.rs:327-329), else the
      executor-side boto3 multipart sink
      (:mod:`s3_manifest_spark.sources.s3_upload`), the same per-task
      streaming shape without the jar, whose tasks write through the
      same part writer — so ``output="s3://…"`` works on every install.
    - **Anything else** (``hdfs://``, another codec, single-object
      mode): ``derive_manifest`` then
      :func:`~s3_manifest_spark.manifest.core.write_manifest`.

    ``dest_client_factory`` binds the DESTINATION endpoint/credentials
    (the reference's separate dest client, C1, main.rs:294-319).
    Passing it explicitly SELECTS the boto3 sink even when hadoop-aws
    is present — an explicit argument must not be silently ignored in
    favor of whatever ambient ``fs.s3a.*`` conf the classpath
    implies (s3a callers configure per-bucket conf instead, as the
    CLI does).  When unset and the boto3 leg runs anyway (no
    hadoop-aws), the dest client is the boto3 DEFAULT CHAIN — the
    reference's defaulting for a missing dest config (main.rs:294-319)
    — never the source-bound factory, whose endpoint override would
    silently point the upload at the source endpoint.

    Pass a ``pyspark.sql.Observation`` to collect the reference's run
    stats (object count / total bytes, main.rs:231, 284-289) from the
    SAME job that writes the output — a follow-up ``count()`` would
    re-list the entire bucket.  With no ``output`` it is filled by the
    first action on the returned frame.
    """
    from pyspark.sql import functions as F

    from s3_manifest_spark.manifest.core import derive_manifest, write_manifest

    bucket, prefix = parse_s3_uri(source_uri)
    out_bucket, path = parse_output_location(output) if output is not None else (None, None)
    if path is not None and not out_bucket and not single_object:
        out_dir = _part_dir(spark, path)
        if out_dir is not None:
            return _manifest_to_dir(
                spark, out_dir, bucket, prefix, delimiter,
                client_factory or make_boto3_client_factory(), target_shards,
                observation, progress, start_after,
            )
    listing = list_objects_df(
        spark, bucket, prefix, client_factory, delimiter, target_shards,
        progress=progress, start_after=start_after,
    )
    manifest = derive_manifest(listing, bucket, prefix, delimiter)
    if observation is not None:
        manifest = manifest.observe(
            observation,
            F.count(F.lit(1)).alias("objects"),
            F.coalesce(F.sum("Size"), F.lit(0)).alias("total_bytes"),
        )
    if output is not None:
        if out_bucket:
            from s3_manifest_spark.sources.s3_upload import (
                s3a_available,
                upload_parquet_boto3,
            )

            if dest_client_factory is None and s3a_available(spark):
                write_manifest(
                    manifest,
                    f"s3a://{out_bucket}/{path}",
                    single_object=single_object,
                )
            else:
                upload_parquet_boto3(
                    manifest,
                    out_bucket,
                    path,
                    client_factory=dest_client_factory,
                    single_object=single_object,
                )
        else:
            write_manifest(manifest, path, single_object=single_object)
    return manifest
