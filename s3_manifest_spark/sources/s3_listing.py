"""Parallel S3 object-listing connector (reference operators S1/S2/R1/
C1/C2 — the reference's main.rs:86-118, 187-257, 294-319).

The reference lists serially: one tokio task, 1000 keys per round trip
(main.rs:187-257) — its throughput ceiling is ~page_size/RTT.  Here the
keyspace is split into shards, key ranges ``(prefix, after, upto)``
(delimiter-discovered common prefixes, and the rest of a prefix whose
delimiter page was truncated), and the shards are paged concurrently:
at most ``defaultParallelism`` Spark tasks, each paging its slice of
the shards on a small thread pool over one client, so listing
throughput scales with requests in flight instead of being pinned to
one connection — and a task's fixed Python cost is paid once per
slice, not once per shard (SURVEY.md §4, "serial listing" anti-pattern
row).  Nor is a long shard one token chain: a range whose page comes
back truncated splits the rest at keys guessed from that page, and the
sub-ranges page at the same time.  The shard table is an Arrow local
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
            one page per frontier prefix         # _scan; a truncated page's
                                                 #   rest is a shard range, not
                                                 #   paged here, unless the page
                                                 #   holds more groups than keys
        → shard ranges left to page:
            local_relation(shard table)          # Arrow local relation:
                                                 #   min(shards, defaultParallelism)
                                                 #   contiguous slices, no shuffle
            → mapInArrow(_scan per slice)        # the task's one Python pass;
                                                 #   MAX_IN_FLIGHT requests in
                                                 #   flight; one page → one
                                                 #   Arrow batch
                a truncated page, free slots     # the rest of its range splits
                                                 #   at _splitters' guesses into
                                                 #   sub-ranges ~0.9 pages wide
                                                 #   that page at the same time
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
from typing import NamedTuple
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


def prefix_end(prefix: str) -> str | None:
    """Smallest string strictly greater than EVERY string with this
    prefix — the exclusive upper bound of the prefix's key range.

    Increment the rightmost code point that is below U+10FFFF and
    truncate after it (skipping into the surrogate gap is avoided for
    hygiene, though keys here are only compared, never encoded).  A
    ``prefix + "￿"`` sentinel is NOT a valid bound: keys with
    astral-plane code points (≥ U+10000) after the prefix sort above
    it, so a listing bounded by it would silently drop them (and skip
    a group forever).  Returns None when no finite bound exists (all
    code points are U+10FFFF)."""
    for j in range(len(prefix) - 1, -1, -1):
        c = ord(prefix[j])
        if c < 0x10FFFF:
            nxt = 0xE000 if c == 0xD7FF else c + 1
            return prefix[:j] + chr(nxt)
    return None


class Range(NamedTuple):
    """A shard: the keys under ``prefix`` above ``after`` and, when
    ``upto`` is set, at or below it.  A prefix shard is ``Range(p)``."""

    prefix: str
    after: str = ""
    upto: str | None = None


def _pages(client, upto: str | None = None, **request) -> Iterator[dict]:
    """Every ListObjectsV2 response page of one listing, following
    continuation tokens (``StartAfter`` rides on the first request
    only; the token already encodes the position).  With ``upto`` the
    listing is a key range: it stops at the first key above ``upto``,
    and the page that reaches it comes back cut there and not
    truncated.  A truncated page must carry a new token: one with no
    token, or with the token it was requested with, would restart or
    repeat the listing and duplicate keys forever, so it raises
    instead.  Keys must strictly increase from ``StartAfter`` on — a
    page that replays or reorders keys raises before it is yielded,
    rather than emitting duplicates."""
    kw = request
    last = request.get("StartAfter")
    while True:
        resp = _retry(lambda: client.list_objects_v2(**kw))
        contents = resp.get("Contents", [])
        for n, obj in enumerate(contents):
            key = obj["Key"]
            if last is not None and key <= last:
                raise RuntimeError(
                    f"ListObjectsV2 {request.get('Prefix', '')!r}: key "
                    f"{key!r} does not sort after {last!r}"
                )
            if upto is not None and key > upto:
                yield dict(resp, Contents=contents[:n], IsTruncated=False)
                return
            last = key
        if upto is not None and last is not None and last >= upto:
            resp = dict(resp, IsTruncated=False)
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


#: ListObjectsV2 requests one scheduler keeps in flight: discovery's
#: driver pool and each listing task's pool.
MAX_IN_FLIGHT = 16

#: A sub-range's intended width, in pages like the one it was split from.
SUB_RANGE_PAGES = 0.9

#: Sub-ranges a range's first split may make, its open last one
#: included: a range of up to about 5.6 pages lists in two rounds.
SPLIT_WAYS = 5

#: Digit alphabets a splitter steps on, tried in order, each with its
#: ``format`` code.  Each lists its digits in code-point order, so
#: same-width runs sort as the numbers they spell.
_RADICES = (("0123456789", "d"), ("0123456789abcdef", "x"))


def _splitters(keys: list[str], n: int) -> list[str]:
    """Up to ``n`` guesses at the keys 1, 2, ... x :data:`SUB_RANGE_PAGES`
    pages past ``keys[-1]``, from a page's ``keys`` alone, so every
    count repeats from run to run.  The page's second half gives the
    key density: where its middle and last keys first differ, the run
    of decimal (else hex) digits around that position is read as a
    number and stepped on, or, with no such run, the differing code
    point.  Over a 1,000-key page, ``part-00503…`` and ``part-01011…``
    give ``part-01925``, ``part-02839``, ...  Guesses only: :func:`_scan`
    keeps those that bound proper sub-ranges."""
    m = (len(keys) - 1) // 2
    mid, last = keys[m], keys[-1]
    i = len(os.path.commonprefix([mid, last]))
    if n < 1 or i == len(last):
        return []
    per_step = SUB_RANGE_PAGES * len(keys) / (len(keys) - 1 - m)
    for digits, code in _RADICES:
        j = len(last[:i].rstrip(digits))
        lo, hi = (k[j : len(k) - len(k[j:].lstrip(digits))] for k in (mid, last))
        if min(len(lo), len(hi)) > i - j and int(hi, len(digits)) > int(lo, len(digits)):
            b = int(hi, len(digits))
            step = max(1, round((b - int(lo, len(digits))) * per_step))
            runs = (format(b + s * step, f"0{len(hi)}{code}") for s in range(1, n + 1))
            return [last[:j] + r for r in runs if len(r) == len(hi)]
    a = ord(mid[i]) if i < len(mid) else -1
    b = ord(last[i])
    step = max(1, round((b - a) * per_step))
    points = (b + s * step for s in range(1, n + 1))
    return [last[:i] + chr(c) for c in points if c <= 0x10FFFF and not 0xD800 <= c < 0xE000]


def _scan(
    client,
    listings: Iterable[tuple[dict, Range]],
    follow: Callable[[dict], bool] = lambda page: True,
    splitters: Callable[[list[str], int], list[str]] = _splitters,
) -> Iterator[tuple[int, dict]]:
    """``(i, page)`` for the pages of every listing ``i``, a ``(request,
    range)`` pair over one (thread-safe) client: ``request`` holds the
    ListObjectsV2 parameters, ``range`` the prefix and key bounds
    (``StartAfter`` is the greater of the request's and the range's).
    A listing goes on past a truncated page only when ``follow(page)``.

    Up to :data:`MAX_IN_FLIGHT` listings advance together, one page
    each per round on one pool, and a round's pages are yielded in
    listing order before the next round starts.  So at most
    ``MAX_IN_FLIGHT`` requests are running or not yet yielded, the
    order and every count repeat, a request's error (or ``_pages``')
    propagates out of this generator, and closing it early leaves no
    request running.

    After a round, listings not yet started take the free slots first.
    Then a listing whose page came back truncated splits the rest of its
    range at ``splitters(keys, n)``, guesses taken from the page: only
    guesses that each sort above the one before (the page's last key
    first) and below ``upto`` are kept, so the sub-ranges are disjoint
    and cover the rest exactly — a bad guess costs requests, never
    keys.  A split makes at most as many sub-ranges as there are free
    slots, and at most :data:`SPLIT_WAYS` for a range's first split;
    the open last sub-range doubles that when it splits in turn.  With
    no guess kept the listing goes on by continuation token."""

    def start(i: int, request: dict, rng: Range, ways: int = SPLIT_WAYS) -> tuple:
        kw = dict(request, Prefix=rng.prefix)
        if after := max(rng.after, request.get("StartAfter", "")):
            kw["StartAfter"] = after
        return i, request, rng, ways, _pages(client, rng.upto, **kw)

    def split(listing: tuple, contents: list[dict], free: int) -> list[tuple]:
        i, request, (prefix, _, upto), ways, _ = listing
        if not contents:
            return [listing]
        keys = [o["Key"] for o in contents]
        bounds = [keys[-1]]
        for s in splitters(keys, min(ways, free + 1) - 1):
            if s > bounds[-1] and (upto is None or s < upto):
                bounds.append(s)
        if len(bounds) == 1:
            return [listing]
        subs = [start(i, request, Range(prefix, lo, hi)) for lo, hi in zip(bounds, bounds[1:])]
        return subs + [start(i, request, Range(prefix, bounds[-1], upto), 2 * ways)]

    waiting = (start(i, *listing) for i, listing in enumerate(listings))
    active = list(islice(waiting, MAX_IN_FLIGHT))
    with ThreadPoolExecutor(MAX_IN_FLIGHT) as pool:
        while active:
            pages = list(pool.map(lambda a: next(a[-1]), active))
            going = []
            for listing, page in zip(active, pages):
                yield listing[0], page
                if page.get("IsTruncated") and follow(page):
                    going.append((listing, page.get("Contents")))
            fresh = list(islice(waiting, MAX_IN_FLIGHT - len(going)))
            free = MAX_IN_FLIGHT - len(going) - len(fresh)
            active = []
            for listing, contents in going:
                subs = split(listing, contents, free) if free else [listing]
                free -= len(subs) - 1
                active += subs
            active += fresh


def _paged_ahead(items: Iterator) -> Iterator:
    """``items``' items in order, drawn on one pager thread through a
    hand-off of up to :data:`MAX_IN_FLIGHT` items, so the pager keeps
    requesting while the consumer writes what it already has.

    Over :func:`_scan` the consumer holds at most 2 x ``MAX_IN_FLIGHT``
    pages it has not yielded: a full hand-off, plus one round of
    ``_scan`` that is in flight or yielded only in part.  An error in
    the pager thread raises here, in the consumer.  Closing this
    generator stops the pager, which closes ``items`` on its own thread
    (so ``_scan`` leaves no request running), and joins it."""
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


def _mostly_groups(page: dict) -> bool:
    """True for a delimiter page with more groups than keys: its next
    page is worth paging on the driver, since it is mostly shards."""
    return len(page.get("CommonPrefixes", [])) > len(page.get("Contents", []))


def discover_shards(
    client,
    bucket: str,
    prefix: str = "",
    delimiter: str = "/",
    target_shards: int = 64,
    start_after: str = "",
    page_size: int = PAGE_SIZE,
) -> tuple[list[Range], list[dict]]:
    """Split the keyspace under ``prefix`` into disjoint shard ranges
    via delimiter listings (S3 CommonPrefixes), BFS-expanding until
    ``target_shards`` is reached or nothing expands.

    Each BFS level reads the first delimiter page of every frontier
    prefix, all of them concurrently (:func:`_scan`; the calls are pure
    I/O waits): a level costs ~1 round trip.  A page's groups become
    the next frontier.  A truncated page that holds more groups than
    keys is paged on by token, a round trip a page, as a level wider
    than one page must be: each of its groups is a shard the tasks
    share.  The rest of any other truncated page becomes a shard range
    for the listing tasks, never paged here.  So the driver holds one
    page per frontier prefix, and more only where the pages are mostly
    groups, which it keeps as shards anyway.  The rest starts
    after the page's last entry; when that entry is a group, the group
    joins the rest instead of the frontier, and the rest starts after
    the entry before it (that key, or the successor of that group).
    So no key is lost: ``StartAfter`` at the successor of the last
    group would drop a key equal to it (``a0`` after group ``a/``).
    Results are re-assembled in frontier order, so shard discovery
    stays deterministic.

    Returns (shards, direct_objects): objects that live at a listed
    level (not under any returned shard) come back as rows so coverage
    is exact — every key is in exactly one shard or in direct_objects.

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
    probe = [(flat, Range(prefix))]
    direct: list[dict] = []
    rests: list[Range] = []
    frontier = [prefix]
    for _ in range(DISCOVER_MAX_ROUNDS):
        listings = probe + [(request, Range(p)) for p in frontier]
        pages: dict[int, list[dict]] = {}
        # Never split: a delimiter listing started inside a group would
        # leave that group out.
        for i, page in _scan(client, listings, _mostly_groups, lambda keys, n: []):
            pages.setdefault(i, []).append(page)
        if probe and not pages[0][0].get("IsTruncated"):
            return [], pages[0][0].get("Contents", [])
        children: list[str] = []
        for i, p in enumerate(frontier, len(probe)):  # frontier order
            groups = [cp["Prefix"] for r in pages[i] for cp in r.get("CommonPrefixes", [])]
            d = -1
            if delimiter and start_after.startswith(p):
                d = start_after.find(delimiter, len(p))
            if d >= 0 and (held := start_after[: d + len(delimiter)]) not in groups:
                groups.insert(0, held)  # held <= marker < every returned group
            contents = [o for r in pages[i] for o in r.get("Contents", [])]
            if pages[i][-1].get("IsTruncated"):
                entries = sorted([o["Key"] for o in contents] + groups)
                if entries and entries[-1] in groups:
                    groups.remove(entries.pop())
                last = entries[-1] if entries else start_after
                rests.append(Range(p, prefix_end(last) if last in groups else last))
            children += groups
            direct += contents
        probe = []
        frontier = children
        if not frontier or len(frontier) + len(rests) >= target_shards:
            break  # else: not enough parallelism yet — expand one more level
    return [Range(p) for p in frontier] + rests, direct


#: The ListObjectsV2 ``Contents`` field behind each LISTING_SCHEMA column.
_S3_FIELDS = {"key": "Key", "size": "Size", "last_modified": "LastModified",
              "etag": "ETag", "storage_class": "StorageClass"}
_ARROW_LISTING_SCHEMA = to_arrow_schema(LISTING_SCHEMA)
#: A ``Contents`` entry as a Spark struct, ``LastModified`` as RFC 3339 text.
_CONTENTS = T.StructType(
    [T.StructField(f, LISTING_SCHEMA[c].dataType) for c, f in _S3_FIELDS.items()]
)
#: One row per shard range; the first row also carries discovery's
#: direct objects.
_TASK_SCHEMA = T.StructType(
    [T.StructField(f, T.StringType(), f == "upto") for f in Range._fields]
).add("direct", T.ArrayType(_CONTENTS))


def _page_batch(contents: list[dict]) -> pa.RecordBatch:
    """ListObjectsV2 ``Contents`` entries as one LISTING_SCHEMA batch."""
    cols = {c: [o.get(f) for o in contents] for c, f in _S3_FIELDS.items()}
    cols["last_modified"] = [
        t.isoformat() if hasattr(t, "isoformat") else t for t in cols["last_modified"]
    ]
    return pa.RecordBatch.from_pydict(cols, schema=_ARROW_LISTING_SCHEMA)


def _shard_table(spark: SparkSession, shards: list[Range], direct: list[dict]) -> DataFrame:
    """One row per shard range as an Arrow local relation: min(rows,
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
    ranges = {f: pa.array(c, pa.string()) for f, c in zip(Range._fields, zip(*shards))}
    table = pa.table({**ranges, "direct": direct_col})
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
    come first, then every page of its shard ranges, each starting
    above the greater of ``start_after`` and its own ``after``, through
    :func:`_scan` on one pager thread (:func:`_paged_ahead`): a range
    whose listing turns out long splits into sub-ranges that page at
    the same time, so the slice takes as many request rounds as its
    longest sub-range chain, not its longest shard's page count.
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
        mine: list[Range] = []
        for b in batches:
            mine += map(Range, *(b.column(f).to_pylist() for f in Range._fields))
            direct = b.column("direct").flatten().to_pylist()
            if direct:
                yield counted(direct)
        if mine:
            client = client_factory()  # one client per task, never pickled
            listings = [(request, r) for r in mine]
            with closing(_paged_ahead(_scan(client, listings))) as listed:
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
    main.rs:190).  The shards are key ranges (:func:`discover_shards`;
    a flat prefix is one range after discovery's one page of it) and
    run in at most ``defaultParallelism`` tasks with no shuffle; each
    task pages its ranges through :func:`_scan` on one pager thread
    (:func:`_paged_ahead`), which splits a long range into sub-ranges
    paged at the same time and keeps the next round's requests in
    flight while the task writes the pages it already has.  So a task
    holds at most 2 x ``MAX_IN_FLIGHT`` pages (``page_size`` rows each)
    and the Arrow batch it is emitting — the reference's bounded-buffer
    flush loop (main.rs:236-246), which keeps paging while it writes,
    N-wide — and its listing takes as many request rounds as its
    longest sub-range chain.

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
    the probe page, or a bucket shallower than discovery's BFS whose
    pages all fit), its direct objects are the whole listing: at most
    one page per prefix discovery read, they already sit on the
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
