"""ListObjectsV2 stub owned by the benchmark.

The bucket is generated once at set-up and written to one file; every
process (the Spark driver and each Python worker) loads it once, read-only,
and serves each request in O(log n + page) with ``bisect`` on the
sorted key list.  Nothing is copied per request, so neither a per-call
key-list copy nor a per-worker bucket regeneration lands inside the
timed builds.

Request semantics follow S3 (and ``s3_manifest_spark.sources.fake_s3.
FakeS3Client``, which the tests compare against page by page): keys
in code-point order, ``ContinuationToken`` is the next key to return,
``StartAfter`` is ignored once a token is present, ``Delimiter``
groups keys into ``CommonPrefixes`` and each group counts once against
``MaxKeys``.
"""

from __future__ import annotations

import datetime as dt
import functools
import pickle
import threading
import time
from bisect import bisect_left, bisect_right

import numpy as np

BUCKET = "perfbench-bucket"


def prefix_end(prefix: str) -> str | None:
    """Smallest string above every string that starts with ``prefix``
    (None when no such string exists)."""
    for j in range(len(prefix) - 1, -1, -1):
        c = ord(prefix[j])
        if c < 0x10FFFF:
            return prefix[:j] + chr(0xE000 if c == 0xD7FF else c + 1)
    return None


def write_bucket(path: str, objects: dict[str, tuple[int, dt.datetime]]) -> None:
    """Write ``{key: (size, last_modified)}`` as the stub's bucket file."""
    keys = sorted(objects)
    sizes = [objects[k][0] for k in keys]
    mtimes = [objects[k][1] for k in keys]
    with open(path, "wb") as f:
        pickle.dump((keys, sizes, mtimes), f, protocol=pickle.HIGHEST_PROTOCOL)


@functools.lru_cache(maxsize=4)
def load_bucket(path: str) -> tuple[list[str], list[int], list[dt.datetime]]:
    """The bucket file at ``path``, loaded once per process.  The file
    is written by :func:`write_bucket` in the same run, never taken
    from outside."""
    with open(path, "rb") as f:
        return pickle.load(f)


class StubS3Client:
    """ListObjectsV2 over a bucket file, with a fixed simulated RTT.

    ``n_visible`` serves only the first ``n_visible`` keys in sort
    order: the tail that a refresh picks up sorts above every base key,
    so the base snapshot is a prefix of the key list.  ``counters`` is
    an optional ``(requests, rtt_waited_s, keys_returned)`` triple of
    Spark accumulators; it is added to under a lock because discovery
    calls one client from several driver threads.
    """

    def __init__(self, path: str, n_visible: int, rtt_s: float, counters=None):
        self._keys, self._sizes, self._mtimes = load_bucket(path)
        if not 0 <= n_visible <= len(self._keys):
            raise ValueError(f"n_visible {n_visible} outside 0..{len(self._keys)}")
        self._n = n_visible
        self._rtt_s = rtt_s
        self._counters = counters
        self._lock = threading.Lock()

    def list_objects_v2(self, **kw) -> dict:
        t0 = time.perf_counter()
        time.sleep(self._rtt_s)
        waited = time.perf_counter() - t0
        resp = self._page(**kw)
        if self._counters is not None:
            requests, rtt_waited, keys_returned = self._counters
            with self._lock:
                requests.add(1)
                rtt_waited.add(waited)
                keys_returned.add(len(resp["Contents"]))
        return resp

    def _page(
        self,
        Bucket: str,
        Prefix: str = "",
        Delimiter: str | None = None,
        MaxKeys: int = 1000,
        ContinuationToken: str = "",
        StartAfter: str = "",
    ) -> dict:
        if Bucket != BUCKET:
            raise KeyError(f"no such bucket {Bucket!r}")
        keys, n = self._keys, self._n
        lo = bisect_left(keys, max(Prefix, ContinuationToken), 0, n)
        if StartAfter and not ContinuationToken:
            lo = max(lo, bisect_right(keys, StartAfter, 0, n))
        end = prefix_end(Prefix) if Prefix else None
        hi = bisect_left(keys, end, lo, n) if end is not None else n

        contents: list[dict] = []
        common: list[dict] = []
        i = lo
        while i < hi and len(contents) + len(common) < MaxKeys:
            k = keys[i]
            if Delimiter:
                d = k.find(Delimiter, len(Prefix))
                if d >= 0:
                    cp = k[: d + len(Delimiter)]
                    common.append({"Prefix": cp})
                    cp_end = prefix_end(cp)
                    skip = bisect_left(keys, cp_end, i, hi) if cp_end is not None else hi
                    i = max(skip, i + 1)
                    continue
            contents.append(
                {"Key": k, "Size": self._sizes[i], "LastModified": self._mtimes[i]}
            )
            i += 1

        resp = {
            "IsTruncated": i < hi,
            "Contents": contents,
            "CommonPrefixes": common,
            "KeyCount": len(contents) + len(common),
        }
        if i < hi:
            resp["NextContinuationToken"] = keys[i]
        return resp


def make_bucket(
    seed: int, n_base: int, tail_share: float = 0.02
) -> tuple[dict[str, tuple[int, dt.datetime]], int]:
    """A date-partitioned bucket: ``dt=<day>/src=<source>/<file>``.

    Base days are followed by one tail day that sorts above every base
    key and holds ``tail_share`` of the objects.  Objects per
    (day, source) shard are Pareto-skewed, so a few shards are much
    larger than the rest; the seed changes names, sizes and times.  Each shard has a zero-byte folder-marker
    object (its FileName is empty), and about one file name in fifty
    is non-ASCII.  Returns ``(objects, n_base_keys)``: the base keys
    are exactly the first ``n_base_keys`` keys in sort order.
    """
    rng = np.random.default_rng(seed)
    # The skew is drawn from a fixed generator: shard sizes, and so the
    # request, shard and file counts, are the same for every seed.
    skew = np.random.default_rng(2)
    n_days, n_sources = 16, 4
    n_tail = max(1, int(round(n_base * tail_share)))
    base_day = dt.date(2024, 3, 1)
    sources = [f"src={s}" for s in "abcd"[:n_sources]]

    def shard_counts(total: int, n_shards: int) -> np.ndarray:
        w = skew.pareto(1.1, n_shards) + 0.05
        counts = np.floor(w / w.sum() * total).astype(int)
        counts[np.argmax(counts)] += total - counts.sum()
        return counts

    objects: dict[str, tuple[int, dt.datetime]] = {}

    def fill(days: list[dt.date], total: int) -> None:
        shards = [(d, s) for d in days for s in sources]
        for (day, src), count in zip(shards, shard_counts(total, len(shards))):
            prefix = f"dt={day.isoformat()}/{src}/"
            day_start = dt.datetime.combine(day, dt.time(), dt.timezone.utc)
            objects[prefix] = (0, day_start)
            sizes = rng.lognormal(13.0, 2.0, count).astype(np.int64)
            offsets_us = rng.integers(0, 86_400_000_000, count)
            accents = rng.random(count) < 0.02
            tags = rng.integers(0, 1 << 30, count)
            for j in range(count):
                stem = "résumé" if accents[j] else "part"
                key = f"{prefix}{stem}-{j:05d}-{tags[j]:08x}.parquet"
                objects[key] = (
                    int(sizes[j]),
                    day_start + dt.timedelta(microseconds=int(offsets_us[j])),
                )

    base_days = [base_day + dt.timedelta(days=i) for i in range(n_days)]
    fill(base_days, n_base)
    n_base_keys = len(objects)
    fill([base_day + dt.timedelta(days=n_days)], n_tail)
    return objects, n_base_keys
