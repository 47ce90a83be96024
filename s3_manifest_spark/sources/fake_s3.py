"""In-memory stand-in for the S3 ``list_objects_v2`` API.

Dev/test fixture (no network, S3 or moto needed): implements exactly
the request/response subset the connector uses — Prefix, Delimiter,
MaxKeys, ContinuationToken, StartAfter, IsTruncated, Contents,
CommonPrefixes — with S3's real semantics (lexicographic key order,
token = resume position; a CommonPrefixes group that sorts at or
below StartAfter is left out even when it holds keys above it, as
S3-compatible servers such as moto do).  Lives in the package (not
tests/) so Spark executors can unpickle the client factory by module
reference.
"""

from __future__ import annotations

import datetime as dt
import functools
from bisect import bisect_left, bisect_right

from s3_manifest_spark.sources.s3_listing import prefix_end


class NoSuchBucket(Exception):
    """S3's answer for an unknown bucket: a 404 ``NoSuchBucket`` error
    response, in the ``response`` shape of botocore's ``ClientError``
    (which the connector reads without importing botocore)."""

    def __init__(self, bucket: str):
        super().__init__(f"NoSuchBucket: {bucket!r}")
        self.response = {
            "Error": {"Code": "NoSuchBucket", "Message": str(self)},
            "ResponseMetadata": {"HTTPStatusCode": 404},
        }


class FakeS3Client:
    """Minimal ListObjectsV2 over a static {bucket: {key: (size, mtime)}}."""

    def __init__(self, buckets: dict[str, dict[str, tuple[int, dt.datetime]]]):
        self._buckets = {b: dict(objs) for b, objs in buckets.items()}
        self._keys = {b: sorted(objs) for b, objs in self._buckets.items()}

    def list_objects_v2(self, **kw):
        bucket = kw["Bucket"]
        prefix = kw.get("Prefix", "")
        delimiter = kw.get("Delimiter")
        max_keys = kw.get("MaxKeys", 1000)
        token = kw.get("ContinuationToken", "")
        # Real-S3 semantics: StartAfter begins the listing STRICTLY
        # after the given key and is ignored once a ContinuationToken
        # is present (the token already encodes the position).
        start_after = "" if token else kw.get("StartAfter", "")

        if bucket not in self._buckets:
            raise NoSuchBucket(bucket)
        objs = self._buckets[bucket]
        keys = self._keys[bucket]
        lo = bisect_left(keys, max(prefix, token))
        if start_after:
            lo = max(lo, bisect_right(keys, start_after))
        if prefix:
            end = prefix_end(prefix)
            hi = bisect_left(keys, end, lo) if end is not None else len(keys)
        else:
            hi = len(keys)

        contents, common, seen_prefixes = [], [], set()
        i = lo
        emitted = 0
        while i < hi and emitted < max_keys:
            k = keys[i]
            if delimiter:
                rest = k[len(prefix):]
                d = rest.find(delimiter)
                if d >= 0:
                    cp = prefix + rest[: d + len(delimiter)]
                    # A group at or below StartAfter is left out, keys
                    # above the marker inside it included.
                    if cp not in seen_prefixes and cp > start_after:
                        seen_prefixes.add(cp)
                        common.append({"Prefix": cp})
                        emitted += 1
                    # Skip the whole group via the successor-prefix
                    # bound; max(·, i + 1) guarantees progress even if
                    # a bound ever degenerates.
                    end = prefix_end(cp)
                    skip = bisect_left(keys, end, i, hi) if end is not None else hi
                    i = max(skip, i + 1)
                    continue
            size, mtime = objs[k]
            contents.append({"Key": k, "Size": size, "LastModified": mtime})
            emitted += 1
            i += 1

        truncated = i < hi
        resp = {
            "IsTruncated": truncated,
            "Contents": contents,
            "CommonPrefixes": common,
            "KeyCount": emitted,
        }
        if truncated:
            resp["NextContinuationToken"] = keys[i]
        return resp


@functools.lru_cache(maxsize=4)
def synth_bucket(n: int = 2500) -> dict[str, dict[str, tuple[int, dt.datetime]]]:
    """Deterministic fake bucket ``{"fake-bucket": {key: (size,
    mtime)}}``: n keys under ``dir<i%7>/sub<i%13>/`` plus 20 root-level
    objects — exercises sharding, pagination, and delimiter grouping.
    Cached per process, so every caller shares ONE dict and must not
    mutate it; each FakeS3Client copies it and sorts its keys once, on
    construction."""
    epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    objs: dict[str, tuple[int, dt.datetime]] = {}
    for i in range(n):
        top = f"dir{i % 7}"
        sub = f"sub{i % 13}"
        objs[f"{top}/{sub}/file-{i:06d}.parquet"] = (
            (i * 37) % 100_000,
            epoch + dt.timedelta(minutes=i),
        )
    for i in range(20):
        objs[f"rootfile-{i:02d}.txt"] = (i, epoch + dt.timedelta(days=i))
    return {"fake-bucket": objs}


def fake_client_factory():
    """Picklable factory for executor-side use (module-level by design)."""
    return FakeS3Client(synth_bucket())


def custom_client_factory(buckets):
    """Picklable factory over an arbitrary bucket dict (tests with
    adversarial keys — e.g. astral-plane code points)."""
    return functools.partial(FakeS3Client, buckets)
