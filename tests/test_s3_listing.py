"""Connector tests against the in-package fake S3 (real ListObjectsV2
pagination/delimiter semantics, no network)."""

from __future__ import annotations

import pytest

from s3_manifest_spark.sources.fake_s3 import (
    FakeS3Client,
    fake_client_factory,
    synth_bucket,
)
from s3_manifest_spark.sources.s3_listing import (
    MAX_IN_FLIGHT,
    _list_shards,
    _paged_ahead,
    _pages,
    discover_shards,
    list_objects_df,
    manifest_from_s3,
    parse_output_location,
    parse_s3_uri,
)
from s3_manifest_spark.sources.tables import local_relation

ALL_KEYS = set(synth_bucket()["fake-bucket"].keys())  # 2520 keys


def test_parse_s3_uri():
    assert parse_s3_uri("s3://b/p/q") == ("b", "p/q")
    assert parse_s3_uri("s3://b") == ("b", "")
    assert parse_s3_uri("s3://b/") == ("b", "")
    with pytest.raises(ValueError):
        parse_s3_uri("http://b/p")
    with pytest.raises(ValueError):
        parse_s3_uri("s3:///p")


def test_parse_output_location():
    assert parse_output_location("s3://ob/k.parquet") == ("ob", "k.parquet")
    assert parse_output_location("/tmp/out.parquet") == (None, "/tmp/out.parquet")
    with pytest.raises(ValueError):
        parse_output_location("s3://ob")


def test_fake_pagination_matches_s3_semantics():
    c = fake_client_factory()
    got, token, pages = [], None, 0
    while True:
        kw = {"Bucket": "fake-bucket", "MaxKeys": 100}
        if token:
            kw["ContinuationToken"] = token
        r = c.list_objects_v2(**kw)
        got.extend(o["Key"] for o in r["Contents"])
        pages += 1
        if not r["IsTruncated"]:
            break
        token = r["NextContinuationToken"]
    assert pages > 1
    assert got == sorted(ALL_KEYS)  # S3 returns lexicographic order


def test_discover_shards_partition_keyspace():
    c = fake_client_factory()
    shards, direct = discover_shards(c, "fake-bucket", "", target_shards=5)
    assert len(shards) == 7  # dir0..dir6
    assert {o["Key"] for o in direct} == {k for k in ALL_KEYS if k.startswith("rootfile")}
    # deeper expansion when target is higher
    shards2, _ = discover_shards(c, "fake-bucket", "", target_shards=50)
    assert len(shards2) == 7 * 13
    assert len(set(shards2)) == len(shards2)


def _assert_complete_and_exact(df):
    rows = df.collect()
    keys = [r.key for r in rows]
    assert len(keys) == len(ALL_KEYS)          # no dup from shard overlap
    assert set(keys) == ALL_KEYS               # no loss from pagination
    by_key = {r.key: r for r in rows}
    sample = by_key["dir1/sub1/file-000001.parquet"]
    assert sample.size == 37
    assert sample.last_modified.startswith("2024-01-01T00:01:00")


def test_list_objects_df_complete_and_exact(spark):
    _assert_complete_and_exact(
        list_objects_df(
            spark, "fake-bucket", client_factory=fake_client_factory, page_size=100
        )
    )


def test_list_objects_df_prefix_pushdown(spark):
    df = list_objects_df(
        spark, "fake-bucket", prefix="dir3/", client_factory=fake_client_factory
    )
    keys = {r.key for r in df.collect()}
    assert keys == {k for k in ALL_KEYS if k.startswith("dir3/")}


def test_manifest_from_s3_end_to_end(spark, tmp_path):
    out = str(tmp_path / "manifest.parquet")
    manifest_from_s3(
        spark,
        "s3://fake-bucket/dir2/",
        output=out,
        client_factory=fake_client_factory,
    )
    back = spark.read.parquet(out)
    rows = back.collect()
    expect = {k for k in ALL_KEYS if k.startswith("dir2/")}
    assert {r.Key for r in rows} == expect
    r0 = min(rows, key=lambda r: r.Key)
    assert r0.Bucket == "fake-bucket"
    assert r0.FileName == r0.Key.rsplit("/", 1)[-1]
    assert r0.Size >= 0 and r0.LastModified.year == 2024


def test_retry_gives_up_then_succeeds(spark):
    class Flaky(FakeS3Client):
        calls = 0

        def list_objects_v2(self, **kw):
            Flaky.calls += 1
            if Flaky.calls % 3 == 1:
                raise ConnectionError("transient")
            return super().list_objects_v2(**kw)

    c = Flaky(synth_bucket())
    shards, direct = discover_shards(c, "fake-bucket", "", target_shards=5)
    assert len(shards) == 7 and len(direct) == 20


def _client_error(status: int, code: str):
    from botocore.exceptions import ClientError

    return ClientError(
        {
            "Error": {"Code": code, "Message": code},
            "ResponseMetadata": {"HTTPStatusCode": status},
        },
        "ListObjectsV2",
    )


@pytest.mark.parametrize(
    "status,code", [(403, "AccessDenied"), (404, "NoSuchBucket")]
)
def test_retry_fails_fast_on_fatal_error_response(status, code):
    """A 4xx error response that is not throttling cannot succeed on a
    retry: it propagates after exactly one call, with no backoff."""
    from botocore.exceptions import ClientError

    class Denied(FakeS3Client):
        calls = 0

        def list_objects_v2(self, **kw):
            self.calls += 1
            raise _client_error(status, code)

    c = Denied(synth_bucket())
    with pytest.raises(ClientError) as err:
        list(_pages(c, Bucket="fake-bucket"))
    assert c.calls == 1
    assert err.value.response["Error"]["Code"] == code


@pytest.mark.parametrize(
    "status,code", [(503, "SlowDown"), (400, "ThrottlingException")]
)
def test_retry_rides_out_throttling_to_the_fault_free_manifest(
    spark, status, code
):
    """Every client answers its first two requests with a throttling
    error, then normally: the manifest equals a fault-free run's."""
    import functools
    import threading

    from botocore.exceptions import ClientError

    class ThrottledTwice(FakeS3Client):
        def __init__(self, buckets):
            super().__init__(buckets)
            self.lock = threading.Lock()
            self.calls = 0

        def list_objects_v2(self, **kw):
            with self.lock:
                self.calls += 1
                throttled = self.calls <= 2
            if throttled:
                # built here, not by _client_error: executors unpickle
                # this class by value and cannot import the test module
                raise ClientError(
                    {
                        "Error": {"Code": code, "Message": code},
                        "ResponseMetadata": {"HTTPStatusCode": status},
                    },
                    "ListObjectsV2",
                )
            return super().list_objects_v2(**kw)

    c = ThrottledTwice(synth_bucket())
    list(_pages(c, Bucket="fake-bucket"))
    assert c.calls > 2

    def manifest(factory):
        df = manifest_from_s3(spark, "s3://fake-bucket/", client_factory=factory)
        return sorted(map(tuple, df.collect()))

    throttled = manifest(functools.partial(ThrottledTwice, synth_bucket()))
    assert throttled == manifest(fake_client_factory)
    assert len(throttled) == len(ALL_KEYS)


class _StuckPaging(FakeS3Client):
    """Real fake paging, except that every truncated page after the
    first carries a bad continuation token: none at all, or the token
    the page was requested with.  A listing that trusts either restarts
    or repeats pages forever, so the client raises after MAX_CALLS
    requests — the test then fails instead of hanging."""

    MAX_CALLS = 50

    def __init__(self, buckets, drop_token: bool):
        super().__init__(buckets)
        self.drop_token = drop_token
        self.calls = 0

    def list_objects_v2(self, **kw):
        self.calls += 1
        if self.calls > self.MAX_CALLS:
            raise AssertionError("listing re-requested pages without end")
        resp = super().list_objects_v2(**kw)
        if resp["IsTruncated"] and "ContinuationToken" in kw:
            if self.drop_token:
                del resp["NextContinuationToken"]
            else:
                resp["NextContinuationToken"] = kw["ContinuationToken"]
        return resp


@pytest.mark.parametrize("drop_token", [True, False], ids=["no_token", "same_token"])
def test_pagination_fails_loud_on_stuck_token(drop_token):
    """A truncated page whose continuation token is missing or does
    not advance must stop the listing with an error, not restart the
    prefix and emit duplicate keys (5,000 keys over 1,000-key pages:
    the calls are discovery's truncated flat probe page, the delimiter
    listing's page 1, and its page 2, the first stuck one)."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    client = _StuckPaging(
        {"b": {f"k{i:05d}": (1, t) for i in range(5000)}}, drop_token
    )
    with pytest.raises(RuntimeError, match="does not advance"):
        discover_shards(client, "b", "")
    assert client.calls == 3


def _sharded_bucket(n_shards: int = 40) -> dict:
    """``{"b": {key: (size, mtime)}}`` over ``n_shards`` shard prefixes
    of 0..(3 * n_shards - 1) keys each: uneven, some shards empty."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    return {
        "b": {
            f"s{i:03d}/k{j:04d}": (j, t)
            for i in range(n_shards)
            for j in range((i * 7) % (3 * n_shards))
        }
    }


class _Counting(FakeS3Client):
    """Counts requests, and the most that were ever running at once."""

    def __init__(self, buckets, delay_s: float = 0.0):
        import threading

        super().__init__(buckets)
        self.delay_s = delay_s
        self.calls = self.running = self.max_running = 0
        self._lock = threading.Lock()

    def list_objects_v2(self, **kw):
        import time

        with self._lock:
            self.calls += 1
            self.running += 1
            self.max_running = max(self.max_running, self.running)
        time.sleep(self.delay_s)
        try:
            return super().list_objects_v2(**kw)
        finally:
            with self._lock:
                self.running -= 1


def test_list_shards_every_key_once_with_bounded_pages_in_flight():
    """The in-task pager returns each key of many uneven shards exactly
    once, pages concurrently, and never has more than MAX_IN_FLIGHT
    pages requested but not yet yielded (16 threads, 1 us switch
    interval)."""
    import sys

    bucket = _sharded_bucket()
    client = _Counting(bucket, delay_s=0.002)
    shards = [f"s{i:03d}/" for i in range(40)]
    keys, yielded = [], 0
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for prefix, page in _list_shards(client, shards, Bucket="b", MaxKeys=7):
            yielded += 1
            assert client.calls - yielded <= MAX_IN_FLIGHT
            assert all(o["Key"].startswith(prefix) for o in page["Contents"])
            keys += [o["Key"] for o in page["Contents"]]
    finally:
        sys.setswitchinterval(interval)
    assert sorted(keys) == sorted(bucket["b"])
    assert len(keys) == len(set(keys))
    assert 1 < client.max_running <= MAX_IN_FLIGHT


def test_list_shards_stuck_shard_raises():
    client = _StuckPaging(
        {"b": {f"s{i}/k{j:05d}": (1, None) for i in range(3) for j in range(50)}},
        drop_token=True,
    )
    shards = ["s0/", "s1/", "s2/"]
    with pytest.raises(RuntimeError, match="does not advance"):
        list(_list_shards(client, shards, Bucket="b", MaxKeys=10))


def test_list_shards_close_early_stops_requests():
    """A consumer that stops after one page gets control back without
    waiting for the other shards, and no request is left running."""
    import time

    client = _Counting(_sharded_bucket(), delay_s=0.01)
    pager = _list_shards(
        client, [f"s{i:03d}/" for i in range(40)], Bucket="b", MaxKeys=1
    )
    next(pager)
    t0 = time.perf_counter()
    pager.close()
    assert time.perf_counter() - t0 < 1.0
    calls = client.calls
    time.sleep(0.05)
    assert client.running == 0 and client.calls == calls <= MAX_IN_FLIGHT


def test_unknown_bucket_fails_after_one_request():
    """Like S3, the fake answers an unknown bucket with a 404
    NoSuchBucket error response, which the listing raises at once
    instead of retrying with backoff."""
    c = _Counting(synth_bucket())
    with pytest.raises(Exception) as err:
        list(_pages(c, Bucket="missing"))
    assert c.calls == 1
    assert err.value.response["Error"]["Code"] == "NoSuchBucket"


class _Misordered(FakeS3Client):
    """Real paging, except that page 2 replays page 1's keys (with a
    valid, advancing token) or one page lists its keys backwards."""

    def __init__(self, buckets, mode: str):
        super().__init__(buckets)
        self.mode = mode
        self.first = None

    def list_objects_v2(self, **kw):
        resp = super().list_objects_v2(**kw)
        if self.mode == "replay":
            if self.first is None:
                self.first = resp["Contents"]
            else:
                resp["Contents"] = self.first
        elif "ContinuationToken" in kw:
            resp["Contents"] = resp["Contents"][::-1]
        return resp


@pytest.mark.parametrize("mode", ["replay", "backwards"])
def test_listing_fails_loud_on_non_increasing_keys(mode):
    """A page whose keys do not strictly follow the previous key (a
    replayed page, or keys out of order within a page) fails the
    listing instead of emitting duplicate or unsorted keys."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    client = _Misordered({"b": {f"d/k{i:05d}": (1, t) for i in range(300)}}, mode)
    pages = _list_shards(client, ["d/"], Bucket="b", MaxKeys=100)
    with pytest.raises(RuntimeError, match="does not sort after"):
        list(pages)


def _pager_threads() -> list:
    import threading

    return [t for t in threading.enumerate() if t.name == "list-pager"]


def test_paged_ahead_yields_list_shards_pages_in_order():
    """A listing task's pages, drawn ahead on the pager thread, are
    _list_shards' pages in _list_shards' order, and the pager thread is
    gone once they are exhausted."""
    bucket = _sharded_bucket()
    shards = [f"s{i:03d}/" for i in range(40)]

    def pages(it):
        return [(p, [o["Key"] for o in page.get("Contents", [])]) for p, page in it]

    direct = pages(_list_shards(FakeS3Client(bucket), shards, Bucket="b", MaxKeys=7))
    ahead = pages(
        _paged_ahead(_list_shards(FakeS3Client(bucket), shards, Bucket="b", MaxKeys=7))
    )
    assert ahead == direct
    assert sum(len(keys) for _, keys in ahead) == len(bucket["b"])
    assert not _pager_threads()


@pytest.mark.parametrize("mode", ["no_token", "same_token", "replay", "backwards"])
def test_paged_ahead_raises_pager_errors_in_the_task(mode):
    """A stuck continuation token or non-increasing keys, raised on the
    pager thread, raise from the task's own generator, and the pager
    thread has ended."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    if mode in ("no_token", "same_token"):
        client = _StuckPaging(
            {"b": {f"s{i}/k{j:05d}": (1, t) for i in range(3) for j in range(50)}},
            drop_token=mode == "no_token",
        )
        shards, match = ["s0/", "s1/", "s2/"], "does not advance"
    else:
        client = _Misordered({"b": {f"d/k{i:05d}": (1, t) for i in range(300)}}, mode)
        shards, match = ["d/"], "does not sort after"
    with pytest.raises(RuntimeError, match=match):
        list(_paged_ahead(_list_shards(client, shards, Bucket="b", MaxKeys=10)))
    assert not _pager_threads()


def test_paged_ahead_close_early_joins_the_pager():
    """The pager requests ahead of a consumer that has taken one page,
    but never more than 2 x MAX_IN_FLIGHT pages it has not yielded; a
    close joins the pager thread and leaves no request running."""
    import time

    client = _Counting(_sharded_bucket(), delay_s=0.01)
    pages = _paged_ahead(
        _list_shards(client, [f"s{i:03d}/" for i in range(40)], Bucket="b", MaxKeys=1)
    )
    next(pages)
    deadline = time.monotonic() + 30
    while client.calls - 1 <= MAX_IN_FLIGHT and time.monotonic() < deadline:
        time.sleep(0.01)
    time.sleep(0.2)  # let the pager run into its bound
    assert MAX_IN_FLIGHT < client.calls - 1 <= 2 * MAX_IN_FLIGHT
    pages.close()
    assert not _pager_threads()
    calls = client.calls
    time.sleep(0.05)
    assert client.running == 0 and client.calls == calls <= 1 + 2 * MAX_IN_FLIGHT


def test_listing_pages_ahead_lists_every_key_once(spark):
    """Through a session, listing tasks that page many rounds ahead of
    their output (3-key pages over 91 shards) list every key exactly
    once."""
    df = list_objects_df(
        spark, "fake-bucket", client_factory=fake_client_factory, page_size=3
    )
    assert "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()
    _assert_complete_and_exact(df)


def _assert_arrow_local_relation(df):
    """The executed plan's one leaf is a LocalTableScan and no Python
    RDD produces its rows: the only Python a task runs is the plan's
    own (the listing's mapInArrow)."""
    qe = df._jdf.queryExecution()
    leaves = qe.executedPlan().collectLeaves()
    names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    assert names == ["LocalTableScan"], names
    lineage = qe.toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage


def test_listing_runs_in_parallelism_tasks_without_shuffle(spark):
    """The listing is one Arrow local relation of shard rows mapped in
    Arrow: no Exchange, no Python RDD under the relation, and at most
    defaultParallelism partitions, not a task per shard (91 shards plus
    20 direct root objects here; that every key is listed once is
    test_list_objects_df_complete_and_exact)."""
    df = list_objects_df(
        spark, "fake-bucket", client_factory=fake_client_factory, page_size=100
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert df.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    _assert_arrow_local_relation(df)


def test_local_relation_is_arrow_sliced_like_local_table_scan(spark):
    """The helper behind the listing and the driver-built query results:
    row tuples become an Arrow local relation with the rows, schema and
    min(rows, defaultParallelism) contiguous slices a list passed to
    createDataFrame had, but no Python task."""
    par = spark.sparkContext.defaultParallelism
    rows = [(i, f"s{i}", [i, -i]) for i in range(2 * par + 1)]
    df = local_relation(spark, rows, "n long, s string, a array<int>")
    _assert_arrow_local_relation(df)
    assert df.schema.simpleString() == "struct<n:bigint,s:string,a:array<int>>"
    assert [tuple(r) for r in df.collect()] == rows
    assert [len(p) for p in df.rdd.glom().collect()] == [
        (i + 1) * len(rows) // par - i * len(rows) // par for i in range(par)
    ]
    one = local_relation(spark, rows[:1], "n long, s string, a array<int>")
    assert one.rdd.getNumPartitions() == 1
    assert local_relation(spark, [], "n long").count() == 0


def test_listing_slices_survive_the_arrow_local_relation_threshold(spark):
    """Above spark.sql.execution.arrow.localRelationThreshold Spark ships
    an Arrow table as an RDD with one partition per record batch
    instead of a local relation; the listing still runs in
    min(shards, defaultParallelism) slices and lists every key once."""
    key = "spark.sql.execution.arrow.localRelationThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "0")
    try:
        df = list_objects_df(
            spark, "fake-bucket", client_factory=fake_client_factory, page_size=100
        )
        shards, _ = discover_shards(fake_client_factory(), "fake-bucket")
        want = min(len(shards), spark.sparkContext.defaultParallelism)
        assert df.rdd.getNumPartitions() == want
        _assert_complete_and_exact(df)
    finally:
        spark.conf.set(key, before)


def test_manifest_observed_stats_single_job(spark, tmp_path):
    """Observation collects count/bytes from the same job that writes
    the manifest - no second listing pass (A2, main.rs:284-289)."""
    from pyspark.sql import Observation

    out = str(tmp_path / "obs.parquet")
    obs = Observation("stats")
    manifest_from_s3(
        spark,
        "s3://fake-bucket/dir1/",
        output=out,
        client_factory=fake_client_factory,
        observation=obs,
    )
    stats = obs.get
    back = spark.read.parquet(out)
    assert stats["objects"] == back.count()
    assert stats["total_bytes"] == sum(r.Size for r in back.collect())


def test_cli_end_to_end_single_object(spark, tmp_path, monkeypatch, capsys):
    """The full CLI surface (C3, main.rs:23-60) against the fake S3:
    argument parsing, listing, manifest derivation, --single-object
    write, and the reference's final stats line (main.rs:284-289)."""
    import os

    from s3_manifest_spark.manifest import cli

    monkeypatch.setattr(
        cli, "make_boto3_client_factory", lambda **kw: fake_client_factory
    )
    out = str(tmp_path / "m.parquet")
    rc = cli.main(
        ["s3://fake-bucket/dir2/", "-o", out, "--single-object", "--shards", "8"]
    )
    assert rc == 0
    assert os.path.isfile(out), "single-object mode writes ONE file at the key"
    back = spark.read.parquet(out)
    expect = {k for k in ALL_KEYS if k.startswith("dir2/")}
    assert {r.Key for r in back.collect()} == expect
    stats_line = capsys.readouterr().out.strip().splitlines()[-1]
    assert "objects/sec" in stats_line and f"-> {out}" in stats_line


def test_listing_progress_heartbeat(spark):
    """U1 (main.rs:176-183): the live spinner's accumulator reaches the
    exact listed-object count and the final rendered line carries
    elapsed/count/rate."""
    import io
    import re

    from s3_manifest_spark.manifest.progress import ListingProgress

    buf = io.StringIO()
    with ListingProgress(spark, stream=buf, interval=0.05) as prog:
        df = list_objects_df(
            spark,
            "fake-bucket",
            client_factory=fake_client_factory,
            page_size=100,
            progress=prog,
        )
        n = df.count()
    assert n == len(ALL_KEYS)
    assert prog.count == n  # every page reported exactly once
    out = buf.getvalue()
    final = out.rsplit("\r", 1)[-1]
    assert re.search(rf"\[ *[\d.]+s\] {n} objects \([\d,]+ objects/sec\)", final)


def test_fake_start_after_semantics():
    """StartAfter begins strictly after the marker and is ignored when
    a ContinuationToken is present (real-S3 rules)."""
    from s3_manifest_spark.sources.fake_s3 import fake_client_factory

    c = fake_client_factory()
    marker = sorted(ALL_KEYS)[100]
    resp = c.list_objects_v2(
        Bucket="fake-bucket", StartAfter=marker, MaxKeys=50
    )
    got = [o["Key"] for o in resp["Contents"]]
    assert got == sorted(k for k in ALL_KEYS if k > marker)[:50]
    assert marker not in got
    # token overrides StartAfter
    tok = resp["NextContinuationToken"]
    resp2 = c.list_objects_v2(
        Bucket="fake-bucket",
        StartAfter="zzzz-way-past-everything",
        ContinuationToken=tok,
        MaxKeys=10,
    )
    assert [o["Key"] for o in resp2["Contents"]] == sorted(
        k for k in ALL_KEYS if k >= tok
    )[:10]


def test_incremental_listing_equals_tail(spark):
    """start_after must return exactly the keys above the marker —
    pagination, sharding, and the shard-skip fast path included — so
    previous ∪ incremental == full listing with no overlap."""
    marker = sorted(ALL_KEYS)[len(ALL_KEYS) // 2]
    inc = list_objects_df(
        spark,
        "fake-bucket",
        client_factory=fake_client_factory,
        page_size=100,
        start_after=marker,
    )
    got = sorted(r.key for r in inc.collect())
    assert got == sorted(k for k in ALL_KEYS if k > marker)


def test_incremental_listing_empty_when_marker_at_end(spark):
    last = max(ALL_KEYS)
    inc = list_objects_df(
        spark,
        "fake-bucket",
        client_factory=fake_client_factory,
        start_after=last,
    )
    assert inc.count() == 0


def test_incremental_listing_keeps_astral_key_shards(spark):
    """The shard-skip rule must be exact for arbitrary Unicode: a shard
    whose prefix is a prefix OF the marker can still hold keys above
    it (e.g. astral-plane code points > U+FFFF, where a p+'\\uffff'
    upper-bound sentinel would wrongly skip), while shards entirely
    below the marker are dropped."""
    import datetime as dt

    from s3_manifest_spark.sources.fake_s3 import custom_client_factory

    t = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    keys = [
        "adir/low-key.txt",
        "data/aaa.txt",
        "data/\U00010000a.txt",   # astral-plane keys sort above ￿
        "data/\U00010000b.txt",
        "zdir/tail.txt",
    ]
    bucket = {"b": {k: (1, t) for k in keys}}
    factory = custom_client_factory(bucket)
    marker = "data/\U00010000a.txt"
    inc = list_objects_df(
        spark, "b", client_factory=factory, start_after=marker
    )
    got = sorted(r.key for r in inc.collect())
    assert got == sorted(k for k in keys if k > marker)
    assert "data/\U00010000b.txt" in got


def test_fake_client_delimiter_astral_keys_terminate():
    """Direct FakeS3Client regression: Delimiter grouping over keys with
    astral-plane code points must terminate and emit every group + key.
    The old ``cp + '\\uffff'`` group-skip sentinel looped forever here
    (astral keys sort above U+FFFF), and the ``hi`` bound silently
    dropped astral keys from prefix listings."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    keys = [
        "data/\U00010000grp/a.txt",
        "data/\U00010000grp/b.txt",
        "data/plain.txt",
        "data/sub/\U0010FFFFx.txt",
        "data/sub/y.txt",
        "data/\U0010FFFF",  # max code point, ungrouped
    ]
    c = FakeS3Client({"b": {k: (1, t) for k in keys}})

    resp = c.list_objects_v2(Bucket="b", Prefix="data/", Delimiter="/")
    got_prefixes = sorted(p["Prefix"] for p in resp["CommonPrefixes"])
    got_keys = sorted(o["Key"] for o in resp["Contents"])
    assert got_prefixes == ["data/sub/", "data/\U00010000grp/"]
    assert got_keys == ["data/plain.txt", "data/\U0010FFFF"]

    # Prefix bound must include astral keys (line-41 sibling defect).
    resp2 = c.list_objects_v2(Bucket="b", Prefix="data/\U00010000grp/")
    assert sorted(o["Key"] for o in resp2["Contents"]) == keys[:2]

    # Pagination across astral groups must also terminate and cover all.
    seen, token = [], ""
    for _ in range(20):
        kw = dict(Bucket="b", Prefix="data/", Delimiter="/", MaxKeys=1)
        if token:
            kw["ContinuationToken"] = token
        r = c.list_objects_v2(**kw)
        seen += [p["Prefix"] for p in r["CommonPrefixes"]]
        seen += [o["Key"] for o in r["Contents"]]
        if not r["IsTruncated"]:
            break
        token = r["NextContinuationToken"]
    else:
        raise AssertionError("pagination did not terminate")
    assert sorted(seen) == sorted(set(got_prefixes + got_keys))


def _deep_factory():
    """A bucket whose keys sit one level deeper than discovery's BFS
    reaches, so its last frontier is a shard left for the tasks."""
    import datetime as dt

    from s3_manifest_spark.sources.fake_s3 import custom_client_factory

    t = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    keys = [f"a/b/c/d-{i:03d}.txt" for i in range(40)] + ["a/top.txt", "z.txt"]
    return custom_client_factory({"deep": {k: (len(k), t) for k in keys}}), set(keys)


def _is_task_path(df) -> bool:
    return "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "case, target_shards, task_path",
    [
        ("synth", 1000, False),  # discovery walks every shard down to keys
        ("synth", 1, True),      # BFS stops at dir3/.., and dir3/ holds the marker
        ("deep", 64, True),      # keys deeper than DISCOVER_MAX_ROUNDS levels
    ],
)
def test_incremental_listing_mid_shard_marker_equals_tail(
    spark, case, target_shards, task_path
):
    """A marker that falls inside a shard lists exactly the keys above
    it, whether discovery prunes every shard (the driver-side relation)
    or leaves the marker's shard to the listing tasks."""
    if case == "synth":
        bucket, factory, keys = "fake-bucket", fake_client_factory, ALL_KEYS
        inside = sorted(k for k in keys if k.startswith("dir3/sub5/"))
    else:
        bucket = "deep"
        factory, keys = _deep_factory()
        inside = sorted(k for k in keys if k.startswith("a/b/c/"))
    marker = inside[len(inside) // 2]
    inc = list_objects_df(
        spark,
        bucket,
        client_factory=factory,
        target_shards=target_shards,
        page_size=7,
        start_after=marker,
    )
    assert _is_task_path(inc) == task_path
    got = [r.key for r in inc.collect()]
    assert len(got) == len(set(got))
    assert set(got) == {k for k in keys if k > marker}


class _RecordingClient:
    """Passes ListObjectsV2 through and records every request."""

    def __init__(self, inner):
        self.inner = inner
        self.requests: list[dict] = []

    def list_objects_v2(self, **kw):
        self.requests.append(kw)
        return self.inner.list_objects_v2(**kw)


class _KeepsMarkerGroup:
    """ListObjectsV2 that applies StartAfter before it groups keys into
    CommonPrefixes (perfbench's stub does): the group holding the
    marker comes back whenever it holds a key above the marker, where
    S3 and FakeS3Client leave it out."""

    def __init__(self, inner):
        self.inner = inner

    def list_objects_v2(self, **kw):
        resp = self.inner.list_objects_v2(**kw)
        marker, p = kw.get("StartAfter", ""), kw.get("Prefix", "")
        d = marker.find("/", len(p)) if marker.startswith(p) else -1
        if d >= 0 and kw.get("Delimiter") and "ContinuationToken" not in kw:
            group = marker[: d + 1]
            above = self.inner.list_objects_v2(
                Bucket=kw["Bucket"], Prefix=group, StartAfter=marker, MaxKeys=1
            )
            if above["Contents"]:
                common = [{"Prefix": group}] + resp["CommonPrefixes"]
                resp = dict(resp, CommonPrefixes=common)
        return resp


@pytest.mark.parametrize(
    "marker",
    [
        sorted(ALL_KEYS)[len(ALL_KEYS) // 2],                          # a key
        sorted(k for k in ALL_KEYS if k.startswith("dir4/sub2/"))[5],  # mid-shard
        max(k for k in ALL_KEYS if k.startswith("dir2/sub9/")),        # group's last key
        "dir5/sub1/",                                                   # a bare group
        max(ALL_KEYS),
    ],
)
def test_discovery_requests_only_prefixes_above_marker(marker):
    """Discovery sends the marker with every listing: one flat probe of
    the root and the delimiter listings.  Apart from the root and the
    marker's own ancestor groups (at most one per level, which S3 leaves
    out of CommonPrefixes), no prefix whose keys all sort at or below
    the marker is ever requested; shards plus direct objects cover
    exactly the tail.  A server that applies StartAfter before grouping
    gets the same requests and shards."""
    tail = {k for k in ALL_KEYS if k > marker}
    results = []
    for wrap in (lambda c: c, _KeepsMarkerGroup):
        c = _RecordingClient(wrap(fake_client_factory()))
        shards, direct = discover_shards(
            c, "fake-bucket", "", target_shards=50, start_after=marker
        )
        flat = [kw for kw in c.requests if "Delimiter" not in kw]
        assert len(flat) == 1 and flat[0]["Prefix"] == ""
        prefixes = [kw["Prefix"] for kw in c.requests if "Delimiter" in kw]
        assert all(kw["StartAfter"] == marker for kw in c.requests)
        assert prefixes.count("") == 1
        for p in prefixes:
            assert marker.startswith(p) or any(k.startswith(p) for k in tail), p
        direct_keys = {o["Key"] for o in direct}
        assert direct_keys <= tail
        assert {k for k in tail if not any(k.startswith(s) for s in shards)} == direct_keys
        for s in shards:
            assert marker.startswith(s) or any(k.startswith(s) for k in tail), s
        results.append((sorted(prefixes), shards, direct_keys))
    assert results[0] == results[1]


def test_driver_path_refresh_keeps_progress_observation_and_schema(
    spark, tmp_path
):
    """A refresh whose tail discovery lists on its own runs no Python
    task and still honours the listing contracts: the progress count
    is the tail size, an Observation reports the written rows, and an
    empty tail writes a 0-row manifest with the reference schema (five
    non-null columns, LastModified a millisecond timestamp)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Observation

    from s3_manifest_spark.manifest.progress import ListingProgress

    marker = sorted(ALL_KEYS)[-40]
    tail = {k for k in ALL_KEYS if k > marker}
    with ListingProgress(spark, stream=io.StringIO(), interval=60) as prog:
        inc = list_objects_df(
            spark,
            "fake-bucket",
            client_factory=fake_client_factory,
            progress=prog,
            start_after=marker,
        )
        assert not _is_task_path(inc)
        assert {r.key for r in inc.collect()} == tail
    assert prog.count == len(tail)

    out = str(tmp_path / "refresh.parquet")
    obs = Observation("refresh")
    manifest_from_s3(
        spark,
        "s3://fake-bucket/",
        output=out,
        client_factory=fake_client_factory,
        observation=obs,
        start_after=marker,
    )
    back = pq.read_table(out)
    assert set(back.column("Key").to_pylist()) == tail
    assert obs.get["objects"] == back.num_rows
    assert obs.get["total_bytes"] == sum(back.column("Size").to_pylist())

    for single_object in (False, True):
        empty = str(tmp_path / f"empty-{single_object}.parquet")
        obs = Observation(f"empty-{single_object}")
        manifest_from_s3(
            spark,
            "s3://fake-bucket/",
            output=empty,
            client_factory=fake_client_factory,
            observation=obs,
            single_object=single_object,
            start_after=max(ALL_KEYS),
        )
        table = pq.read_table(empty)
        schema = table.schema
        assert table.num_rows == 0
        assert obs.get == {"objects": 0, "total_bytes": 0}
        assert schema.names == ["Bucket", "Key", "FileName", "Size", "LastModified"]
        assert not any(f.nullable for f in schema)
        assert [schema.field(n).type for n in schema.names[:4]] == [
            pa.string(), pa.string(), pa.string(), pa.int64()
        ]
        assert schema.field("LastModified").type == pa.timestamp("ms", tz="UTC")


def test_tail_that_fits_one_page_is_one_round_trip(spark):
    """A tail of at most one page is listed by discovery's flat probe:
    exactly two requests, sent together (the probe and the root
    delimiter listing, both carrying the marker), no shard, the tail as
    direct objects in key order, and a listing on the driver path."""
    marker = sorted(ALL_KEYS)[-40]
    tail = sorted(k for k in ALL_KEYS if k > marker)
    server = _Counting(synth_bucket(), delay_s=0.05)
    c = _RecordingClient(server)
    shards, direct = discover_shards(c, "fake-bucket", "", start_after=marker)
    assert shards == []
    assert [o["Key"] for o in direct] == tail
    assert sorted(("Delimiter" in kw, kw["Prefix"]) for kw in c.requests) == [
        (False, ""), (True, "")
    ]
    assert all(kw["StartAfter"] == marker for kw in c.requests)
    assert server.max_running == 2
    inc = list_objects_df(
        spark, "fake-bucket", client_factory=fake_client_factory, start_after=marker
    )
    assert not _is_task_path(inc)
    assert sorted(r.key for r in inc.collect()) == tail


@pytest.mark.parametrize("extra, task_path", [(0, False), (1, True)])
def test_probe_page_size_boundary(spark, extra, task_path):
    """A listing of exactly ``page_size`` keys is the probe's one
    untruncated page; one key more truncates it, and the listing falls
    through to the BFS and the listing tasks.  Both list every key once."""
    df = list_objects_df(
        spark,
        "fake-bucket",
        client_factory=fake_client_factory,
        page_size=len(ALL_KEYS) - extra,
    )
    assert _is_task_path(df) == task_path
    _assert_complete_and_exact(df)


class _MisorderedFlat(FakeS3Client):
    """Real paging, except that a listing without a Delimiter lists its
    keys backwards."""

    def list_objects_v2(self, **kw):
        resp = super().list_objects_v2(**kw)
        if "Delimiter" not in kw:
            resp["Contents"] = resp["Contents"][::-1]
        return resp


def test_probe_page_with_non_increasing_keys_fails_loud(spark, tmp_path):
    """The probe is paged through the same checks as every listing: a
    complete probe page whose keys do not strictly increase fails the
    refresh instead of writing a manifest."""
    import functools
    import os

    out = str(tmp_path / "refresh.parquet")
    with pytest.raises(RuntimeError, match="does not sort after"):
        manifest_from_s3(
            spark,
            "s3://fake-bucket/",
            output=out,
            client_factory=functools.partial(_MisorderedFlat, synth_bucket()),
            start_after=sorted(ALL_KEYS)[-40],
        )
    assert not os.path.exists(out)
