"""Tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, stub, workloads
from s3_manifest_spark.sources.fake_s3 import FakeS3Client

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def bucket(tmp_path_factory):
    objects, n_base = stub.make_bucket(7, 400)
    t = dt.datetime(2024, 5, 1, tzinfo=dt.timezone.utc)
    objects.update({
        "dt=2024-03-02/src=b/naïve-ü.parquet": (11, t),
        "dt=2024-03-02/src=b/\U0001f600.parquet": (12, t),
        "README": (5, t),
    })
    path = str(tmp_path_factory.mktemp("bucket") / "bucket.pkl")
    stub.write_bucket(path, objects)
    return path, objects


def _pages(client, **kw):
    pages, token = [], None
    while True:
        req = dict(kw, Bucket=stub.BUCKET)
        if token:
            req["ContinuationToken"] = token
        resp = client.list_objects_v2(**req)
        pages.append(resp)
        if not resp["IsTruncated"]:
            return pages
        token = resp["NextContinuationToken"]


@pytest.mark.parametrize("kw", [
    {},
    {"MaxKeys": 7},
    {"Delimiter": "/"},
    {"Delimiter": "/", "MaxKeys": 2},
    {"Prefix": "dt=2024-03-02/", "Delimiter": "/"},
    {"Prefix": "dt=2024-03-02/src=b/", "MaxKeys": 5},
    {"Prefix": "dt=2024-03-0", "MaxKeys": 50, "StartAfter": "dt=2024-03-02/src=c"},
    {"StartAfter": "dt=2024-03-16/src=e/", "MaxKeys": 3},
    {"Prefix": "nothing-here/"},
])
def test_stub_pages_equal_fake_s3(bucket, kw):
    path, objects = bucket
    mine = stub.StubS3Client(path, len(objects), rtt_s=0.0)
    reference = FakeS3Client({stub.BUCKET: objects})
    assert _pages(mine, **kw) == _pages(reference, **kw)


def test_stub_serves_only_visible_prefix(bucket):
    path, objects = bucket
    keys = sorted(objects)
    client = stub.StubS3Client(path, 10, rtt_s=0.0)
    listed = [o["Key"] for p in _pages(client, MaxKeys=3) for o in p["Contents"]]
    assert listed == keys[:10]


def test_tail_sorts_above_every_base_key():
    objects, n_base = stub.make_bucket(3, 2000)
    keys = sorted(objects)
    assert 0 < len(keys) - n_base < 0.05 * len(keys)
    assert all(k.startswith("dt=2024-03-17/") for k in keys[n_base:])
    assert not any(k.startswith("dt=2024-03-17/") for k in keys[:n_base])


def _manifest_table(objects) -> pa.Table:
    keys = sorted(objects)
    schema = pa.schema([
        pa.field("Bucket", pa.string(), False),
        pa.field("Key", pa.string(), False),
        pa.field("FileName", pa.string(), False),
        pa.field("Size", pa.int64(), False),
        pa.field("LastModified", pa.timestamp("ms", tz="UTC"), False),
    ])
    return pa.table({
        "Bucket": [stub.BUCKET] * len(keys),
        "Key": keys,
        "FileName": [k.rsplit("/", 1)[-1] for k in keys],
        "Size": [objects[k][0] for k in keys],
        "LastModified": [objects[k][1].replace(microsecond=objects[k][1].microsecond // 1000 * 1000)
                         for k in keys],
    }, schema=schema)


def test_corrupted_manifest_counts_as_failure(tmp_path):
    objects, _ = stub.make_bucket(5, 300)
    expected = checks.expected_manifest_hash(
        stub.BUCKET, [(k, *objects[k]) for k in objects]
    )
    good = _manifest_table(objects)
    sizes = good.column("Size").to_pylist()
    corrupted = {
        "dropped_row": good.slice(1),
        "size_off_by_one": good.set_column(
            3, good.schema.field("Size"), pa.array([sizes[0] + 1] + sizes[1:], pa.int64())
        ),
        "nullable_schema": good.cast(pa.schema([f.with_nullable(True) for f in good.schema])),
    }
    run = workloads.Run(None, None, str(tmp_path), 0, 0.0)
    for name, table in {"good": good, **corrupted}.items():
        os.makedirs(tmp_path / name)
        pq.write_table(table, tmp_path / name / "part-00000.parquet")
        run.record(checks.check_manifest_dir(str(tmp_path / name), expected))
    assert (run.attempted, run.failed) == (4, 3)


def test_corrupted_query_result_counts_as_failure():
    result = pd.DataFrame({"doc_a": [1, 2, 3], "doc_b": [4, 5, 6], "j": [0.5, 0.25, 1.0]})
    expected = checks.result_key(result.iloc[::-1])  # row order does not matter
    run = workloads.Run(None, None, "", 0, 0.0)
    for frame in (result, result.iloc[1:], result.assign(j=[0.5, 0.25, 0.9])):
        run.record(checks.result_key(frame) == expected)
    assert (run.attempted, run.failed) == (3, 2)


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
