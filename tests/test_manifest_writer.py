"""The manifest's writers.  ``write_manifest``: a manifest whose rows
already sit on the driver (an Arrow local relation) is written by the
driver with no Spark job; every other frame goes through Spark's
writer.  ``manifest_from_s3`` into a local directory: the listing tasks
write their own parts, or the driver when there is no shard.  All of
them must leave the same files behind."""

from __future__ import annotations

import datetime as dt
import os
import time
import uuid
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from s3_manifest_spark.manifest.core import derive_manifest, write_manifest
from s3_manifest_spark.sources.s3_listing import LISTING_SCHEMA
from s3_manifest_spark.sources.tables import local_relation

ROWS = [
    (f"dt=2024-0{i % 3 + 1}/src={i % 5}/f{i}.json", None if i % 7 == 0 else i * 11,
     f"2024-10-22T12:34:{i % 60:02d}.{i % 1000:03d}Z" if i % 11 else None, None, None)
    for i in range(604)
]


def _manifest(spark, rows=ROWS):
    return derive_manifest(local_relation(spark, rows, LISTING_SCHEMA), "b")


def _jobs(spark, fn):
    """Spark jobs started while ``fn`` runs, counted under a job group."""
    sc = spark.sparkContext
    group = f"writer-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "write_manifest probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _sorted_rows(table: pa.Table):
    return sorted(zip(*(table.column(c).to_pylist() for c in table.column_names)))


@pytest.mark.parametrize("single_object", [False, True])
def test_driver_resident_manifest_is_written_without_a_job(
    spark, tmp_path, single_object
):
    """A manifest over a local relation is written by the driver in
    both modes: no Spark job, and ``pq.read_table`` gives the rows
    Spark's writer gives for the same data.  The second write of a
    smaller frame replaces the first."""
    out = str(tmp_path / "manifest.parquet")
    for rows in (ROWS, ROWS[:10]):
        m = _manifest(spark, rows)
        ref = str(tmp_path / f"spark-{len(rows)}")
        m.write.parquet(ref)
        assert _jobs(spark, lambda: write_manifest(m, out, single_object=single_object)) == []
        assert _sorted_rows(pq.read_table(out)) == _sorted_rows(pq.read_table(ref))
    if single_object:
        assert os.path.isfile(out)
        assert [n for n in os.listdir(tmp_path) if "__smsp_tmp_" in n] == []
    else:
        names = sorted(n for n in os.listdir(out) if not n.startswith("."))
        assert names[0] == "_SUCCESS" and len(names) == 2, names
        assert names[1].startswith("part-00000-") and names[1].endswith("-c000.snappy.parquet")


def test_driver_written_schema_and_footer(spark, tmp_path):
    """Five non-null columns, ``LastModified`` ``timestamp[ms, UTC]``,
    and the footer keys Spark's writer sets, with Spark's values."""
    out = str(tmp_path / "m")
    ref = str(tmp_path / "ref")
    write_manifest(_manifest(spark), out)
    _manifest(spark).write.parquet(ref)
    schema = pq.read_schema(next(
        os.path.join(out, n) for n in os.listdir(out) if n.startswith("part-")
    ))
    assert schema.names == ["Bucket", "Key", "FileName", "Size", "LastModified"]
    assert not any(f.nullable for f in schema)
    assert [schema.field(n).type for n in schema.names] == [
        pa.string(), pa.string(), pa.string(), pa.int64(), pa.timestamp("ms", tz="UTC")
    ]
    ref_meta = pq.read_metadata(next(
        os.path.join(ref, n) for n in os.listdir(ref) if n.startswith("part-")
    )).metadata
    for key in (b"org.apache.spark.sql.parquet.row.metadata", b"org.apache.spark.version"):
        assert schema.metadata[key] == ref_meta[key]


def test_zero_row_driver_write_is_one_file(spark, tmp_path):
    """An empty driver-resident frame still writes one 0-row file with
    the schema, in both modes, and starts no job."""
    empty = _manifest(spark).filter(F.col("Size") < 0)
    out = str(tmp_path / "empty")
    assert _jobs(spark, lambda: write_manifest(empty, out)) == []
    parts = [n for n in os.listdir(out) if n.startswith("part-")]
    assert len(parts) == 1
    assert pq.read_table(os.path.join(out, parts[0])).num_rows == 0
    single = str(tmp_path / "empty.parquet")
    assert _jobs(spark, lambda: write_manifest(empty, single, single_object=True)) == []
    assert pq.read_table(single).num_rows == 0


def test_driver_write_honours_max_records_per_file(spark, tmp_path):
    out = str(tmp_path / "split")
    assert _jobs(
        spark, lambda: write_manifest(_manifest(spark), out, max_records_per_file=100)
    ) == []
    parts = sorted(n for n in os.listdir(out) if n.startswith("part-"))
    assert [pq.read_metadata(os.path.join(out, n)).num_rows for n in parts] == [100] * 6 + [4]
    assert [n.rsplit("-", 1)[1] for n in parts] == [f"c{i:03d}.snappy.parquet" for i in range(7)]


def test_driver_write_reads_back_with_ms_precision_in_any_time_zone(spark, tmp_path):
    """``spark.read.parquet`` gets the millisecond timestamps back, and
    the Python process's own time zone does not shift them."""
    rows = [("a/b.txt", 5, "2024-10-22T12:34:56.789Z", None, None)]
    out = str(tmp_path / "m")
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        write_manifest(_manifest(spark, rows), out)
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()
    lm = pq.read_table(out).column("LastModified")[0].as_py()
    assert lm == dt.datetime(2024, 10, 22, 12, 34, 56, 789000, tzinfo=dt.timezone.utc)
    back = spark.read.parquet(out).select(F.unix_millis("LastModified").alias("ms")).first()
    assert back.ms == int(lm.timestamp() * 1000)


def test_observed_manifest_keeps_its_observation(spark, tmp_path):
    """``observe`` leaves a ``CollectMetrics`` node that Catalyst does
    not fold, so the frame keeps Spark's writer and the Observation is
    filled by the write job."""
    obs = Observation("writer")
    m = _manifest(spark).observe(obs, F.count(F.lit(1)).alias("n"))
    out = str(tmp_path / "observed")
    assert _jobs(spark, lambda: write_manifest(m, out)) != []
    assert obs.get == {"n": len(ROWS)}
    assert pq.read_table(out).num_rows == len(ROWS)


def test_other_parquet_codec_keeps_sparks_writer(spark, tmp_path):
    """The driver writes snappy only, Spark's default; a session set to
    another codec gets Spark's writer and that codec's files."""
    key = "spark.sql.parquet.compression.codec"
    old = spark.conf.get(key)
    spark.conf.set(key, "zstd")
    try:
        out = str(tmp_path / "zstd")
        assert _jobs(spark, lambda: write_manifest(_manifest(spark), out)) != []
    finally:
        spark.conf.set(key, old)
    parts = [n for n in os.listdir(out) if n.startswith("part-")]
    assert parts and all(n.endswith(".zstd.parquet") for n in parts)
    assert pq.read_table(out).num_rows == len(ROWS)


# -- manifest_from_s3 into a local directory: the listing writes its own parts


import datetime as dt  # noqa: E402
import functools  # noqa: E402
import io  # noqa: E402

from s3_manifest_spark.manifest import core  # noqa: E402
from s3_manifest_spark.manifest.core import write_parts  # noqa: E402
from s3_manifest_spark.manifest.progress import ListingProgress  # noqa: E402
from s3_manifest_spark.sources.fake_s3 import (  # noqa: E402
    FakeS3Client,
    custom_client_factory,
    fake_client_factory,
    synth_bucket,
)
from s3_manifest_spark.sources.s3_listing import (  # noqa: E402
    list_objects_df,
    manifest_from_s3,
)

BUCKET = synth_bucket()["fake-bucket"]  # 2,520 keys in 91 shards and 20 root objects
REFRESH_MARKER = sorted(BUCKET)[-40]  # a 39-key tail: one probe page, no shard


def _executions(spark) -> dict:
    """Physical plan of every SQL execution so far, by execution id."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {
        ex.apply(i).executionId(): ex.apply(i).physicalPlanDescription()
        for i in range(ex.size())
    }


def _parts(out) -> list[str]:
    return sorted(os.path.join(out, n) for n in os.listdir(out) if n.startswith("part-"))


def _build(spark, out, **kw):
    kw.setdefault("client_factory", fake_client_factory)
    return manifest_from_s3(spark, "s3://fake-bucket/", output=out, **kw)


def test_sharded_build_is_one_job_with_no_spark_write(spark, tmp_path):
    """A build over shards runs one Spark job, the listing's, and no
    Spark file write; a refresh whose tail fits the probe page runs
    none.  Both write every key once and ``_SUCCESS``."""
    for out, kw, n_jobs, keys in (
        (str(tmp_path / "build"), {}, 1, set(BUCKET)),
        (str(tmp_path / "refresh"), {"start_after": REFRESH_MARKER}, 0,
         {k for k in BUCKET if k > REFRESH_MARKER}),
    ):
        before = _executions(spark)
        assert len(_jobs(spark, lambda: _build(spark, out, **kw))) == n_jobs
        plans = [p for i, p in _executions(spark).items() if i not in before]
        assert not any("InsertIntoHadoopFsRelationCommand" in p for p in plans)
        got = pq.read_table(out).column("Key").to_pylist()
        assert len(got) == len(keys) and set(got) == keys
        assert os.path.exists(os.path.join(out, "_SUCCESS"))


def test_listing_parts_read_back_like_sparks_writer(spark, tmp_path):
    """The parts the listing tasks write read back through
    ``spark.read.parquet`` and ``pq.read_table`` with the rows, schema
    and footer keys of Spark's writer over the same manifest, and each
    part is named for its task and the run.  The reference is derived
    from its own listing: the build's returned frame reads these very
    parts, with the file source's nullable columns."""
    out, ref = str(tmp_path / "m"), str(tmp_path / "ref")
    _build(spark, out)
    listing = list_objects_df(spark, "fake-bucket", client_factory=fake_client_factory)
    derive_manifest(listing, "fake-bucket").write.parquet(ref)
    assert spark.read.parquet(out).schema == spark.read.parquet(ref).schema
    assert sorted(spark.read.parquet(out).collect()) == sorted(
        spark.read.parquet(ref).collect()
    )
    assert _sorted_rows(pq.read_table(out)) == _sorted_rows(pq.read_table(ref))
    ref_meta = pq.read_metadata(_parts(ref)[0]).metadata
    parts = _parts(out)
    assert 1 < len(parts) <= spark.sparkContext.defaultParallelism
    for part in parts:
        schema = pq.read_schema(part)
        assert [schema.field(n).type for n in schema.names] == [
            pa.string(), pa.string(), pa.string(), pa.int64(), pa.timestamp("ms", tz="UTC")
        ]
        assert not any(f.nullable for f in schema)
        for key in (b"org.apache.spark.sql.parquet.row.metadata", b"org.apache.spark.version"):
            assert schema.metadata[key] == ref_meta[key]
        name = os.path.basename(part)
        assert name.startswith("part-0") and name.endswith("-c000.snappy.parquet")
    assert len({os.path.basename(p)[11:47] for p in parts}) == 1  # one run's uuid


@pytest.mark.parametrize(
    "name, kw", [("m", {}), ("m[1]{a,b}*?", {"start_after": REFRESH_MARKER})],
    ids=["build", "refresh"],
)
def test_returned_frame_reads_the_written_parts(spark, tmp_path, name, kw):
    """On the task path and the driver path, the returned frame reads
    exactly the parts just written, with their rows, and its plan holds
    no Python or local relation: acting on it lists nothing.  Glob
    characters in the directory's name are read literally."""
    out = str(tmp_path / name)
    returned = _build(spark, out, **kw)
    assert sorted(unquote(urlparse(f).path) for f in returned.inputFiles()) == _parts(out)
    assert _sorted_rows(returned.toArrow()) == _sorted_rows(pq.read_table(out))
    plans = returned._jdf.queryExecution().toString()  # every stage, physical too
    assert not any(
        n in plans for n in ("MapInArrow", "PythonUDF", "LocalRelation", "LocalTableScan")
    )


def test_listing_task_starts_a_new_part_at_max_records(spark, tmp_path, monkeypatch):
    """A task past ``MAX_RECORDS_PER_FILE`` rows goes on in its next
    part; a rebuild into the directory leaves none of the earlier run's
    parts behind."""
    monkeypatch.setattr(core, "MAX_RECORDS_PER_FILE", 100)
    out = str(tmp_path / "m")
    _build(spark, out)
    first = _parts(out)
    rows = [pq.read_metadata(p).num_rows for p in first]
    assert sum(rows) == len(BUCKET) and max(rows) == 100
    assert any(p.endswith("-c001.snappy.parquet") for p in first)
    monkeypatch.undo()
    _build(spark, out)
    again = _parts(out)
    assert len(again) < len(first) and not set(again) & set(first)
    assert pq.read_table(out).num_rows == len(BUCKET)


def test_failed_listing_task_leaves_no_success_marker(spark, tmp_path):
    """A client that fails in the middle of a shard (any request after
    its first page: by token, or a sub-range's ``StartAfter``) makes the
    build raise, and no ``_SUCCESS`` is left."""

    class FailsMidShard(FakeS3Client):
        def list_objects_v2(self, **kw):
            mid_shard = "ContinuationToken" in kw or "StartAfter" in kw
            if mid_shard and "Delimiter" not in kw:
                err = RuntimeError("AccessDenied mid-shard")
                err.response = {  # fatal: not retried
                    "Error": {"Code": "AccessDenied"},
                    "ResponseMetadata": {"HTTPStatusCode": 403},
                }
                raise err
            return super().list_objects_v2(**kw)

    t = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    bucket = {"deep": {f"a/b/c/d-{i:05d}": (i, t) for i in range(1500)}}
    out = str(tmp_path / "m")
    with pytest.raises(Exception, match="AccessDenied mid-shard"):
        manifest_from_s3(
            spark, "s3://deep/", output=out,
            client_factory=functools.partial(FailsMidShard, bucket),
        )
    assert not os.path.exists(os.path.join(out, "_SUCCESS"))


def test_observation_and_progress_on_both_paths(spark, tmp_path):
    """An Observation gets the written object count and bytes, and
    ``ListingProgress`` the listed count, on the task path and on the
    driver path."""
    from pyspark.sql import Observation

    for name, kw in (("build", {}), ("refresh", {"start_after": REFRESH_MARKER})):
        out = str(tmp_path / name)
        obs = Observation(name)
        with ListingProgress(spark, stream=io.StringIO(), interval=60) as prog:
            _build(spark, out, observation=obs, progress=prog, **kw)
        back = pq.read_table(out)
        want = {k: s for k, (s, _) in BUCKET.items() if k > kw.get("start_after", "")}
        assert back.num_rows == len(want) == prog.count
        assert obs.get == {"objects": len(want), "total_bytes": sum(want.values())}


def test_empty_listing_writes_one_zero_row_part(spark, tmp_path):
    """A listing of no rows writes one 0-row part with the manifest's
    schema, on the driver path (an empty tail) and on the task path
    (shards whose keys are gone by the time the tasks list them)."""
    from pyspark.sql import Observation

    class EmptiedAfterDiscovery(FakeS3Client):
        def list_objects_v2(self, **kw):
            if kw.get("Prefix") and "Delimiter" not in kw:
                return {"IsTruncated": False, "Contents": [], "KeyCount": 0}
            return super().list_objects_v2(**kw)

    t = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    deep = {"fake-bucket": {f"a/b/c/d-{i:05d}": (i, t) for i in range(1500)}}
    for name, kw, n_jobs in (
        ("driver", {"start_after": max(BUCKET)}, 1),  # the Observation's collect
        ("task", {"client_factory": functools.partial(EmptiedAfterDiscovery, deep)}, 1),
    ):
        out = str(tmp_path / name)
        obs = Observation(name)
        assert len(_jobs(spark, lambda: _build(spark, out, observation=obs, **kw))) == n_jobs
        parts = _parts(out)
        assert len(parts) == 1 and pq.read_metadata(parts[0]).num_rows == 0
        assert pq.read_schema(parts[0]).names == [f.name for f in core.MANIFEST_SCHEMA]
        assert obs.get == {"objects": 0, "total_bytes": 0}
        assert os.path.exists(os.path.join(out, "_SUCCESS"))


def test_listing_tasks_read_naive_times_as_utc(spark, tmp_path):
    """``LastModified`` is computed in the listing tasks: a naive
    datetime is UTC and sub-millisecond parts are floored, pre-epoch
    too, whatever the worker's own time zone."""
    naive = [
        dt.datetime(1969, 12, 31, 23, 59, 59, 999_500),
        dt.datetime(2024, 10, 22, 12, 34, 56, 789_999),
        dt.datetime(1901, 2, 3, 4, 5, 6, 1),
    ]
    keys = {f"a/b/c/d-{i:05d}": (i, naive[i % 3]) for i in range(1500)}
    out = str(tmp_path / "m")
    build = functools.partial(
        manifest_from_s3, spark, "s3://deep/", output=out,
        client_factory=custom_client_factory({"deep": keys}),
    )
    assert len(_jobs(spark, build)) == 1  # the task path: one shard, a/b/c/
    back = pq.read_table(out)
    got = dict(zip(back.column("Key").to_pylist(),
                   back.column("LastModified").cast(pa.int64()).to_pylist()))
    epoch = dt.datetime(1970, 1, 1)
    assert got == {k: (t - epoch) // dt.timedelta(milliseconds=1) for k, (_, t) in keys.items()}


def test_part_writer_caps_row_groups_and_parts(tmp_path, monkeypatch):
    """``write_parts`` holds at most one row group: row groups of
    ``ROW_GROUP_ROWS`` rows, a new part every ``max_records`` rows, a
    0-row part only when asked, and a finer timestamp floored to
    milliseconds."""
    monkeypatch.setattr(core, "ROW_GROUP_ROWS", 40)
    schema = pa.schema([pa.field("Size", pa.int64(), False),
                        pa.field("t", pa.timestamp("ms", tz="UTC"))])
    us = [-1_500, -1, 0, 1_999, None] * 50  # 250 rows in batches of 25
    batches = [
        pa.RecordBatch.from_arrays(
            [pa.array(range(i, i + 25), pa.int64()),
             pa.array(us[i:i + 25], pa.timestamp("us", tz="Pacific/Chatham"))],
            ["Size", "t"],
        )
        for i in range(0, 250, 25)
    ]
    parts = list(write_parts(
        batches, schema, lambda n: str(tmp_path / f"p{n}.parquet"), max_records=100,
        tally="Size",
    ))
    assert [(os.path.basename(p), rows, total) for p, rows, total in parts] == [
        ("p0.parquet", 100, sum(range(100))),
        ("p1.parquet", 100, sum(range(100, 200))),
        ("p2.parquet", 50, sum(range(200, 250))),
    ]
    metas = [pq.read_metadata(p) for p, _, _ in parts]
    groups = [[m.row_group(g).num_rows for g in range(m.num_row_groups)] for m in metas]
    assert groups == [[40, 40, 20], [40, 40, 20], [40, 10]]
    t = pq.read_table(str(tmp_path)).column("t").cast(pa.int64()).to_pylist()
    assert t == [None if v is None else v // 1000 for v in us]
    assert list(write_parts([], schema, lambda n: str(tmp_path / "none"))) == []
    ((empty, rows, _),) = write_parts([], schema, lambda n: str(tmp_path / "e"), empty_part=True)
    assert rows == 0 and pq.read_table(empty).num_rows == 0
