"""``write_manifest``'s two writers: a manifest whose rows already sit on
the driver (an Arrow local relation, as a short refresh lists it) is
written by the driver with no Spark job; every other frame goes through
Spark's writer.  Both must leave the same files behind."""

from __future__ import annotations

import datetime as dt
import os
import time
import uuid

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
