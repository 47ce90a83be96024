"""K2 — the S3 parquet sink over the wire, without hadoop-aws.

The reference uploads its manifest by writing a temp parquet file and
PutObject-ing the ENTIRE file from memory (main.rs:273-282, 321-359 —
``fs::read(temp_file)`` buffers the whole object in RAM).  The
preferred Spark path is ``df.write.parquet("s3a://…")``: per-task
streaming multipart upload through the S3A committer.  But s3a needs
the hadoop-aws + aws-sdk jars, which not every Spark distribution
ships (this one does not) — and a user pointing ``-o s3://…`` at a
real bucket must not depend on a jar the install lacks.

This module is the jar-free wire path, built from the same Spark-first
shape as the s3a committer: the upload is EXECUTOR-side and
partition-parallel.  Each task

1. streams its Arrow batches through the manifest's one part writer
   (``manifest.core.write_parts``: one ``pyarrow.parquet.ParquetWriter``,
   bounded row groups) into a task-local temp file (disk-bounded, never
   whole-partition in memory), with the schema and footer keys Spark's
   writer writes, timestamps at milliseconds,
2. multipart-uploads that file via boto3's managed transfer (8 MiB
   chunks streamed from disk — memory stays O(chunk), unlike
   main.rs:327-329), and
3. emits a one-row summary (object key, rows, bytes).

The driver sees only the per-partition summary rows (bounded by
partition count), so the sink scales with executors, not driver
memory.  Part-object names are deterministic per (run, partition):
a retried task overwrites its own object, making the sink idempotent
under task re-execution.

``single_object=True`` is the reference-compatibility mode: the frame
funnels through one task and the lone parquet lands at EXACTLY the
requested key (consumers GET that key, main.rs:271-282) — one task by
construction, correct but not the 100 TB path.
"""

from __future__ import annotations

import uuid
from typing import Callable

from pyspark.sql import DataFrame

from s3_manifest_spark.manifest.core import part_schema, write_parts

#: boto3 managed-transfer chunking: multipart from 8 MiB, 8 MiB parts —
#: small enough that executor memory per concurrent upload stays tiny,
#: large enough that a 5 TiB object stays under S3's 10k-part limit
#: would need ~512 MiB parts; callers writing single objects that big
#: should raise this (the transfer config is per-call, not global).
_CHUNK_BYTES = 8 * 1024 * 1024


def _default_factory():
    import boto3

    return boto3.client("s3")


def upload_parquet_boto3(
    df: DataFrame,
    bucket: str,
    key: str,
    client_factory: Callable[[], object] | None = None,
    single_object: bool = False,
    overwrite: bool = True,
    write_success_marker: bool = True,
) -> list[dict]:
    """Write ``df`` as parquet object(s) to ``s3://bucket/key`` using
    executor-side boto3 multipart uploads; returns the per-object
    summaries ``[{"key", "rows", "bytes"}, ...]``.

    Directory mode (default): one object per non-empty partition at
    ``key/part-<pid>-<run>.parquet`` plus an empty ``key/_SUCCESS``
    marker, mirroring the layout ``df.write.parquet`` produces — a
    reader can point either engine at the same prefix.  Existing
    objects under ``key/`` are deleted first when ``overwrite`` (same
    contract as ``mode("overwrite")``).

    ``single_object=True``: coalesce to one task, upload exactly
    ``key`` (reference parity, main.rs:271-282).  PutObject overwrite
    semantics apply — no pre-delete needed.
    """
    factory = client_factory or _default_factory
    run_id = uuid.uuid4().hex[:12]
    prefix = key.rstrip("/")
    # Computed on the driver, so an EMPTY frame still writes a valid
    # zero-row parquet in single-object mode (the reference writes the
    # file unconditionally, main.rs:156-165).
    schema = part_schema(df.sparkSession, df.schema)

    if single_object:
        df = df.coalesce(1)

    def upload_partition(batches):
        import os
        import tempfile

        import pyarrow as pa
        from boto3.s3.transfer import TransferConfig
        from pyspark import TaskContext

        with tempfile.TemporaryDirectory() as tmp:
            # An empty partition writes no object (s3a parity), except
            # for the one object of single-object mode.
            for path, rows, _ in write_parts(
                batches, schema, lambda n: os.path.join(tmp, "part.parquet"),
                empty_part=single_object,
            ):
                if single_object:
                    obj_key = prefix
                else:
                    pid = TaskContext.get().partitionId()
                    obj_key = f"{prefix}/part-{pid:05d}-{run_id}.parquet"
                size = os.path.getsize(path)
                factory().upload_file(
                    path,
                    bucket,
                    obj_key,
                    Config=TransferConfig(
                        multipart_threshold=_CHUNK_BYTES,
                        multipart_chunksize=_CHUNK_BYTES,
                    ),
                )
                yield pa.RecordBatch.from_pydict(
                    {"key": [obj_key], "rows": [rows], "bytes": [size]}
                )

    if overwrite and not single_object:
        _delete_prefix(factory(), bucket, prefix + "/")

    summaries = df.mapInArrow(
        upload_partition, schema="key string, rows long, bytes long"
    ).collect()
    if single_object and not summaries:
        # A frame with no partitions (an empty local relation) runs no
        # task: its zero-row object is written from the driver.
        return [r for b in upload_partition(iter(())) for r in b.to_pylist()]
    if write_success_marker and not single_object:
        factory().put_object(Bucket=bucket, Key=f"{prefix}/_SUCCESS", Body=b"")
    return [r.asDict() for r in summaries]


def _delete_prefix(client, bucket: str, prefix: str) -> None:
    """Overwrite semantics for directory mode: remove prior objects
    under the output prefix (ListObjectsV2 pages of ≤1000 keys, batch
    DeleteObjects).  Bounded by the OUTPUT manifest's own object count
    — part files, not data rows — so this driver-side loop is small
    even at 100 TB inputs."""
    paginator = client.get_paginator("list_objects_v2")
    for page in paginator.paginate(Bucket=bucket, Prefix=prefix):
        contents = page.get("Contents") or []
        if contents:
            client.delete_objects(
                Bucket=bucket,
                Delete={
                    "Objects": [{"Key": o["Key"]} for o in contents],
                    "Quiet": True,
                },
            )


def s3a_available(spark) -> bool:
    """True when the hadoop-aws S3AFileSystem is on the JVM classpath
    — the preferred ``df.write.parquet("s3a://…")`` path works.  When
    False, S3 output falls back to :func:`upload_parquet_boto3`."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.hadoop.fs.s3a.S3AFileSystem"
        )
        return True
    except Exception:
        return False
