"""Manifest core — the reference's one hardcoded query, Spark-first.

The reference (``/root/reference/src/main.rs``) scans an S3 listing and
derives a fixed 5-column manifest row per object::

    Bucket       = :bucket                                   (main.rs:371)
    Key          = coalesce(key, '')                         (main.rs:373-374)
    FileName     = last token of Key on a LITERAL delimiter  (main.rs:376)
    Size         = coalesce(size, 0)                         (main.rs:379)
    LastModified = rfc3339(last_modified) else epoch 0       (main.rs:381-387)
    ... WHERE startswith(Key, :prefix)                       (main.rs:210-219)

Here that pipeline is one pure projection over any listing DataFrame —
whether it came from the parallel S3 connector
(:mod:`s3_manifest_spark.sources.s3_listing`), a fixture parquet, or a
synthesized table.  Keeping it a pure ``DataFrame -> DataFrame``
function means Catalyst can push the prefix filter into whatever source
produced the listing, and the whole projection stays inside one
WholeStageCodegen span (no Python in the row path).

Fidelity contract (SURVEY.md §2C): literal (not regex) last-occurrence
split, no nulls in the output, ms-precision tz-naive-UTC timestamps,
exact column names/types.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: Exact output schema of the reference (main.rs:135-145).  Spark has no
#: unsigned 64-bit type; LongType is lossless for S3 sizes (≤ 5 TiB).
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("Bucket", T.StringType(), False),
        T.StructField("Key", T.StringType(), False),
        T.StructField("FileName", T.StringType(), False),
        T.StructField("Size", T.LongType(), False),
        T.StructField("LastModified", T.TimestampType(), False),
    ]
)

def file_name_expr(key: Column, delimiter: str = "/") -> Column:
    """Last token of ``key`` split on a LITERAL delimiter.

    ``substring_index(key, d, -1)`` matches Rust's
    ``key.rsplit(d).next()`` (main.rs:376) exactly, including:
    delimiter absent → whole key; key ends with delimiter → ``''``;
    multi-char and regex-metachar delimiters split literally.
    ``F.split`` would be wrong here — it is regex-based, so ``'.'`` or
    ``'|'`` delimiters would explode.
    """
    return F.substring_index(key, delimiter, -1)


def derive_manifest(
    listing: DataFrame,
    bucket: str,
    prefix: str = "",
    delimiter: str = "/",
    key_col: str = "key",
    size_col: str = "size",
    last_modified_col: str = "last_modified",
) -> DataFrame:
    """Apply the reference's projection+filter to a listing DataFrame.

    ``listing`` needs columns ``key`` (string, nullable), ``size``
    (numeric, nullable) and ``last_modified`` (RFC3339 string or
    timestamp, nullable) — the shape of an S3 ``ListObjectsV2`` page
    (main.rs:209).  Everything is built-in expressions, so at 100 TB the
    filter is pushed to the parquet/source scan and the projection is
    codegen'd; there is no shuffle in this pipeline at all.
    """
    key = F.coalesce(F.col(key_col).cast("string"), F.lit(""))
    lm = F.col(last_modified_col)
    lm_ts = lm if dict(listing.dtypes)[last_modified_col].startswith("timestamp") else F.to_timestamp(lm)

    out = listing.select(
        F.lit(bucket).alias("Bucket"),
        key.alias("Key"),
        file_name_expr(key, delimiter).alias("FileName"),
        F.coalesce(F.col(size_col), F.lit(0)).cast("long").alias("Size"),
        # Truncate to ms so parquet TIMESTAMP_MILLIS round-trips exactly
        # (main.rs:140-144 stores millisecond precision).
        F.timestamp_millis(
            F.coalesce(F.unix_millis(lm_ts), F.lit(0))
        ).alias("LastModified"),
    )
    if prefix:
        # Client-side re-check of the server-pushed prefix (main.rs:210-219);
        # startswith on the raw key, not path-aware.
        out = out.filter(F.col("Key").startswith(prefix))
    return out


#: Column types the driver writer converts: the manifest's.
_DRIVER_TYPES = (T.StringType, T.LongType, T.TimestampType)


def _driver_table(df: DataFrame) -> pa.Table | None:
    """``df``'s rows as one Arrow table when every row is already on
    the driver and the session writes Spark's default snappy Parquet;
    else None.

    The test is the optimized plan of a fresh projection of ``df``:
    Catalyst folds a projection (or filter) over a local relation into
    a ``LocalRelation``, whose ``collect`` runs no job.  A plan with no
    row bound (``maxRows``, e.g. a distributed listing) cannot fold,
    so it is sent to Spark's writer before any optimization.  ``df``'s
    own plan is never optimized, and the projection is dropped after
    the collect, so the write leaves no folded copy of the rows in the
    session.  Each timestamp is collected as ``unix_millis`` and typed
    ``timestamp[ms, UTC]``, so the Python process's time zone never
    touches it.  The footer carries the keys Spark's writer sets."""
    spark = df.sparkSession
    fields = df.schema.fields
    if spark.conf.get("spark.sql.parquet.compression.codec") != "snappy" or not all(
        isinstance(f.dataType, _DRIVER_TYPES) for f in fields
    ):
        return None
    qe = df._jdf.queryExecution()
    analyzed = qe.analyzed()
    bound = analyzed.maxRows()
    try:
        if bound.isEmpty():  # no row bound: nothing below it can fold
            return None
    finally:
        _release(spark, bound, analyzed, qe)
    ts = [isinstance(f.dataType, T.TimestampType) for f in fields]
    flat = df.select(*[
        F.unix_millis(F.col(f.name)).alias(f.name) if t else F.col(f.name)
        for f, t in zip(fields, ts)
    ])
    qe = flat._jdf.queryExecution()
    plan = qe.optimizedPlan()
    try:
        if plan.nodeName() != "LocalRelation":
            return None
        rows = flat.collect()
    finally:
        _release(spark, plan, qe, flat._jdf)
    schema = pa.schema(
        [
            pa.field(a.name, pa.timestamp("ms", tz="UTC"), a.nullable) if t else a
            for a, t in zip(to_arrow_schema(df.schema), ts)
        ],
        metadata={
            "org.apache.spark.sql.parquet.row.metadata": df._jdf.schema().json(),
            "org.apache.spark.version": spark.version,
        },
    )
    cols = zip(*rows) if rows else [[]] * len(fields)
    return pa.Table.from_arrays(
        [pa.array(c, type=a.type) for c, a in zip(cols, schema)], schema=schema
    )


def _release(spark, *proxies) -> None:
    """Drop the JVM objects behind py4j ``proxies`` now.  A proxy whose
    methods were called sits in a reference cycle, so Python frees it
    only in a full collection, and pinned-thread py4j then queues the
    release for a finalizer thread that wakes once a second; until
    then the JVM keeps what it references (a projection's folded rows,
    a closed stream's buffers)."""
    gateway = spark.sparkContext._gateway
    for p in proxies:
        gateway.detach(p)  # drops the finalizer; may only queue the release
        try:
            p._gateway_client.garbage_collect_object(p._target_id, False)
        except TypeError:  # a plain GatewayClient released it in detach
            pass


def _put(spark, fs, path, data: bytes) -> None:
    """Write ``data`` as the file at the Hadoop ``path``."""
    out = fs.create(path, True)
    try:
        out.write(data)
    finally:
        out.close()
        _release(spark, out)  # a closed stream still holds its buffers


def _parquet(table: pa.Table) -> bytes:
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf, compression="snappy")
    return buf.getvalue().to_pybytes()


def write_manifest(
    df: DataFrame,
    output: str,
    max_records_per_file: int = 5_000_000,
    single_object: bool = False,
) -> None:
    """Persist a manifest as Parquet (local path, s3a://, hdfs://, ...).

    Two writers, one layout.  The frame picks the writer: when the
    optimized plan of a projection of it is a ``LocalRelation`` (a
    driver-resident listing such as a short ``start_after`` refresh,
    with no ``observe`` on it, whose ``CollectMetrics`` blocks the
    fold), every row is already on the driver, and the driver writes
    them with pyarrow through the destination's Hadoop ``FileSystem``
    (:func:`_driver_table`): no Spark job, no task, no commit protocol.
    Every other frame, and every frame of a session whose Parquet codec
    is not Spark's default snappy, goes to Spark's writer.  Both write five
    non-null columns and Spark's footer keys, and a 0-row frame writes
    one 0-row file.  The driver always writes ``LastModified`` as a
    millisecond UTC timestamp, the manifest's precision; Spark's writer
    does so under the session's ``outputTimestampType`` of
    ``TIMESTAMP_MILLIS`` (``session.get_spark``).

    Spark's writer replaces the reference's ArrowWriter +
    whole-file-in-RAM PutObject (main.rs:147-165, 321-359): S3A streams
    multipart uploads per task, so memory stays bounded regardless of
    manifest size, and each task writes its own file in parallel.
    ``maxRecordsPerFile`` keeps individual files splittable-scan
    friendly at the 100 TB end; the driver writer honours it too.

    Output-location semantics intentionally diverge from the reference
    by default: the reference PUTs ONE parquet object at exactly
    ``output`` (main.rs:271-282), while the default mode produces a
    DIRECTORY at that path: it is overwritten, then holds the part
    file(s) and a ``_SUCCESS`` marker.  Consumers that GET the single
    object at the manifest key should pass ``single_object=True``: the
    frame is written as one file under a UNIQUE scratch name (uuid
    suffix — concurrent writers to the same output never share
    scratch; Spark's writer coalesces to one task and writes a scratch
    directory), and that file is moved to exactly ``output`` with an
    atomic overwrite rename (FileContext + Rename.OVERWRITE) where the
    filesystem supports it (``file://``, ``hdfs://``); object stores
    without atomic rename (``s3a://``) fall back to
    delete-then-rename, whose visibility gap is inherent to the store —
    same as the reference's PutObject overwrite.  Single-object mode
    funnels a distributed write through one task — correct
    compatibility mode, not the 100 TB path.
    """
    table = _driver_table(df)
    if table is None and not single_object:
        (
            df.write.mode("overwrite")
            .option("maxRecordsPerFile", max_records_per_file)
            .parquet(output)
        )
        return

    import uuid

    spark = df.sparkSession
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(output).getFileSystem(conf)
    out_path = fs.makeQualified(Path(output))
    if not single_object:
        n = max(table.num_rows, 1)  # a 0-row frame still writes one file
        step = max_records_per_file if max_records_per_file > 0 else n
        job = uuid.uuid4()
        fs.delete(out_path, True)
        fs.mkdirs(out_path)
        for i, lo in enumerate(range(0, n, step)):
            name = f"part-00000-{job}-c{i:03d}.snappy.parquet"
            _put(spark, fs, Path(out_path, name), _parquet(table.slice(lo, step)))
        _put(spark, fs, Path(out_path, "_SUCCESS"), b"")
        return

    tmp = output.rstrip("/") + f".__smsp_tmp_{uuid.uuid4().hex}__"
    tmp_path = Path(tmp)
    try:
        if table is None:
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(
                st.getPath()
                for st in fs.listStatus(tmp_path)
                if st.getPath().getName().startswith("part-")
            )
        else:
            _put(spark, fs, tmp_path, _parquet(table))
            part = tmp_path
        parent = out_path.getParent()
        if parent is not None and not fs.exists(parent):
            fs.mkdirs(parent)
        try:
            # Atomic overwrite: FileContext.rename(..., OVERWRITE) is a
            # single metadata op on file:// and hdfs:// — no reader can
            # observe a missing object mid-replace.
            gw = spark.sparkContext._gateway
            ctx = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                out_path.toUri(), conf
            )
            opts = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
            opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
            ctx.rename(part, out_path, opts)
        except Exception:
            # Stores without atomic rename (s3a: copy+delete) — the
            # delete/rename gap is inherent there, matching the
            # reference's PutObject overwrite semantics.
            if fs.exists(out_path):
                fs.delete(out_path, True)
            if not fs.rename(part, out_path):
                raise IOError(f"rename {part} -> {output} failed")
    finally:
        fs.delete(tmp_path, True)


def manifest_stats(df: DataFrame) -> DataFrame:
    """The reference's run-stats (count, main.rs:231/284-289) widened to
    a per-top-level-prefix summary: object count, total bytes, newest
    mtime.  One map-side-combinable aggregation — a single shuffle on a
    low-cardinality key."""
    top = F.when(
        F.col("Key").contains("/"), F.substring_index(F.col("Key"), "/", 1)
    ).otherwise(F.lit("")).alias("top_prefix")
    return (
        df.groupBy(top)
        .agg(
            F.count(F.lit(1)).alias("object_count"),
            F.sum("Size").alias("total_bytes"),
            F.max("LastModified").alias("newest_mtime"),
        )
    )
