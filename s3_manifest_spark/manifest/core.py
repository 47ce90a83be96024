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

The same rules in Arrow, :func:`manifest_batch`, derive a listing page
where it already is — in a listing task or on the driver — so that
``manifest_from_s3`` writes a local manifest through the one part
writer, :func:`write_parts`, with no JVM derive-and-encode pass.  A
property test holds the two derivations equal row for row.

Fidelity contract (SURVEY.md §2C): literal (not regex) last-occurrence
split, no nulls in the output, ms-precision tz-naive-UTC timestamps,
exact column names/types.
"""

from __future__ import annotations

import datetime as dt
import re
from collections.abc import Callable, Iterable, Iterator
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
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
_TS_MS = pa.timestamp("ms", tz="UTC")
_UTC = dt.timezone.utc
_EPOCH = dt.datetime(1970, 1, 1, tzinfo=_UTC)
_MS = dt.timedelta(milliseconds=1)
#: The date-time text ``derive_manifest``'s string-to-timestamp cast
#: reads as Spark does, for the forms a listing carries: an RFC 3339
#: date, optionally a time, then after the seconds an offset (``Z``,
#: ``UTC``, ``+hh:mm``, ``+hhmm``, ``+h``, ``+h:m``); no offset is UTC.
#: A region name such as ``Europe/Paris``, which Spark also reads,
#: reads as missing here.
_TIME_TEXT = re.compile(
    r"(\d{4})-(\d{1,2})-(\d{1,2})"
    r"(?:[T ](\d{1,2})(?::(\d{1,2})(?::(\d{1,2})(?:\.(\d*))?"
    r" ?(?:Z|(?:UTC|GMT|UT)?(?:([+-])(\d{1,2}(?::\d{1,2})?|\d{4}))?))?)?)?"
)


def _parse_time(text: str) -> dt.datetime | None:
    """``text`` as an aware datetime, or None when it is not a date-time
    :data:`_TIME_TEXT` reads.  ``datetime.fromisoformat`` is not used:
    before Python 3.11 it rejects a trailing ``Z``."""
    m = _TIME_TEXT.fullmatch(text.strip())
    if m is None:
        return None
    y, mo, d, h, mi, s, frac, sign, zone = m.groups()
    zone = zone or "0"
    if ":" in zone:
        oh, om = zone.split(":")
    else:
        oh, om = (zone[:2], zone[2:]) if len(zone) == 4 else (zone, 0)
    try:
        off = dt.timedelta(hours=int(oh), minutes=int(om))
        if off > dt.timedelta(hours=18) or int(om) > 59:
            return None
        return dt.datetime(
            int(y), int(mo), int(d), int(h or 0), int(mi or 0), int(s or 0),
            int((frac or "")[:3].ljust(3, "0")) * 1000,
            dt.timezone(-off if sign == "-" else off),
        )
    except ValueError:  # a field out of range
        return None


def _epoch_ms(t) -> int:
    """``t`` (a datetime, naive meaning UTC, or its text) in whole
    milliseconds since the epoch, floored; 0 when missing or unreadable."""
    if isinstance(t, str):
        t = _parse_time(t)
    if not isinstance(t, dt.datetime):
        return 0
    if t.tzinfo is None:
        t = t.replace(tzinfo=_UTC)
    return (t - _EPOCH) // _MS


#: The manifest's Arrow schema, as :func:`manifest_batch` builds it.
MANIFEST_ARROW_SCHEMA = pa.schema(
    [pa.field(n, pa.string(), False) for n in ("Bucket", "Key", "FileName")]
    + [pa.field("Size", pa.int64(), False), pa.field("LastModified", _TS_MS, False)]
)


def manifest_batch(
    contents: list[dict], bucket: str, prefix: str = "", delimiter: str = "/"
) -> pa.RecordBatch:
    """:func:`derive_manifest`'s rows for ListObjectsV2 ``Contents``
    entries, derived in Arrow on the calling process: the same literal
    last-occurrence split (an empty delimiter gives ``''``), coalesces,
    floored milliseconds and prefix re-check.  ``LastModified`` may be a
    datetime, as boto3 returns it, or RFC 3339 text."""
    if prefix:
        contents = [o for o in contents if (o.get("Key") or "").startswith(prefix)]
    keys = [o.get("Key") or "" for o in contents]
    n = len(delimiter)
    return pa.RecordBatch.from_arrays(
        [
            pa.array([bucket] * len(keys), pa.string()),
            pa.array(keys, pa.string()),
            pa.array(
                [k[i + n:] if (i := k.rfind(delimiter)) >= 0 else k for k in keys],
                pa.string(),
            ),
            pa.array([o.get("Size") or 0 for o in contents], pa.int64()),
            pa.array([_epoch_ms(o.get("LastModified")) for o in contents], _TS_MS),
        ],
        schema=MANIFEST_ARROW_SCHEMA,
    )


def part_schema(spark, schema: T.StructType) -> pa.Schema:
    """The Arrow schema :func:`write_parts` writes rows of Spark
    ``schema`` with: Spark's Arrow types, each timestamp column as
    ``timestamp[ms, UTC]`` (the manifest's precision, which Spark's
    writer writes under the session's ``TIMESTAMP_MILLIS``), and the
    footer keys Spark's writer sets, with its values."""
    return pa.schema(
        [
            pa.field(a.name, _TS_MS, a.nullable)
            if isinstance(f.dataType, T.TimestampType) else a
            for a, f in zip(to_arrow_schema(schema), schema.fields)
        ],
        metadata={
            "org.apache.spark.sql.parquet.row.metadata":
                spark._jsparkSession.parseDataType(schema.json()).json(),
            "org.apache.spark.version": spark.version,
        },
    )


#: Rows :func:`write_parts` gathers into one Parquet row group.
ROW_GROUP_ROWS = 1 << 17
#: Rows a manifest part file holds at most (Spark's ``maxRecordsPerFile``).
MAX_RECORDS_PER_FILE = 5_000_000
#: Sub-millisecond units per millisecond.
_PER_MS = {"us": 1_000, "ns": 1_000_000}


def _conform(batch: pa.RecordBatch, schema: pa.Schema) -> pa.RecordBatch:
    """``batch`` with ``schema``'s types: a finer timestamp floored to
    milliseconds, as Spark's writer does, any other column cast."""
    if batch.schema.equals(schema):
        return batch
    cols = []
    for c, f in zip(batch.columns, schema):
        if c.type != f.type:
            if (pa.types.is_timestamp(c.type) and pa.types.is_timestamp(f.type)
                    and f.type.unit == "ms" and c.type.unit in _PER_MS):
                n = c.cast(pa.int64())
                ms = np.floor_divide(n.fill_null(0).to_numpy(), _PER_MS[c.type.unit])
                c = pa.array(ms, mask=n.is_null().to_numpy(zero_copy_only=False))
            c = c.cast(f.type)
        cols.append(c)
    return pa.RecordBatch.from_arrays(cols, schema=schema)


def write_parts(
    batches: Iterable[pa.RecordBatch],
    schema: pa.Schema,
    open_part: Callable[[int], Any],
    max_records: int = 0,
    empty_part: bool = False,
    tally: str | None = None,
) -> Iterator[tuple[Any, int, int]]:
    """Write ``batches`` as snappy Parquet parts: the one part writer of
    the driver, the listing tasks and the boto3 sink.

    ``open_part(n)`` gives part ``n``'s path or stream.  One
    :class:`pyarrow.parquet.ParquetWriter` is open at a time; rows are
    gathered into row groups of :data:`ROW_GROUP_ROWS`, and part
    ``n + 1`` starts after ``max_records`` rows (0: no limit), so a
    writer holds at most one row group.  Only ``Bucket`` is
    dictionary-encoded, which writes the manifest in about the bytes
    Spark's writer does (pyarrow's defaults write about 18 % more).
    Yields ``(target, rows, total)`` as each part closes, ``total``
    being the sum of column ``tally`` (0 without one).  Batches of no
    rows write no part, or one 0-row part with ``empty_part``."""
    n, writer, target = 0, None, None
    group: list[pa.RecordBatch] = []
    held = rows = total = 0  # rows in the open row group; rows and tally of the part

    def open_writer():
        t = open_part(n)
        return t, pq.ParquetWriter(t, schema, compression="snappy", use_dictionary=["Bucket"])

    def flush() -> None:
        nonlocal held
        if group:
            writer.write_table(pa.Table.from_batches(group, schema), row_group_size=ROW_GROUP_ROWS)
            group.clear()
        held = 0

    for batch in batches:
        batch = _conform(batch, schema)
        while batch.num_rows:
            if writer is None:
                target, writer = open_writer()
                rows = total = 0
            take = min(batch.num_rows, ROW_GROUP_ROWS - held)
            if max_records > 0:
                take = min(take, max_records - rows)
            head, batch = batch.slice(0, take), batch.slice(take)
            group.append(head)
            held, rows = held + take, rows + take
            if tally is not None:
                total += pc.sum(head.column(tally)).as_py() or 0
            if held == ROW_GROUP_ROWS:
                flush()
            if rows == max_records:
                flush()
                writer.close()
                writer = None
                yield target, rows, total
                n += 1
    if writer is None and n == 0 and empty_part:
        target, writer = open_writer()
    if writer is not None:
        flush()
        writer.close()
        yield target, rows, total


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
    touches it.  The table has :func:`part_schema`'s schema."""
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
    schema = part_schema(spark, df.schema)
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


def _parquet(table: pa.Table, max_records: int = 0) -> list[bytes]:
    """``table`` as the bytes of its Parquet parts, at least one."""
    parts = write_parts(
        table.to_batches(), table.schema, lambda n: pa.BufferOutputStream(),
        max_records, empty_part=True,
    )
    return [buf.getvalue().to_pybytes() for buf, _, _ in parts]


def write_manifest(
    df: DataFrame,
    output: str,
    max_records_per_file: int = MAX_RECORDS_PER_FILE,
    single_object: bool = False,
) -> None:
    """Persist a manifest as Parquet (local path, s3a://, hdfs://, ...).

    A manifest is written by one of three paths, one layout.  The
    rule that picks one looks only at what the call already shows:

    - ``manifest_from_s3`` into a local directory, in a session whose
      Parquet codec is Spark's default snappy, and not single-object,
      never reaches this function: its listing tasks, or the driver
      when the listing has no shard, write the parts themselves with
      :func:`write_parts` (``s3_listing._manifest_to_dir``).
    - Here, a frame whose rows already sit on the driver: when the
      optimized plan of a projection of it is a ``LocalRelation`` (a
      driver-resident listing, with no ``observe`` on it, whose
      ``CollectMetrics`` blocks the fold) and the codec is snappy, the
      driver writes the rows with :func:`write_parts` through the
      destination's Hadoop ``FileSystem`` (:func:`_driver_table`): no
      Spark job, no task, no commit protocol.
    - Every other frame, and every frame of a session with another
      codec, goes to Spark's writer.

    All of them write five non-null columns and Spark's footer keys,
    and a 0-row frame writes one 0-row file.  The part writer always
    writes ``LastModified`` as a millisecond UTC timestamp, the
    manifest's precision; Spark's writer does so under the session's
    ``outputTimestampType`` of ``TIMESTAMP_MILLIS``
    (``session.get_spark``).

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
        job = uuid.uuid4()
        fs.delete(out_path, True)
        fs.mkdirs(out_path)
        for i, data in enumerate(_parquet(table, max_records_per_file)):
            name = f"part-00000-{job}-c{i:03d}.snappy.parquet"
            _put(spark, fs, Path(out_path, name), data)
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
            (data,) = _parquet(table)
            _put(spark, fs, tmp_path, data)
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
