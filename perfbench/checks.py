"""Output checks.  None of them runs inside a timed section.

* A manifest read back from Parquet must equal a hash computed
  independently from the generated bucket: ``FileName`` is
  ``key.rsplit("/")[-1]``, a missing ``Size`` is 0, ``LastModified``
  is truncated to milliseconds, and the Parquet schema is the
  reference's five non-null columns.
* A query result must match its DuckDB oracle under an
  order-insensitive value hash (the hash of ``tools/drive_driver.py``).
"""

from __future__ import annotations

import datetime as dt
import hashlib

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST_ARROW_TYPES = {
    "Bucket": pa.string(),
    "Key": pa.string(),
    "FileName": pa.string(),
    "Size": pa.int64(),
}
_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _digest(lines) -> str:
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def expected_manifest_hash(bucket: str, objects, delimiter: str = "/") -> str:
    """Hash of the manifest rows for ``objects``, an iterable of
    ``(key, size, last_modified)`` as the stub serves them."""
    return _digest(
        f"{bucket}|{key}|{key.rsplit(delimiter, 1)[-1]}|"
        f"{0 if size is None else size}|"
        f"{(mtime - _EPOCH) // dt.timedelta(milliseconds=1)}"
        for key, size, mtime in objects
    )


def manifest_table_hash(table: pa.Table) -> str:
    """Hash of a manifest read back from Parquet, in the same row format
    as :func:`expected_manifest_hash`."""
    ms = table.column("LastModified").cast(pa.int64()).to_pylist()
    cols = [table.column(c).to_pylist() for c in ("Bucket", "Key", "FileName", "Size")]
    return _digest(f"{b}|{k}|{f}|{s}|{m}" for b, k, f, s, m in zip(*cols, ms))


def manifest_schema_ok(schema: pa.Schema) -> bool:
    """The written schema is the reference's: five non-null columns,
    ``LastModified`` a millisecond timestamp."""
    if schema.names != ["Bucket", "Key", "FileName", "Size", "LastModified"]:
        return False
    if any(f.nullable for f in schema):
        return False
    lm = schema.field("LastModified").type
    return (
        all(schema.field(n).type == t for n, t in MANIFEST_ARROW_TYPES.items())
        and pa.types.is_timestamp(lm)
        and lm.unit == "ms"
    )


def check_manifest_dir(path: str, expected_hash: str) -> bool:
    """True when the Parquet manifest under ``path`` has the reference
    schema and exactly the expected rows."""
    table = pq.read_table(path)
    return manifest_schema_ok(table.schema) and manifest_table_hash(table) == expected_hash


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive value hash of a result frame: columns sorted by
    name, timestamps at microseconds, floats rounded to nine places."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.astype("float64").round(9).astype(str)
        else:
            pdf[c] = s.astype(str)
    rows = sorted(map("|".join, pdf.to_numpy().tolist()))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:12]


def result_key(pdf: pd.DataFrame) -> tuple[int, str]:
    """What a query result is compared on: row count and value hash."""
    return len(pdf), value_hash(pdf)
