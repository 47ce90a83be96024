"""Property-based fidelity check: derive_manifest must agree with a
direct Python model of the reference's per-object logic
(/root/reference/src/main.rs:361-390) on arbitrary listings —
arbitrary unicode keys, missing fields, hostile delimiters.

One Spark job per Hypothesis example would be minutes of overhead, so
each example IS a whole listing (list of rows) and the comparison runs
row-aligned in one pass.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from s3_manifest_spark.manifest.core import derive_manifest

LISTING_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("size", T.LongType(), True),
        T.StructField("last_modified", T.StringType(), True),
    ]
)

# keys: printable unicode incl. delimiter-heavy and empty strings
keys = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
        max_size=40,
    ),
)
sizes = st.one_of(st.none(), st.integers(min_value=0, max_value=2**50))
mtimes = st.one_of(
    st.none(),
    st.just("not-a-date"),
    st.datetimes(
        min_value=dt.datetime(1971, 1, 1), max_value=dt.datetime(2100, 1, 1)
    ).map(lambda d: d.strftime("%Y-%m-%dT%H:%M:%SZ")),
)
rows = st.lists(st.tuples(keys, sizes, mtimes), min_size=1, max_size=30)
delimiters = st.sampled_from(["/", ".", "|", "::", "$", "日"])


def model_row(key, size, mtime, bucket, delim):
    """The reference's per-object semantics, straight from main.rs."""
    k = key or ""
    parts = k.split(delim)  # literal split; rsplit(...)[-1] == split(...)[-1]
    fname = parts[-1] if delim in k else k
    try:
        ts = dt.datetime.strptime(mtime or "", "%Y-%m-%dT%H:%M:%SZ")
    except ValueError:
        ts = dt.datetime(1970, 1, 1)
    return (bucket, k, fname, int(size or 0), ts)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(listing=rows, delim=delimiters)
def test_manifest_matches_reference_model(spark, listing, delim):
    df = spark.createDataFrame(
        [Row(key=k, size=s, last_modified=m) for k, s, m in listing],
        schema=LISTING_SCHEMA,
    )
    # Timestamps are compared as epoch milliseconds: ``collect`` turns
    # a TimestampType into a naive datetime in the Python process's own
    # time zone, which the workflow also sets to UTC+12:45.
    got = [
        (r.Bucket, r.Key, r.FileName, r.Size, r.ms)
        for r in derive_manifest(df, bucket="b", delimiter=delim)
        .withColumn("ms", F.unix_millis("LastModified"))
        .collect()
    ]
    ms = dt.timedelta(milliseconds=1)
    want = [
        (*row[:4], (row[4] - dt.datetime(1970, 1, 1)) // ms)
        for row in (model_row(k, s, m, "b", delim) for k, s, m in listing)
    ]
    assert sorted(got) == sorted(want)


_UTC = dt.timezone.utc
#: Zones of whole minutes (Chatham is UTC+12:45), and None for naive.
_ZONES = [None, _UTC] + [
    dt.timezone(dt.timedelta(minutes=m)) for m in (330, -480, 765, -210)
]
_TIMES = st.datetimes(
    min_value=dt.datetime(1600, 1, 1), max_value=dt.datetime(2200, 1, 1),
    timezones=st.sampled_from(_ZONES),
)
#: RFC 3339 text: whole seconds plus 0-9 fraction digits, then ``Z`` or
#: an offset; or no offset (UTC).
_TEXTS = st.builds(
    lambda d, frac, zone: d.strftime("%Y-%m-%dT%H:%M:%S") + frac + zone,
    _TIMES.map(lambda d: d.replace(tzinfo=None)),
    st.sampled_from(["", ".5", ".123", ".999500", ".1234567", ".000999999"]),
    st.sampled_from(["", "Z", "+00:00", "+05:30", "-08:00", "+12:45", "-0330"]),
)
_MTIMES = st.one_of(
    st.none(),
    st.just("not-a-date"),
    _TIMES,
    # around the epoch, with sub-millisecond parts: floor, not truncation
    st.integers(-10_000_000, 10_000_000).map(
        lambda us: dt.datetime(1970, 1, 1, tzinfo=_UTC) + dt.timedelta(microseconds=us)
    ),
    _TEXTS,
)
_DELIMITERS = ["/", ".", "|", "::", "$", "日", "a.*", "(", "//", ""]


@st.composite
def _listings(draw):
    """One generated ListObjectsV2 listing: its ``Contents``, delimiter
    and prefix.  Keys are segments joined by the delimiter, sometimes
    ending in it, or None; the prefix fails some keys."""
    delim = draw(st.sampled_from(_DELIMITERS))
    segment = st.one_of(
        st.sampled_from(["a", "dir", "日本", "x.y", "", "$", "((", "a.b"]),
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
            max_size=6,
        ),
    )
    key = st.one_of(
        st.none(),
        st.builds(
            lambda parts, end: delim.join(parts) + (delim if end else ""),
            st.lists(segment, max_size=4),
            st.booleans(),
        ),
    )
    entry = st.fixed_dictionaries(
        {"Key": key, "Size": sizes, "LastModified": _MTIMES}
    )
    contents = draw(st.lists(entry, min_size=1, max_size=40))
    prefix = draw(st.sampled_from(["", "a", "dir" + delim, "日"]))
    return contents, delim, prefix


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(listing=_listings())
def test_manifest_batch_matches_derive_manifest(spark, listing):
    """``manifest_batch`` (the Arrow derivation the listing tasks and
    the driver write from) equals ``derive_manifest`` over the same
    ``Contents``, listed as the connector lists them, row for row."""
    from s3_manifest_spark.manifest.core import manifest_batch
    from s3_manifest_spark.sources.s3_listing import LISTING_SCHEMA as LISTING
    from s3_manifest_spark.sources.s3_listing import _page_batch
    from s3_manifest_spark.sources.tables import local_relation

    contents, delim, prefix = listing
    listed = local_relation(
        spark, pa.Table.from_batches([_page_batch(contents)]), LISTING
    )
    want = [
        tuple(r)
        for r in derive_manifest(listed, "b", prefix, delim)
        .select("Bucket", "Key", "FileName", "Size", F.unix_millis("LastModified"))
        .collect()
    ]
    batch = manifest_batch(contents, "b", prefix, delim)
    cols = [batch.column(c).to_pylist() for c in ("Bucket", "Key", "FileName", "Size")]
    got = list(zip(*cols, batch.column("LastModified").cast(pa.int64()).to_pylist()))
    assert got == want


def test_packed_key_injective_property(spark):
    """Injectivity of the REAL _packed_key Spark expression over the
    key template's whole component domain (single-char returnflag,
    linenumber 1-7, orderkey up to TPC-H sf100 magnitudes): the packed
    long must form exactly as many distinct groups as the concat'd key
    string, over a seeded 5000-row random sample plus the domain
    boundaries — all in ONE Spark job (a Hypothesis example-per-job
    would be minutes, and a Python reimplementation of the formula
    would not catch drift in the code under test)."""
    import random

    from pyspark.sql import functions as F

    from s3_manifest_spark.operators.manifest_queries import _packed_key

    rng = random.Random(0xC0FFEE)
    rows = [
        (rng.choice("ANRXYZ"), rng.randint(1, 6_000_000_000), rng.randint(1, 7), 1.0)
        for _ in range(5000)
    ]
    rows += [
        ("A", 1, 1, 1.0),
        ("A", 1, 7, 1.0),
        ("Z", 1, 7, 1.0),
        ("A", 6_000_000_000, 7, 1.0),
        ("R", 5_999_999_999, 1, 1.0),
    ]
    df = spark.createDataFrame(
        rows,
        "l_returnflag string, l_orderkey long, l_linenumber int, "
        "l_extendedprice double",
    )
    key_str = F.concat(
        F.lit("data/"),
        F.col("l_returnflag"),
        F.lit("/"),
        F.col("l_orderkey").cast("string"),
        F.lit("/part-"),
        F.col("l_linenumber").cast("string"),
        F.lit(".parquet"),
    )
    got = df.agg(
        F.countDistinct(_packed_key()).alias("nk"),
        F.countDistinct(key_str).alias("ns"),
        F.countDistinct(_packed_key(), key_str).alias("nks"),
    ).first()
    assert got.nk == got.ns == got.nks
