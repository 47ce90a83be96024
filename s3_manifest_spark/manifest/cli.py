"""CLI mirroring the reference's clap surface (C3 —
/root/reference/src/main.rs:23-60)::

    s3-manifest-spark s3://bucket/prefix -o out.parquet
        [--source-endpoint URL] [--dest-endpoint URL] [-d DELIM]
        [--source-access-key K --source-secret-key S]
        [--dest-access-key K --dest-secret-key S]

Differences by design: listing is parallel (shards × executors, not
one serial loop) and S3 output streams multipart per task — through
s3a:// when hadoop-aws is on the classpath, else through the
executor-side boto3 sink (sources/s3_upload.py) — instead of buffering
the whole file in RAM (main.rs:327-329).
"""

from __future__ import annotations

import argparse
import sys

from s3_manifest_spark.session import get_spark
from s3_manifest_spark.sources.s3_listing import (
    make_boto3_client_factory,
    manifest_from_s3,
    parse_output_location,
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="s3-manifest-spark",
        description="Generate a parquet manifest of an S3 bucket/prefix.",
    )
    from s3_manifest_spark import __version__

    # -V/--version mirrors the reference's clap(version) flag
    # (main.rs:24).
    p.add_argument(
        "-V", "--version", action="version", version=f"%(prog)s {__version__}"
    )
    p.add_argument("s3_uri", help="source, e.g. s3://bucket/prefix")
    p.add_argument("-o", "--output", required=True, help="local path or s3://bucket/key")
    p.add_argument("-d", "--delimiter", default="/", help="FileName delimiter (literal)")
    p.add_argument("--source-endpoint", default=None)
    p.add_argument("--dest-endpoint", default=None)
    p.add_argument("--source-access-key", default=None)
    p.add_argument("--source-secret-key", default=None)
    p.add_argument("--dest-access-key", default=None)
    p.add_argument("--dest-secret-key", default=None)
    p.add_argument("--shards", type=int, default=64, help="target listing parallelism")
    p.add_argument(
        "--no-progress",
        action="store_true",
        help="suppress the live listing spinner (elapsed/objects/obj-sec)",
    )
    p.add_argument(
        "--start-after",
        default="",
        metavar="KEY",
        help=(
            "incremental listing: only keys strictly greater than KEY "
            "(S3 StartAfter, pushed to every request, shard discovery "
            "included, so only the keyspace above KEY is walked).  "
            "Feed the previous manifest's max(Key) to list only the "
            "new tail."
        ),
    )
    p.add_argument(
        "--single-object",
        action="store_true",
        help=(
            "write ONE parquet object at exactly OUTPUT (reference-"
            "compatible: consumers GET that key directly).  Default is a "
            "directory of part-files written in parallel — faster, but a "
            "different output layout than the reference."
        ),
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = get_spark(app_name="s3-manifest-spark-cli")

    # Dest-side S3A config, per-bucket so source and dest can use
    # different endpoints/credentials (C1, main.rs:294-319).
    out_bucket, _ = parse_output_location(args.output)
    if out_bucket:
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        pfx = f"fs.s3a.bucket.{out_bucket}."
        if args.dest_endpoint:
            hconf.set(pfx + "endpoint", args.dest_endpoint)
        if args.dest_access_key and args.dest_secret_key:
            hconf.set(pfx + "access.key", args.dest_access_key)
            hconf.set(pfx + "secret.key", args.dest_secret_key)

    factory = make_boto3_client_factory(
        endpoint_url=args.source_endpoint,
        access_key=args.source_access_key,
        secret_key=args.source_secret_key,
    )
    # Destination client for the boto3 upload leg: built ONLY when a
    # dest flag is given (an explicit dest binding selects the boto3
    # sink; otherwise s3a is preferred when its jars exist, and the
    # boto3 fallback uses the default credential chain — exactly the
    # reference's two-client split and defaulting, C1 main.rs:294-319).
    dest_factory = None
    if args.dest_endpoint or (args.dest_access_key and args.dest_secret_key):
        dest_factory = make_boto3_client_factory(
            endpoint_url=args.dest_endpoint,
            access_key=args.dest_access_key,
            secret_key=args.dest_secret_key,
        )
    # observe() collects count/bytes from the same job that writes the
    # output (A1/A2, main.rs:231, 284-289) — a follow-up count() would
    # re-list the whole bucket.
    import time as _time

    from pyspark.sql import Observation

    obs = Observation("manifest-stats")
    t0 = _time.perf_counter()
    # Live spinner (U1, main.rs:176-183) — tasks feed an accumulator,
    # a driver thread redraws elapsed/count/rate on stderr.  Off when
    # not a TTY (logs shouldn't fill with \r redraws) or --no-progress.
    import contextlib

    from s3_manifest_spark.manifest.progress import ListingProgress

    show_progress = not args.no_progress and sys.stderr.isatty()
    prog_ctx = ListingProgress(spark) if show_progress else contextlib.nullcontext()
    with prog_ctx as prog:
        manifest_from_s3(
            spark,
            args.s3_uri,
            output=args.output,
            delimiter=args.delimiter,
            client_factory=factory,
            target_shards=args.shards,
            observation=obs,
            single_object=args.single_object,
            progress=prog,
            start_after=args.start_after,
            dest_client_factory=dest_factory,
        )
    stats = obs.get
    elapsed = _time.perf_counter() - t0
    n, total = stats["objects"], stats["total_bytes"]
    # final stats line mirrors the reference's (main.rs:284-289)
    print(
        f"Done. Processed {n} objects ({total} bytes) in {elapsed:.1f}s "
        f"({n / max(elapsed, 1e-9):.0f} objects/sec) -> {args.output}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
