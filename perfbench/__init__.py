"""Benchmark for the S3-manifest engine: see ``perfbench/README.md``."""
