"""Live Count-Min-Sketch maintenance: the streaming twin of
``heavy_hitters_cms`` (operators/curation.py).

The batch operator's 100 TB claim is that CMS partials merge
associatively — "the same sketches could be persisted per day and
re-merged for any range".  This module DEMONSTRATES that claim live:
the documents corpus replays as a file stream, each micro-batch
builds its own sketch (one combinable aggregate over just that
batch's rows), and ``foreachBatch`` merges the per-batch sketches
into a running sketch driver-side (``CountMinSketch.mergeInPlace`` —
counter-array addition, exact).  Because all sketches share (eps,
confidence, seed), the merged result is BIT-IDENTICAL to the one-shot
sketch over the whole corpus — not approximately: merging partials
over a partition of the data IS the sketch of the union.  The
registered output therefore carries, next to the batch operator's two
certificate flags, a ``merge_invariant`` flag asserting
streamed-merged estimate == one-shot batch estimate per token, which
a single dropped or double-counted micro-batch flips.

At 100 TB this is the frequency-index maintainer: per-ingest-window
sketches are tiny (~1 MB flat regardless of input), merge in O(width
× depth), and answer heavy-hitter queries forever without re-scanning
raw data.

The reference (/root/reference/src/main.rs) has no streaming surface;
this extends the SURVEY.md §2B streaming family.  It replays the
boilerplate maintainer's document spool; spool, checkpoint and conf
plumbing live in ``streaming/scratch.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_manifest_spark.operators.curation import (
    CMS_CONF,
    CMS_EPS,
    CMS_SEED,
    HH_TOP_N,
    _HH_ORACLE,
    _TOKENS,
    _cms_sketch,
)
from s3_manifest_spark.registry import register
from s3_manifest_spark.sources.tables import load_table, local_relation
from s3_manifest_spark.streaming.boilerplate import documents_spool
from s3_manifest_spark.streaming.scratch import SPOOL_FILES, drain, open_spool

_HH_LIVE_ORACLE = _HH_ORACLE.replace(
    "true AS cms_within_eps",
    "true AS cms_within_eps,\n       true AS merge_invariant",
)
# str.replace silently no-ops if the upstream oracle is reworded; the
# live oracle would then lack merge_invariant and grading would fail
# with a confusing schema mismatch far from the cause — fail at import.
assert _HH_LIVE_ORACLE != _HH_ORACLE, (
    "_HH_ORACLE no longer contains the replace target; "
    "recompose _HH_LIVE_ORACLE"
)


def drain_merged_sketch(spark: SparkSession, sf_dir: str) -> bytes:
    """Replay the corpus as a stream, build one CMS per micro-batch,
    merge driver-side; returns the merged sketch's serialized bytes.
    Half the spool's files per trigger gives the two micro-batches the
    merge-invariance certificate needs."""
    jvm_cms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch
    merged = {"sk": None, "batches": 0}

    def merge_batch(batch_df, _batch_id):
        raw = (
            batch_df.select(F.explode(F.expr(_TOKENS)).alias("token"))
            .agg(
                F.count_min_sketch(
                    "token",
                    F.lit(CMS_EPS),
                    F.lit(CMS_CONF),
                    F.lit(CMS_SEED),
                ).alias("sk")
            )
            .collect()[0]["sk"]
        )
        sk = jvm_cms.readFrom(bytes(raw))
        if merged["sk"] is None:
            merged["sk"] = sk
        else:
            merged["sk"].mergeInPlace(sk)
        merged["batches"] += 1

    stream = open_spool(spark, documents_spool(spark, sf_dir), SPOOL_FILES // 2)
    drain(stream, "heavy_hitters", merge_batch, partitions=None)
    if merged["batches"] < 2:
        # Product-path contract, not a debug assert (survives python -O):
        # the merge-invariance certificate is vacuous on a 1-batch drain.
        raise RuntimeError(
            f"merge-invariance certificate needs >=2 micro-batches; "
            f"spool drained in {merged['batches']}"
        )
    # py4j: CountMinSketch.writeTo needs a java OutputStream
    baos = spark._jvm.java.io.ByteArrayOutputStream()
    merged["sk"].writeTo(baos)
    return bytes(baos.toByteArray())


@register("stream_heavy_hitters_live", oracle=_HH_LIVE_ORACLE)
def stream_heavy_hitters_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N token frequencies answered from a STREAM-MAINTAINED
    Count-Min Sketch, certified three ways per token: the batch
    operator's hard one-sided bound (est >= exact), its eps error
    bound, and ``merge_invariant`` — the streamed per-micro-batch
    merged sketch gives the SAME estimate as the one-shot corpus
    sketch (exact counter-array equality under shared seed; a dropped
    or replayed micro-batch flips it).  The exact counts the oracle
    hashes are recomputed independently, so the driver check certifies
    the whole streamed-maintenance trajectory."""
    import math

    jvm_cms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch
    streamed = jvm_cms.readFrom(drain_merged_sketch(spark, sf_dir))
    oneshot = jvm_cms.readFrom(_cms_sketch(spark, sf_dir))

    docs = load_table(spark, sf_dir, "documents", widen=True)
    exact_top = (
        docs.select(F.explode(F.expr(_TOKENS)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "token")
        .limit(HH_TOP_N)
        .collect()
    )
    slack = math.ceil(CMS_EPS * streamed.totalCount())
    rows = []
    for r in exact_top:
        est = streamed.estimateCount(r["token"])
        rows.append(
            (
                r["token"],
                r["exact_count"],
                bool(est >= r["exact_count"]),
                bool(est <= r["exact_count"] + slack),
                bool(est == oneshot.estimateCount(r["token"])),
            )
        )
    return local_relation(
        spark,
        rows,
        "token string, exact_count long, cms_never_under boolean, "
        "cms_within_eps boolean, merge_invariant boolean",
    )
