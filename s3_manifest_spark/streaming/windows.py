"""Streaming slice (SURVEY.md §2B / §7.1 M3) over the ``events`` table.

``F.window`` and ``F.session_window`` evaluate identically in batch and
streaming, so each operator exists once as a column expression shared
by (a) a batch query with a DuckDB oracle — the driver-checkable
surface — and (b) a Structured Streaming path (file source →
watermark → windowed agg → availableNow drain into a memory table,
through ``scratch.drain``) graded by the same oracle.

Scale notes: watermark + tumbling window is the canonical bounded-state
aggregation — state size is (windows in flight × groups), independent
of input volume.  Session windows keep one open session per key; the
30-min gap bounds their lifetime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_manifest_spark.registry import register
from s3_manifest_spark.streaming.scratch import (
    STREAM_SHUFFLE_PARTITIONS,
    build_spool,
    drain,
    frame_spool,
    open_spool,
)
from s3_manifest_spark.sources.tables import load_table, normalize_event_ts


def events_stream_source(spark: SparkSession, spool: str) -> DataFrame:
    """Streaming reader over an events spool directory, ts normalized.

    The fixture has shipped with ts as both TIMESTAMP(NANOS) (reads as
    bigint under nanosAsLong) and timestamp[us], so the spool is read
    under nanosAsLong and normalized exactly as the batch loader does
    (sources.tables.normalize_event_ts).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_event_ts(open_spool(spark, spool))


def _drain(
    df: DataFrame,
    kind: str,
    sf_dir: str,
    mode: str,
    partitions: str = STREAM_SHUFFLE_PARTITIONS,
) -> DataFrame:
    """Drain ``df`` into the memory table named after ``kind`` and the
    fixture directory; returns the drained table."""
    name = f"{kind}_{abs(hash(sf_dir)) % 10_000_000}"
    return drain(df, kind, name, mode, partitions)


def _tumbling_agg(events: DataFrame) -> DataFrame:
    """1-hour tumbling count/sum per event_type (shared batch/stream)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


#: Shared by the batch twin AND the live drain: the drain is an
#: availableNow replay of the same relation, so the SAME oracle grades
#: both — the drain's hash match certifies that streaming execution
#: (state store, watermark, memory-sink drain) reproduces the batch
#: answer exactly.  Float-order independence comes from the round-2
#: contract both forms share (sum re-association error ~1e-13 against
#: a 5e-3 rounding boundary).
_TUMBLING_ORACLE = """
    SELECT date_trunc('hour', ts)                         AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR       AS window_end,
           event_type,
           count(*)                                       AS n_events,
           round(sum(value), 2)                           AS total_value
    FROM events
    GROUP BY 1, 2, 3
"""


@register("stream_tumbling", oracle=_TUMBLING_ORACLE)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the tumbling-window aggregation (F.window in batch
    mode) — DuckDB checks it as an hour-truncated GROUP BY."""
    return _tumbling_agg(load_table(spark, sf_dir, "events"))


@register(
    "stream_session",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    islands AS (
      -- (ts, event_id) ordering matches the lag window above: with a
      -- ROWS frame, tied-ts rows would otherwise get engine-chosen peer
      -- order and a boundary row's cumulative sum could split the tie
      -- pair into different sessions.
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      FROM marked
    )
    SELECT user_id,
           min(ts)                        AS session_start,
           max(ts) + INTERVAL 30 MINUTE   AS session_end,
           count(*)                       AS n_events
    FROM islands
    GROUP BY user_id, sess
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap session windows per user.

    Spark: native ``session_window`` (merging state windows).  The
    oracle reproduces the gap semantics with a gaps-and-islands SQL
    (lag → new-session marker → cumulative island id), since DuckDB has
    no session_window; session_end = last event + gap matches Spark's
    definition.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (ts normalized as in
    the batch loader), staged as a multi-file spool
    (``scratch.frame_spool``): a stream source watches a directory
    that files land in, it doesn't tail a single file."""
    src = f"{sf_dir}/events.parquet"
    spool = frame_spool("events", src, lambda: spark.read.parquet(src), "v2")
    return events_stream_source(spark, spool)


def run_tumbling_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Drive the tumbling aggregation through Structured Streaming with
    an availableNow trigger (deterministic fixture replay, SURVEY.md
    §7.4.7) and return the drained result as a batch DataFrame."""
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return _drain(_tumbling_agg(stream), "tumbling", sf_dir, "complete")


@register("stream_tumbling_live", oracle=_TUMBLING_ORACLE)
def stream_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real Structured Streaming path (readStream → watermark →
    window agg → availableNow drain), surfaced as a batch DataFrame.

    Oracle-graded with the SAME SQL as the batch twin (r8): the
    availableNow drain over the fixed spool is deterministic — complete
    mode emits the full state table, the watermark only advances
    between micro-batches so nothing is evicted mid-drain, and the
    round-2 output contract absorbs state-merge float re-association —
    so the hash match certifies streaming execution end-to-end, not
    just row counts."""
    return run_tumbling_stream(spark, sf_dir)


#: Output/state schemas for the custom stateful operator.  State stays
#: scalar (4 fixed-width fields per user) so per-key state is O(1)
#: bytes — the property that lets arbitrary-cardinality keyed state
#: survive at 100 TB input.
USER_STATE_OUTPUT = (
    "user_id long, n_events long, total_value double, max_value double, last_ts timestamp"
)
_USER_STATE_SCHEMA = "n long, total double, mx double, last_us long"


def run_user_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    a per-user running profile (event count, value sum/max, last seen
    timestamp) that no built-in windowed aggregate expresses — the
    state is an arbitrary Python tuple, updated per Arrow batch.

    Execution shape: one shuffle keys events by user; each micro-batch
    updates O(1)-sized state per user and emits the refreshed profile
    (Update mode).  With the availableNow trigger over the fixture the
    drain is deterministic: exactly one row per user, equal to the
    batch groupBy twin (asserted in tests/test_streaming_state.py).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_user_state(key, pdfs, state: GroupState):
        if state.exists:
            n, total, mx, last_us = state.get
        else:
            n, total, mx, last_us = 0, 0.0, float("-inf"), 0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            mx = max(mx, float(pdf["value"].max()))
            # normalize to µs regardless of pandas' ns/us datetime unit
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            last_us = max(last_us, int(ts_us.max()))
        state.update((n, total, mx, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "max_value": [mx],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    stream = read_events_stream(spark, sf_dir)
    profiles = stream.groupBy("user_id").applyInPandasWithState(
        update_user_state,
        outputStructType=USER_STATE_OUTPUT,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # The state-partition count IS this drain's Python parallelism:
    # each partition runs ONE applyInPandasWithState worker iterating
    # its keys serially, so the 4-store default tuned for JVM
    # aggregate drains serializes the per-key fold.  16 (capped at
    # the session's cores so low-core benches don't schedule idle
    # waves) measured −37%/−26% across two interleaved windows
    # (min-of-5: 2.94→1.86 / 4.20→3.12 s); 32 added task-wave
    # variance without beating 16.
    cpus = spark.sparkContext.defaultParallelism
    return _drain(
        profiles, "user_state", sf_dir, "update", partitions=str(min(16, cpus))
    )


@register(
    "stream_user_state_live",
    # The custom-state profile IS a per-user GROUP BY: count and max
    # are exact, total_value carries the shared round-2 contract, and
    # the availableNow drain takes the whole multi-chunk spool in one
    # micro-batch → exactly one update-mode row per user.
    oracle="""
    SELECT user_id,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value,
           max(value)           AS max_value,
           max(ts)              AS last_ts
    FROM events GROUP BY user_id
    """,
)
def stream_user_state_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState per-user profile, drained
    deterministically (one row per user) and oracle-graded (r8)
    against the equivalent batch GROUP BY — the hash match certifies
    the custom state fold (Arrow batches → Python state tuple →
    update-mode emit) reproduces the declarative aggregate exactly."""
    return run_user_state_stream(spark, sf_dir)


def _sliding_agg(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 min per event_type (shared
    batch/stream) — each event lands in exactly 2 windows."""
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


#: Shared by the batch twin and the live drain (same argument as
#: _TUMBLING_ORACLE).
_SLIDING_ORACLE = """
    -- each event belongs to 2 overlapping 1h/30min windows:
    -- window_start = its 30-min bucket minus k*30min, k in {0,1}
    WITH expanded AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts)
               - k * INTERVAL 30 MINUTE AS window_start,
             event_type, value
      FROM events, (SELECT unnest(generate_series(0, 1)) AS k)
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*)                       AS n_events,
           round(sum(value), 2)           AS total_value
    FROM expanded
    GROUP BY window_start, event_type
"""


@register("stream_sliding", oracle=_SLIDING_ORACLE)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the sliding-window aggregation.  Spark's window()
    assigns each event to window_count = size/slide overlapping windows
    inside the scan task (an in-task Expand, like the oracle's
    generate_series fan-out) — state per key is windows-in-flight ×
    groups, so a 2× overlap costs 2× aggregation state, not 2× input
    IO."""
    return _sliding_agg(load_table(spark, sf_dir, "events"))


def _spool_events(sf_dir: str, copies: int = 1, tag: str = "") -> str:
    """Stage the events fixture into a spool directory (the layout a
    production file-stream source watches).  ``copies>1`` stages the
    same parquet N times — a deterministic duplicated stream for
    exactly-once/dedup scenarios.  Files are hard-linked (copied
    across filesystems), not rewritten."""
    import os
    import shutil

    src = f"{sf_dir}/events.parquet"

    def build(staging: str) -> None:
        os.makedirs(staging, exist_ok=True)
        for i in range(copies):
            dst = os.path.join(staging, f"events-{i}.parquet")
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy(src, dst)

    return build_spool(f"events{tag}-x{copies}", [src], "v2", build)


@register(
    "stream_dedup_live",
    # Counts after exactly-once dedup of the doubled spool == the
    # single-copy per-type counts.  PRECONDITION: event_id globally
    # unique across types (holds at every fixture sf; verified r8).
    # If an id ever appeared under two types, streaming dedup would
    # keep one arbitrary type while this oracle counts the id under
    # EACH type — the grading is sound only under the invariant.
    # Counts are integers: deterministic regardless of which physical
    # duplicate survives.
    oracle="""
    SELECT event_type, count(DISTINCT event_id) AS n_events
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingestion dedup: the spool carries every event
    TWICE (duplicated delivery), and streaming ``dropDuplicates`` on
    event_id + watermark reduces it back to one copy — oracle-graded
    (r8): the drained per-type counts must equal the single-copy
    distinct counts.

    Watermarked dedup is the 100 TB shape: state holds only event_ids
    newer than the watermark horizon, so memory is bounded by the
    duplication window, not the stream's lifetime.
    """
    spool = _spool_events(sf_dir, copies=2, tag="-dup")
    deduped = (
        events_stream_source(spark, spool)
        .withWatermark("ts", "2 hours")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return _drain(deduped, "dedup", sf_dir, "complete")


#: click→purchase attribution horizon for the interval join
_ATTRIB_WINDOW = "1 hour"


#: Shared by the batch twin and the live drain: the interval-join
#: result is a SET of exact values (ids + timestamps, no float
#: aggregation), and the availableNow drain emits every matched pair
#: (inner joins emit on match, not on watermark advance), so the live
#: result is deterministic and the same oracle grades both.
_SSJOIN_ORACLE = """
    SELECT c.event_id          AS click_id,
           p.event_id          AS purchase_id,
           c.user_id           AS user_id,
           p.ts                AS purchase_ts
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


@register("stream_join", oracle=_SSJOIN_ORACLE)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join: each click pairs
    with the same user's purchases within the next hour (attribution).
    One shuffle keys both sides by user_id; the time predicate filters
    inside each co-partition."""
    events = load_table(spark, sf_dir, "events")
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {_ATTRIB_WINDOW}")),
        )
        .select("click_id", "purchase_id", "user_id", "purchase_ts")
    )


@register("stream_join_live", oracle=_SSJOIN_ORACLE)
def stream_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real watermarked stream-stream interval join (clicks ⋈
    purchases on user_id within the attribution window), drained with
    availableNow.  Both sides carry watermarks and the join has a time
    bound, so Spark can expire buffered state as the watermark
    advances — unbounded-state joins never survive production streams.
    Oracle-graded with the batch twin's SQL (r8): the matched-pair set
    is exact values and inner joins emit on match, so the drain is
    deterministic."""
    stream = read_events_stream(spark, sf_dir)
    c = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    p = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {_ATTRIB_WINDOW}")),
    ).select("click_id", "purchase_id", "user_id", "purchase_ts")
    return _drain(joined, "ssjoin", sf_dir, "append")


@register("stream_sliding_live", oracle=_SLIDING_ORACLE)
def stream_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming drain of the sliding-window aggregation
    (watermark → 1h/30min windows → availableNow).  State in flight is
    (overlap factor × groups) — the 2× overlap costs 2× aggregation
    state, never 2× input.  Oracle-graded with the batch twin's SQL
    (r8, see stream_tumbling_live for the determinism argument)."""
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    return _drain(_sliding_agg(stream), "sliding", sf_dir, "complete")
