"""Fused range-sort + partition-offset machinery — the shared core of
the engine's sort-based "metadata pattern" operators.

The pattern (used by ``percentile_dist_exact``, ``compaction_plan``,
and ``global_ordinal``/``shuffle_epoch``): instead of a window function
over giant logical partitions (``sum()/row_number() OVER (PARTITION BY
g ORDER BY k)`` buffers/sorts each group on ONE task — at 100 TB a
group can be billions of rows), run

1. ONE distributed range sort on the order columns, layout PINNED
   (``registry.pin_partitions`` — later passes key off partition ids,
   so a recomputed sort with re-sampled range boundaries would
   silently misalign them);
2. ONE per-(partition[, group]) metadata aggregation collected to the
   driver — P×G short rows, bounded by partition count × live group
   cardinality, never by row count (the bookkeeping
   ``RDD.zipWithIndex`` does, generalized to weighted groups);
3. exclusive prefix offsets over the metadata in driver Python
   (trivially small), broadcast back;
4. an operator-specific Arrow pass that combines ``offset[pid, g]``
   with in-task running state — cumulative bytes, global ordinals,
   rank picks — touching each row exactly once, O(1) state per task.

Cost everywhere: the one sort shuffle the operator's semantics need
anyway, plus a metadata aggregation; the sort materializes DURING the
metadata job (the pin is lazy), so the whole fixture cost is two jobs.
The reference (/root/reference/src/main.rs) has no ordered-analytics
surface; this backs the SURVEY.md §2B extension operators above.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pinned_range_sort(
    df: DataFrame,
    partitions: int,
    cols: list,
    eager_cleanup: bool = False,
) -> DataFrame:
    """Range-partition + sort ``df`` on ``cols`` with the layout frozen
    (persist via the registry sweeper, or localCheckpoint for library
    callers — see :func:`~s3_manifest_spark.registry.pin_partitions`)."""
    from s3_manifest_spark.registry import pin_partitions

    return pin_partitions(
        df.repartitionByRange(partitions, *cols).sortWithinPartitions(*cols),
        eager_cleanup,
    )


def partition_weights(
    data: DataFrame, group_cols: list[str], weight: Column
) -> list:
    """Per-(partition id[, group]) ``weight`` aggregate, collected and
    sorted by partition id — the P×G metadata relation of step 2.
    ALSO materializes ``data``'s pinned layout (first job over it)."""
    return sorted(
        data.withColumn("pid", F.spark_partition_id())
        .groupBy("pid", *group_cols)
        .agg(weight.alias("w"))
        .collect(),
        key=lambda r: r["pid"],
    )


def cached_sort_meta(
    df: DataFrame,
    partitions: int,
    cols: list,
    group_cols: list,
    weight: Column,
    key_tuple: tuple,
) -> tuple[DataFrame, list]:
    """Session-model-cached (sorted frame, partition metadata) pair —
    the reusable artifact of the metadata pattern (r11).

    A maintenance/analytics sweep re-runs the same sort-based operator
    repeatedly over one relation; the range-sorted layout plus its
    per-(partition[, group]) weights are exactly what a real system
    would keep (a sorted table + its manifest stats), so they are a
    session model like the ANN exact relation: built once
    (localCheckpoint — the layout must outlive the registry call and
    lineage truncation makes a divergent recompute impossible, see
    compaction_plan's inline note), served warm, released by
    ``clear_model_cache`` (which frees the checkpoint blocks through
    the frame's LogicalRDD — a plain ``DataFrame.unpersist()`` is a
    no-op for localCheckpoint blocks, which never register in the
    CacheManager), cold build priced in bench cold_sec.  The
    cache key carries partitions + sort cols + group cols so two
    operators sharing a caller-provided ``key_tuple`` but different
    shapes can never serve each other's layout."""
    from s3_manifest_spark.registry import cached

    def build():
        data = (
            df.repartitionByRange(partitions, *cols)
            .sortWithinPartitions(*cols)
            .localCheckpoint(eager=True)
        )
        return data, partition_weights(data, group_cols, weight)

    key = ("sorted_meta", *key_tuple, partitions, tuple(cols), tuple(group_cols))
    return cached(df.sparkSession, key, build)


def exclusive_offsets(
    meta: list, group_field: str | None = None
) -> tuple[dict, dict]:
    """Exclusive prefix sums over the pid-sorted metadata rows.

    Returns ``(offsets, totals)``: with a ``group_field``,
    ``offsets[(pid, g)]`` = total weight of group ``g`` in partitions
    before ``pid`` and ``totals[g]`` the group grand total; without,
    ``offsets[pid]`` / ``totals[None]`` for the global case."""
    offsets: dict = {}
    totals: dict = {}
    for r in meta:
        g = r[group_field] if group_field is not None else None
        key = (r["pid"], g) if group_field is not None else r["pid"]
        offsets[key] = totals.get(g, 0)
        totals[g] = totals.get(g, 0) + r["w"]
    return offsets, totals
