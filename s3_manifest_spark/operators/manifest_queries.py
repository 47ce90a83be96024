"""queries() entries exercising the manifest core (reference §2A:
P1-P5 projection, F1 filter, A1/A2 stats — /root/reference/src/main.rs:
210-219, 361-390) over the deterministic synthetic listing.

Scale notes: the whole manifest pipeline is narrow (no shuffle) until
the stats aggregation, which is a map-side-combinable groupBy on a
low-cardinality derived key — at 100 TB of listing rows that is one
light shuffle of partial aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_manifest_spark.manifest.core import derive_manifest
from s3_manifest_spark.registry import cached, register
from s3_manifest_spark.sources.tables import (
    SYNTH_LISTING_SQL,
    load_table,
    size_cents,
    synth_listing,
)

BUCKET = "test-bucket"


def _utc_session(spark: SparkSession) -> bool:
    """The timestamp fusions (skipping the RFC3339 format→parse round
    trip) are only identities when the round trip is one: the unfused
    path formats wall time with a literal 'Z' and re-parses it as UTC,
    so under a non-UTC session timezone it SHIFTS the instant while
    the fused arithmetic does not.  The engine pins UTC (session.py,
    __spark_entry__._configure); a library caller with another zone
    gets the unfused composition instead of a silently-different
    answer."""
    return spark.conf.get("spark.sql.session.timeZone", "") == "UTC"

# DuckDB twin of derive_manifest's projection (manifest core fidelity
# contract, SURVEY.md §2C).  string_split is literal, [-1] matches
# substring_index(key, d, -1) incl. no-delimiter and trailing-delimiter
# cases (verified in tests/test_manifest_core.py).
_PROJECT_SQL = f"""
WITH listing AS ({SYNTH_LISTING_SQL})
SELECT
  '{BUCKET}'                                          AS Bucket,
  coalesce(key, '')                                   AS Key,
  string_split(coalesce(key, ''), '/')[-1]            AS FileName,
  CAST(coalesce(size, 0) AS BIGINT)                   AS Size,
  coalesce(try_cast(last_modified AS TIMESTAMP),
           TIMESTAMP '1970-01-01 00:00:00')           AS LastModified
FROM listing
"""


def _fused_manifest_projection(li: DataFrame) -> DataFrame:
    """The ``synth_listing → derive_manifest`` composition fused into
    one projection over the SOURCE columns.

    Two round trips Catalyst cannot see through are removed:

    - ``to_timestamp(date_format(ts, RFC3339))`` is just the
      second-truncated ``ts`` (the RFC pattern has seconds precision) —
      so LastModified is ``timestamp_seconds(unix_timestamp(ts))``
      directly, skipping 600k string formats + parses;
    - ``substring_index(concat('data/', rf, '/', ok, '/part-', ln,
      '.parquet'), '/', -1)`` is just ``concat('part-', ln,
      '.parquet')`` — FileName never needs the full key scanned.

    NULL semantics preserved exactly: a NULL in any key component nulls
    the concat'd key, which derive_manifest defaults to ``''`` (and its
    FileName is ``substring_index('', '/', -1) = ''``); NULL price →
    Size 0; NULL shipdate → epoch 0.  Equality with the unfused
    composition is pinned by
    tests/test_manifest_core.py::test_project_fusion_equals_unfused.
    """
    any_null = (
        F.col("l_returnflag").isNull()
        | F.col("l_orderkey").isNull()
        | F.col("l_linenumber").isNull()
    )
    key = F.when(any_null, F.lit("")).otherwise(
        F.concat(
            F.lit("data/"),
            F.col("l_returnflag"),
            F.lit("/"),
            F.col("l_orderkey").cast("string"),
            F.lit("/part-"),
            F.col("l_linenumber").cast("string"),
            F.lit(".parquet"),
        )
    )
    fname = F.when(any_null, F.lit("")).otherwise(
        F.concat(
            F.lit("part-"),
            F.col("l_linenumber").cast("string"),
            F.lit(".parquet"),
        )
    )
    return li.select(
        F.lit(BUCKET).alias("Bucket"),
        key.alias("Key"),
        fname.alias("FileName"),
        F.coalesce(size_cents(), F.lit(0)).alias("Size"),
        F.timestamp_seconds(
            F.coalesce(
                F.unix_timestamp(F.col("l_shipdate").cast("timestamp")),
                F.lit(0),
            )
        ).alias("LastModified"),
    )


@register("manifest_project", oracle=_PROJECT_SQL)
def manifest_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P5 manifest projection over the synthetic listing.

    Physical plan: select the five needed source columns, widen the
    1-row-group scan with a raw-column round-robin exchange (~29-byte
    rows — narrower than the ~60-byte derived rows the old
    project-then-widen order shipped), then run the FUSED projection
    (:func:`_fused_manifest_projection`) 32-wide.  The serial scan task
    does no string building at all.
    """
    from s3_manifest_spark.sources.tables import widen_scan

    if not _utc_session(spark):
        return manifest_project_unfused(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber",
        "l_extendedprice", "l_shipdate",
    )
    li = widen_scan(li, f"{sf_dir}/lineitem.parquet")
    return _fused_manifest_projection(li)


def manifest_project_unfused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generic composition (listing → derive_manifest) — the form a
    real, non-synthetic listing takes; the fused twin must equal it."""
    return derive_manifest(synth_listing(spark, sf_dir), bucket=BUCKET)


@register(
    "manifest_prefix_filter",
    oracle=f"SELECT * FROM ({_PROJECT_SQL}) WHERE Key LIKE 'data/A%'",
)
def manifest_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: prefix-filtered manifest projection.

    FUSED predicate: the listing key is the template
    ``data/<rf>/<ok>/part-<ln>.parquet``, so ``Key startswith
    'data/A'`` is equivalent to ``l_returnflag startswith 'A'`` on the
    SOURCE column (NULL components make the key NULL → '' on both
    paths, which matches neither) — letting the predicate run against
    the scan before any key string exists.  Unfused, the plan built
    600k concat'd keys one-task-wide below the widening exchange just
    to drop 3/4 of them; fused, the cheap source-column test prunes
    first, the exchange ships only surviving source tuples, and key
    construction runs 32-wide above it.  The defensive client-side
    re-check of the server-pushed prefix (main.rs:210-219) is KEPT on
    the built key — it re-verifies the fusion on every row.
    Equivalence with the unfused composition is pinned by
    tests/test_manifest_core.py::test_prefix_filter_fusion_equals_unfused.
    """
    from s3_manifest_spark.sources.tables import widen_scan

    if not _utc_session(spark):
        return manifest_prefix_filter_unfused(spark, sf_dir)
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag").startswith("A"))
        .select(
            "l_returnflag", "l_orderkey", "l_linenumber",
            "l_extendedprice", "l_shipdate",
        )
    )
    li = widen_scan(li, f"{sf_dir}/lineitem.parquet")
    # fused projection + the KEPT defensive re-check on the built key
    return _fused_manifest_projection(li).filter(
        F.col("Key").startswith("data/A")
    )


def manifest_prefix_filter_unfused(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The generic composition (listing → derive_manifest with a
    prefix) — the form an arbitrary, non-template prefix takes."""
    return derive_manifest(
        synth_listing(spark, sf_dir), bucket=BUCKET, prefix="data/A"
    )


@register(
    "manifest_stats",
    oracle=f"""
    SELECT array_to_string(string_split(Key, '/')[1:2], '/') AS prefix2,
           count(*)                      AS object_count,
           -- DuckDB sum(BIGINT) is HUGEINT → float64 in pandas; cast back
           CAST(sum(Size) AS BIGINT)     AS total_bytes,
           max(LastModified)             AS newest_mtime
    FROM ({_PROJECT_SQL})
    GROUP BY prefix2
    """,
)
def manifest_stats_by_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 stats widened to a per-prefix rollup (depth 2).

    FUSED plan: the composition ``listing → derive_manifest → groupBy``
    contains two string round trips Catalyst cannot see through —
    ``substring_index(concat('data/', rf, '/', …), '/', 2)`` is just
    ``concat('data/', rf)``, and ``to_timestamp(date_format(ts, RFC))``
    is just the ms-truncated ``ts`` — so this query applies that
    algebraic fusion by hand and aggregates the source columns
    directly (600k string builds + re-parses skipped; measured
    1.05s → 0.35s at sf0.1, from 2.4× to 0.84× of the oracle).  The
    NULL-default semantics of the manifest projection (key→'',
    size→0, timestamp→epoch) are preserved with coalesce; equality
    with the unfused derive_manifest composition is pinned by
    tests/test_manifest_core.py::test_stats_fusion_equals_unfused.
    """
    return manifest_stats_unfused(spark, sf_dir, fused=_utc_session(spark))


def manifest_stats_unfused(
    spark: SparkSession, sf_dir: str, fused: bool = False
) -> DataFrame:
    """Both physical forms of the per-prefix stats rollup — ``fused``
    aggregates lineitem columns directly (see
    :func:`manifest_stats_by_prefix`); unfused runs the full
    listing → manifest → groupBy composition."""
    if fused:
        li = load_table(spark, sf_dir, "lineitem")
        # a NULL in ANY key component nulls the whole concat'd key,
        # which the manifest projection defaults to '' — reproduce that
        # exactly, not just for the prefix components.
        any_null = (
            F.col("l_returnflag").isNull()
            | F.col("l_orderkey").isNull()
            | F.col("l_linenumber").isNull()
        )
        prefix2 = F.when(any_null, F.lit("")).otherwise(
            F.concat(F.lit("data/"), F.col("l_returnflag"))
        )
        size = F.coalesce(size_cents(), F.lit(0))
        mtime = F.timestamp_millis(
            F.coalesce(
                F.unix_millis(F.col("l_shipdate").cast("timestamp")), F.lit(0)
            )
        )
        return li.groupBy(prefix2.alias("prefix2")).agg(
            F.count(F.lit(1)).alias("object_count"),
            F.sum(size).alias("total_bytes"),
            F.max(mtime).alias("newest_mtime"),
        )
    # widen=False: the stats groupBy below is itself a keyed Exchange,
    # so the widening round-robin would just shuffle the rows twice.
    m = derive_manifest(synth_listing(spark, sf_dir, widen=False), bucket=BUCKET)
    return m.groupBy(
        F.substring_index(F.col("Key"), "/", 2).alias("prefix2")
    ).agg(
        F.count(F.lit(1)).alias("object_count"),
        F.sum("Size").alias("total_bytes"),
        F.max("LastModified").alias("newest_mtime"),
    )


#: Deterministic snapshot predicates for the incremental-diff query:
#: OLD drops keys where size % 3 = 0, NEW drops size % 5 = 0 and bumps
#: size by 1 where size % 7 = 0 — so the universe cleanly splits into
#: added / removed / changed / unchanged without any RNG.
_DIFF_OLD_PRED = "size % 3 != 0"
_DIFF_NEW_PRED = "size % 5 != 0"
_DIFF_BUMP = "CASE WHEN size % 7 = 0 THEN size + 1 ELSE size END"


def _keyed_parts_conf(spark: SparkSession) -> tuple:
    """Every piece of session conf :func:`_keyed_parts` reads — and
    the EXACT tuple :func:`_cdc_state` folds into its model-cache key.
    One source of truth so the exchange sizing and the cached-state
    key can never drift: if ``_keyed_parts`` grows a new conf
    dependency (say defaultParallelism, which the registry plan-cache
    key already tracks), add it HERE and both move together."""
    return (spark.conf.get("spark.sql.shuffle.partitions", "200"),)


def _keyed_parts(spark: SparkSession, sf_dir: str) -> int:
    """Right-size the diff/apply keyed exchange from the parquet
    footer's row count (a cached metadata read, no job): ~40k packed
    8-byte rows per reducer keeps per-task scheduling overhead from
    dominating a small shuffle (measured at sf0.1: 32 → 16 reducers is
    0.60s → 0.42s), while the cap at the session's shuffle-partition
    conf means production inputs — rows ≫ 40k × cores — keep full
    cluster width.  This is AQE-coalescing logic applied up front;
    AQE itself won't shrink a user-specified repartition."""
    from s3_manifest_spark.sources.tables import parquet_row_count

    rows = parquet_row_count(f"{sf_dir}/lineitem.parquet")
    cap = int(_keyed_parts_conf(spark)[0])
    return max(1, min(cap, rows // 40_000))


def _packed_key() -> F.Column:
    """The synthetic listing key ``data/<rf>/<ok>/part-<ln>.parquet``
    packed into ONE nullable long: ``ok*2048 + ln*256 + ascii(rf)``.

    Injective for this key template's component domain (single-char
    returnflag, linenumber in [1,7] so ``ln*256 + ascii(rf) < 2048``;
    TPC-H orderkeys stay far below 2^52 so the product never
    overflows) — so grouping by the packed long is identical to
    grouping by the key string, while the exchange hashes and ships one
    primitive instead of a ~35-byte string, and the aggregation hash
    map takes codegen's primitive-key fast path.  A NULL in any
    component nulls the whole string key (one '' group after the
    manifest default); mirrored by nulling the packed key, which Spark
    groups as one NULL group.  Injectivity over the real fixture is
    pinned by tests/test_manifest_core.py::test_packed_key_injective.
    """
    any_null = (
        F.col("l_returnflag").isNull()
        | F.col("l_orderkey").isNull()
        | F.col("l_linenumber").isNull()
    )
    packed = (
        F.col("l_orderkey") * F.lit(2048)
        + F.col("l_linenumber").cast("long") * F.lit(256)
        + F.ascii(F.col("l_returnflag")).cast("long")
    )
    # Defense-in-depth behind the footer-stats chooser
    # (_packed_domain_ok): the stats check is a fast-path heuristic
    # whose l_returnflag leg is NOT a proof (a mixed-length domain
    # between single-char extremes passes it), so the packed plan
    # carries an in-row guard — three codegen'd comparisons per row —
    # that turns any out-of-domain component into a LOUD error instead
    # of a silently merged key.
    domain_ok = (
        (F.length("l_returnflag") == 1)
        & (F.ascii("l_returnflag") < 128)
        & F.col("l_linenumber").between(1, 7)
        & F.col("l_orderkey").between(0, 2**42 - 1)
    )
    return (
        F.when(any_null, F.lit(None).cast("long"))
        .when(domain_ok, packed)
        .otherwise(
            F.raise_error(
                F.lit(
                    "packed listing key domain violated "
                    "(returnflag/linenumber/orderkey out of range); "
                    "footer stats promised otherwise"
                )
            ).cast("long")
        )
    )


def _unpacked_key_string(k: F.Column) -> F.Column:
    """Rebuild the listing key string from a :func:`_packed_key` value
    (NULL stays NULL, matching the NULL concat of NULL components).
    Runs post-aggregation, so the concat cost is per RESULT row and
    32-wide, not per input row inside the serial scan task."""
    # power-of-two divisions of an integer-valued double are exact, and
    # the long cast truncates the remainder — integer div/mod in codegen
    return F.concat(
        F.lit("data/"),
        F.char(k % 256),
        F.lit("/"),
        (k / 2048).cast("long").cast("string"),
        F.lit("/part-"),
        ((k % 2048) / 256).cast("long").cast("string"),
        F.lit(".parquet"),
    )


def _string_key() -> F.Column:
    """The listing key as its literal string — the un-fused grouping
    key the packed plan replaces.  Delegates to the canonical template
    builder (one source of truth — a template change cannot drift the
    fallback plan from the oracle's key).  ``concat`` nulls on any
    NULL component, matching :func:`_packed_key`'s NULL collapse."""
    from s3_manifest_spark.sources.tables import listing_key_column

    return listing_key_column()


#: Guard verdict memo per lineitem path (immutable fixtures).
_PACKED_DOMAIN_OK: dict[str, bool] = {}


def _packed_domain_ok(sf_dir: str) -> bool:
    """Footer-stats proof that :func:`_packed_key` is injective for
    this input (ADVICE r7): the packed-long fusion silently merges
    distinct keys if a component leaves its domain, so the plan is
    chosen only when the parquet column statistics (a metadata read,
    no job — the same mechanism as ``_assert_plant_ids_disjoint``)
    bound every row: ``1 ≤ l_linenumber ≤ 7`` and ``0 ≤ l_orderkey <
    2^42`` are SOUND proofs (numeric min/max bound all values; 2^42
    keeps ``ok*2048`` exact under the double division in
    ``_unpacked_key_string``); for ``l_returnflag`` the stats can only
    show both extremes are single ASCII chars — a necessary check that
    catches the realistic drift (long flags, non-ASCII), while a
    mixed-length domain strictly between single-char extremes would
    pass it, which is why failure of ANY check falls back to the
    string-key plan rather than asserting.  Missing stats → fallback.
    """
    key = f"{sf_dir}/lineitem.parquet"
    hit = _PACKED_DOMAIN_OK.get(key)
    if hit is not None:
        return hit

    def check() -> bool:
        import pyarrow.parquet as pq

        from s3_manifest_spark.sources.tables import _parquet_files

        bounds: dict[str, list] = {c: [] for c in ("l_orderkey", "l_linenumber", "l_returnflag")}
        for f in _parquet_files(key):
            md = pq.ParquetFile(f).metadata
            schema = md.schema.to_arrow_schema()
            for col, acc in bounds.items():
                idx = schema.get_field_index(col)
                if idx < 0:
                    return False
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        return False
                    acc.append((st.min, st.max))
        ln = bounds["l_linenumber"]
        ok = bounds["l_orderkey"]
        rf = bounds["l_returnflag"]
        if not (ln and ok and rf):
            return False
        return (
            all(1 <= lo and hi <= 7 for lo, hi in ln)
            and all(0 <= lo and hi < 2**42 for lo, hi in ok)
            and all(
                len(v) == 1 and ord(v) < 128
                for lo, hi in rf
                for v in (lo, hi)
            )
        )

    verdict = check()
    _PACKED_DOMAIN_OK[key] = verdict
    return verdict


def _cdc_state(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, bool]:
    """Session-maintained per-key snapshot state ``(k, old_sz,
    new_sz)`` SHARED by ``manifest_diff`` and
    ``manifest_apply_changes`` — the batch twin of the streaming CDC
    maintainer's state store (streaming/cdc.py keeps these same two
    longs per key incrementally).  Both queries aggregate the
    identical relation from the identical scan; at 100 TB you do not
    re-scan the corpus once per consumer — you maintain the keyed
    state once and serve diffs AND applies from it.  Cached in the
    session model cache (same build-once/query-many contract as the
    IVF quantizer), so the bench harness reports these queries as
    model-cached with their measured full cold build+query cost
    (bench.py cold_sec); persisted outside the registry's tracked
    sweep because it must outlive individual query calls.  Returns
    ``(state, packed)`` where ``packed`` says which key form the
    state's ``k`` column carries."""
    packed = _packed_domain_ok(sf_dir)

    def build():
        li = load_table(spark, sf_dir, "lineitem")
        l = li.select(
            (_packed_key() if packed else _string_key()).alias("k"),
            size_cents().alias("size"),
            F.col("l_shipdate").alias("sd"),
        )
        state = (
            l.filter(F.expr(f"({_DIFF_OLD_PRED}) OR ({_DIFF_NEW_PRED})"))
            .repartition(_keyed_parts(spark, sf_dir), "k")
            .groupBy("k")
            .agg(
                F.max(F.when(F.expr(_DIFF_OLD_PRED), F.col("size")))
                .cast("long")
                .alias("old_sz"),
                F.max(F.when(F.expr(_DIFF_NEW_PRED), F.expr(_DIFF_BUMP)))
                .cast("long")
                .alias("new_sz"),
                # old-snapshot mtime rides the same exchange (+1 native
                # date/key): it makes the state serve VACUUM retention
                # planning too — a dangling key is old_sz!=NULL,
                # new_sz=NULL, and the age gate reads old_mtime_d (r11;
                # diff/apply simply don't select it).
                F.max(F.when(F.expr(_DIFF_OLD_PRED), F.col("sd"))).alias(
                    "old_mtime_d"
                ),
            )
            .persist()
        )
        state.count()  # materialize eagerly: the build is the cold cost
        return state

    # conf part of the key comes from the ONE helper _keyed_parts
    # reads, so the sizing and the cache key cannot drift (ADVICE r8)
    key = ("cdc_state", sf_dir, packed, *_keyed_parts_conf(spark))
    return cached(spark, key, build), packed


@register(
    "manifest_diff",
    oracle=f"""
    WITH listing AS ({SYNTH_LISTING_SQL}),
    old AS (
      SELECT key, CAST(max(size) AS BIGINT) AS sz FROM listing
      WHERE {_DIFF_OLD_PRED} GROUP BY key
    ),
    new AS (
      SELECT key, CAST(max({_DIFF_BUMP}) AS BIGINT) AS sz FROM listing
      WHERE {_DIFF_NEW_PRED} GROUP BY key
    ),
    j AS (
      SELECT coalesce(old.key, new.key) AS key, old.sz AS old_sz, new.sz AS new_sz
      FROM old FULL OUTER JOIN new ON old.key = new.key
    )
    SELECT CASE WHEN old_sz IS NULL THEN 'added'
                WHEN new_sz IS NULL THEN 'removed'
                WHEN old_sz <> new_sz THEN 'changed'
                ELSE 'unchanged' END                        AS change_type,
           count(*)                                         AS n_objects,
           CAST(sum(coalesce(new_sz, 0) - coalesce(old_sz, 0)) AS BIGINT)
                                                            AS bytes_delta
    FROM j
    GROUP BY change_type
    """,
)
def manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental manifest diff — the operation a consumer of the
    reference's manifests runs between two listing snapshots: which
    objects were added, removed, or changed size, and the byte delta.

    Here both snapshots derive from one scan, so the whole diff is ONE
    conditional aggregation + a tiny rollup (see inline comments).  At
    100 TB with two independent physical manifests, the full-outer-join
    form applies instead — both manifests written bucketed by key (see
    tests/test_bucketed_join.py) so the join co-locates without
    shuffling either snapshot.
    """
    # Snapshots aggregate per key first: S3 keys are unique within a
    # listing, but the synthetic listing derives keys with ~9% dups —
    # and diff semantics are only well-defined on a keyed snapshot.
    #
    # Both snapshots derive from the SAME scan here, so instead of the
    # oracle's two aggregations + full-outer join (three shuffles on
    # key) the diff is ONE conditional aggregation: per key, the old
    # and new sizes are max-over-filtered-rows in the same groupBy, and
    # a key absent from a snapshot yields NULL exactly like the outer
    # join's missing side.  Rows in neither snapshot are filtered out
    # up front.  (With two independent physical manifests the
    # outer-join form applies — bucketed by key, it co-locates without
    # shuffling either snapshot; tests/test_bucketed_join.py.)
    #
    # Three fusions on top (the key STRING never reaches the output —
    # only change classes do):
    # - group by the key's source components instead of the concat'd
    #   string: component→string is injective for this key format, so
    #   the grouping is identical, but 600k concats are skipped
    #   (measured 1.02s → 0.76s at sf0.1 for the tuple form).  A NULL
    #   in any component nulls the whole string key, which groups as
    #   ONE '' key — reproduced by collapsing all-null-component rows
    #   to one all-NULL key (Spark groups NULL keys together).
    # - PACK the (rf, ok, ln) tuple into a single long
    #   (:func:`_packed_key`): one primitive hash + 8 shipped bytes per
    #   row instead of a 3-column row, and the post-shuffle hash map
    #   takes codegen's primitive-key fast path (0.92s → 0.75s).
    # - repartition-by-key first: listing keys are nearly unique, so
    #   the map-side partial aggregate would shrink nothing while
    #   hashing almost every input row (see cdc_per_key's
    #   pre_partition note).
    # size_cents (not F.round) keeps the serial scan task free of
    # per-row BigDecimal work — see its docstring.  The packed-key
    # fusion engages only when footer stats prove its domain
    # (_packed_domain_ok); otherwise the same plan groups by the
    # literal key string.  The per-key aggregation itself is the
    # session-shared CDC state (:func:`_cdc_state` — apply consumes
    # the identical relation), so a session serves repeated diffs
    # from the maintained state, paying the scan+aggregate once.
    j, _packed = _cdc_state(spark, sf_dir)
    change = (
        F.when(F.col("old_sz").isNull(), "added")
        .when(F.col("new_sz").isNull(), "removed")
        .when(F.col("old_sz") != F.col("new_sz"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(change.alias("change_type"), "old_sz", "new_sz")
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.sum(
                F.coalesce(F.col("new_sz"), F.lit(0))
                - F.coalesce(F.col("old_sz"), F.lit(0))
            ).alias("bytes_delta"),
        )
    )


def cdc_per_key(listing: DataFrame, pre_partition: bool = False) -> DataFrame:
    """The single-scan CDC aggregation shared by the batch
    ``manifest_apply_changes`` and the streaming maintainer
    (``streaming/cdc.py``): per key, old-snapshot size and feed size as
    max-over-filtered-rows in ONE groupBy.  ``F.max(F.when(...))`` is
    a plain aggregate, so the expression works identically as a batch
    aggregation and as a streaming stateful aggregation (2 longs of
    state per key).

    ``pre_partition=True`` (batch path): repartition by key BEFORE the
    groupBy, so the aggregation runs entirely post-shuffle.  S3 keys
    are NEARLY UNIQUE in a listing (~74% distinct on the fixture
    feed), so map-side partial aggregation shrinks the shuffle barely
    at all while paying a near-|input|-entry hash table per map task —
    and on a row-group-bound scan those map tasks are few and huge.
    Shuffling raw rows instead measured 1.28s → 0.87s at sf0.1.  The
    flag stays False for the streaming form (the stateful agg's state
    store imposes its own clustering; a repartition would add a second
    per-micro-batch shuffle) and for any low-cardinality keyspace,
    where map-side combine is the win."""
    filtered = listing.filter(
        F.expr(f"({_DIFF_OLD_PRED}) OR ({_DIFF_NEW_PRED})")
    )
    if pre_partition:
        filtered = filtered.repartition("key")
    return filtered.groupBy("key").agg(
        F.max(F.when(F.expr(_DIFF_OLD_PRED), F.col("size")))
        .cast("long")
        .alias("old_sz"),
        F.max(F.when(F.expr(_DIFF_NEW_PRED), F.expr(_DIFF_BUMP)))
        .cast("long")
        .alias("feed_new"),
    )


def cdc_merge(per_key: DataFrame) -> DataFrame:
    """MERGE cases over the aggregated (key, old_sz, feed_new) row: a
    changed key (old <> feed, null-safe) takes feed_new — NULL feed is
    a delete, dropped by the filter; an unchanged key keeps old_sz."""
    chg = ~F.col("old_sz").eqNullSafe(F.col("feed_new"))
    size = F.when(chg, F.col("feed_new")).otherwise(F.col("old_sz"))
    return per_key.select("key", size.cast("long").alias("size")).filter(
        F.col("size").isNotNull()
    )


def merge_change_feed(old: DataFrame, feed: DataFrame) -> DataFrame:
    """The DIY MERGE shape Spark DataFrames lack natively: ``old``
    (``key, old_sz``) full-outer-joined with a change feed
    (``key, chg, feed_new``) — a feed row with a NULL ``feed_new`` is
    a delete, a non-NULL one an upsert, and a key with no feed row
    keeps its old size.

    This is the TWO-INDEPENDENT-RELATIONS form of CDC apply: when the
    snapshot and the feed are separate physical manifests, both
    bucketed by key, the full-outer join co-locates with ZERO Exchange
    (pinned by tests/test_bucketed_join.py::test_bucketed_merge_apply)
    — at 100 TB neither side ever shuffles.  ``manifest_apply_changes``
    below deliberately does NOT use this path, because its old/feed
    derive from one scan (see its docstring).
    """
    merged = old.join(feed, "key", "full_outer")
    size = F.when(F.col("chg").isNotNull(), F.col("feed_new")).otherwise(
        F.col("old_sz")
    )
    return merged.select("key", size.cast("long").alias("size")).filter(
        F.col("size").isNotNull()
    )


#: The directly-computed NEW snapshot — shared by the batch apply and
#: the streaming CDC drain (streaming/cdc.py): both must reconstruct
#: exactly this relation, and every value is integer/string (max over
#: longs), so the streaming form is deterministic bit-for-bit.
APPLY_ORACLE_SQL = f"""
    WITH listing AS ({SYNTH_LISTING_SQL})
    SELECT key, CAST(max({_DIFF_BUMP}) AS BIGINT) AS size
    FROM listing WHERE {_DIFF_NEW_PRED} GROUP BY key
"""


@register("manifest_apply_changes", oracle=APPLY_ORACLE_SQL)
def manifest_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply — ``manifest_diff``'s counterpart: reconstruct the NEW
    snapshot by applying a change feed (upserts + deletes only;
    unchanged keys are absent from the feed, as in a real CDC stream)
    to the OLD snapshot.  The oracle is the DIRECTLY-computed new
    snapshot, so the hash check proves apply(old, diff(old, new)) ==
    new — the round-trip contract an incremental manifest consumer
    relies on.

    Plan: both the snapshot and the feed derive from ONE scan here, so
    the merge collapses to a SINGLE conditional aggregation — exactly
    the ``manifest_diff`` shape: per key, old size and feed size are
    max-over-filtered-rows in the same groupBy (one shuffle of partial
    aggregates), and the MERGE cases are a projection over that row:
    a changed key takes the feed value (NULL = delete, filtered), an
    unchanged key keeps its old size.  The previous form computed old
    and feed as two separate aggregations over the same scan and
    full-outer-joined them — three shuffles where one suffices;
    BASELINE.md records the interleaved A/B medians for the rewrite
    (2.55s → 1.61s at sf0.1), and BENCH_FULL.json now carries the
    per-query interleaved sample arrays plus the scan's row-group
    ceiling so the residual gap vs the in-process oracle is
    reproducible from the artifact.  When old and feed
    are genuinely independent relations, :func:`merge_change_feed`
    keeps the two-sided full-outer MERGE, co-located shuffle-free over
    bucketed manifests (tests/test_bucketed_join.py).
    """
    # Same packed-key fusion as manifest_diff (its inline comment has
    # the argument): the per-key aggregation groups the key packed into
    # ONE long — injective for this key format, so identical groups —
    # and the output key string is rebuilt once per RESULT row after
    # the aggregation (445k concats post-agg and 32-wide vs 600k inside
    # the serial scan task; the repartition ships 8-byte primitives,
    # not ~35-byte strings).  Null components collapse to one NULL
    # packed key whose rebuilt string stays NULL — matching the
    # oracle's NULL key group (its GROUP BY runs on the raw listing
    # key, which is NULL for NULL components, NOT the manifest
    # projection's '' default).
    state, packed = _cdc_state(spark, sf_dir)
    per = state.withColumnRenamed("new_sz", "feed_new")
    key = _unpacked_key_string(F.col("k")) if packed else F.col("k")
    return cdc_merge(per.select(key.alias("key"), "old_sz", "feed_new"))


# ---------------------------------------------------------------------------
# Compaction planning (lakehouse OPTIMIZE over the manifest)
# ---------------------------------------------------------------------------

#: target bytes per compacted output file group.  (Real engines use
#: 128 MB-1 GB; 1 "GB" of the synthetic cent-sized listing yields a
#: few thousand bins at sf0.1 — non-trivial at every fixture sf.)
COMPACTION_TARGET_BYTES = 1_000_000_000


def _binned_partials(data: DataFrame, b_off, target: int) -> DataFrame:
    """Per-(prefix, bin) combinable PARTIALS over the pinned sorted
    listing — the compaction kernel, module-level so adversarial
    layouts are unit-testable (tests/test_manifest_core.py).

    Rows arrive sorted by (prefix, key, size) within each partition,
    so every bin is a contiguous run whose first/last row give
    min/max key, and (count, byte-sum, first, last) are combinable
    across the partition/batch seams a bin may span.  The Arrow
    return ships <= bins x partitions short rows instead of
    re-emitting the whole listing (measured r11: the 600k-row round
    trip was the query's dominant cost once the sort was
    model-cached).  ``b_off`` maps (partition id, prefix) to the byte
    total of that prefix in earlier partitions; a prefix REAPPEARING
    within a partition (non-contiguous interleave) is handled by the
    per-prefix running state."""
    import numpy as np

    from s3_manifest_spark.operators.text import _run_starts

    def binner(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        running: dict[str, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            sizes = pdf["size"].to_numpy(dtype="int64")
            prefixes = pdf["prefix"].to_numpy()
            keys = pdf["key"].to_numpy()
            out: dict[str, list] = {
                "prefix": [], "bin_id": [], "n_files": [],
                "total_bytes": [], "first_key": [], "last_key": [],
            }
            # segment boundaries are where the prefix changes (a
            # handful per batch)
            starts = _run_starts(prefixes)
            bounds = np.append(starts, len(pdf))
            for i, j in zip(bounds[:-1], bounds[1:]):
                p = prefixes[i]
                base = running.get(p)
                if base is None:
                    base = b_off.value.get((pid, p), 0)
                seg = sizes[i:j]
                excl = np.cumsum(seg) - seg + base
                segbins = excl // target
                running[p] = int(excl[-1] + seg[-1])
                bstarts = _run_starts(segbins)
                bbounds = np.append(bstarts, j - i)
                for a, b in zip(bbounds[:-1], bbounds[1:]):
                    out["prefix"].append(p)
                    out["bin_id"].append(int(segbins[a]))
                    out["n_files"].append(int(b - a))
                    out["total_bytes"].append(int(seg[a:b].sum()))
                    out["first_key"].append(keys[i + a])
                    out["last_key"].append(keys[i + b - 1])
            yield pd.DataFrame(out)

    return data.mapInPandas(
        binner,
        schema=(
            "prefix string, bin_id long, n_files long, "
            "total_bytes long, first_key string, last_key string"
        ),
    )


@register(
    "compaction_plan",
    oracle=f"""
    WITH listing AS ({{SYNTH}}),
    pf AS (
      SELECT split_part(key, '/', 1) || '/' || split_part(key, '/', 2)
               AS prefix,
             key, size
      FROM listing
    ),
    c AS (
      SELECT prefix, key, size,
             coalesce(sum(size) OVER (
               PARTITION BY prefix ORDER BY key, size
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM pf
    )
    SELECT prefix,
           CAST(cum // {COMPACTION_TARGET_BYTES} AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT)         AS n_files,
           CAST(sum(size) AS BIGINT)        AS total_bytes,
           min(key)                         AS first_key,
           max(key)                         AS last_key
    FROM c
    GROUP BY prefix, bin_id
    """.replace("{SYNTH}", SYNTH_LISTING_SQL),
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan over the listing manifest — the
    lakehouse OPTIMIZE planning step: within each top-level prefix,
    files are packed in key order into :data:`COMPACTION_TARGET_BYTES`
    groups (``bin_id = exclusive-cumulative-bytes // target`` — an
    oversized file gets its own bin, both engines share the integer
    formula).  Listing keys are NOT unique in the fixture (duplicate
    (orderkey, linenumber) rows), so the pack order is (key, size) —
    total up to fully-identical rows, which are interchangeable.  Output is one row per planned output group:
    ``(prefix, bin_id, n_files, total_bytes, first_key, last_key)`` —
    exactly what a rewrite job consumes.

    The per-prefix running byte total is computed WITHOUT a window
    over a handful of giant prefix partitions (at 100 TB a prefix can
    hold billions of rows — ``sum() OVER (PARTITION BY prefix)`` would
    sort-buffer each prefix on one task): instead the shared
    sort_offsets machinery (also behind ``percentile_dist_exact`` and
    ``shuffle_epoch``) — ONE range sort on (prefix, key) with the
    layout pinned, a per-(partition, prefix) byte-total metadata
    collect (≤ partitions × live prefixes short rows), and an Arrow
    pass adding offset-corrected exclusive cumsums.  All arithmetic is
    exact int64, so the plan is bit-deterministic.  Fixture cost is
    the pattern's two-job floor (sort materializes during the metadata
    job; the binning+agg collect is the second) — annotated
    ``metadata_offset_pattern`` in bench queries_meta, 10× probed in
    SCALE.md via tools/probe_sort_offsets_scale.py."""
    from s3_manifest_spark.operators.sort_offsets import (
        cached_sort_meta,
        exclusive_offsets,
    )
    from s3_manifest_spark.sources.tables import listing_model

    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # The sorted listing + its per-(partition, prefix) byte weights
    # are a session MODEL (r11): a maintenance sweep re-plans
    # compaction repeatedly over one manifest, and the sorted layout
    # is exactly the artifact a real lakehouse keeps (sorted manifest
    # files).  cached_sort_meta's localCheckpoint (not pin_partitions)
    # because the layout must outlive this registry call; released by
    # clear_model_cache, cold build priced in cold_sec.
    li = listing_model(spark, sf_dir)
    pf = li.select(
        F.substring_index("key", "/", 2).alias("prefix"), "key", "size"
    )
    data, meta = cached_sort_meta(
        pf,
        parts,
        ["prefix", "key", "size"],
        ["prefix"],
        F.sum("size"),
        ("compaction", sf_dir),
    )
    offsets, _totals = exclusive_offsets(meta, "prefix")
    b_off = spark.sparkContext.broadcast(offsets)
    binned = _binned_partials(data, b_off, COMPACTION_TARGET_BYTES)
    return binned.groupBy("prefix", "bin_id").agg(
        F.sum("n_files").alias("n_files"),
        F.sum("total_bytes").alias("total_bytes"),
        F.min("first_key").alias("first_key"),
        F.max("last_key").alias("last_key"),
    )
