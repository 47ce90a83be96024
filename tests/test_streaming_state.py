"""The custom stateful streaming operator must agree with its batch
twin: one row per user, identical counts/sums/max/last-seen."""

from __future__ import annotations

from pyspark.sql import functions as F

from s3_manifest_spark.sources.tables import load_table
from s3_manifest_spark.streaming.windows import run_user_state_stream

SF = "/root/testdata/sf0.001"


def test_user_state_stream_equals_batch(spark):
    got = {r.user_id: r for r in run_user_state_stream(spark, SF).collect()}
    want = {
        r.user_id: r
        for r in (
            load_table(spark, SF, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
                F.max("value").alias("max_value"),
                F.max("ts").alias("last_ts"),
            )
            .collect()
        )
    }
    assert set(got) == set(want)
    for uid, w in want.items():
        g = got[uid]
        assert g.n_events == w.n_events, uid
        assert abs(g.total_value - w.total_value) < 1e-6, uid
        assert g.max_value == w.max_value, uid
        assert g.last_ts == w.last_ts, uid


def test_stream_dedup_live_removes_duplicated_delivery(spark):
    """The dedup spool delivers every event twice; watermarked
    dropDuplicates must restore exactly the single-copy counts."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    sf = "/root/testdata/sf0.001"
    got = {
        r.event_type: r.n_events
        for r in q["stream_dedup_live"](spark, sf).collect()
    }
    from s3_manifest_spark.sources.tables import load_table

    want = {
        r.event_type: r.n
        for r in load_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_join_live_equals_batch_twin(spark):
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    sf = "/root/testdata/sf0.001"
    live = {
        (r.click_id, r.purchase_id)
        for r in q["stream_join_live"](spark, sf).collect()
    }
    batch = {
        (r.click_id, r.purchase_id)
        for r in q["stream_join"](spark, sf).collect()
    }
    assert live == batch and len(batch) > 0


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    """Exactly-once across restarts: drain file1 with a persistent
    checkpoint, land file2, drain again from the SAME checkpoint — the
    second run must process only the new file and the final counts must
    equal batch counts over both files."""
    import os
    import shutil

    from s3_manifest_spark.streaming.windows import (
        _tumbling_agg,
        events_stream_source,
    )

    sf = "/root/testdata/sf0.001"
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(spool)

    def land(name):
        try:
            os.link(f"{sf}/events.parquet", os.path.join(spool, name))
        except OSError:
            shutil.copy(f"{sf}/events.parquet", os.path.join(spool, name))

    def drain(qname):
        raw = events_stream_source(spark, spool)
        agg = _tumbling_agg(raw.withWatermark("ts", "2 hours"))
        q = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = q.lastProgress
        return spark.table(qname).toPandas(), progress

    land("events-0.parquet")
    first, p1 = drain("ckpt_restart_a")
    land("events-1.parquet")
    second, p2 = drain("ckpt_restart_b")

    n_events = spark.read.parquet(f"{sf}/events.parquet").count()
    # run 2 must have ingested only the NEW file's rows
    assert p2 is not None and p2["numInputRows"] == n_events, p2
    # cumulative state: every window's count doubled after file2
    a = first.set_index(["window_start", "event_type"]).n_events
    b = second.set_index(["window_start", "event_type"]).n_events
    assert (b == 2 * a.reindex(b.index).fillna(0)).all()


def test_foreachbatch_streaming_upsert_equals_batch_compaction(spark, tmp_path):
    """The standard streaming-upsert sink: foreachBatch merges each
    micro-batch into a keyed parquet table (latest event per user
    wins).  After the availableNow drain, the table equals the batch
    dedup_latest compaction."""
    import __spark_entry__ as entrymod

    from s3_manifest_spark.streaming.windows import read_events_stream

    sf = "/root/testdata/sf0.001"
    table = str(tmp_path / "user_latest")

    from pyspark.sql import Window

    def upsert(batch_df, batch_id):
        spark_ = batch_df.sparkSession
        try:
            existing = spark_.read.parquet(table)
        except Exception:
            existing = None
        merged = batch_df.select(
            "user_id", "event_id", "ts", "event_type", "value"
        )
        if existing is not None:
            merged = existing.unionByName(merged)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            merged.select("*", F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        # write to a scratch dir then swap — read+overwrite of the same
        # path in one job would clobber the input mid-scan
        import shutil

        scratch = table + ".__new__"
        latest.write.mode("overwrite").parquet(scratch)
        shutil.rmtree(table, ignore_errors=True)
        shutil.move(scratch, table)

    import tempfile

    stream = read_events_stream(spark, sf)
    with tempfile.TemporaryDirectory(prefix="smsp-ckpt-") as ckpt:
        q = (
            stream.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    got = spark.read.parquet(table).toPandas().sort_values("user_id")
    want = (
        entrymod.queries()["dedup_latest"](spark, sf)
        .toPandas()
        .sort_values("user_id")
    )
    assert list(got.user_id) == list(want.user_id)
    assert list(got.event_id) == list(want.event_id)


def test_stream_sliding_live_equals_batch_twin(spark):
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    sf = "/root/testdata/sf0.001"
    key = ["window_start", "event_type"]
    live = q["stream_sliding_live"](spark, sf).toPandas().sort_values(key)
    batch = q["stream_sliding"](spark, sf).toPandas().sort_values(key)
    assert list(live.n_events) == list(batch.n_events)
    assert len(live) > 0


def test_stream_cdc_apply_live_equals_batch_apply(spark):
    """The streaming manifest maintainer's drained snapshot must equal
    the batch CDC apply row-for-row: same keys, same sizes."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    sf = "/root/testdata/sf0.001"
    live = q["stream_cdc_apply_live"](spark, sf).toPandas().sort_values("key")
    batch = (
        q["manifest_apply_changes"](spark, sf).toPandas().sort_values("key")
    )
    assert len(live) > 0
    assert list(live.key) == list(batch.key)
    assert list(live["size"]) == list(batch["size"])


def test_stream_cdc_apply_multi_batch_drain(spark, tmp_path):
    """The drain must stay duplicate-free when the spool holds SEVERAL
    files processed as separate micro-batches (maxFilesPerTrigger=1):
    complete-mode output replaces the memory sink contents each batch,
    so the final table is one latest row per key."""
    from s3_manifest_spark.operators.manifest_queries import (
        cdc_merge,
        cdc_per_key,
    )
    from s3_manifest_spark.sources.tables import listing_projection, load_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem")
    half1 = li.filter("l_orderkey % 2 = 0")
    half2 = li.filter("l_orderkey % 2 = 1")
    spool = str(tmp_path / "spool")
    half1.coalesce(1).write.parquet(spool)
    half2.coalesce(1).write.mode("append").parquet(spool)

    schema = spark.read.parquet(spool).schema
    stream = listing_projection(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(spool)
    )
    import tempfile

    name = "cdc_multibatch_test"
    with tempfile.TemporaryDirectory(prefix="smsp-ckpt-") as ckpt:
        q = (
            cdc_per_key(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    assert q.lastProgress["batchId"] >= 1, "expected >= 2 micro-batches"
    live = cdc_merge(spark.table(name)).toPandas().sort_values("key")
    assert live.key.is_unique
    import __spark_entry__ as entrymod

    batch = (
        entrymod.queries()["manifest_apply_changes"](spark, sf)
        .toPandas()
        .sort_values("key")
    )
    assert list(live.key) == list(batch.key)
    assert list(live["size"]) == list(batch["size"])


def test_scratch_base_policy(monkeypatch):
    """$TMPDIR wins when set; otherwise a writable /dev/shm is
    preferred for ephemeral drain scratch."""
    import os
    import tempfile

    from s3_manifest_spark.streaming.scratch import scratch_base

    old_cache = tempfile.tempdir
    try:
        monkeypatch.setenv("TMPDIR", "/tmp")
        tempfile.tempdir = None  # drop gettempdir()'s cache
        assert scratch_base() == tempfile.gettempdir()

        monkeypatch.delenv("TMPDIR")
        tempfile.tempdir = None
        if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
            assert scratch_base() == "/dev/shm"
    finally:
        tempfile.tempdir = old_cache


def test_cdc_stream_under_rocksdb_state_store(spark):
    """Exercise the RocksDB state-store provider the SCALE.md notes
    recommend for billions of keys (cdc.py's docstring): the SAME CDC
    drain under RocksDBStateStoreProvider must produce the exact
    snapshot the default (HDFS-backed) provider produces.  This turns
    the 'conf documented but never exercised' note into verified
    fact — the provider class loads, checkpoints, and round-trips the
    2-long-per-key state."""
    from s3_manifest_spark.streaming.cdc import run_cdc_stream

    key = "spark.sql.streaming.stateStore.providerClass"
    default = run_cdc_stream(spark, SF).toPandas()
    old = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        rocks = run_cdc_stream(spark, SF).toPandas()
    finally:
        spark.conf.set(key, old)
    cols = sorted(default.columns)
    d = default[cols].sort_values(cols).reset_index(drop=True)
    r = rocks[cols].sort_values(cols).reset_index(drop=True)
    assert d.equals(r)


def test_streamed_minhash_index_equals_batch_index(spark):
    """The streaming maintainer's index (union of per-micro-batch
    appends) must be EXACTLY the batch-built index: same bucket rows,
    same fingerprint rows — per-doc closure makes batch boundaries
    invisible."""
    import pandas as pd

    from s3_manifest_spark.operators.dedup import _minhash_index
    from s3_manifest_spark.streaming import index_update as iu

    sf = "/root/testdata/sf0.001"
    spool = iu._spool_old_docs(spark, sf)
    docs = spark.read.parquet(spool)
    streamed_b, streamed_s = iu._index_rows(docs)
    batch_b, batch_s = _minhash_index(spark, sf)

    def norm(df, cols):
        pdf = df.toPandas()[cols]
        return pdf.sort_values(cols).reset_index(drop=True)

    bcols = ["doc_old", "n_old", "band", "bh"]
    scols = ["doc_old", "fp", "n_old"]
    pd.testing.assert_frame_equal(norm(streamed_b, bcols), norm(batch_b, bcols))
    pd.testing.assert_frame_equal(norm(streamed_s, scols), norm(batch_s, scols))
    # and the full streaming drain reproduces the batch probe rows
    got = (
        spark._smsp_plan_cache.clear()
        if hasattr(spark, "_smsp_plan_cache")
        else None
    )
    from s3_manifest_spark.registry import QUERIES

    live = QUERIES["stream_index_update_live"](spark, sf).toPandas()
    batch = QUERIES["dedup_incremental"](spark, sf).toPandas()
    cols = ["doc_new", "doc_old", "jaccard"]
    pd.testing.assert_frame_equal(
        live[cols].sort_values(cols).reset_index(drop=True),
        batch[cols].sort_values(cols).reset_index(drop=True),
    )


def test_stream_cms_merge_invariance_is_load_bearing(spark):
    """The streamed-merged sketch must equal the one-shot sketch
    exactly (merge invariance), and the equality comparison must be
    falsifiable: double-merging a batch (replay) breaks it."""
    from s3_manifest_spark.operators.curation import _cms_sketch
    from s3_manifest_spark.streaming.heavy_hitters import (
        drain_merged_sketch,
    )

    sf = "/root/testdata/sf0.001"
    jvm_cms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch
    streamed = jvm_cms.readFrom(drain_merged_sketch(spark, sf))
    oneshot = jvm_cms.readFrom(_cms_sketch(spark, sf))
    assert streamed.totalCount() == oneshot.totalCount()
    for probe in ("table", "scan", "the", "zebra"):
        assert streamed.estimateCount(probe) == oneshot.estimateCount(probe)
    # falsification: replaying (double-merging) one sketch must break
    # the invariance the flag asserts
    doubled = jvm_cms.readFrom(_cms_sketch(spark, sf))
    doubled.mergeInPlace(jvm_cms.readFrom(_cms_sketch(spark, sf)))
    assert doubled.totalCount() != oneshot.totalCount()


def test_drain_cdc_updates_multi_batch_compacts(spark, tmp_path):
    """drain_cdc_updates skips the latest-per-key compaction ONLY on
    single-batch drains; force a 2-file / 1-file-per-trigger drain and
    pin that the multi-batch path still emits one latest row per key,
    equal to the batch apply."""
    from s3_manifest_spark.operators.manifest_queries import cdc_merge, cdc_per_key
    from s3_manifest_spark.sources.tables import listing_projection, load_table
    from s3_manifest_spark.streaming.cdc import drain_cdc_updates

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem")
    spool = str(tmp_path / "spool")
    li.filter("l_orderkey % 2 = 0").coalesce(1).write.parquet(spool)
    li.filter("l_orderkey % 2 = 1").coalesce(1).write.mode("append").parquet(spool)

    schema = spark.read.parquet(spool).schema
    stream = listing_projection(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(spool)
    )
    live = cdc_merge(drain_cdc_updates(spark, cdc_per_key(stream)))
    live = live.toPandas().sort_values("key").reset_index(drop=True)
    assert live.key.is_unique
    import __spark_entry__ as entrymod

    batch = (
        entrymod.queries()["manifest_apply_changes"](spark, sf)
        .toPandas()
        .sort_values("key")
        .reset_index(drop=True)
    )
    assert list(live.key) == list(batch.key)
    assert list(live["size"]) == list(batch["size"])


def test_drain_index_feed_multi_batch_equals_batch_index(spark):
    """The index maintainer under FORCED multi-batch arrival (one file
    per trigger) must produce exactly the batch-built index — the
    registered drain now takes one availableNow batch, so this pins
    the per-doc-closure argument on the real multi-trigger path."""
    import pandas as pd

    from s3_manifest_spark.operators.dedup import _minhash_index
    from s3_manifest_spark.streaming import index_update as iu
    from s3_manifest_spark.streaming.scratch import read_store

    sf = "/root/testdata/sf0.001"
    spool = iu._spool_old_docs(spark, sf)
    bdir, sdir = iu.drain_index_feed(spark, spool, max_files_per_trigger=1)
    batch_b, batch_s = _minhash_index(spark, sf)

    def norm(df, cols):
        pdf = df.toPandas()[cols]
        return pdf.sort_values(cols).reset_index(drop=True)

    bcols = ["doc_old", "n_old", "band", "bh"]
    scols = ["doc_old", "fp", "n_old"]
    pd.testing.assert_frame_equal(
        norm(read_store(spark, bdir), bcols), norm(batch_b, bcols)
    )
    pd.testing.assert_frame_equal(
        norm(read_store(spark, sdir), scols), norm(batch_s, scols)
    )


def test_drain_index_feed_sink_is_idempotent_under_redelivery(spark):
    """The index sink must produce EXACTLY the same store when a
    micro-batch is re-delivered (at-least-once foreachBatch semantics):
    re-running the sink body for an already-written batch id overwrites
    its subdirectory instead of double-appending — a bare append would
    silently inflate every intersection count in the probe."""
    import pandas as pd

    from s3_manifest_spark.streaming import index_update as iu
    from s3_manifest_spark.streaming.scratch import read_store

    sf = "/root/testdata/sf0.001"
    spool = iu._spool_old_docs(spark, sf)
    bdir, sdir = iu.drain_index_feed(spark, spool)
    docs = spark.read.parquet(spool)

    def norm(df, cols):
        pdf = df.toPandas()[cols]
        return pdf.sort_values(cols).reset_index(drop=True)

    scols = ["doc_old", "fp", "n_old"]
    before = norm(read_store(spark, sdir), scols)
    # simulate foreachBatch re-delivering batch 0 (the whole spool
    # drained in one availableNow trigger)
    import os

    buckets, shingles = iu._index_rows(docs)
    shingles.coalesce(4).write.mode("overwrite").parquet(
        os.path.join(sdir, "batch0")
    )
    after = norm(read_store(spark, sdir), scols)
    pd.testing.assert_frame_equal(before, after)


def test_spool_build_self_heals_and_is_concurrency_safe(spark):
    """r13 spool-builder contract (staging + atomic rename): (a) a
    markerless final dir — debris from a crashed pre-staging build —
    is cleared and rebuilt instead of failing the rename forever;
    (b) concurrent builders race safely: every caller gets the same
    ready spool, and no staging debris is left behind."""
    import glob
    import os
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    from s3_manifest_spark.streaming.index_update import _spool_old_docs

    sf = "/root/testdata/sf0.001"
    spool = _spool_old_docs(spark, sf)
    marker = os.path.join(spool, "_SPOOL_READY")
    assert os.path.exists(marker)
    n_files = len(glob.glob(os.path.join(spool, "*.parquet")))
    assert n_files >= 2, "spool must be multi-chunk (addBatch width)"

    # (a) stale markerless dir self-heals
    os.unlink(marker)
    spool2 = _spool_old_docs(spark, sf)
    assert spool2 == spool
    assert os.path.exists(marker), "builder must rebuild a ready spool"
    assert len(glob.glob(os.path.join(spool, "*.parquet"))) == n_files

    # (b) concurrent builders: wipe, then race 3 callers
    shutil.rmtree(spool, ignore_errors=True)
    with ThreadPoolExecutor(max_workers=3) as ex:
        paths = list(ex.map(lambda _: _spool_old_docs(spark, sf), range(3)))
    assert set(paths) == {spool}
    assert os.path.exists(marker)
    assert len(glob.glob(os.path.join(spool, "*.parquet"))) == n_files
    # losers cleaned their staging dirs
    assert not glob.glob(f"{spool}.__build_*__"), "staging debris left"
    # and the spool is actually readable
    assert spark.read.parquet(spool).count() > 0


def test_streamed_boilerplate_equals_batch_report(spark):
    """The streaming chunk-index maintainer must converge to EXACTLY
    the batch boilerplate report — in one availableNow micro-batch
    (the registered drain) AND with batch boundaries forced between
    every file (maxFilesPerTrigger=1): per-doc closure makes the
    chunk index indifferent to batching."""
    import pandas as pd

    from s3_manifest_spark.operators.corpus import boilerplate_report
    from s3_manifest_spark.registry import QUERIES
    from s3_manifest_spark.sources.tables import load_table
    from s3_manifest_spark.streaming import boilerplate as bp

    sf = "/root/testdata/sf0.001"
    getattr(spark, "_smsp_plan_cache", {}).clear()
    batch = QUERIES["chunk_dedup_boilerplate"](spark, sf).toPandas()
    live = QUERIES["stream_boilerplate_live"](spark, sf).toPandas()
    cols = ["doc_id", "n_chunks", "n_dup_chunks", "boilerplate_ratio"]

    def norm(pdf):
        return pdf[cols].sort_values("doc_id").reset_index(drop=True)

    pd.testing.assert_frame_equal(norm(live), norm(batch))
    # short docs must appear as (0, 0, 0.0) rows, not be dropped
    assert len(live) == len(batch)

    # forced multi-batch arrival: one file per trigger
    spool = bp.documents_spool(spark, sf)
    store = bp.drain_chunk_feed(spark, spool, max_files_per_trigger=1)
    chunks = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(store)
        .select("doc_id", "h")
    )
    docs = load_table(spark, sf, "documents").select("doc_id")
    multi = boilerplate_report(docs, chunks).toPandas()
    pd.testing.assert_frame_equal(norm(multi), norm(batch))


def test_concurrent_first_calls_of_one_memory_drain(spark):
    """Two threads making the first call of one memory-sink live query
    on one session both get the drained table.  The query name is the
    memory table's name, and two active queries cannot share a name."""
    import threading

    import __spark_entry__ as entrymod
    from s3_manifest_spark.registry import session_dict

    q = entrymod.queries()
    want = q["stream_sliding"](spark, SF).count()
    q["stream_sliding_live"](spark, SF).count()  # warm: the race is then tight
    for _ in range(3):
        session_dict(spark, "_smsp_plan_cache").clear()  # both calls drain
        barrier = threading.Barrier(2, timeout=60)
        counts, errors = [None, None], []

        def call(i):
            barrier.wait()
            try:
                counts[i] = q["stream_sliding_live"](spark, SF).count()
            except Exception as e:  # noqa: BLE001 - reported below
                errors.append(e)

        threads = [threading.Thread(target=call, args=(i,)) for i in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads), "a drain hung"
        assert not errors, errors
        assert counts == [want, want] and want > 0


def test_live_drains_leave_only_ready_spools(spark, tmp_path, monkeypatch):
    """Every live drain ends with nothing left in scratch but ready
    spools: no checkpoint, no index or snapshot store and no spool
    staging survive the thread's next registry call."""
    import os

    from s3_manifest_spark.registry import QUERIES, session_dict

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    session_dict(spark, "_smsp_plan_cache").clear()  # every call drains
    live = sorted(
        n for n in QUERIES if n.startswith("stream_") and n.endswith("_live")
    )
    assert len(live) >= 7
    for name in live:
        assert QUERIES[name](spark, SF).count() > 0, name
    QUERIES["stream_tumbling"](spark, SF)  # sweeps this thread's scope
    left = sorted(os.listdir(tmp_path))
    assert left, "the drains staged no spool under $TMPDIR"
    assert not [d for d in left if "__" in d or "ckpt" in d], left
    assert all(
        os.path.exists(os.path.join(tmp_path, d, "_SPOOL_READY")) for d in left
    ), left


def test_concurrent_drains_restore_session_confs(spark):
    """Two threads draining different queries on one session leave the
    session's drain confs as they found them.  Confs are session-wide,
    so drain scopes on one session must not overlap: without that, T2
    saves T1's drain values on entry and "restores" them after T1 has
    restored the real ones."""
    import threading

    from s3_manifest_spark.streaming.scratch import _drain_confs

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    t1_in, t2_in, t1_out = threading.Event(), threading.Event(), threading.Event()
    errors = []

    def t1():
        try:
            with _drain_confs(spark, partitions="3"):
                t1_in.set()
                t2_in.wait(timeout=1)  # T2 gets in here only without a lock
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)
        finally:
            t1_out.set()

    def t2():
        t1_in.wait(timeout=60)
        try:
            with _drain_confs(spark, partitions=None):
                t2_in.set()
                t1_out.wait(timeout=60)
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=t1), threading.Thread(target=t2)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads), "a drain scope hung"
        assert not errors, errors
        assert {k: spark.conf.get(k, None) for k in keys} == before
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_streamed_index_follows_dedup_constants(spark, monkeypatch):
    """The streamed index reads the dedup module's constants at call
    time, like the batch index: a patched band count bands both the
    same way, and a patched stop-shingle cap makes the maintainer
    refuse the corpus."""
    import pandas as pd
    import pytest

    import s3_manifest_spark.operators.dedup as dedup
    from s3_manifest_spark.registry import release
    from s3_manifest_spark.streaming import index_update as iu

    docs = spark.read.parquet(iu._spool_old_docs(spark, SF))
    monkeypatch.setattr(dedup, "LSH_BANDS", 1)
    cols = ["doc_old", "n_old", "band", "bh"]
    streamed = iu._index_rows(docs)[0].toPandas()[cols]
    # uncached build: a degraded index never enters the model cache
    index = dedup._build_minhash_index(spark, SF)
    try:
        batch = index[0].toPandas()[cols]
    finally:
        release(index)
    assert set(batch["band"]) == {0}

    def norm(pdf):
        return pdf.sort_values(cols).reset_index(drop=True)

    pd.testing.assert_frame_equal(norm(streamed), norm(batch))

    monkeypatch.setattr(dedup, "MINHASH_MAX_DF", 1)
    with pytest.raises(ValueError, match="MINHASH_MAX_DF"):
        iu.stream_index_update_live(spark, SF)


def test_capped_minhash_pairs_are_exact_pairs_with_lower_jaccard(spark, monkeypatch):
    """The stop-shingle cap branch of the MinHash paths (inert on every
    fixture at the real MINHASH_MAX_DF): every emitted pair is an exact
    ≥-threshold pair, and its Jaccard is at most the exact value — the
    cap lowers ``inter`` while ``n`` keeps the full distinct count."""
    import s3_manifest_spark.operators.dedup as dedup
    from s3_manifest_spark.registry import clear_model_cache

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.dedup_ngram_jaccard(spark, SF).collect()
    }
    clear_model_cache(spark)
    monkeypatch.setattr(dedup, "MINHASH_MAX_DF", 3)
    try:
        capped = dedup.dedup_minhash_lsh(spark, SF).collect()
        incremental = dedup.dedup_incremental(spark, SF).collect()
    finally:
        clear_model_cache(spark)  # drop the capped index
    assert capped and incremental
    assert len(capped) < len(exact), "the cap dropped no pair"
    for r in capped:
        assert r.jaccard <= exact[(r.doc_a, r.doc_b)], r
    for r in incremental:
        pair = (min(r.doc_new, r.doc_old), max(r.doc_new, r.doc_old))
        assert r.jaccard <= exact[pair], r
