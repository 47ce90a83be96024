"""The workloads.  Each drives the program from one process as a
closed-loop client: the next operation starts only when the previous
one has finished.

Every workload times two kinds of operation, which become the
end-to-end metrics ``cold_s`` and ``warm_s``:

==============  ==================================  ===============================
workload        cold operation                      warm operation
==============  ==================================  ===============================
manifest_build  full build: list, derive, write     refresh: list above the last
                                                    key, derive, write
query_mix       first pass over the queries, with   later pass, served from the
                the session model cache empty       warm model cache and plan memo
==============  ==================================  ===============================
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks, host, inputs, stub
from perfbench.trace import Tracer

#: Fixed simulated round trip of one ListObjectsV2 request.
RTT_S = 0.020
#: Base objects in the manifest_build bucket; the tail adds 2 %.
BUCKET_KEYS = 30_000
#: Input sizes of the query workloads (documents and embeddings as in
#: the sf0.1 fixtures; the listing is derived from ``lineitem``).
DOCUMENTS, EMBEDDINGS, LINEITEM = 2_000, 2_000, 20_000
#: Operations of each kind run until the measuring time is spent, and
#: at least this many times: timed build-and-refresh pairs and warm
#: passes.  A run is bounded by these counts, not by the measuring
#: time, so that every run fits the benchmark's overall time budget.
MIN_BUILDS, MIN_WARM_PASSES = 1, 2
#: Warm passes that only let the JVM settle (the first warm pass is up
#: to 2x slower than the next); ``warm_s`` is taken over the passes
#: after them.
SETTLE_PASSES = 1
#: Builds before the timed ones.  The first build also starts the
#: Python workers and warms the JVM up; it is checked, and its refresh
#: is timed, but ``cold_s`` leaves it out.
WARMUP_BUILDS = 1

#: query_mix runs the curation operators and the manifest-maintenance
#: operators in one seeded order.
CURATION_QUERIES = (
    "dedup_embedding_lsh",
    "similarity_ann_lsh",
    "semdedup",
    "bm25_topk",
    "text_quality",
)
MAINTAIN_QUERIES = (
    "manifest_diff",
    "zorder_layout",
    "stream_cdc_apply_live",
)
#: Run in the cold pass and the settling warm passes only, checked and
#: reported per layer, but left out of ``cold_s`` and ``warm_s``: the
#: streaming drain's time varies 2x from run to run on a shared host
#: even with CPU steal removed (checkpoint and state-store I/O), more
#: than any bound allows.
UNGATED_QUERIES = ("stream_cdc_apply_live",)

WORKLOADS = ("manifest_build", "query_mix")
#: End-to-end metrics (name -> unit), printed by every untraced run.
END_TO_END = {"setup_s": "s", "retained_heap_mb": "MB", "cold_s": "s", "warm_s": "s"}
#: Per-layer metrics (name -> unit), printed by every traced run.  A
#: layer that a workload bypasses reads 0 there.
PER_LAYER = {
    "s3_listing.discover_s": "s",
    "s3_listing.shards": "count",
    "s3_listing.requests": "count",
    "s3_listing.keys_per_request": "keys/request",
    "s3_listing.list_s": "s",
    "s3_listing.tasks": "count",
    "s3_listing.request_overlap": "ratio",
    "s3_listing.refresh_requests": "count",
    "manifest.write_s": "s",
    "manifest.files_written": "count",
    "manifest.bytes_written": "bytes",
    "manifest.bytes_per_obj": "bytes/object",
    "registry.plan_s": "s",
    "registry.exec_s": "s",
    "registry.jobs": "count",
    "registry.tasks": "count",
    "registry.model_cache_entries": "count",
    **{f"{q}.{kind}": "s" for q in CURATION_QUERIES + MAINTAIN_QUERIES
       for kind in ("cold_s", "warm_s")},
    "trace.cold_s": "s",
    "trace.warm_s": "s",
    "host.stolen_share": "ratio",
    "host.cpu_speed_s": "s",
}


@dataclass
class Run:
    """State of one benchmark run, shared by set-up and measurement."""

    spark: object
    tracer: Tracer
    work_dir: str
    seed: int
    seconds: float
    attempted: int = 0
    failed: int = 0
    cold: list[float] = field(default_factory=list)
    warm: list[float] = field(default_factory=list)
    #: Query workloads: each query's cold time, and its warm times, one
    #: per warm pass.
    cold_by_query: dict[str, float] = field(default_factory=dict)
    warm_by_query: dict[str, list[float]] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    #: CPU steal over the timed cold and warm operations (see host.py).
    cold_clock: host.StealClock = field(default_factory=host.StealClock)
    warm_clock: host.StealClock = field(default_factory=host.StealClock)
    #: ``host.cpu_speed_s`` right before the timed operations and after.
    cpu_speed: list[float] = field(default_factory=list)

    def cold_s(self) -> float:
        """Median cold operation, steal removed."""
        return statistics.median(self.cold) * self.cold_clock.granted()

    def warm_s(self) -> float:
        """Median warm operation, steal removed.  For a query workload,
        the sum over queries of each query's median warm time: a typical
        warm pass, with each query's outliers dropped on their own."""
        if self.warm_by_query:
            raw = sum(statistics.median(t) for n, t in self.warm_by_query.items()
                      if n not in UNGATED_QUERIES)
        else:
            raw = statistics.median(self.warm)
        return raw * self.warm_clock.granted()

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)


# -- manifest_build -----------------------------------------------------


class BuildInputs:
    """The stub bucket and the expected manifests, made at set-up."""

    def __init__(self, run: Run):
        objects, n_base = stub.make_bucket(run.seed, BUCKET_KEYS)
        self.path = run.path("bucket.pkl")
        stub.write_bucket(self.path, objects)
        keys = sorted(objects)
        self.n_base, self.n_total = n_base, len(keys)
        self.marker = keys[n_base - 1]
        rows = [(k, *objects[k]) for k in keys]
        self.base_hash = checks.expected_manifest_hash(stub.BUCKET, rows[:n_base])
        self.tail_hash = checks.expected_manifest_hash(stub.BUCKET, rows[n_base:])


def _dir_bytes(path: str) -> tuple[int, int]:
    parts = [e for e in os.scandir(path) if e.name.startswith("part-")]
    return len(parts), sum(e.stat().st_size for e in parts)


def manifest_build(run: Run, data: BuildInputs) -> None:
    from s3_manifest_spark.manifest.core import derive_manifest, write_manifest
    from s3_manifest_spark.sources.s3_listing import (
        discover_shards,
        list_objects_df,
        manifest_from_s3,
    )

    sc = run.spark.sparkContext
    counters = (sc.accumulator(0), sc.accumulator(0.0), sc.accumulator(0))
    base = functools.partial(stub.StubS3Client, data.path, data.n_base, RTT_S, counters)
    full = functools.partial(stub.StubS3Client, data.path, data.n_total, RTT_S, counters)
    uri = f"s3://{stub.BUCKET}/"
    build_dir, refresh_dir = run.path("manifest"), run.path("refresh")
    tr = run.tracer

    def requests() -> tuple[int, int]:
        return counters[0].value, counters[2].value

    def refresh() -> None:
        manifest_from_s3(
            run.spark, uri, output=refresh_dir, client_factory=full,
            start_after=data.marker,
        )

    def build() -> None:
        manifest_from_s3(run.spark, uri, output=build_dir, client_factory=base)

    build_reqs, refresh_reqs, builds = [], [], []
    start = time.perf_counter()
    while (time.perf_counter() - start < run.seconds
           or len(builds) < WARMUP_BUILDS + MIN_BUILDS):
        if len(builds) == WARMUP_BUILDS:
            run.cpu_speed.append(host.cpu_speed_s())
        # The warm-up build is timed on a clock of its own, left unused.
        clock = run.cold_clock if len(builds) >= WARMUP_BUILDS else host.StealClock()
        r0, k0 = requests()
        with tr.span("s3_listing.manifest_from_s3", op="build"), clock.timing():
            t0 = time.perf_counter()
            build()
            builds.append(time.perf_counter() - t0)
        r1, k1 = requests()
        build_reqs.append((r1 - r0, k1 - k0))
        run.record(checks.check_manifest_dir(build_dir, data.base_hash))

        with tr.span("s3_listing.manifest_from_s3", op="refresh"), run.warm_clock.timing():
            t0 = time.perf_counter()
            refresh()
            run.warm.append(time.perf_counter() - t0)
        refresh_reqs.append(requests()[0] - r1)
        run.record(checks.check_manifest_dir(refresh_dir, data.tail_hash))
    run.cold = builds[WARMUP_BUILDS:]

    if not tr.enabled:
        return
    # Layer probes, outside the timed operations: discovery alone, a
    # listing-only action, and derive + write over a persisted listing.
    with tr.span("s3_listing.discover_shards") as s:
        shards, _ = discover_shards(base(), stub.BUCKET)
    discover_s = s["end"] - s["start"]
    wait0 = counters[1].value
    with tr.span("s3_listing.list_objects_df", op="count") as s:
        n_listed = list_objects_df(run.spark, stub.BUCKET, client_factory=base).count()
    list_s = s["end"] - s["start"]
    run.record(n_listed == data.n_base)
    listing = list_objects_df(run.spark, stub.BUCKET, client_factory=base).persist()
    listing.count()
    with tr.span("manifest.write_manifest", op="persisted_listing") as w:
        write_manifest(derive_manifest(listing, stub.BUCKET), run.path("probe"))
    listing.unpersist()
    files, size = _dir_bytes(build_dir)
    reqs, keys = build_reqs[-1]
    run.layer.update({
        "s3_listing.discover_s": discover_s,
        "s3_listing.shards": len(shards),
        "s3_listing.requests": reqs,
        "s3_listing.keys_per_request": keys / reqs,
        "s3_listing.list_s": list_s,
        "s3_listing.tasks": s["tasks"],
        "s3_listing.request_overlap": (counters[1].value - wait0) / list_s,
        "s3_listing.refresh_requests": refresh_reqs[-1],
        "manifest.write_s": w["end"] - w["start"],
        "manifest.files_written": files,
        "manifest.bytes_written": size,
        "manifest.bytes_per_obj": size / data.n_base,
    })


# -- query workloads ----------------------------------------------------


def write_query_inputs(run: Run) -> str:
    out = run.path("tables")
    os.makedirs(out, exist_ok=True)
    inputs.write_documents(out, run.seed, DOCUMENTS)
    inputs.write_embeddings(out, run.seed + 1, EMBEDDINGS)
    inputs.write_lineitem(out, run.seed + 2, LINEITEM)
    return out


def oracle_keys(sf_dir: str, names, threads: int) -> dict[str, tuple[int, str]]:
    """Row count and value hash of each query's DuckDB oracle."""
    import duckdb

    from s3_manifest_spark import registry

    con = duckdb.connect()
    try:
        con.execute(f"PRAGMA threads={threads}")
        for f in sorted(os.listdir(sf_dir)):
            table = f.removesuffix(".parquet")
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, f)}')"
            )
        return {n: checks.result_key(con.execute(registry.ORACLES[n]).df()) for n in names}
    finally:
        con.close()


def query_mix(run: Run, sf_dir: str) -> None:
    """Cold pass, then warm passes, over the queries in a seeded order."""
    from s3_manifest_spark import registry

    registry.load_all()
    names = CURATION_QUERIES + MAINTAIN_QUERIES
    order = [names[i] for i in np.random.default_rng(run.seed).permutation(len(names))]
    registry.clear_model_cache(run.spark)
    tr = run.tracer
    results: list[tuple[str, tuple[int, str] | None]] = []
    per_query: dict[str, list[float]] = {n: [] for n in names}
    pass_spans: list[dict] = []

    def one_pass(kind: str, clock: host.StealClock, queries: list[str]) -> float:
        t_pass = 0.0
        with tr.span("registry.pass", kind=kind) as ps, clock.timing():
            for name in queries:
                with tr.span("registry.query", query=name):
                    t0 = time.perf_counter()
                    try:
                        with tr.span("registry.plan", query=name):
                            df = registry.QUERIES[name](run.spark, sf_dir)
                        with tr.span("registry.exec", query=name):
                            pdf = df.toPandas()
                    except Exception as exc:  # a failed query counts, the run goes on
                        print(f"[perfbench] {name} failed: {exc!r}", file=sys.stderr)
                        pdf = None
                    dt_q = time.perf_counter() - t0
                per_query[name].append(dt_q)
                if name not in UNGATED_QUERIES:
                    t_pass += dt_q
                results.append((name, None if pdf is None else checks.result_key(pdf)))
        pass_spans.append(ps)
        return t_pass

    start = time.perf_counter()
    gated = [n for n in order if n not in UNGATED_QUERIES]
    run.cpu_speed.append(host.cpu_speed_s())
    run.cold.append(one_pass("cold", run.cold_clock, order))
    cache_entries = len(registry.session_model_cache(run.spark))
    for _ in range(SETTLE_PASSES):
        run.warm.append(one_pass("settle", host.StealClock(), order))
    while (time.perf_counter() - start < run.seconds
           or len(run.warm) < SETTLE_PASSES + MIN_WARM_PASSES):
        run.warm.append(one_pass("warm", run.warm_clock, gated))
    run.cold_by_query = {n: t[0] for n, t in per_query.items()}
    run.warm_by_query = {
        n: t[1:] if n in UNGATED_QUERIES else t[1 + SETTLE_PASSES:]
        for n, t in per_query.items()
    }

    expected = oracle_keys(sf_dir, names, os.cpu_count() or 1)
    for name, got in results:
        ok = got == expected[name]
        if not ok:
            print(f"[perfbench] {name}: got {got}, oracle {expected[name]}", file=sys.stderr)
        run.record(ok)

    if not tr.enabled:
        return
    warm_passes = [ps["id"] for ps in pass_spans if ps["kind"] == "warm"]
    below = {p: _descendants(tr.spans, p) for p in warm_passes}

    def per_pass(value) -> float:
        return statistics.median(sum(value(s) for s in below[p]) for p in warm_passes)

    def seconds(name):
        return lambda s: s["end"] - s["start"] if s["name"] == name else 0.0

    run.layer.update({
        "registry.plan_s": per_pass(seconds("registry.plan")),
        "registry.exec_s": per_pass(seconds("registry.exec")),
        "registry.jobs": per_pass(lambda s: s["jobs"]),
        "registry.tasks": per_pass(lambda s: s["tasks"]),
        "registry.model_cache_entries": cache_entries,
    })
    for name, times in per_query.items():
        run.layer[f"{name}.cold_s"] = times[0]
        run.layer[f"{name}.warm_s"] = statistics.median(run.warm_by_query[name])


def _descendants(spans: list[dict], root: str) -> list[dict]:
    """Every span below ``root`` (spans are recorded parent first)."""
    inside, out = {root}, []
    for s in spans:
        if s["parent"] in inside:
            inside.add(s["id"])
            out.append(s)
    return out
