"""Benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Generates the workload's inputs from
the seed, starts one Spark session on ``local[<cores>]``, measures for
``--seconds`` (and at least a few operations), checks every output
outside the timed sections, and prints one JSON object as the last line
of standard output.  It exits non-zero, printing no result, when an
operation raises an error it cannot attribute to one operation or the
program cannot be imported.  With ``--trace 1`` it records spans
around the calls into each layer, writes them to
``.perfbench_run/spans/`` and prints the per-layer metrics instead of
the end-to-end ones.  Before it exits, on every path, it stops each
process started below it (the JVM and Spark's Python workers) and
waits for it to end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.getcwd()
#: Input generation is repeated this many times in set-up; ``setup_s``
#: takes the median.
SETUP_REPEATS = 3


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _start_spark(work_dir: str, cores: int):
    """The program's own session factory, with every scratch location
    inside ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the program and the stub from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    from s3_manifest_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_confs={
            "spark.driver.memory": "2g",
            "spark.sql.shuffle.partitions": str(cores),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    # The JVM exits when its standard input closes.
    proc.stdin.close()
    proc.wait(timeout=60)


def _retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection: the cached
    model frames, broadcasts and plans the session keeps.  (In local
    mode the executors' block storage lives in this heap too.)"""
    jvm = spark._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def _log(msg: str, t0: list[float] = [time.perf_counter()]) -> None:
    print(f"[perfbench {time.perf_counter() - t0[0]:7.2f}s] {msg}", file=sys.stderr, flush=True)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    # Fail fast, before any set-up, when the program is not there.
    import s3_manifest_spark.session  # noqa: F401

    from perfbench import host
    from perfbench import workloads as wl
    from perfbench.trace import Tracer

    if args.workload not in wl.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {wl.WORKLOADS}")

    cores = len(os.sched_getaffinity(0))
    base_dir = os.path.join(ROOT, ".perfbench_run")
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work_dir = os.path.join(base_dir, run_id)
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    spark = run = None
    try:
        run = wl.Run(None, None, work_dir, args.seed, args.seconds)
        make = {
            "manifest_build": lambda: wl.BuildInputs(run),
            "query_mix": lambda: wl.write_query_inputs(run),
        }[args.workload]
        gen_times = []
        setup_clock = host.StealClock()
        for _ in range(SETUP_REPEATS):
            with setup_clock.timing():
                t0 = time.perf_counter()
                data = make()
                gen_times.append(time.perf_counter() - t0)

        _log(f"inputs generated in {gen_times}")
        with setup_clock.timing():
            t0 = time.perf_counter()
            spark = _start_spark(work_dir, cores)
            session_s = time.perf_counter() - t0
        _log("session started")

        run.spark = spark
        run.tracer = Tracer(spark.sparkContext, run_id, enabled=bool(args.trace))
        measure = {"manifest_build": wl.manifest_build, "query_mix": wl.query_mix}
        measure[args.workload](run, data)
        setup_s = (statistics.median(gen_times) + session_s) * setup_clock.granted()
        retained = _retained_heap_mb(spark)
        _log(f"measured: cold {run.cold} warm {run.warm}")
        for name, times in run.cold_by_query.items():
            _log(f"{name}: cold {times:.3f} warm {[round(t, 3) for t in run.warm_by_query[name]]}")
    finally:
        if spark is not None:
            _stop_spark(spark)
        if run is not None and run.tracer is not None and run.tracer.enabled:
            spans_dir = os.path.join(base_dir, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            run.tracer.write(os.path.join(spans_dir, f"{run_id}.jsonl"))
        shutil.rmtree(work_dir, ignore_errors=True)
        _log("stopped")

    # Timings with CPU steal removed and scaled to a reference CPU speed
    # (see perfbench/host.py).
    run.cpu_speed.append(host.cpu_speed_s())
    granted = [c.granted() for c in (setup_clock, run.cold_clock, run.warm_clock)]
    _log(f"granted CPU share: setup, cold, warm {granted}; cpu speed {run.cpu_speed}")
    speed = statistics.mean(run.cpu_speed)
    scale = host.REFERENCE_SPEED_S / speed
    setup_s, cold_s, warm_s = (scale * t for t in (setup_s, run.cold_s(), run.warm_s()))
    if args.trace:
        busy = run.cold_clock.busy + run.warm_clock.busy
        stolen = run.cold_clock.stolen + run.warm_clock.stolen
        values = {name: run.layer.get(name, 0) for name in wl.PER_LAYER}
        values.update({
            "trace.cold_s": cold_s,
            "trace.warm_s": warm_s,
            "host.stolen_share": stolen / max(busy + stolen, 1),
            "host.cpu_speed_s": speed,
        })
        metrics = {n: {"value": v, "unit": wl.PER_LAYER[n]} for n, v in values.items()}
    else:
        values = {"setup_s": setup_s, "retained_heap_mb": retained, "cold_s": cold_s, "warm_s": warm_s}
        metrics = {n: {"value": v, "unit": wl.END_TO_END[n]} for n, v in values.items()}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def _adopt_orphans() -> None:
    """Make this process the reaper of every process started below it,
    so that one whose parent exits first (a Python worker of Spark's
    JVM) is still waited for here."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _children() -> list[int]:
    pids = []
    for task in os.listdir("/proc/self/task"):
        try:
            with open(f"/proc/self/task/{task}/children") as f:
                pids += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return pids


def _stop_descendants(grace_s: float = 10.0) -> None:
    """Stop every process still running below this one and wait until
    each has ended: SIGTERM first, SIGKILL once ``grace_s`` is over."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in _children():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _terminate(signum, frame) -> None:
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    # Every way out -- a result, an error or SIGTERM -- stops the
    # processes the run started and waits for them.
    signal.signal(signal.SIGTERM, _terminate)
    _adopt_orphans()
    try:
        code = main(sys.argv[1:])
    finally:
        _stop_descendants()
    sys.exit(code)
