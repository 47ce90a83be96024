"""Live listing progress heartbeat (reference operator U1 —
/root/reference/src/main.rs:176-183: an indicatif spinner redrawing
elapsed time, object count, and obj/sec while the listing runs).

Spark-native translation: the listing tasks add each Arrow batch's row
count to a Spark accumulator (task-side increments surface on the driver as
tasks complete — the same freshness indicatif gets from its atomic
counter; a listing that discovery completes on the driver adds its count
there, at once), and a driver daemon thread redraws one console line in
place every ``interval`` seconds.

Accuracy caveat: the accumulator is incremented inside a
transformation (``mapInArrow``), so task retries and speculative
execution DOUBLE-COUNT their pages — fine for a spinner, wrong for a
report.  The final line rendered on ``__exit__`` is therefore the
task-reported count, not an authoritative total; callers that need
exact totals (the CLI's "Done. Processed N objects" line, from the
``Observation`` block in ``cli.main``) read them from a
``pyspark.sql.Observation`` attached to the same job, which Spark
computes exactly once per row regardless of retries.

Usage::

    with ListingProgress(spark) as prog:
        manifest_from_s3(spark, uri, output=..., progress=prog)
"""

from __future__ import annotations

import sys
import threading
import time

from pyspark.sql import SparkSession

_FRAMES = "|/-\\"  # plain-ASCII spinner: safe on any console encoding


class ListingProgress:
    """Console heartbeat over a task-fed object-count accumulator.

    ``accumulator`` is the only piece shipped to executors (Spark
    accumulators pickle by reference); the stream/thread state stays
    driver-side.  Rendering goes to ``stream`` (default stderr, like
    indicatif) so stdout stays clean for data/JSON output.
    """

    def __init__(
        self,
        spark: SparkSession,
        stream=None,
        interval: float = 0.5,
    ) -> None:
        self.accumulator = spark.sparkContext.accumulator(0)
        self._stream = stream if stream is not None else sys.stderr
        self._interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._t0 = time.monotonic()

    @property
    def count(self) -> int:
        return self.accumulator.value

    def elapsed(self) -> float:
        return time.monotonic() - self._t0

    def _render(self, frame: str) -> None:
        elapsed = self.elapsed()
        n = self.count
        rate = n / elapsed if elapsed > 0 else 0.0
        self._stream.write(
            f"\r{frame} [{elapsed:7.1f}s] {n} objects ({rate:,.0f} objects/sec)"
        )
        self._stream.flush()

    def _run(self) -> None:
        i = 0
        while not self._stop.wait(self._interval):
            self._render(_FRAMES[i % len(_FRAMES)])
            i += 1

    def __enter__(self) -> "ListingProgress":
        self._t0 = time.monotonic()
        self._stop.clear()
        self._thread = threading.Thread(
            target=self._run, name="listing-progress", daemon=True
        )
        self._thread.start()
        return self

    def __exit__(self, *exc) -> bool:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        # Final redraw after the last task reported.  Task-reported
        # count (can over-count on retries) — authoritative totals come
        # from the job's Observation (see module docstring).
        self._render("*")
        self._stream.write("\n")
        self._stream.flush()
        return False
