"""Streaming observability: StreamingQueryListener-based progress
capture and a safe stop-all helper.

The reference had no monitoring story (its DStream loop printed to
console); Structured Streaming exposes per-batch progress events
(rows/sec, trigger latency, state-store sizes) through
``StreamingQueryListener`` — the hook a production deployment wires to
its metrics system. ``capture_progress`` packages that as a context
manager returning plain dicts; ``stop_all_streams`` is the teardown
discipline that keeps state-store abort stack traces out of shutdown.
"""

from __future__ import annotations

import contextlib
import json

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class _ProgressCapture(StreamingQueryListener):
    """Collects every QueryProgressEvent as a plain dict (the JSON the
    driver would ship to a metrics backend)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.started: list[str] = []
        self.terminated: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        # event.progress.json is the stable wire format; prettyJson is
        # for humans. Parse to a dict so callers aggregate natively.
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated.append(str(event.id))


@contextlib.contextmanager
def capture_progress(spark: SparkSession):
    """Context manager: every streaming query progress event emitted
    inside the block is captured on the yielded object
    (``.progress`` — list of per-batch dicts with ``numInputRows``,
    ``durationMs``, ``stateOperators`` etc.). The listener is always
    removed on exit, so sessions don't accumulate listeners across
    uses."""
    cap = _ProgressCapture()
    spark.streams.addListener(cap)
    try:
        yield cap
    finally:
        spark.streams.removeListener(cap)


def stop_all_streams(spark: SparkSession, *, timeout_s: int = 30) -> int:
    """Stop every active streaming query, swallowing per-query stop
    races; returns how many actually TERMINATED (awaitTermination
    returns False on timeout without raising — a query still tearing
    down must not count as stopped, or the caller proceeds to
    ``spark.stop()`` in exactly the mid-commit state this helper
    exists to prevent). Call BEFORE ``spark.stop()``."""
    n = 0
    for q in spark.streams.active:
        try:
            q.stop()
            if q.awaitTermination(timeout_s):
                n += 1
        except Exception:  # noqa: BLE001 - best-effort teardown
            pass
    return n
