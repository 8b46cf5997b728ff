"""Spark-free parts of the benchmark: checks, percentiles, stream
latency and backlog arithmetic, spans, event-log accounting and the
RSS sampler. Everything here is unit-tested in ``perfbench/tests``.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

LAYERS = ("session", "sources", "operators", "plans", "functions", "ml", "streaming")

# A percentile is reported only when at least this many samples lie
# beyond it; below that it is one or two outliers, not a tail.
MIN_TAIL_SAMPLES = 10


# --- checks -------------------------------------------------------------


class Checks:
    """Counts operations and the ones that failed or were wrong.

    An operation is what the workload's user waits on (a pass, a
    streamed row). ``op`` records one operation with the outcome of all
    its checks; ``bulk`` records many at once (streamed rows)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def op(self, results: dict[str, bool]) -> bool:
        self.attempted += 1
        bad = sorted(name for name, ok in results.items() if not ok)
        if bad:
            self.failed += 1
            self.messages.append("failed: " + ", ".join(bad))
        return not bad

    def bulk(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.messages.append(f"failed: {failed} of {attempted} {what}")

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


# --- percentiles --------------------------------------------------------


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail_printable(n: int, p: float) -> bool:
    """True when at least MIN_TAIL_SAMPLES of n samples lie beyond p."""
    return n * (100.0 - p) / 100.0 >= MIN_TAIL_SAMPLES - 1e-9  # 100 - 99.9 is not 0.1 in binary


def highest_tail(n: int, candidates=(99.9, 99.0, 90.0)) -> float | None:
    """The highest candidate percentile that n samples can report."""
    for p in candidates:
        if tail_printable(n, p):
            return p
    return None


# --- stream latency and backlog ----------------------------------------


def row_latencies(due_ms: list[int], batch_of_row: list[int], emit_ms: dict[int, float]) -> list[float]:
    """Latency of each row: the end of the micro-batch that emitted it
    minus the time the row was due."""
    return [emit_ms[b] - d for d, b in zip(due_ms, batch_of_row)]


def backlog_at_emits(due_ms: list[int], batch_of_row: list[int], emit_ms: dict[int, float]) -> list[tuple[float, int]]:
    """(emit time, rows due by then but not yet emitted) for each batch.

    Valid only once the stream has drained: every row due before the
    last emission must be in ``due_ms``. A row is never emitted before
    it is due, so backlog = due-by-then minus emitted-by-then."""
    import bisect

    dues = sorted(due_ms)
    per_batch: dict[int, int] = defaultdict(int)
    for b in batch_of_row:
        per_batch[b] += 1
    out = []
    emitted = 0
    for b, t in sorted(emit_ms.items(), key=lambda kv: kv[1]):
        emitted += per_batch.get(b, 0)
        out.append((t, bisect.bisect_right(dues, t) - emitted))
    return out


def slope_per_s(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of (ms, value) points, in value per second."""
    if len(points) < 2:
        return 0.0
    n = len(points)
    mx = sum(p[0] for p in points) / n
    my = sum(p[1] for p in points) / n
    sxx = sum((p[0] - mx) ** 2 for p in points)
    if sxx == 0:
        return 0.0
    sxy = sum((p[0] - mx) * (p[1] - my) for p in points)
    return sxy / sxx * 1000.0


def backlog_growing(points: list[tuple[float, int]], rate: float, share: float = 0.1) -> bool:
    """A backlog grows when it gains more than ``share`` of the offered
    rate per second, i.e. the stream keeps up with less than 90 % of it."""
    return slope_per_s(points) > share * rate


def exactly_once_failures(values: list[int], last_due_value: int) -> tuple[int, int]:
    """(attempted, failed) for rows 0..last_due_value, given the row ids
    the sink emitted: a due row fails if it is missing or emitted more
    than once."""
    counts: dict[int, int] = defaultdict(int)
    for v in values:
        counts[v] += 1
    attempted = last_due_value + 1
    failed = sum(1 for v in range(attempted) if counts.get(v, 0) != 1)
    return attempted, failed


# --- spans --------------------------------------------------------------


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    sid: int = 0


@dataclass
class SpanLog:
    """Spans kept in memory and written out when the run ends."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def open(self, name: str, layer: str) -> Span:
        s = Span(name, layer, time.perf_counter(), parent=self._stack[-1] if self._stack else None, sid=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.sid)
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the parts their children cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = _union_length([(c.start, c.end) for c in children[s.sid]])
            out[s.layer] += (s.end - s.start) - covered
        return dict(out)

    def self_time(self, name: str) -> float:
        """Summed self time of the spans called ``name``."""
        total = 0.0
        for s in self.spans:
            if s.name == name:
                kids = [(c.start, c.end) for c in self.spans if c.parent == s.sid]
                total += (s.end - s.start) - _union_length(kids)
        return total

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- event log ----------------------------------------------------------


@dataclass
class LayerCounters:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(lines, stream_runs: dict[str, str] | None = None) -> dict[str, LayerCounters]:
    """Task counters per job group from a Spark event log (JSON lines).

    Groups the benchmark sets are '<layer>.<step>'; a streaming query
    tags its jobs with its run id, which ``stream_runs`` renames. Jobs
    outside any group (warm-up, checks) are left out."""
    stream_runs = stream_runs or {}
    stage_group: dict[int, str] = {}
    out: dict[str, LayerCounters] = defaultdict(LayerCounters)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            group = stream_runs.get(group, group)
            if not group or group.split(".", 1)[0] not in LAYERS:
                continue
            out[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            c = out[group]
            c.tasks += 1
            if (ev.get("Task Info") or {}).get("Failed"):
                c.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            c.cpu_ns += m.get("Executor CPU Time", 0)
            c.gc_ms += m.get("JVM GC Time", 0)
            c.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return dict(out)


def by_layer(groups: dict[str, LayerCounters]) -> dict[str, LayerCounters]:
    """Sum group counters into their layer ('ml.fit.svm' -> 'ml')."""
    out: dict[str, LayerCounters] = defaultdict(LayerCounters)
    for group, c in groups.items():
        acc = out[group.split(".", 1)[0]]
        for k, v in c.__dict__.items():
            setattr(acc, k, getattr(acc, k) + v)
    return dict(out)


def read_event_logs(directory: str, stream_runs: dict[str, str] | None = None) -> dict[str, LayerCounters]:
    lines: list[str] = []
    if not os.path.isdir(directory):
        return {}
    for name in sorted(os.listdir(directory)):
        if name.startswith("."):  # checksum files
            continue
        with open(os.path.join(directory, name)) as f:
            lines.extend(line for line in f if line.strip())
    return parse_event_log(lines, stream_runs)


# --- memory -------------------------------------------------------------


def rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) * 1024
    return 0


class RssSampler:
    """Peak of the summed RSS of some processes, sampled every 50 ms
    between ``start`` and ``stop``."""

    def __init__(self, pids: list[int], interval_s: float = 0.05) -> None:
        self.pids = pids
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, sum(rss_bytes(p) for p in self.pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak / 2**20
