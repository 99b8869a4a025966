"""Spans, counters and the statistics the benchmark reports.

Spans are recorded from the benchmark's own files around calls into each
layer; nothing inside ``apache_nifi_spark`` is changed.  A span is
(name, start, end, parent, op id) plus the py4j calls and py4j seconds
counted while it was open.  They stay in memory and are written out when
the run ends.

The pure functions at the top (percentile choice, self time, time-window
attribution) are what the benchmark's tests exercise.
"""

from __future__ import annotations

import bisect
import contextlib
import itertools
import json
import statistics
import time
from dataclasses import asdict, dataclass, field

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float], beyond: int = 10) -> tuple[str, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns (label, value).  With too few samples for even the median to
    qualify, the label is ``max`` and the value the largest sample."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= beyond:
            return f"p{p:g}", percentile(values, p)
    return "max", max(values)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the intervals, overlaps counted once."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list["Span"]) -> dict[int, float]:
    """Span id → its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        kids = [
            (max(lo, s.start), min(hi, s.end))
            for lo, hi in children.get(s.id, [])
            if hi > s.start and lo < s.end
        ]
        out[s.id] = (s.end - s.start) - union_length(kids)
    return out


def attribute(times: list[float], windows: list[tuple[float, float]]) -> list[int | None]:
    """Index of the window holding each time, or None.

    ``windows`` are (start, end), sorted and disjoint, because ops run one
    at a time; an instant on a shared boundary goes to the later window."""
    starts = [w[0] for w in windows]
    out: list[int | None] = []
    for t in times:
        i = bisect.bisect_right(starts, t) - 1
        out.append(i if i >= 0 and t <= windows[i][1] else None)
    return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------- tracing --


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    py4j_calls: int = 0
    py4j_s: float = 0.0


class Hook:
    """Swaps attributes for one wrapper while installed.

    Subclasses name the (owner, attribute) pairs in ``targets`` (all bound
    to the same original) and build the wrapper in ``wrap``."""

    def __init__(self):
        self._saved: list[tuple] = []

    def targets(self) -> list[tuple]:
        raise NotImplementedError

    def wrap(self, orig):
        raise NotImplementedError

    def install(self) -> None:
        self._saved = [(o, n, getattr(o, n)) for o, n in self.targets()]
        wrapper = self.wrap(self._saved[0][2])
        for o, n, _ in self._saved:
            setattr(o, n, wrapper)

    def uninstall(self) -> None:
        for o, n, orig in self._saved:
            setattr(o, n, orig)
        self._saved = []


class Py4jCounter(Hook):
    """Counts py4j commands and the time spent in them, process-wide, by
    wrapping ``GatewayClient.send_command``, which every driver → JVM call
    goes through (PySpark's clientserver ``JavaClient`` inherits it)."""

    def __init__(self):
        super().__init__()
        self.calls = 0
        self.seconds = 0.0

    def targets(self):
        from py4j.java_gateway import GatewayClient

        return [(GatewayClient, "send_command")]

    def wrap(self, orig):
        counter = self

        def send_command(self, *a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(self, *a, **kw)
            finally:
                counter.calls += 1
                counter.seconds += time.perf_counter() - t0

        return send_command


class NullTracer:
    """Untraced runs: spans cost nothing and the plan is not forced."""

    op_id = None

    def span(self, name):
        return contextlib.nullcontext()

    def plan(self, df) -> None:
        pass


@dataclass
class Tracer:
    py4j: Py4jCounter
    spans: list[Span] = field(default_factory=list)
    op_id: int | None = None
    _stack: list[int] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        c0, s0 = self.py4j.calls, self.py4j.seconds
        t0 = time.time()
        sid = next(self._ids)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                Span(sid, name, t0, time.time(), parent, self.op_id,
                     self.py4j.calls - c0, self.py4j.seconds - s0)
            )

    def plan(self, df) -> None:
        with self.span("plan"):
            df._jdf.queryExecution().executedPlan()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: (s.start, s.id)):
                f.write(json.dumps(asdict(s)) + "\n")


# ------------------------------------------------- JVM-side observations --


class ProgressListener:
    """Collects every ``StreamingQueryProgress`` as a plain dict."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        records = self.records = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                records.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()


def gc_totals(spark) -> tuple[float, int]:
    """(seconds, collections) summed over the driver JVM's collectors."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    secs, count = 0.0, 0
    for bean in mf.getGarbageCollectorMXBeans():
        secs += max(bean.getCollectionTime(), 0) / 1000.0
        count += max(bean.getCollectionCount(), 0)
    return secs, count


def flush_listener_bus(spark, timeout_ms: int = 30_000) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def read_event_log(path: str) -> dict[str, list[dict]]:
    """Jobs, stages and tasks from an uncompressed, non-rolling event log,
    with wall-clock seconds so they can be attributed to op windows."""
    jobs, stages, tasks = [], [], []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append({"t": ev["Submission Time"] / 1000.0})
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if "Submission Time" in info:
                    stages.append({"t": info["Submission Time"] / 1000.0})
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                wall = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                run = m.get("Executor Run Time", 0) / 1000.0
                deser = m.get("Executor Deserialize Time", 0) / 1000.0
                ser = m.get("Result Serialization Time", 0) / 1000.0
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "t": info["Launch Time"] / 1000.0,
                    "run_s": run,
                    "deser_s": deser,
                    "sched_delay_s": max(wall - run - deser - ser, 0.0),
                    "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shuffle_read_b": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}
