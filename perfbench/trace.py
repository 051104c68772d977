"""Tracing for the per-layer run: spans, Spark execution counters, and
streaming progress.

Spans are recorded from the benchmark's side of each call into a program
module (``Tracer.wrap`` swaps a module attribute for a timing wrapper and
``Tracer.restore`` puts it back). Spark counters are read per op from the
JVM status store, which keeps its records with the UI disabled. Streaming
micro-batches run on the stream's own thread, outside any job group, so
their progress comes from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str


class Tracer:
    """Spans kept in memory; ``dump`` writes them out at the end."""

    def __init__(self, sc=None) -> None:
        self.spans: list[Span] = []
        self.op_id = ""
        #: job groups used by the current op (see ``span``)
        self.groups: list[str] = []
        self.sc = sc
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def start_op(self, op_id: str) -> None:
        self.op_id = op_id
        self.groups = []

    @contextmanager
    def span(self, name: str, group: bool = False):
        """Record a span; with ``group``, Spark jobs fired inside it run in
        the job group ``<op id>/<name>``."""
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        prev = None
        if group and self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            gid = f"{self.op_id}/{name}"
            self.groups.append(gid)
            self.sc.setLocalProperty("spark.jobGroup.id", gid)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()
            if group and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def wrap(self, owner, attr: str, name: str, group: bool = False) -> None:
        """Record a span named ``name`` around every call of ``owner.attr``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, group):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class NullProbe:
    """Instrumentation off: the same ``span`` interface, recording nothing."""

    def span(self, name: str, group: bool = False):
        return nullcontext()


NO_PROBE = NullProbe()


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children are counted once)."""
    cover = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        s, e = max(c.start, span.start), min(c.end, span.end)
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                cover += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        cover += cur_end - cur_start
    return (span.end - span.start) - cover


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s.name] = out.get(s.name, 0.0) + self_time(s, children.get(i, []))
    return out


def totals(spans: list[Span]) -> dict[str, float]:
    """Total duration per span name."""
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + s.end - s.start
    return out


#: Stage fields summed per op, as named in the status store's StageData.
STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled",
    "numTasks", "numFailedTasks",
)


class SparkCounters:
    """Execution counters of the jobs in a set of job groups."""

    def __init__(self, spark, cores: int) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = cores

    def jobs(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def collect(self, groups: list[str]) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out.update(jobs=0.0, stages=0.0, exec_ms=0.0, narrow_run_ms=0.0)
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                out["jobs"] += 1
                job = self.store.job(jid)
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    out["exec_ms"] += (
                        job.completionTime().get().getTime()
                        - job.submissionTime().get().getTime()
                    )
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    stage = self.store.lastStageAttempt(sid)
                    if stage.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    vals = {f: float(getattr(stage, f)()) for f in STAGE_FIELDS}
                    for f, v in vals.items():
                        out[f] += v
                    if vals["numTasks"] < self.cores:
                        out["narrow_run_ms"] += vals["executorRunTime"]
        return out


class StreamProgress:
    """Micro-batch progress of every streaming query, from the listener
    bus; ``take`` hands over (and forgets) the batches reported so far."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with progress._lock:
                    progress._batches.append({
                        "query_id": str(p.id),
                        "run_id": str(p.runId),
                        "batch_ms": float(p.batchDuration),
                        "input_rows": float(p.numInputRows),
                        "commit_ms": float(p.durationMs.get("commitOffsets", 0)),
                        "state_rows": float(sum(s.numRowsTotal for s in p.stateOperators)),
                        "state_bytes": float(sum(s.memoryUsedBytes for s in p.stateOperators)),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._lock = threading.Lock()
        self._batches: list[dict] = []
        self.listener = Listener()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def take(self) -> list[dict]:
        """The batches reported since the last call; call after
        ``flush_listener_bus`` so that finished queries have reported."""
        with self._lock:
            batches, self._batches = self._batches, []
        return batches

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


def flush_listener_bus(spark) -> None:
    """Wait until the JVM listener bus has delivered every posted event, so
    the status store and the streaming listener are up to date."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
