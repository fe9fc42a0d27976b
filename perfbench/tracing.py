"""Tracing built entirely from outside the program.

``Tracer.install`` wraps the public entry points of each layer in place
(module functions and plugin class methods); nothing under meteor_spark/
is edited. Spans (name, start, end, parent, Spark jobs) are kept in
memory and written out when the run ends.

Spark jobs per span are the change in the DAG scheduler's job-id counter
across the span. A job group set on the calling thread would miss the
jobs parquet_catalog starts on its own pool threads, so groups are not
used. Task metrics come from the uncompressed event log that the traced
run enables at JVM launch, and streaming phases from a
StreamingQueryListener registered here.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from datetime import datetime
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

# A span opened on a thread with no open span of its own (a pool thread)
# is attached to the most recent open span of the named layer: the runner
# and the parquet_catalog extractor fan work out to ThreadPoolExecutors.
_CROSS_THREAD_PARENT = {
    "runner.run": "runner.run_multiple",
    "io.read_parquet_table": "sources.extract",
    "operators.profile_columns": "sources.extract",
}


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "jobs", "thread", "value")

    def __init__(self, sid, name, start, parent, thread):
        self.id, self.name, self.start, self.parent, self.thread = sid, name, start, parent, thread
        self.end = None
        self.jobs = 0
        self.value = None  # what the call returned, when it is a count

    def as_dict(self) -> dict:
        return {s: getattr(self, s) for s in self.__slots__}


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self.spark = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: dict[int, Span] = {}
        self._next = 0

    # -- spans -------------------------------------------------------------

    def jobs_started(self) -> int:
        """Spark jobs submitted so far in the current SparkContext."""
        if self.spark is None:
            return 0
        return self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1].id
            else:
                want = _CROSS_THREAD_PARENT.get(name)
                cands = [s for s in self._open.values() if s.name == want]
                parent = max(cands, key=lambda s: s.start).id if cands else None
            span = Span(self._next, name, 0.0, parent, threading.get_ident())
            self._next += 1
            self._open[span.id] = span
        stack.append(span)
        j0 = self.jobs_started()
        span.start = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
            if isinstance(out, int):
                span.value = out
            return out
        finally:
            span.end = time.perf_counter()
            span.jobs = self.jobs_started() - j0
            stack.pop()
            with self._lock:
                del self._open[span.id]
                self.spans.append(span)

    def mark(self) -> int:
        return len(self.spans)

    def since(self, mark: int) -> list[Span]:
        return self.spans[mark:]

    # -- patching ----------------------------------------------------------

    def _wrap(self, name, fn, namer=None):
        if getattr(fn, "__perfbench__", False):
            return fn

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.call(namer(*args) if namer else name, fn, *args, **kwargs)

        wrapper.__perfbench__ = True
        return wrapper

    def patch_function(self, module: str, attr: str, name: str) -> None:
        """Replace a module function, and every meteor_spark module's
        imported reference to the same object."""
        orig = getattr(sys.modules[module], attr)
        wrapped = self._wrap(name, orig)
        for modname, mod in list(sys.modules.items()):
            if modname.startswith("meteor_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)

    def patch_method(self, cls, attr: str, name: str, namer=None) -> None:
        if attr in cls.__dict__:
            setattr(cls, attr, self._wrap(name, cls.__dict__[attr], namer))

    def install(self) -> None:
        import meteor_spark.io  # noqa: F401
        import meteor_spark.operators.profile  # noqa: F401
        import meteor_spark.processors  # noqa: F401
        import meteor_spark.recipe.loader  # noqa: F401
        import meteor_spark.session  # noqa: F401
        import meteor_spark.sinks  # noqa: F401
        import meteor_spark.sources  # noqa: F401
        from meteor_spark import registry
        from meteor_spark.runner.agent import Agent

        self.patch_function("meteor_spark.session", "get_spark", "session.get_spark")
        self.patch_function("meteor_spark.recipe.loader", "load_recipes", "recipe.load_recipes")
        self.patch_function("meteor_spark.io", "read_parquet_table", "io.read_parquet_table")
        self.patch_function(
            "meteor_spark.operators.profile", "profile_columns", "operators.profile_columns"
        )
        self.patch_method(Agent, "run", "runner.run")
        self.patch_method(Agent, "run_multiple", "runner.run_multiple")
        for reg, method, layer in (
            (registry.extractors, "extract", "sources.extract"),
            (registry.processors, "process", "processors.process"),
            (registry.sinks, "sink", None),
        ):
            for pname, cls in reg._factories.items():
                if not isinstance(cls, type):
                    continue
                for klass in cls.__mro__:
                    self.patch_method(klass, "init", "runner.plugin_init")
                if layer is None:
                    self.patch_method(cls, method, "sinks", namer=functools.partial(_sink_name, pname))
                else:
                    self.patch_method(cls, method, layer)

    # -- output ------------------------------------------------------------

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


def _sink_name(plugin: str, sink, *args) -> str:
    fmt = sink.config.get("format")
    return f"sinks.{plugin}.{fmt}" if fmt else f"sinks.{plugin}"


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer: span time not covered by the span's own children."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted((max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, ())):
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s.name] += (s.end - s.start) - covered
    return dict(out)


class StreamingProbe(StreamingQueryListener):
    """Collects every microbatch's progress while ``tracer.enabled``."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.batches: list[dict] = []
        self.batch_times: list[float] = []
        self.state_rows: dict[str, int] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        if not self.tracer.enabled:
            return
        p = event.progress
        self.batches.append(dict(p.durationMs))
        self.batch_times.append(datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp())
        self.state_rows[str(p.runId)] = sum(op.numRowsTotal for op in p.stateOperators)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def drain(self, quiet_s: float = 0.5, limit_s: float = 3.0) -> None:
        """Wait until no progress event has arrived for ``quiet_s``: the
        listener bus delivers them after the query has returned."""
        end = time.monotonic() + limit_s
        seen = -1
        while seen != len(self.batches) and time.monotonic() < end:
            seen = len(self.batches)
            time.sleep(quiet_s)

    def summary(self) -> dict:
        def total(k):
            return sum(b.get(k, 0) for b in self.batches)

        return {
            "streaming.batches": len(self.batches),
            "streaming.trigger_ms": total("triggerExecution"),
            "streaming.add_batch_ms": total("addBatch"),
            "streaming.query_planning_ms": total("queryPlanning"),
            "streaming.wal_commit_ms": total("walCommit"),
            "streaming.commit_offsets_ms": total("commitOffsets"),
            "streaming.state_rows": sum(self.state_rows.values()),
            "batches_at": list(self.batch_times),
        }

    def reset(self) -> None:
        self.batches.clear()
        self.batch_times.clear()
        self.state_rows.clear()


def event_log_totals(log_dir: Path, window: tuple[float, float]) -> dict:
    """Task, stage and job totals from the event log, for events inside
    the given wall-clock window (epoch seconds)."""

    def inside(ms) -> bool:
        return window[0] <= ms / 1000.0 <= window[1]

    tot = defaultdict(float)
    for f in sorted(log_dir.rglob("events_*")):
        with open(f, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    if not inside(e["Task Info"]["Finish Time"]):
                        continue
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    tot["spark.tasks"] += 1
                    tot["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    tot["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    tot["spark.shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / 1e6
                    tot["spark.shuffle_write_mb"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                    )
                    tot["spark.spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                elif '"SparkListenerStageCompleted"' in line:
                    e = json.loads(line)
                    if inside(e["Stage Info"].get("Completion Time", 0)):
                        tot["spark.stages"] += 1
                elif '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    if inside(e["Submission Time"]):
                        tot["spark.jobs"] += 1
    return dict(tot)
