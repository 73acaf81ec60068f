"""Per-layer tracing from outside the package.

``Tracer.patched()`` wraps public functions of the package's modules
for the duration of one operation.  Each wrapper records a span (name,
start, end, parent) and sets the Spark job group to the layer name,
so Spark's own per-task counters, read back from the event log,
attribute to the layer.  Spans are kept in memory.

A layer's self time is its span's duration minus the time its child
spans cover.  Wrappers record only on the thread that runs the
operation; calls the package makes from its own worker threads (the
parallel index builds) pass straight through.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

# (module, function, layer).  Most wrapped calls do their work inside
# the call.  The read and cast functions return a DataFrame whose work
# runs later, inside a Spark action of another layer, so their span is
# plan-building time and their output is kept for the probes.
WRAPPED = (
    ("pgloader_spark.cli", "parse_load", "parsers.parse"),
    ("pgloader_spark.plans.executor", "execute", "executor"),
    ("pgloader_spark.plans.executor", "execute_database", "executor"),
    ("pgloader_spark.plans.executor", "read_source", "sources.read"),
    ("pgloader_spark.plans.executor", "project", "casting"),
    ("pgloader_spark.plans.executor", "apply_column_casts", "casting"),
    ("pgloader_spark.plans.executor", "_apply_cast_transforms", "casting"),
    ("pgloader_spark.plans.executor", "load_with_isolation", "validate"),
    ("pgloader_spark.sources.sqlite_live", "introspect_sqlite", "sources.introspect"),
    ("pgloader_spark.sources.sqlite_live", "introspect_sqlite_keys", "sources.introspect"),
    ("pgloader_spark.sources.sqlite_live", "read_sqlite_table", "sources.read"),
    ("pgloader_spark.sources.pg_live", "write_pg_copy", "pg_live.copy"),
    ("pgloader_spark.plans.ddl", "prepare_statements", "ddl.create"),
    ("pgloader_spark.plans.orchestrate", "run_parallel_indexes", "ddl.index"),
    ("pgloader_spark.plans.orchestrate", "run_post_load", "ddl.post"),
)
# returns statements the caller executes while iterating over them
ITERATING = {"prepare_statements"}
LAYERS = sorted({w[2] for w in WRAPPED})
OP_PROPERTY = "perfbench.op"
GROUP_PROPERTY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    children_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


@dataclass
class OpTrace:
    spans: list[Span] = field(default_factory=list)
    # outputs kept for the probes: (function, table-or-None, DataFrame)
    frames: list[tuple[str, object, object]] = field(default_factory=list)
    copy_rows: int = 0
    statements: int = 0
    validate_rejects: int = 0

    def self_times(self) -> dict[str, float]:
        out = {name: 0.0 for name in LAYERS}
        for s in self.spans:
            if s.parent >= 0:
                out[s.name] += s.self_s
        return out


class Tracer:
    """Records spans for one operation at a time."""

    def __init__(self, sc):
        self.sc = sc
        self._owner = threading.get_ident()
        self._stack: list[int] = []
        self.op: OpTrace | None = None

    # -- spans -----------------------------------------------------------
    def _open(self, name: str) -> tuple[int, str | None]:
        op = self.op
        parent = self._stack[-1] if self._stack else -1
        op.spans.append(Span(name, time.perf_counter(), parent=parent))
        idx = len(op.spans) - 1
        self._stack.append(idx)
        prev = self.sc.getLocalProperty(GROUP_PROPERTY)
        self.sc.setLocalProperty(GROUP_PROPERTY, name)
        return idx, prev

    def _close(self, idx: int, prev: str | None) -> None:
        op = self.op
        span = op.spans[idx]
        span.end = time.perf_counter()
        self._stack.pop()
        if span.parent >= 0:
            op.spans[span.parent].children_s += span.end - span.start
        self.sc.setLocalProperty(GROUP_PROPERTY, prev)

    @contextlib.contextmanager
    def operation(self, op_id: str):
        """Root span of one operation; its self time is the part of the
        operation no wrapped layer covers."""
        self.op = OpTrace()
        self.sc.setLocalProperty(OP_PROPERTY, op_id)
        idx, prev = self._open("operation")
        try:
            with self.patched():
                yield self.op
        finally:
            self._close(idx, prev)
            self.sc.setLocalProperty(OP_PROPERTY, None)

    # -- wrappers --------------------------------------------------------
    def _wrap(self, fn, fname: str, layer: str):
        tracer = self

        def eager(*args, **kwargs):
            if threading.get_ident() != tracer._owner or tracer.op is None:
                return fn(*args, **kwargs)
            idx, prev = tracer._open(layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(idx, prev)
            tracer._account(fname, args, out)
            return out

        def iterating(*args, **kwargs):
            if threading.get_ident() != tracer._owner or tracer.op is None:
                yield from fn(*args, **kwargs)
                return
            # the caller runs each statement before asking for the next
            # one, so the span stays open across the DDL round trips
            idx, prev = tracer._open(layer)
            try:
                for stmt in fn(*args, **kwargs):
                    tracer.op.statements += 1
                    yield stmt
            finally:
                tracer._close(idx, prev)

        return iterating if fname in ITERATING else eager

    def _account(self, fname: str, args, out) -> None:
        op = self.op
        if fname in ("read_source", "project", "apply_column_casts",
                     "_apply_cast_transforms"):
            op.frames.append((fname, None, out))
        elif fname == "read_sqlite_table":
            op.frames.append((fname, args[2], out))
        elif fname == "write_pg_copy":
            op.frames.append((fname, args[2], args[0]))
            op.copy_rows += int(out or 0)
        elif fname == "load_with_isolation":
            op.validate_rejects += int(out.error_count or 0)
        elif fname in ("run_parallel_indexes", "run_post_load"):
            op.statements += len(args[1])

    @contextlib.contextmanager
    def patched(self):
        saved = []
        try:
            for mod_name, fname, layer in WRAPPED:
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, fname)
                saved.append((mod, fname, fn))
                setattr(mod, fname, self._wrap(fn, fname, layer))
            yield
        finally:
            for mod, fname, fn in reversed(saved):
                setattr(mod, fname, fn)


# -- Spark event log -----------------------------------------------------

@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    @property
    def python_s(self) -> float:
        """Task run time the JVM did not spend on its own CPU: time in
        Python workers (and waiting on them)."""
        return max(self.task_s - self.jvm_cpu_s, 0.0)

    def add(self, other: GroupStats) -> None:
        for k in ("jobs", "stages", "tasks", "task_s", "jvm_cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.job_intervals += other.job_intervals


class EventLog:
    """Incremental reader of one application's uncompressed event log.

    The event logger flushes on every job start and end, and the
    listener bus delivers events in order; ``sync()`` runs a marker
    job and reads until the marker's end is in the file, so every
    event of the jobs before it has been read."""

    def __init__(self, spark, log_dir: str):
        self.spark = spark
        app_id = spark.sparkContext.applicationId
        self.path = os.path.join(log_dir, app_id + ".inprogress")
        self._offset = 0
        self._buf = ""
        self._stage_owner: dict[int, tuple[str | None, str | None]] = {}
        self._job_owner: dict[int, tuple[str | None, str | None]] = {}
        self._job_start: dict[int, float] = {}
        # (op, group) -> stats
        self.stats: dict[tuple[str | None, str | None], GroupStats] = {}
        self._markers_seen: set[str] = set()
        self._n_marker = 0

    def _get(self, key) -> GroupStats:
        return self.stats.setdefault(key, GroupStats())

    def _consume(self) -> None:
        if not os.path.exists(self.path):
            return
        with open(self.path, encoding="utf-8") as fh:
            fh.seek(self._offset)
            chunk = fh.read()
            self._offset = fh.tell()
        data = self._buf + chunk
        lines = data.split("\n")
        self._buf = lines.pop()
        for line in lines:
            if line:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            key = (props.get(OP_PROPERTY), props.get(GROUP_PROPERTY))
            marker = props.get("perfbench.marker")
            if marker:
                key = ("marker", marker)
            jid = ev["Job ID"]
            self._job_owner[jid] = key
            self._job_start[jid] = ev.get("Submission Time", 0) / 1000
            for sid in ev.get("Stage IDs", []):
                self._stage_owner[sid] = key
            self._get(key).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            key = self._job_owner.get(jid, (None, None))
            if key[0] == "marker":
                self._markers_seen.add(key[1])
            start = self._job_start.pop(jid, None)
            if start is not None:
                self._get(key).job_intervals.append(
                    (start, ev.get("Completion Time", 0) / 1000)
                )
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            key = self._stage_owner.get(info.get("Stage ID"), (None, None))
            self._get(key).stages += 1
        elif kind == "SparkListenerTaskEnd":
            key = self._stage_owner.get(ev.get("Stage ID"), (None, None))
            st = self._get(key)
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.task_s += m.get("Executor Run Time", 0) / 1000
            st.jvm_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)

    def sync(self, timeout: float = 30.0) -> None:
        sc = self.spark.sparkContext
        self._n_marker += 1
        name = f"m{self._n_marker}"
        sc.setLocalProperty("perfbench.marker", name)
        try:
            self.spark.range(1).count()
        finally:
            sc.setLocalProperty("perfbench.marker", None)
        deadline = time.monotonic() + timeout
        while name not in self._markers_seen:
            if time.monotonic() > deadline:
                raise RuntimeError("event log did not reach the marker job")
            time.sleep(0.02)
            self._consume()

    def op_stats(self, op_id: str) -> tuple[GroupStats, dict[str | None, GroupStats]]:
        """(totals, per job group) for one operation."""
        total = GroupStats()
        groups: dict[str | None, GroupStats] = {}
        for (op, group), st in self.stats.items():
            if op == op_id:
                total.add(st)
                groups.setdefault(group, GroupStats()).add(st)
        return total, groups


def copy_bytes(df) -> int:
    """Bytes of the COPY text the package's encoder makes of ``df``:
    every line plus its newline."""
    from pyspark.sql import functions as F

    from pgloader_spark.sources.copytext import to_copy_lines

    return int(to_copy_lines(df).agg(F.sum(F.octet_length("line") + 1)).first()[0] or 0)


def median(values) -> float:
    """Median of the samples; 0 when there are none (every operation
    failed, which the result reports)."""
    return statistics.median(values) if values else 0.0


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    busy, cur_start, cur_end = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                busy += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        busy += cur_end - cur_start
    return busy
