"""Span tracing from outside the engine.

``install`` wraps public functions and methods of the engine's
modules at runtime and ``Tracer.restore`` puts the originals back, so
the engine's own files carry no tracing code. Each call of a wrapped
name records a span (name, start, end, parent, op id); spans stay in
memory until the report is built.

``parse_event_log`` reads the Spark event log of a traced run and
attributes jobs and task metrics to the job group of the op that ran
them.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    error: str | None = None
    nbytes: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the time its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(children.get(i, [])) for i, s in enumerate(spans)
    ]


class Tracer:
    """In-memory span recorder plus the runtime wrappers that feed it."""

    def __init__(self):
        self.spans: list[Span] = []
        #: seconds spent in tracing itself, the spans' bookkeeping and
        #: whatever a caller adds for its own probes
        self.cost = 0.0
        self.enabled = False
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    # ----------------------------------------------------------- spans

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, args, kwargs, size=None):
        if not self.enabled:
            return fn(*args, **kwargs)
        t_in = time.perf_counter()
        stack = self._stack()
        span = Span(name, 0.0, parent=stack[-1] if stack else None, op=self.op)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        stack.append(idx)
        span.start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        except BaseException as exc:
            span.error = type(exc).__name__
            raise
        finally:
            span.end = time.perf_counter()
            stack.pop()
            if size is not None:
                span.nbytes = size(args, kwargs)
            spent = (span.start - t_in) + (time.perf_counter() - span.end)
            with self._lock:
                self.cost += spent

    def span(self, name: str, fn, *args, **kwargs):
        """Run ``fn(*args, **kwargs)`` inside a span named ``name``."""
        return self.call(name, fn, args, kwargs)

    # -------------------------------------------------------- wrapping

    def wrap(self, owner, attr: str, name: str, size=None) -> None:
        """Replace ``owner.attr`` (a module function or a method defined
        on the class ``owner``) with a span-recording wrapper."""
        raw = owner.__dict__[attr]
        fn = raw.__func__ if isinstance(raw, (staticmethod, classmethod)) else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return tracer.call(name, fn, args, kwargs, size)

        if isinstance(raw, staticmethod):
            wrapper = staticmethod(wrapper)
        elif isinstance(raw, classmethod):
            wrapper = classmethod(wrapper)
        self._saved.append((owner, attr, raw))
        setattr(owner, attr, wrapper)

    def wrap_public(self, cls, layer: str) -> None:
        """Wrap every public method ``cls`` defines itself."""
        for attr, raw in list(vars(cls).items()):
            if attr.startswith("_") or isinstance(raw, property):
                continue
            if inspect.isfunction(raw) or isinstance(raw, (staticmethod, classmethod)):
                self.wrap(cls, attr, f"{layer}:{cls.__name__}.{attr}")

    def restore(self) -> None:
        while self._saved:
            owner, attr, raw = self._saved.pop()
            setattr(owner, attr, raw)


def _put_size(args, kwargs) -> int:
    data = kwargs.get("data", args[2] if len(args) > 2 else b"")
    return len(data)


def _file_size(args, kwargs) -> int:
    src = kwargs.get("src_abs", args[2] if len(args) > 2 else None)
    try:
        return os.path.getsize(src)
    except (OSError, TypeError):
        return 0


def install(tracer: Tracer) -> None:
    """Wrap the engine entry points the per-layer report is built from."""
    from onehouse_demos_spark.sources import cdc
    from onehouse_demos_spark.sql import engine
    from onehouse_demos_spark.tables import (
        delta_export,
        hudi_export,
        iceberg_export,
        locks,
        maintenance,
        manifest,
        object_publish,
        table,
        timeline,
    )

    tracer.wrap(cdc, "apply_cdc_batch", "sources.cdc:apply_cdc_batch")
    for meth in ("upsert", "delete", "snapshot"):
        tracer.wrap(table.LakehouseTable, meth, f"tables.table:{meth}")
    tracer.wrap_public(timeline.Timeline, "tables.timeline")
    tracer.wrap_public(manifest.Manifest, "tables.manifest")
    for cls in (
        locks.LockProvider,
        locks.LocalFSLockProvider,
        locks.ObjectStoreLockProvider,
    ):
        tracer.wrap_public(cls, "tables.locks")
    pub = object_publish.Publisher
    for attr in ("rel", "get_bytes", "exists", "delete", "mtime_ms",
                 "list_rel", "put_text", "put_json"):
        tracer.wrap(pub, attr, f"tables.object_publish:{attr}")
    tracer.wrap(pub, "put_bytes", "tables.object_publish:put_bytes", _put_size)
    tracer.wrap(pub, "put_file", "tables.object_publish:put_file", _file_size)
    tracer.wrap(maintenance, "run_compaction", "tables.maintenance:run_compaction")
    tracer.wrap(maintenance, "run_clean", "tables.maintenance:run_clean")
    tracer.wrap(delta_export, "sync_delta_log", "tables.delta_export:sync")
    tracer.wrap(iceberg_export, "sync_iceberg_metadata", "tables.iceberg_export:sync")
    tracer.wrap(hudi_export, "sync_hudi_metadata", "tables.hudi_export:sync")
    tracer.wrap(engine.Engine, "sql", "sql.engine:sql")


def install_queries(tracer: Tracer, queries: dict) -> None:
    """Wrap each query function (name -> function) in place; its span
    covers planning, since a query function returns a lazy frame."""
    for name, fn in list(queries.items()):
        queries[name] = functools.partial(tracer.span, f"operators:{name}", fn)


# -------------------------------------------------------------- Spark

#: SQL metrics of the bytes an Arrow/Python UDF moves to and from its
#: Python workers.
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _group_of(event: dict) -> str | None:
    props = event.get("Properties") or {}
    return props.get("spark.jobGroup.id")


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_intervals: list = field(default_factory=list)
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    python_bytes: int = 0


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: job count and [submit, complete] intervals (in
    seconds since the epoch), stage and task counts, and summed task
    metrics, including the SQL metrics of data moved to and from
    Python workers."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    groups: dict[str, GroupStats] = {}
    stages_seen: set[int] = set()
    # Spark writes either one file per application or, for the rolling
    # (v2) layout, a directory of ``events_<n>_...`` parts.
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = _group_of(ev)
                    if g is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_submit[jid] = ev["Submission Time"] / 1000.0
                    st = groups.setdefault(g, GroupStats())
                    st.jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]].job_intervals.append(
                            (job_submit[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    g = stage_group.get(sid) or _group_of(ev)
                    if g is not None and sid not in stages_seen:
                        stages_seen.add(sid)
                        stage_group[sid] = g
                        groups.setdefault(g, GroupStats()).stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    st = groups.setdefault(g, GroupStats())
                    st.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    st.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                    st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1e3
                    st.input_bytes += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    st.shuffle_write_bytes += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if str(acc.get("Name", "")).startswith(PYTHON_BYTES):
                            try:
                                st.python_bytes += int(acc.get("Update", 0))
                            except (TypeError, ValueError):
                                pass
    return groups
