"""Span recording for the traced run.

Spans are kept in memory: name, layer, start, end, parent span and op
id. Layers are the program's modules; a span is opened by a wrapper the
benchmark installs around each public function and method of those
modules, so the program itself is not changed. Every span also carries
a Spark job tag, which lets each Spark job be attributed to the
innermost span that launched it (job, stage and task counts come from
the status store, looked up by tag once per op).
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_TAG = "perfbench-span-"
#: How long ``job_stats`` waits for the status store to see a job end.
_STATUS_WAIT_S = 5.0


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its own
    interval that its children cover (children may overlap each other;
    a child sticking out of its parent is clipped)."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children[s.sid] if c.end > s.start and c.start < s.end)
        out[s.sid] = s.duration - covered
    return out


@dataclass
class JobStats:
    """Spark work attributed to one span (its own jobs, not children's)."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


class Tracer:
    """Collects spans while ``active``; wrappers are no-ops otherwise."""

    def __init__(self, spark=None):
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None
        self.calls: Counter = Counter()
        self.wrapped: dict[str, str] = {}
        self._stack: list[Span] = []
        self._next = 0
        self._sc = spark.sparkContext if spark is not None else None
        self._last_scan: dict = {}

    @contextmanager
    def span(self, name: str, layer: str):
        sid = self._next
        self._next += 1
        parent = self._stack[-1].sid if self._stack else None
        if self._sc is not None:
            self._sc.addJobTag(_TAG + str(sid))
        s = Span(sid, name, layer, time.perf_counter(), parent=parent, op=self.op)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if self._sc is not None:
                self._sc.removeJobTag(_TAG + str(sid))

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            tracer.calls[name] += 1
            with tracer.span(name, layer) as s:
                out = fn(*args, **kwargs)
            if name == "table.Collection.table_scan":
                tracer._mark_snapshot_hit(s, args, kwargs, out)
            return out

        self.wrapped[name] = layer
        return traced

    def _mark_snapshot_hit(self, span, args, kwargs, out) -> None:
        # A hit is the snapshot LRU handing back the very object an
        # earlier scan of the same collection and txid returned.
        txid = kwargs.get("txid", args[1] if len(args) > 1 else None)
        key = (id(args[0]), txid)
        span.attrs["hit"] = self._last_scan.get(key) is out
        self._last_scan[key] = out

    def install(self, layers: dict) -> None:
        """Wrap every public function and public method of classes
        defined in each ``{layer: module}``, then rebind references the
        program took at import time (``from m import f``), so those
        calls are traced too. Calls through references held elsewhere
        (closures, default arguments) escape; ``coverage`` shows which
        wrapped names were actually reached."""
        replaced = {}
        for layer, mod in layers.items():
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    w = self.wrap(obj, f"{layer}.{name}", layer)
                    setattr(mod, name, w)
                    replaced[id(obj)] = (obj, w)
                elif inspect.isclass(obj):
                    self._wrap_class(obj, f"{layer}.{name}", layer)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not (mname.startswith("db_spark") or mname == "__spark_entry__"):
                continue
            for name, obj in list(vars(mod).items()):
                hit = replaced.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, name, hit[1])

    def _wrap_class(self, cls, prefix: str, layer: str) -> None:
        for attr, v in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            name = f"{prefix}.{attr}"
            if isinstance(v, staticmethod):
                setattr(cls, attr, staticmethod(self.wrap(v.__func__, name, layer)))
            elif isinstance(v, classmethod):
                setattr(cls, attr, classmethod(self.wrap(v.__func__, name, layer)))
            elif isinstance(v, property) and v.fget is not None:
                setattr(cls, attr, property(self.wrap(v.fget, name, layer),
                                            v.fset, v.fdel, v.__doc__))
            elif inspect.isfunction(v):
                setattr(cls, attr, self.wrap(v, name, layer))

    def coverage(self) -> dict[str, tuple[int, int]]:
        """Per layer: (wrapped names reached at least once, wrapped names)."""
        out = {}
        for name, layer in self.wrapped.items():
            hit, total = out.get(layer, (0, 0))
            out[layer] = (hit + (self.calls[name] > 0), total + 1)
        return out

    def job_stats(self, op_spans) -> dict[int, JobStats]:
        """Own Spark work per span of one op. A job carries the tags of
        every span open when it was submitted; it belongs to the
        innermost of them (the highest span id)."""
        out = {s.sid: JobStats() for s in op_spans}
        if self._sc is None or not op_spans:
            return out
        root = min(s.sid for s in op_spans)
        jsc = self._sc._jsc.sc()
        store = jsc.statusStore()
        deadline = time.monotonic() + _STATUS_WAIT_S
        for job_id in jsc.statusTracker().getJobIdsForTag(_TAG + str(root)):
            job = store.job(job_id)
            # the status store is fed asynchronously; let it catch up
            while str(job.status()) == "RUNNING" and time.monotonic() < deadline:
                time.sleep(0.01)
                job = store.job(job_id)
            sids = [int(t[len(_TAG):]) for t in job.jobTags().mkString("\n").split("\n")
                    if t.startswith(_TAG)]
            st = out.get(max(sids)) if sids else None
            if st is None:
                continue
            st.jobs += 1
            st.stages += job.numCompletedStages() + job.numFailedStages()
            st.tasks += job.numCompletedTasks() + job.numFailedTasks()
            st.failed_tasks += job.numFailedTasks()
        return out

    def dump(self, path: str) -> None:
        """Write every span of an op as one JSON line."""
        spans = [s for s in self.spans if s.op is not None]
        selfs = self_times(spans)
        with open(path, "w") as fh:
            for s in spans:
                jobs = s.attrs.get("jobs", JobStats())
                fh.write(json.dumps({
                    "sid": s.sid, "name": s.name, "layer": s.layer, "op": s.op,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self": selfs[s.sid], "jobs": jobs.jobs, "stages": jobs.stages,
                    "tasks": jobs.tasks, "failed_tasks": jobs.failed_tasks,
                    "hit": s.attrs.get("hit")}) + "\n")
