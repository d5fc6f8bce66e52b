"""Span recorder for the traced run.

Spans are recorded only around calls the benchmark makes into the indexer's
public surface (instance methods wrapped from the outside, plus one module
function rebound for the run). Each span carries its name, start, end,
parent, the batch or request id it serves, the JVM GC time spent inside it,
and a Spark job group, so jobs and tasks are attributed to the innermost
span that ran them. Spans stay in memory until :meth:`Tracer.write`.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._beans = list(
            spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # the tracer's own bookkeeping time
        self.t0 = time.perf_counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._undo: list = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._beans)

    def set_rid(self, rid: str | None) -> None:
        """Batch or request id for this thread's next top-level spans."""
        self._tls.rid = rid

    def charge(self, seconds: float) -> None:
        """Count ``seconds`` as the tracer's own bookkeeping."""
        with self._lock:
            self.overhead_s += seconds

    def mark(self) -> tuple[int, float]:
        """GC and bookkeeping totals so far, for :meth:`since`."""
        return self._gc_ms(), self.overhead_s

    def since(self, mark: tuple[int, float]) -> tuple[float, float]:
        """GC seconds and bookkeeping seconds spent after ``mark``."""
        return (self._gc_ms() - mark[0]) / 1000, self.overhead_s - mark[1]

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "name": name,
            "rid": parent["rid"] if parent else getattr(self._tls, "rid", None),
            "thread": threading.get_ident(),
            "group": f"perfbench-{sid}",
        }
        self.sc.setJobGroup(rec["group"], name)
        gc0 = self._gc_ms()
        stack.append(rec)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            stack.pop()
            rec["gc_s"] = (self._gc_ms() - gc0) / 1000
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["start"] = start - self.t0
            rec["end"] = end - self.t0
            with self._lock:
                self.spans.append(rec)
            self.charge((start - t_in) + (time.perf_counter() - end))

    def wrap(self, name: str, fn, files: bool = False):
        """``fn`` inside a span; with ``files``, the returned DataFrame's
        input file count is recorded (outside the span's interval)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
            if files and out is not None:
                t = time.perf_counter()
                rec["files"] = len(out.inputFiles())
                self.charge(time.perf_counter() - t)
            return out

        return traced

    def instrument(self, obj, prefix: str, names, files=()) -> None:
        """Replace public methods of one instance by traced ones."""
        for n in names:
            setattr(obj, n, self.wrap(f"{prefix}.{n}", getattr(obj, n), n in files))

    def rebind(self, module, attr: str, name: str) -> None:
        """Trace a module-level function for this run; :meth:`close` undoes it."""
        orig = getattr(module, attr)
        setattr(module, attr, self.wrap(name, orig))
        self._undo.append((module, attr, orig))

    def close(self) -> None:
        for module, attr, orig in reversed(self._undo):
            setattr(module, attr, orig)
        self._undo.clear()

    def resolve_jobs(self) -> None:
        """Attach each span's own Spark job and task counts."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    stage = st.getStageInfo(s)
                    tasks += stage.numTasks if stage else 0
            rec["jobs"] = len(jobs)
            rec["tasks"] = tasks

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps(dict(rec, self_s=selfs[rec["id"]])) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the durations of its direct children."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in out:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def subtree(spans: list[dict], root_id: int) -> list[dict]:
    """``root_id`` and every span below it."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] == root_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out
