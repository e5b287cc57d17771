"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own code, around each call it
makes into an engine layer: (name, start, end, parent, request id).
Every request also runs under its own Spark job group, so the jobs,
stages and tasks it caused, and the wall time its jobs covered, can be
read back from Spark's status store once the run is over. Nothing is
written until ``dump`` at the end of the run.

With tracing off (``Tracer(enabled=False)``) ``span`` and ``request``
only yield, so the untraced run pays one function call per boundary.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # set by attach() once the session exists
        self.spans: list[dict] = []
        self.requests: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    # ------------------------------------------------------------ recording
    @contextmanager
    def request(self, kind: str, op):
        """One client request: a job group plus a root span named
        ``kind``. ``op`` names the measured operation the request belongs
        to (None for untimed work). Yields the request id (None when
        tracing is off)."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            rid = self._next_id
            self._next_id += 1
        group = f"perfbench-{rid}"
        self.sc.setJobGroup(group, kind)
        self._local.rid = rid
        try:
            with self.span(kind) as sid:
                yield rid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._local.rid = None
            with self._lock:
                self.requests.append({"rid": rid, "kind": kind, "op": op,
                                      "group": group, "span": sid})

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "name": name,
                "parent": stack[-1] if stack else None,
                "rid": getattr(self._local, "rid", None),
                "start": time.perf_counter(), "end": None})
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    # ------------------------------------------------------------- analysis
    def job_stats(self) -> None:
        """Attach jobs / stages / tasks and the job-covered wall time to
        every recorded request (read once, after the run)."""
        time.sleep(0.5)  # let the listener bus drain the last job events
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        # epoch milliseconds of the perf_counter origin, to place Spark's
        # job timestamps on the span clock
        origin_ms = time.time() * 1000 - time.perf_counter() * 1000
        for req in self.requests:
            jobs = list(st.getJobIdsForGroup(req["group"]))
            stages = tasks = 0
            intervals = []
            for j in jobs:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                for s in list(info.stageIds):
                    stages += 1
                    si = st.getStageInfo(s)
                    if si is not None:
                        tasks += si.numCompletedTasks
                jd = store.job(j)
                sub, comp = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and comp.isDefined():
                    intervals.append(
                        ((sub.get().getTime() - origin_ms) / 1000,
                         (comp.get().getTime() - origin_ms) / 1000))
            span = self.spans[req["span"]]
            req.update(jobs=len(jobs), stages=stages, tasks=tasks,
                       dur=span["end"] - span["start"],
                       job_s=_covered(intervals, span["start"], span["end"]))

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of
        it covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            cov = _covered(children.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + dur - cov
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def per_op(self) -> list[dict]:
        """Measured operations (requests sharing an ``op`` id summed)."""
        ops: dict = {}
        for r in self.requests:
            if r["op"] is None:
                continue
            acc = ops.setdefault(r["op"], dict.fromkeys(
                ("jobs", "stages", "tasks", "dur", "job_s"), 0))
            for k in acc:
                acc[k] += r[k]
        return list(ops.values())

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "requests": self.requests,
                       "self_time_s": self.self_times(), **extra}, f)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jvm_gc_s(spark) -> float:
    """Total time the driver JVM has spent in garbage collection."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime()
               for i in range(beans.size())) / 1000


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
