"""Spans around the calls into the program's layers.

The traced run wraps module attributes of the package (only from
here: the package itself is not edited) so that each call opens a
span.  A span records name, start, end, parent span id and op id, and
sets a Spark job group of its own, so the jobs and tasks it launched
can be read back from ``SparkStatusTracker``.  Spans stay in memory
and are written once, at the end of the run.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.op: str | None = None
        self.bookkeeping_s = 0.0
        self._stack = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _frames(self) -> list[dict]:
        if not hasattr(self._stack, "frames"):
            self._stack.frames = []
        return self._stack.frames

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        frames = self._frames()
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": frames[-1]["id"] if frames else None,
            "op": self.op,
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(span)
        frames.append(span)
        self.sc.setJobGroup(span["group"], name)
        span["start"] = time.perf_counter()
        self.bookkeeping_s += span["start"] - t0
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            frames.pop()
            if frames:
                self.sc.setJobGroup(frames[-1]["group"], frames[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_jobs(span)
            self.bookkeeping_s += time.perf_counter() - span["end"]

    def _count_jobs(self, span: dict) -> None:
        """Jobs and tasks started under the span's own group (children
        have groups of their own).  Read as soon as the span closes, so
        the status store cannot have evicted them yet."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(span["group"])
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for st in info.stageIds if info else ():
                stage = tracker.getStageInfo(st)
                tasks += stage.numTasks if stage else 0
        span["jobs"], span["tasks"] = len(jobs), tasks

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a wrapper that opens span ``name``
        around each call; :meth:`unwrap_all` restores the original."""
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def total(self, span: dict, key: str) -> int:
        """``key`` (jobs or tasks) of a span plus all its descendants."""
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return span[key] + sum(self.total(k, key) for k in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
