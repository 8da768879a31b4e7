"""In-memory span recorder and Spark job counter for the traced run.

Spans are recorded from the benchmark's own files only: around the
engine entry points the benchmark calls, around the public methods the
engine calls on its ``CrawlState`` (wrapped per instance), and around
every ``DataFrameWriter.parquet`` call (patched for the traced window
only). Spans stay in memory and are written once, at exit.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import uuid
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    attrs: dict


def max_job_id(spark) -> int:
    """Highest Spark job id started so far (-1 before the first job).

    Job ids are sequential per SparkContext, so the difference of two
    readings counts every job in between, including the jobs the engine
    launches from its own writer threads."""
    tracker = spark.sparkContext.statusTracker()
    ids = list(tracker.getJobIdsForGroup(None)) + list(tracker.getActiveJobsIds())
    return max(ids, default=-1)


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> int | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        # a worker thread (commit_round's writer pool) with no span of its
        # own: its caller is the innermost span open on the main thread
        return self._main_stack[-1] if self._main_stack else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(), None,
                      self._parent(), self.run_id, dict(attrs))
            self.spans.append(sp)
        stack = self._stack()
        stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        """Record a span whose bounds were observed, not wrapped (a crawl
        round runs inside the engine; its bounds are the commit points)."""
        with self._lock:
            sp = Span(len(self.spans), name, start, end, parent, self.run_id, dict(attrs))
            self.spans.append(sp)
        return sp

    def wrap(self, name: str, fn):
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    @contextlib.contextmanager
    def patch_parquet_writer(self):
        """Span every DataFrameWriter.parquet call, keyed by the target
        dataset (the last path component, e.g. ``fetch_log``)."""
        from pyspark.sql.readwriter import DataFrameWriter

        original = DataFrameWriter.parquet
        tracer = self

        def parquet(writer, path, *args, **kwargs):
            dataset = os.path.basename(os.path.normpath(str(path)))
            with tracer.span(f"write.{dataset}", dataset=dataset):
                return original(writer, path, *args, **kwargs)

        DataFrameWriter.parquet = parquet
        try:
            yield
        finally:
            DataFrameWriter.parquet = original

    # -- analysis --------------------------------------------------------

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of the interval its children cover
        (children may overlap: the commit writers run concurrently)."""
        ivs = sorted(
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in self.children(sp)
            if c.end is not None
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end - sp.start) - covered

    def dump(self, path: str) -> None:
        rows = []
        for sp in self.spans:
            row = asdict(sp)
            if sp.end is not None:
                row["duration"] = sp.end - sp.start
                row["self"] = self.self_time(sp)
            rows.append(row)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f)
