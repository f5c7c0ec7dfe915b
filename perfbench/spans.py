"""Spans recorded from outside the engine, plus Spark's per-stage task metrics.

``Tracer.wrap(obj, attr, name)`` replaces a method with a timing
wrapper that records a span (name, start, end, parent) in memory; the
spans are written out once, when the run ends. Parents follow a
per-thread stack, and a span opened on a worker thread of the engine's
commit pool takes the innermost span open on the thread that started
tracing (the round) as its parent.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from pathlib import Path

STORAGE_OPS = (
    "read",
    "append",
    "merge_insert",
    "overwrite",
    "stage_overwrite",
    "commit_staged_overwrite",
    "append_arrow",
    "overwrite_arrow",
    "set_properties",
    "compact",
)


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object, bool]] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self, stack: list[int]) -> int | None:
        if stack:
            return stack[-1]
        return self._main_stack[-1] if self._main_stack else None

    def span(self, name: str, fn, *args, **kwargs):
        stack = self._stack()
        sid = next(self._ids)
        parent = self._parent(stack)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": t0, "end": t1, "parent": parent}
                )

    def wrap(self, obj, attr: str, name: str) -> None:
        """Record a span around every call of ``obj.attr`` until ``unwrap_all``."""
        prior = vars(obj).get(attr)  # None when the attribute comes from the class
        original = getattr(obj, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.span(name, original, *args, **kwargs)

        setattr(obj, attr, traced)
        self._undo.append((obj, attr, prior, prior is not None))

    def unwrap_all(self) -> None:
        for obj, attr, original, had_own in reversed(self._undo):
            if had_own:
                setattr(obj, attr, original)
            else:
                delattr(obj, attr)
        self._undo.clear()

    def wrap_catalog(self) -> None:
        from crawler_spark.storage import SnapshotCatalog

        for op in STORAGE_OPS:
            self._wrap_class(SnapshotCatalog, op, f"storage.{op}")

    def _wrap_class(self, cls, attr: str, name: str) -> None:
        original = cls.__dict__[attr]

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.span(name, original, *args, **kwargs)

        setattr(cls, attr, traced)
        self._undo.append((cls, attr, original, True))

    # --------------------------------------------------------- summaries
    def covered(self, prefix: str, lo: float, hi: float) -> float:
        """Wall time inside [lo, hi] during which any span named ``prefix*``
        was open. The engine commits on three threads at once, so summing
        span durations would count overlapping commits twice."""
        iv = sorted(
            (max(s["start"], lo), min(s["end"], hi))
            for s in self.spans
            if s["name"].startswith(prefix) and s["end"] > lo and s["start"] < hi
        )
        total, cur_lo, cur_hi = 0.0, None, None
        for a, b in iv:
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def totals(self, name: str) -> tuple[float, int]:
        ds = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return sum(ds), len(ds)

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]
        path.write_text(json.dumps({"spans": spans, **extra}, indent=1))


# ----------------------------------------------------------- task metrics
STAGE_FIELDS = ("executor_run_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks")


def stage_totals(spark) -> dict[str, float]:
    """Sums over every stage Spark has recorded in this session.

    Read from the driver's status store, which Spark keeps even with the
    web UI disabled. Differences of two calls give the cost of the work
    run between them.
    """
    sc = spark.sparkContext
    gw = sc._gateway
    stages = sc._jsc.sc().statusStore().stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        out["executor_run_s"] += s.executorRunTime() / 1000.0
        out["shuffle_read_bytes"] += s.shuffleReadBytes()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["failed_tasks"] += s.numFailedTasks()
    return out


def stage_delta(before: dict, after: dict) -> dict[str, float]:
    return {k: after[k] - before[k] for k in STAGE_FIELDS}


def cached_relations(spark) -> int:
    """Number of persisted RDDs (cached DataFrames) still held by the session."""
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def force(df) -> None:
    """Execute a plan completely without collecting it."""
    df.write.format("noop").mode("overwrite").save()
