"""In-memory spans and Spark counters for the traced run.

Spans are recorded only around the benchmark's own calls into the
program, or around program functions the benchmark rebinds for the
length of a traced call (``Tracer.wrap``); no program file is changed.
An untraced run uses ``NullTracer`` and rebinds nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def mean(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else default


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    """Spans of one run, kept in memory until ``dump``.

    Each span records its name, start, end, parent span and the id of
    the timed call it belongs to (``None`` outside calls). A span's self
    time is its duration minus its children's: the benchmark is single
    threaded, so children never overlap.
    """

    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.call_id: int | None = None
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "call": self.call_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module: object, attr: str, name: str, on_result=None) -> None:
        """Register ``module.attr`` to be replaced, inside ``patched()``, by
        a wrapper that opens span ``name`` around each call. ``on_result``
        sees ``(span, args, kwargs, result)``."""
        self._patches.append((module, attr, name, on_result))

    @contextlib.contextmanager
    def patched(self):
        saved = []
        try:
            for module, attr, name, on_result in self._patches:
                orig = getattr(module, attr)
                saved.append((module, attr, orig))
                setattr(module, attr, self._wrapper(orig, name, on_result))
            yield
        finally:
            for module, attr, orig in reversed(saved):
                setattr(module, attr, orig)

    def _wrapper(self, fn, name, on_result):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(rec, args, kwargs, out)
            return out

        return traced

    def self_times(self) -> dict[int, float]:
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def per_call(self, name: str, self_time: bool = True) -> dict[int, float]:
        """``{call_id: summed (self) time of spans named name}``."""
        own = self.self_times()
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name and s["call"] is not None:
                out[s["call"]] += own[s["id"]] if self_time else s["end"] - s["start"]
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "spans": self.spans}, f)


class SparkCounters:
    """Jobs, tasks, failed tasks and shuffle bytes of one job group, read
    from the SparkContext's status tracker and status store after the
    group's jobs have finished."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self._store = sc._jsc.sc().statusStore()

    @contextlib.contextmanager
    def group(self, group_id: str):
        self.sc.setJobGroup(group_id, group_id)
        try:
            yield
        finally:
            self.sc._jsc.clearJobGroup()

    def read(self, group_id: str) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group_id)
        stage_ids = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        tasks = failed = shuffle = 0
        for sid in stage_ids:
            info = tracker.getStageInfo(sid)
            if info is None or info.numTasks == 0:
                continue
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
            shuffle += self._store.lastStageAttempt(sid).shuffleWriteBytes()
        return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed,
                "shuffle_bytes": shuffle}
