"""Spans around the engine's layer calls, recorded from outside the engine.

A ``Tracer`` replaces a function at the name its callers resolve (a module
attribute, or a class attribute for a classmethod) with a wrapper. The
wrapper always keeps the return value of functions marked ``capture`` (the
correctness checks need the fitted boundaries). While tracing is on it also
runs the call under a fresh Spark job group, restores the caller's group
afterwards, and records a span: layer name, job group, the enclosing span's
group, start and end. Spans stay in memory; ``eventlog.rollup`` later joins
them to the job groups in Spark's event log.
"""

from __future__ import annotations

import functools
import itertools
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    group: str
    parent: str | None
    start: float
    end: float


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self.captured: dict[str, list] = {}
        self._stack: list[str] = []
        self._patches: list[tuple[object, str, object]] = []
        self._ids = itertools.count()

    def wrap(self, owner, attr: str, name: str, capture: bool = False) -> None:
        """Replace ``owner.attr`` by a traced wrapper until ``unwrap_all``."""
        raw = vars(owner)[attr]
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self.enabled:
                out = self._traced(name, fn, args, kwargs)
            else:
                out = fn(*args, **kwargs)
            if capture:
                self.captured.setdefault(name, []).append(out)
            return out

        # a classmethod reached through its class is already bound, so the
        # wrapper must not be bound again
        setattr(owner, attr, staticmethod(wrapper) if isinstance(owner, type) else wrapper)
        self._patches.append((owner, attr, raw))

    def unwrap_all(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    def _traced(self, name, fn, args, kwargs):
        group = f"perfbench-{next(self._ids)}"
        parent = self._stack[-1] if self._stack else None
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self._stack.append(group)
        set_job_group(self.sc, group)
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.perf_counter()
            self._stack.pop()
            set_job_group(self.sc, outer)
            self.spans.append(Span(name, group, parent, start, end))


def set_job_group(sc, group: str | None) -> None:
    """Make ``group`` the calling thread's Spark job group; None clears it."""
    if group is None:
        sc._jsc.clearJobGroup()
    else:
        sc.setJobGroup(group, group)
