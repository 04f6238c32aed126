"""Spans around calls into the engine's modules, and per-op Spark
metrics read from the status store.

Wrappers are installed from here, never from the engine: ``Patches``
replaces a function in its defining module *and* in every engine module
that bound it by name (``from x import f`` copies are not reached by
patching ``x.f``), and puts every original back on ``undo``. Spans live
in memory until the run ends.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op_id: int = -1


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


class Tracer:
    """In-memory span recorder with per-name counters."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: Counter[str] = Counter()
        self._stack: list[int] = []
        self._op_id = -1

    @property
    def in_op(self) -> bool:
        return self._op_id >= 0

    @contextmanager
    def span(self, name: str):
        """Record a span; calls made outside any op record nothing."""
        if not self.in_op:
            yield -1
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), parent=parent,
                               op_id=self._op_id))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextmanager
    def op(self, kind: str, op_id: int):
        """The span of one timed op; layer spans nest under it."""
        self._op_id = op_id
        try:
            with self.span(f"op.{kind}") as idx:
                yield idx
        finally:
            self._op_id = -1

    def add(self, key: str, n: float = 1) -> None:
        if self.in_op:
            self.counts[key] += n

    def self_times(self) -> dict[str, float]:
        """Per span name: the summed duration of its spans minus the part
        of each that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent >= 0:
                children[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - union_length(children[i])
        return dict(out)

    def child_coverage(self, op_span: int) -> float:
        """Seconds of an op span covered by its direct child spans."""
        kids = [(s.start, s.end) for s in self.spans if s.parent == op_span]
        return union_length(kids)

    def names(self) -> set[str]:
        return {s.name for s in self.spans}


class Patches:
    """Installs wrappers and restores the originals exactly."""

    PACKAGE = "olake_spark"

    def __init__(self) -> None:
        self._saved: list[tuple[Any, str, Any]] = []

    def wrap(self, owner: Any, attr: str, make: Callable[[Callable], Callable]) -> None:
        orig = owner.__dict__[attr]
        new = functools.wraps(orig)(make(orig))
        targets = [owner] + [
            m for name, m in list(sys.modules.items())
            if m is not None and m is not owner
            and (name == self.PACKAGE or name.startswith(self.PACKAGE + "."))
            and getattr(m, "__dict__", {}).get(attr) is orig
        ]
        for t in targets:
            self._saved.append((t, attr, orig))
            setattr(t, attr, new)

    def undo(self) -> None:
        while self._saved:
            t, attr, orig = self._saved.pop()
            setattr(t, attr, orig)

    def installed(self) -> list[tuple[Any, str, Any]]:
        return list(self._saved)


def spanned(tracer: Tracer, name: str,
            after: Callable[[Tracer, tuple, dict, Any], None] | None = None):
    """Wrapper factory: run the original inside a span named ``name``;
    ``after(tracer, args, kwargs, result)`` records counters."""

    def make(orig: Callable) -> Callable:
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(tracer, args, kwargs, result)
            return result

        return wrapper

    return make


# ------------------------------------------------------------ Spark status


@dataclass
class OpSpark:
    """What Spark did for one op's job group."""

    wall_s: float
    jobs: int = 0
    jobs_s: float = 0.0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    stages: set[int] = field(default_factory=set)

    @property
    def driver_s(self) -> float:
        """Op wall time outside every Spark job of the op: DataFrame
        build, planning, metadata I/O and commit."""
        return max(0.0, self.wall_s - self.jobs_s)


def read_op_spark(sc, group: str, wall_s: float) -> OpSpark:
    """Jobs and stage metrics of one job group. The status store answers
    with the Spark UI disabled; the listener bus is drained first so the
    op's last job has been recorded."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = OpSpark(wall_s=wall_s)
    intervals = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(int(jid))
        out.jobs += 1
        sub, comp = job.submissionTime(), job.completionTime()
        if sub.isDefined() and comp.isDefined():
            intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
        ids = job.stageIds()
        out.stages.update(int(ids.apply(i)) for i in range(ids.size()))
    out.jobs_s = min(wall_s, union_length(intervals))
    for sid in out.stages:
        sd = store.lastStageAttempt(sid)
        out.executor_run_s += sd.executorRunTime() / 1e3
        out.gc_s += sd.jvmGcTime() / 1e3
        out.shuffle_write_bytes += sd.shuffleWriteBytes()
    return out
