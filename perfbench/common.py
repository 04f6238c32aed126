"""The closed loop every workload runs, and helpers shared by them."""

from __future__ import annotations

import itertools
import sys
import time
import traceback
from collections import defaultdict
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench.trace import OpSpark, Tracer, read_op_spark


class CheckFailed(Exception):
    """An op returned, but its output is wrong."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def checksum(df: DataFrame) -> tuple[int, int]:
    """Row count and XOR of ``xxhash64(doc_id, tokens)`` over a frame of
    sequences: equal for two frames holding the same rows, whatever
    their order or file layout."""
    r = df.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(doc_id, tokens))").alias("x"),
    ).first()
    return int(r.n), int(r.x or 0)


def noop(df: DataFrame) -> None:
    """Consume every column of every row without shipping it anywhere."""
    df.write.format("noop").mode("overwrite").save()


class Runner:
    """One client issuing ops one after another.

    Each op gets its own Spark job group; work between ops (input
    preparation and output checks) runs under a separate prep group, so
    status-store metrics of an op cover that op alone. An op that raises
    or fails its check is counted as failed and the run goes on."""

    def __init__(self, spark, tracer: Tracer | None = None):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.tracing = False
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.traced_samples: dict[str, list[float]] = defaultdict(list)
        self.spark_ops: dict[str, list[OpSpark]] = defaultdict(list)
        self.op_coverage: list[tuple[float, float]] = []
        self.attempted = 0
        self.failed = 0
        self._ids = itertools.count()
        self.prep("setup")

    def prep(self, label: str) -> None:
        self.sc.setJobGroup(f"bench-prep-{next(self._ids)}", label)

    def op(self, kind: str, fn: Callable[[], Any], check: Callable[[Any], None]) -> Any:
        """Time ``fn()``; then run ``check(result)`` untimed. Returns the
        result, or None when the op raised."""
        op_id = next(self._ids)
        group = f"bench-op-{op_id}-{kind}"
        self.sc.setJobGroup(group, kind)
        self.attempted += 1
        traced = self.tracer is not None and self.tracing
        span = -1
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.op(kind, op_id) as span:
                    result = fn()
            else:
                result = fn()
            wall = time.perf_counter() - t0
        except Exception:
            self._fail(kind, "raised")
            self.prep("after-failure")
            return None
        self.prep(f"check-{kind}")
        # an op that returned keeps its latency even if its check fails:
        # the failure shows in ``failed`` and ``correct``
        (self.traced_samples if traced else self.samples)[kind].append(wall)
        if traced:
            self.spark_ops[kind].append(read_op_spark(self.sc, group, wall))
            self.op_coverage.append((self.tracer.child_coverage(span), wall))
        try:
            check(result)
        except Exception:
            self._fail(kind, "failed its check")
        return result

    def _fail(self, kind: str, how: str) -> None:
        self.failed += 1
        print(f"# op {kind} {how}:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def discard_samples(self) -> None:
        """Forget the latencies of the (untraced) warm-up ops; failure
        counts stay."""
        self.samples.clear()
