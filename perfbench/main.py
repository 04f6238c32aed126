"""One benchmark run, in the process that owns the Spark session.

Started by ``perfbench/run.py``, which sets up the environment; prints
human-readable ``#`` lines and writes the result object to the path
given by ``--result``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import sys
import time

import pandas as pd

from perfbench import layers
from perfbench.common import Runner
from perfbench.stats import median, tail
from perfbench.trace import Patches, Tracer
from perfbench.workloads import WORKLOADS


def start_spark(cores: int):
    from pyspark.sql import functions as F

    from olake_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every file the JVM writes inside the run directory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        },
    )
    spark.range(1).count()
    start_s = time.perf_counter() - t0

    # spawn every Python worker and initialise Arrow before any timer
    @F.pandas_udf("long")
    def ident(s: pd.Series) -> pd.Series:
        return s

    t0 = time.perf_counter()
    (spark.range(cores * 4, numPartitions=cores).select(ident("id"))
     .write.format("noop").mode("overwrite").save())
    return spark, start_s, time.perf_counter() - t0


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def release(spark) -> None:
    """Collect garbage in both processes between cycles, so Spark drops
    the shuffle files of finished ops while they are young and cheap to
    delete, and each cycle starts from a similar heap."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def modelled_cycle(wl, samples: dict[str, list[float]]) -> float:
    """Seconds one cycle takes: each op kind's median latency times the
    number of such ops in a cycle, summed."""
    return sum(n * median(samples[k]) for k, n in wl.per_cycle.items())


def run(args) -> dict:
    cores = len(os.sched_getaffinity(0))  # nproc
    spark, start_s, warmup_s = start_spark(cores)
    try:
        import pyspark

        print("# env " + json.dumps({
            "nproc": cores,
            "mem_total_bytes": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
        }), flush=True)
        tracer = Tracer() if args.trace else None
        runner = Runner(spark, tracer)
        wl = WORKLOADS[args.workload](spark, runner, args.work, args.seed)

        t0 = time.perf_counter()
        input_bytes = wl.build_input()
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare()
        wl.cycle()  # warm-up: every op kind once or more, discarded
        warm_ops_s = time.perf_counter() - t0
        runner.discard_samples()
        setup = {"start_s": start_s, "warmup_s": warmup_s, "build_s": build_s,
                 "input_bytes": input_bytes}
        setup_s = start_s + warmup_s + build_s + warm_ops_s
        print("# setup " + json.dumps({**setup, "prepare_and_warm_cycle_s": warm_ops_s}),
              flush=True)

        patches = Patches()
        deadline = time.monotonic() + args.seconds
        n = 0
        while n < wl.min_cycles or time.monotonic() < deadline:
            # traced runs alternate untraced and traced cycles, so the
            # difference between the two is the tracing overhead
            runner.tracing = bool(args.trace) and n % 2 == 1
            if runner.tracing:
                layers.install(tracer, patches)
            try:
                wl.cycle()
            finally:
                patches.undo()
            wl.traced_cycles += runner.tracing
            release(spark)
            n += 1

        print(f"# measured {n} cycles in {time.monotonic() - deadline + args.seconds:.1f} s",
              flush=True)
        cycle_s = modelled_cycle(wl, runner.samples)
        rows_per_s = wl.headline_rows() / sum(
            median(runner.samples[k]) * wl.per_cycle[k] for k in wl.headline)
        report_lines(wl, runner, setup_s, cycle_s, rows_per_s)
        if args.trace:
            missing = layers.expected_spans(args.workload) - tracer.names()
            if missing:
                raise SystemExit(f"traced run: no span recorded for {sorted(missing)}")
            per_layer = layers.per_layer(
                tracer, runner, wl, setup, cycle_s,
                modelled_cycle(wl, runner.traced_samples))
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "cycle_s": {"value": cycle_s, "unit": "s"},
                "rows_per_s": {"value": rows_per_s, "unit": "rows/s"},
            }
        return {"correct": runner.failed == 0, "attempted": runner.attempted,
                "failed": runner.failed, "metrics": metrics}
    finally:
        stop_spark(spark)


def report_lines(wl, runner, setup_s, cycle_s, rows_per_s) -> None:
    """Every metric of the workload by name and unit, one per line."""
    def line(name, value, unit, note=""):
        print(f"# metric {name} = {value:.6g} {unit}{note}", flush=True)

    line("setup_s", setup_s, "s")
    line("cycle_s", cycle_s, "s")
    line("rows_per_s", rows_per_s, "rows/s")
    line("failed_frac", runner.failed / runner.attempted, "ratio",
         f"  ({runner.failed} of {runner.attempted} ops)")
    for kind in wl.per_cycle:
        xs = runner.samples[kind]
        t = tail(xs)
        note = (f"  (median of {len(xs)}" + (f"; p{t[0]:g} = {t[1]:.6g} s" if t else "")
                + "; samples " + " ".join(f"{x:.3f}" for x in xs) + ")")
        line(f"{kind}_s", median(xs), "s", note)
    for name, (value, unit) in wl.report().items():
        line(name, value, unit)
    for kind in wl.headline:
        if wl.rows[kind]:
            line(f"{kind}_rows_per_s", median(wl.rows[kind]) / median(runner.samples[kind]),
                 "rows/s")


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args(argv)
    result = run(args)
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
