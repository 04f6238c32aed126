"""Which engine functions the traced run wraps, and the per-layer metrics
built from the spans and counters they record.

Layers are the engine package's modules. Every wrapper names the
workloads on which it must fire; a traced run in which one of them
recorded no span fails.
"""

from __future__ import annotations

from statistics import mean

from olake_spark.functions import partitioning, zorder
from olake_spark.operators import (
    changelog,
    clustering,
    compaction,
    dedup,
    deletes,
    expire,
    manifests,
    text,
)
from olake_spark.pipelines import curation
from olake_spark.plans import ledger, retry
from olake_spark.table import format as table_format
from olake_spark.table import stats as table_stats
from perfbench.trace import Patches, Tracer, spanned

TABLE = ("rewrite", "cdc")
OP_KINDS = (
    "compact", "zorder", "hilbert", "range_scan", "expire",
    "merge_mor", "merge_cow", "point_lookup", "changelog", "cdc_maintain",
    "minhash", "simhash", "curate",
)
SPARK_FIELDS = ("wall_s", "driver_s", "executor_run_s", "gc_s",
                "shuffle_write_bytes", "jobs")


def _after_write(tr: Tracer, args, kwargs, files) -> None:
    tr.add("table.write.bytes", sum(f.file_size_bytes for f in files))
    tr.add("table.write.rows", sum(f.record_count for f in files))


def _after_scan(tr: Tracer, args, kwargs, df) -> None:
    t = args[0]
    sid = kwargs.get("snapshot_id")
    snap = t.snapshot(sid)
    tr.add("table.scans")
    tr.add("table.scan.manifests", len(snap.manifests) if snap else 0)
    tr.add("table.scan.delete_files", len(t.delete_files(sid)))


def _after_plan(tr: Tracer, args, kwargs, groups) -> None:
    tr.add("operators.compaction.input_files", len(args[0]))
    tr.add("operators.compaction.grouped_files", sum(len(fs) for _, fs in groups))


def _count(key: str):
    return lambda tr, args, kwargs, result: tr.add(key)


def _commit(tr: Tracer):
    def make(orig):
        def commit(*args, **kwargs):
            tr.add("table.commit.count")
            with tr.span("table.commit"):
                try:
                    return orig(*args, **kwargs)
                except table_format.CommitConflict:
                    tr.add("table.commit.conflicts")
                    raise
        return commit
    return make


def _retry(tr: Tracer):
    def make(orig):
        def retry_on_backoff(fn, *args, **kwargs):
            def attempt():
                tr.add("plans.retry.attempts")
                return fn()
            with tr.span("plans.retry"):
                return orig(attempt, *args, **kwargs)
        return retry_on_backoff
    return make


# (span name, owner, attribute, workloads where it must fire, after-hook)
SPECS = [
    ("table.write", table_format.Table, "write_data_files", TABLE, _after_write),
    ("table.stats", table_stats, "collect_file_stats", TABLE, None),
    ("table.refresh", table_format.Table, "refresh", ("cdc",), None),
    ("table.scan", table_format.Table, "scan", TABLE, _after_scan),
    ("functions.boundaries", partitioning, "sample_file_boundaries", (), None),
    ("functions.boundaries", partitioning, "exact_range_partition", ("rewrite",), None),
    ("functions.curve_key", zorder, "make_cluster_key_udf", ("rewrite",),
     _count("functions.curve_key.count")),
    ("operators.compaction.plan", compaction, "plan_groups", ("rewrite",), _after_plan),
    ("operators.clustering.specs", clustering, "default_cluster_specs", ("rewrite",), None),
    ("operators.deletes", deletes, "materialize_deletes", ("cdc",),
     lambda tr, a, k, res: tr.add("operators.deletes.affected_files", res.rewritten_files)),
    ("operators.manifests", manifests, "rewrite_manifests", ("cdc",), None),
    ("operators.expire", expire, "expire_snapshots", TABLE,
     lambda tr, a, k, res: tr.add("operators.expire.files_removed", res.deleted_data_files)),
    ("operators.changelog", changelog, "snapshot_changes", ("cdc",), None),
    ("operators.dedup.minhash", dedup, "minhash_lsh_pairs", ("curate",), None),
    ("operators.dedup.simhash", dedup, "simhash_near_dup_pairs", ("curate",), None),
    ("operators.text", text, "repetition_stats", ("curate",), None),
    ("operators.text", text, "pii_scrub", ("curate",), None),
    ("pipelines.curation", curation, "curate_corpus", ("curate",), None),
    ("plans.ledger", ledger.Ledger, "_flush", ("rewrite",), _count("plans.ledger.writes")),
]


def install(tracer: Tracer, patches: Patches) -> None:
    for name, owner, attr, _, after in SPECS:
        patches.wrap(owner, attr, spanned(tracer, name, after))
    patches.wrap(table_format.Table, "commit", _commit(tracer))
    patches.wrap(retry, "retry_on_backoff", _retry(tracer))


def expected_spans(workload: str) -> set[str]:
    names = {name for name, _, _, where, _ in SPECS if workload in where}
    if workload in TABLE:
        names |= {"table.commit", "plans.retry"}
    return names


def per_layer(tracer: Tracer, runner, wl, setup: dict[str, float],
              untraced_cycle_s: float, traced_cycle_s: float) -> dict[str, tuple[float, str]]:
    """Every per-layer metric, by name: (value, unit). Layer times and
    counts are per traced cycle; ``spark.<op>.*`` are means per op. A
    layer the workload never reaches reads 0."""
    cycles = max(1, wl.traced_cycles)
    st = tracer.self_times()
    c = tracer.counts

    def per_cycle(v: float) -> float:
        return v / cycles

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (setup["start_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
        "datagen.build_s": (setup["build_s"], "s"),
        "datagen.input_bytes": (setup["input_bytes"], "B"),
        "table.write.self_s": (per_cycle(st.get("table.write", 0.0)), "s"),
        "table.write.bytes": (per_cycle(c["table.write.bytes"]), "B"),
        "table.write.rows": (per_cycle(c["table.write.rows"]), "count"),
        "table.stats.self_s": (per_cycle(st.get("table.stats", 0.0)), "s"),
        "table.commit.count": (per_cycle(c["table.commit.count"]), "count"),
        "table.commit.self_s": (per_cycle(st.get("table.commit", 0.0)), "s"),
        "table.commit.conflicts": (per_cycle(c["table.commit.conflicts"]), "count"),
        "table.refresh.self_s": (per_cycle(st.get("table.refresh", 0.0)), "s"),
        "table.manifests_live": (ratio(c["table.scan.manifests"], c["table.scans"]), "count"),
        "table.delete_files_live": (ratio(c["table.scan.delete_files"], c["table.scans"]), "count"),
        "table.scan.self_s": (per_cycle(st.get("table.scan", 0.0)), "s"),
        "table.scan.files_planned_frac": (
            ratio(c["table.scan.files_planned"], c["table.scan.files_live"]), "ratio"),
        "table.scan.useful_file_frac": (
            ratio(c["table.scan.files_useful"], c["table.scan.files_planned"]), "ratio"),
        "table.write_amp": (wl.report().get("write_amp", (0.0,))[0], "ratio"),
        "table.bytes_per_seq": (wl.report().get("bytes_per_seq", (0.0,))[0], "B"),
        "functions.boundaries.self_s": (per_cycle(st.get("functions.boundaries", 0.0)), "s"),
        "functions.curve_key.count": (per_cycle(c["functions.curve_key.count"]), "count"),
        "operators.compaction.plan_s": (per_cycle(st.get("operators.compaction.plan", 0.0)), "s"),
        "operators.compaction.input_files": (per_cycle(c["operators.compaction.input_files"]), "count"),
        "operators.compaction.small_file_frac": (
            ratio(c["operators.compaction.grouped_files"], c["operators.compaction.input_files"]),
            "ratio"),
        "operators.clustering.specs_s": (per_cycle(st.get("operators.clustering.specs", 0.0)), "s"),
    }
    for phase in ("prepare", "prune", "discover", "write", "commit"):
        m[f"operators.merge.{phase}_s"] = (per_cycle(c[f"operators.merge.{phase}_s"]), "s")
    m["operators.merge.files_rewritten"] = (per_cycle(c["operators.merge.files_rewritten"]), "count")
    m["operators.merge.candidate_precision"] = (
        ratio(c["operators.merge.files_holding_keys"], c["operators.merge.files_rewritten"]), "ratio")
    m.update({
        "operators.deletes.affected_files": (per_cycle(c["operators.deletes.affected_files"]), "count"),
        "operators.manifests.self_s": (per_cycle(st.get("operators.manifests", 0.0)), "s"),
        "operators.expire.self_s": (per_cycle(st.get("operators.expire", 0.0)), "s"),
        "operators.expire.files_removed": (per_cycle(c["operators.expire.files_removed"]), "count"),
        "operators.changelog.files_scanned": (per_cycle(c["operators.changelog.files_scanned"]), "count"),
        "operators.dedup.minhash_s": (per_cycle(st.get("operators.dedup.minhash", 0.0)), "s"),
        "operators.dedup.simhash_s": (per_cycle(st.get("operators.dedup.simhash", 0.0)), "s"),
        "operators.dedup.candidate_pairs": (per_cycle(c["operators.dedup.candidate_pairs"]), "count"),
        "operators.dedup.verified_frac": (
            ratio(c["operators.dedup.verified_pairs"], c["operators.dedup.candidate_pairs"]), "ratio"),
        "operators.text.self_s": (per_cycle(st.get("operators.text", 0.0)), "s"),
        "pipelines.curation.self_s": (per_cycle(st.get("pipelines.curation", 0.0)), "s"),
        "pipelines.curation.kept_frac": (mean(getattr(wl, "kept", None) or [0.0]), "ratio"),
        "plans.ledger.writes": (per_cycle(c["plans.ledger.writes"]), "count"),
        "plans.ledger.self_s": (per_cycle(st.get("plans.ledger", 0.0)), "s"),
        "plans.retry.attempts": (per_cycle(c["plans.retry.attempts"]), "count"),
        "trace.overhead_frac": (ratio(traced_cycle_s - untraced_cycle_s, untraced_cycle_s), "ratio"),
        "trace.span_coverage_frac": (
            ratio(sum(a for a, _ in runner.op_coverage), sum(w for _, w in runner.op_coverage)),
            "ratio"),
    })
    for kind in OP_KINDS:
        ops = runner.spark_ops.get(kind, [])
        for f in SPARK_FIELDS:
            unit = "s" if f.endswith("_s") else ("B" if f.endswith("bytes") else "count")
            m[f"spark.{kind}.{f}"] = (mean(getattr(o, f) for o in ops) if ops else 0.0, unit)
    return m
