"""The three workloads. Each builds its input from the seed, then runs
cycles of ops through the closed-loop ``Runner``, checking every op's
output against an oracle kept outside the engine.

Sizes, file counts and target file sizes are constants: they never
depend on the core count.
"""

from __future__ import annotations

import os
import shutil
from collections import defaultdict
from urllib.parse import urlparse

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from olake_spark.datagen import generate_sequences
from olake_spark.operators import (
    changelog,
    clustering,
    compaction,
    dedup,
    deletes,
    expire,
    manifests,
    merge,
)
from olake_spark.pipelines import curation
from olake_spark.table import Table
from perfbench import gen
from perfbench.common import CheckFailed, Runner, checksum, expect, noop
from perfbench.stats import bytes_per_seq, median, write_amp

MIB = 1 << 20


def row_hash():
    return F.expr("xxhash64(doc_id, tokens)").alias("h")


def _live_files(t: Table) -> dict[str, int]:
    """Path -> size of every live data and delete file."""
    return {f.path: f.file_size_bytes for f in t.files() + t.delete_files()}


def _added_bytes(before: dict[str, int], t: Table) -> int:
    return sum(n for p, n in _live_files(t).items() if p not in before)


class Oracle:
    """The rows a table should hold, as ``doc_id -> (n_tok, hash)``,
    built with plain Spark from generated inputs."""

    def __init__(self, rows):
        self.rows = {r.doc_id: (int(r.n_tok), int(r.h)) for r in rows}
        self.xor = 0
        for _, h in self.rows.values():
            self.xor ^= h

    @classmethod
    def of(cls, df) -> Oracle:
        return cls(df.select("doc_id", "n_tok", row_hash()).collect())

    def total(self) -> tuple[int, int]:
        return len(self.rows), self.xor

    def n_tok_range(self, lo: int, hi: int) -> tuple[int, int]:
        n, x = 0, 0
        for n_tok, h in self.rows.values():
            if lo <= n_tok <= hi:
                n, x = n + 1, x ^ h
        return n, x

    def put(self, doc_id: str, n_tok: int, h: int) -> tuple[int, int] | None:
        old = self.rows.get(doc_id)
        if old is not None:
            self.xor ^= old[1]
        self.rows[doc_id] = (n_tok, h)
        self.xor ^= h
        return old

    def pop(self, doc_id: str) -> tuple[int, int]:
        old = self.rows.pop(doc_id)
        self.xor ^= old[1]
        return old


class Workload:
    """Shared skeleton. ``per_cycle`` gives how many ops of each kind one
    cycle runs. ``rows_per_s`` takes the write side of a cycle only: the
    rows handled by the ``headline`` kinds, divided by their time. Reads,
    checks and maintenance are left out of it, so that moving cost
    between writes and reads shows in ``rows_per_s`` and ``cycle_s``
    differently."""

    name = ""
    per_cycle: dict[str, int] = {}
    headline: tuple[str, ...] = ()
    min_cycles = 3  # odd, so each median can drop an outlier

    def __init__(self, spark, runner: Runner, work: str, seed: int):
        self.spark, self.r, self.work, self.seed = spark, runner, work, seed
        self.rng = np.random.default_rng([seed, 0xBE7C])
        self.rows: dict[str, list[int]] = defaultdict(list)
        self.cycles = 0
        self.traced_cycles = 0
        self.tracer = runner.tracer

    def traced(self) -> bool:
        return self.r.tracing

    def count(self, key: str, n: float = 1) -> None:
        """Add to a trace counter outside any op (the tracer itself only
        counts inside ops)."""
        if self.traced():
            self.tracer.counts[key] += n

    def build_input(self) -> int:
        raise NotImplementedError

    def cycle(self) -> None:
        raise NotImplementedError

    def report(self) -> dict[str, tuple[float, str]]:
        """The workload's own metrics, by name: (value, unit)."""
        raise NotImplementedError

    def headline_rows(self) -> float:
        return sum(median(self.rows[k]) * self.per_cycle[k] for k in self.headline
                   if self.rows[k])


# ------------------------------------------------------------------ rewrite


class Rewrite(Workload):
    """Bulk maintenance on a small-file table: every cycle rewrites a
    fresh copy of the input three times and reads it once."""

    name = "rewrite"
    ROWS, FILES, TARGET = 36_000, 64, 2 * MIB
    per_cycle = {"compact": 1, "zorder": 1, "hilbert": 1, "range_scan": 1, "expire": 1}
    headline = ("compact", "zorder", "hilbert")

    def build_input(self) -> int:
        self.input = os.path.join(self.work, "input")
        t = Table.create(self.spark, self.input)
        t.append(self._source())
        return t.total_bytes()

    def _source(self):
        return generate_sequences(self.spark, self.ROWS, seed=self.seed,
                                  max_tok=gen.MAX_TOK, num_partitions=self.FILES)

    def prepare(self) -> None:
        self.oracle = Oracle.of(self._source())
        t = Table.load(self.spark, self.input)
        self.input_bytes = t.total_bytes()
        if checksum(t.scan()) != self.oracle.total():
            raise CheckFailed("input table does not hold the generated rows")
        self.amp: list[float] = []
        self.bps: list[float] = []

    def _rewrite_check(self, t: Table, prev: int, kind: str):
        def check(res) -> None:
            expect(res is not None and not res.skipped, f"{kind} skipped")
            expect(checksum(t.scan()) == self.oracle.total(), f"{kind} changed rows")
            expect(checksum(t.scan(snapshot_id=prev)) == self.oracle.total(),
                   f"{kind}: reader pinned to the old snapshot sees other rows")
            self.rows[kind].append(res.rows)
        return check

    def cycle(self) -> None:
        r = self.r
        r.prep("copy-input")
        root = os.path.join(self.work, f"cycle{self.cycles}")
        shutil.copytree(self.input, root)
        t = Table.load(self.spark, root)
        written = []
        ops = (
            ("compact", lambda: compaction.compact(t, target_file_bytes=self.TARGET)),
            ("zorder", lambda: clustering.cluster(t, curve="zorder", target_file_bytes=self.TARGET)),
            ("hilbert", lambda: clustering.cluster(t, curve="hilbert", target_file_bytes=self.TARGET)),
        )
        for kind, fn in ops:
            prev, before = t.current_snapshot_id, _live_files(t)
            r.op(kind, fn, self._rewrite_check(t, prev, kind))
            written.append(_added_bytes(before, t))
        self.range_scan(t)
        r.op("expire", lambda: expire.expire_snapshots(t, keep_last=1),
             lambda _: expect(len(t.snapshots()) == 1
                              and checksum(t.scan()) == self.oracle.total(),
                              "expire changed the live table"))
        self.amp.append(write_amp(sum(written), self.input_bytes))
        self.bps.append(bytes_per_seq(t.total_bytes(), t.total_rows()))
        shutil.rmtree(root)
        self.cycles += 1

    def range_scan(self, t: Table) -> None:
        """Scan a seeded ``n_tok`` range of 33 values to a noop sink."""
        lo = int(self.rng.integers(64, 512))
        rng_ = (lo, lo + 32)
        if self.traced():
            self.scan_fracs(t, rng_)
        self.r.op("range_scan", lambda: noop(t.scan(n_tok_range=rng_)),
                  lambda _: expect(checksum(t.scan(n_tok_range=rng_)) == self.oracle.n_tok_range(*rng_),
                                   "range scan returned other rows"))

    def scan_fracs(self, t: Table, n_tok_range) -> None:
        """Trace counters for one range scan: files planned out of all
        live data files, and files holding at least one matching row."""
        live = {t.abs_path(f.path) for f in t.files()}
        df = t.scan(n_tok_range=n_tok_range)
        planned = {urlparse(p).path for p in df.inputFiles()} & live
        useful = {t.abs_path(x._file) for x in t.scan(
            n_tok_range=n_tok_range, with_position=True).select("_file").distinct().collect()}
        self.count("table.scan.files_live", len(live))
        self.count("table.scan.files_planned", len(planned))
        self.count("table.scan.files_useful", len(useful & planned))

    def report(self):
        return {
            "write_amp": (median(self.amp), "ratio"),
            "bytes_per_seq": (median(self.bps), "B"),
        }


# ---------------------------------------------------------------------- cdc


class Cdc(Rewrite):
    """A CDC tail on a clustered table. Each cycle applies small
    merge-on-read batches, each followed by reads of what it changed,
    folds their deletes in a maintenance step, then applies a larger
    copy-on-write correction."""

    name = "cdc"
    # 12k sequences in ~7 files of 1 MiB: two task waves on 4 cores, away
    # from a wave boundary; the input is clustered, so its file count is moot
    ROWS, FILES, TARGET = 12_000, 16, 1 * MIB
    SMALL = (300, 100, 100)  # upserts, inserts, deletes
    CORRECTION = (700, 0, 200)
    SMALL_PER_CYCLE = 2  # so every third batch is a correction
    per_cycle = {
        "merge_mor": SMALL_PER_CYCLE, "point_lookup": 3 * SMALL_PER_CYCLE,
        "range_scan": SMALL_PER_CYCLE, "changelog": SMALL_PER_CYCLE,
        "cdc_maintain": 1, "merge_cow": 1,
    }
    headline = ("merge_mor", "merge_cow")

    def prepare(self) -> None:
        super().prepare()
        self.t = Table.load(self.spark, self.input)
        clustering.cluster(self.t, curve="zorder", target_file_bytes=self.TARGET)
        self.stream = gen.CdcStream(self.seed, self.ROWS)
        self.user_bytes = 0
        self.written = 0

    def _apply(self, batch_counts, recent: bool, kind: str):
        """Generate and write the next batch, move the oracle to the state
        it should produce, then merge it. Returns the batch and its
        expected net changelog."""
        r, t = self.r, self.t
        r.prep("batch")
        b = self.stream.next_batch(*batch_counts, recent=recent)
        self.stream.write(b, os.path.join(self.work, f"batch{b.index}.parquet"))
        df = self.spark.read.parquet(b.path)
        expected = set()
        for row in df.select("doc_id", "n_tok", row_hash(),
                             F.col("_cdc_deleted_at").isNotNull().alias("gone")).collect():
            if row.gone:
                expected.add((row.doc_id, "delete", self.oracle.pop(row.doc_id)[1]))
            else:
                old = self.oracle.put(row.doc_id, int(row.n_tok), int(row.h))
                expected.add((row.doc_id, "insert" if old is None else "update", int(row.h)))
        self.user_bytes += b.nbytes
        pre, before = t.current_snapshot_id, _live_files(t)
        mode = "mor" if kind == "merge_mor" else "cow"
        res = r.op(kind, lambda: merge.merge_into(t, df, target_file_bytes=self.TARGET, mode=mode),
                   lambda _: expect(checksum(t.scan()) == self.oracle.total(),
                                    f"{kind}: table differs from the oracle"))
        self.written += _added_bytes(before, t)
        if res is not None:
            self.rows[kind].append(b.rows)
            if self.traced():
                self.merge_trace(res, b, pre, before)
        return b, pre, expected

    def merge_trace(self, res, b, pre: int, before: dict[str, int]) -> None:
        for phase, s in res.details.get("phase_seconds", {}).items():
            self.count(f"operators.merge.{phase}", s)
        removed = set(before) - set(_live_files(self.t))
        self.count("operators.merge.files_rewritten", len(removed))
        if removed:
            keys = pq_doc_ids(b.path)
            held = {self.t.abs_path(x._file) for x in self.t.scan(snapshot_id=pre, with_position=True)
                    .filter(F.col("doc_id").isin(keys)).select("_file").distinct().collect()}
            self.count("operators.merge.files_holding_keys",
                       len({self.t.abs_path(p) for p in removed} & held))

    def cycle(self) -> None:
        r, t = self.r, self.t
        for _ in range(self.SMALL_PER_CYCLE):
            b, pre, expected = self._apply(self.SMALL, True, "merge_mor")
            ids = pq_doc_ids(b.path)  # upserts, then inserts, then deletes
            probes = [(ids[0], self.oracle.rows[ids[0]]),
                      (ids[len(b.upsert)], self.oracle.rows[ids[len(b.upsert)]]),
                      (ids[-1], None)]
            for key, want in probes:
                r.op("point_lookup",
                     lambda key=key: t.scan(eq={"doc_id": key}).select(row_hash()).collect(),
                     lambda rows, want=want: expect(
                         [x.h for x in rows] == ([] if want is None else [want[1]]),
                         "point lookup returned another row"))
            self.range_scan(t)
            r.op("changelog",
                 lambda: changelog.snapshot_changes(t, pre)
                 .select("doc_id", changelog.CHANGE_TYPE, row_hash()).collect(),
                 lambda rows: expect({tuple(x) for x in rows} == expected
                                     and len(rows) == len(expected),
                                     "changelog differs from the batch's net diff"))
            if self.traced():
                self.count("operators.changelog.files_scanned",
                           len(changelog.snapshot_changes(t, pre).inputFiles()))
        before = _live_files(t)

        def maintain():
            m = deletes.materialize_deletes(t, target_file_bytes=self.TARGET)
            manifests.rewrite_manifests(t)
            expire.expire_snapshots(t, keep_last=1)
            return m

        r.op("cdc_maintain", maintain,
             lambda _: expect(not t.delete_files() and checksum(t.scan()) == self.oracle.total(),
                              "maintenance changed the live rows"))
        self.written += _added_bytes(before, t)
        self._apply(self.CORRECTION, False, "merge_cow")
        self.bps.append(bytes_per_seq(t.total_bytes(), t.total_rows()))

    def report(self):
        return {
            "write_amp": (write_amp(self.written, self.user_bytes), "ratio"),
            "bytes_per_seq": (median(self.bps), "B"),
        }


def pq_doc_ids(path: str) -> list[str]:
    return pq.read_table(path, columns=["doc_id"]).column("doc_id").to_pylist()


# ------------------------------------------------------------------ curate


class Curate(Workload):
    """Corpus curation on a synthetic document corpus: near-duplicate
    detection two ways, then the full curation funnel. Never touches the
    table layer."""

    name = "curate"
    DOCS = 2_500
    TOKEN_BUDGET = 2 * DOCS  # characters per source; binds on every source
    per_cycle = {"minhash": 1, "simhash": 1, "curate": 1}
    headline = ("minhash", "simhash")
    MIN_NEAR_RECALL = 0.9

    def build_input(self) -> int:
        self.corpus = gen.write_corpus(self.seed, self.DOCS,
                                       os.path.join(self.work, "docs.parquet"))
        return self.corpus.nbytes

    def prepare(self) -> None:
        self.docs = self.spark.read.parquet(self.corpus.path)
        self.seen: dict[str, object] = {}
        self.kept: list[float] = []

    def _same_as_before(self, kind: str, value) -> None:
        first = self.seen.setdefault(kind, value)
        expect(value == first, f"{kind} output changed between cycles of one seed")

    def _pairs_check(self, kind: str, min_near_recall: float):
        def check(rows) -> None:
            pairs = {(int(a), int(b)) for a, b in rows}
            expect(all(a < b for a, b in pairs), f"{kind}: pair not ordered")
            expect(self.corpus.exact_pairs <= pairs, f"{kind}: missed an exact duplicate")
            found = len(self.corpus.near_pairs & pairs) / max(1, len(self.corpus.near_pairs))
            expect(found >= min_near_recall, f"{kind}: near-duplicate recall {found:.3f}")
            self._same_as_before(kind, frozenset(pairs))
            self.rows[kind].append(self.DOCS)
        return check

    def cycle(self) -> None:
        r, docs = self.r, self.docs
        r.op("minhash",
             lambda: dedup.minhash_lsh_pairs(docs, "doc_id", "text", num_perm=32, bands=8,
                                             shingle_k=2, jaccard_threshold=0.5)
             .select("id_a", "id_b").collect(),
             self._pairs_check("minhash", self.MIN_NEAR_RECALL))
        if self.traced():
            cand = dedup.minhash_lsh_pairs(docs, "doc_id", "text", num_perm=32, bands=8,
                                           shingle_k=2, jaccard_threshold=0.0).count()
            self.count("operators.dedup.candidate_pairs", cand)
            self.count("operators.dedup.verified_pairs", len(self.seen.get("minhash", ())))
        # simhash is a coarser filter: only exact duplicates must be found
        r.op("simhash",
             lambda: dedup.simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3, blocks=4)
             .select("id_a", "id_b").collect(),
             self._pairs_check("simhash", 0.0))
        r.op("curate", self._curate, self._curate_check)

    def _curate(self):
        d = self.docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.pmod(F.col("doc_id"), F.lit(50)).alias("_m"), "text", "source", "n_chars",
        )
        handles: list = []
        out = curation.curate_corpus(
            d.filter(F.col("_m") != 0).drop("_m"),
            d.filter(F.col("_m") == 0).drop("_m"),
            repetition={"max_word": 0.10, "min_words": 5},
            # 13-word shingles, the usual decontamination window: over a
            # 30-word vocabulary, 3-word shingles match almost every doc
            scrub_pii=True, shingle_k=13, materialize=True, persisted=handles,
            mixture_rates={"src0": 0.75, "src1": 0.5}, default_rate=0.25,
            token_budget=self.TOKEN_BUDGET, weight_col="n_chars", seed=self.seed,
        )
        try:
            return tuple(out.agg(F.count("*"), F.expr(
                f"bit_xor(xxhash64({', '.join(out.columns)}))")).first())
        finally:
            for h in handles:
                h.unpersist()

    def _curate_check(self, res) -> None:
        n, _ = res
        expect(0 < n < self.DOCS, f"curate kept {n} of {self.DOCS} docs")
        self._same_as_before("curate", res)
        self.kept.append(n / self.DOCS)

    def report(self):
        return {}


WORKLOADS = {w.name: w for w in (Rewrite, Cdc, Curate)}
