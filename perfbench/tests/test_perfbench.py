"""Tests of the benchmark's own code; no Spark session is started.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen, layers, stats
from perfbench.trace import Patches, Tracer, union_length


# ------------------------------------------------------------------ stats


def test_median_odd_even_and_empty():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_percentile_nearest_rank():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert stats.percentile(xs, 50) == 50.0
    assert stats.percentile(xs, 90) == 90.0
    assert stats.percentile(xs, 99) == 99.0
    assert stats.percentile(xs, 100) == 100.0
    assert stats.percentile([7.0], 99) == 7.0


def test_tail_needs_ten_samples_beyond():
    assert stats.tail([1.0] * 10) is None
    # 20 samples: p50 leaves 10 above its rank, p75 only 5
    xs = [float(i) for i in range(1, 21)]
    assert stats.tail(xs) is None  # 50 is not on the ladder
    xs = [float(i) for i in range(1, 41)]  # p75 = 30, 10 samples above
    assert stats.tail(xs) == (75.0, 30.0)
    xs = [float(i) for i in range(1, 101)]  # p90 = 90, 10 above
    assert stats.tail(xs) == (90.0, 90.0)
    xs = [float(i) for i in range(1, 1001)]  # p99 = 990, 10 above
    assert stats.tail(xs) == (99.0, 990.0)


def test_write_amp_and_bytes_per_seq():
    assert stats.write_amp(3_000, 1_000) == 3.0
    assert stats.write_amp(500, 1_000) == 0.5
    assert stats.bytes_per_seq(55_000, 100) == 550.0
    with pytest.raises(ValueError):
        stats.write_amp(1, 0)
    with pytest.raises(ValueError):
        stats.bytes_per_seq(1, 0)


# -------------------------------------------------------------- generators


def _stream_batches(seed: int, tmp_path, tag: str, n: int = 4):
    s = gen.CdcStream(seed, base_rows=2_000)
    out = []
    for i in range(n):
        b = s.next_batch(30, 10, 10, recent=i % 2 == 0)
        s.write(b, str(tmp_path / f"{tag}-{i}.parquet"))
        out.append((b, pq.read_table(b.path)))
    return out


def test_cdc_stream_is_a_function_of_the_seed(tmp_path):
    a = _stream_batches(7, tmp_path, "a")
    b = _stream_batches(7, tmp_path, "b")
    c = _stream_batches(8, tmp_path, "c")
    for (ba, ta), (bb, tb) in zip(a, b):
        assert np.array_equal(ba.upsert, bb.upsert)
        assert np.array_equal(ba.delete, bb.delete)
        assert ta.equals(tb)
    assert any(not ta.equals(tc) for (_, ta), (_, tc) in zip(a, c))


def test_cdc_stream_batches_are_valid_against_the_state(tmp_path):
    s = gen.CdcStream(3, base_rows=1_000)
    live = set(range(1_000))
    for i in range(6):
        b = s.next_batch(40, 10, 10, recent=True)
        assert set(b.upsert) <= live and set(b.delete) <= live
        assert not set(b.upsert) & set(b.delete)
        assert not set(b.insert) & live
        live = (live - set(b.delete)) | set(b.insert)
        s.write(b, str(tmp_path / f"b{i}.parquet"))
        t = pq.read_table(b.path)
        assert t.num_rows == b.rows
        assert t.column("_cdc_deleted_at").null_count == len(b.upsert) + len(b.insert)
    assert set(s.live) == live


def test_cdc_upsert_changes_contents(tmp_path):
    s = gen.CdcStream(5, base_rows=500)
    b = s.next_batch(20, 0, 0, recent=False)
    s.write(b, str(tmp_path / "u.parquet"))
    up = pq.read_table(b.path).to_pylist()
    orig = {r["doc_id"]: r for r in gen.arrow_batch(b.upsert, 5, gen.MAX_TOK).to_pylist()}
    for r in up:
        assert r["tokens"] != orig[r["doc_id"]]["tokens"]
        assert r["source"] == orig[r["doc_id"]]["source"]


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a = gen.write_corpus(1, 800, str(tmp_path / "a.parquet"))
    b = gen.write_corpus(1, 800, str(tmp_path / "b.parquet"))
    c = gen.write_corpus(2, 800, str(tmp_path / "c.parquet"))
    ta, tb, tc = (pq.read_table(x.path) for x in (a, b, c))
    assert ta.equals(tb)
    assert (a.exact_pairs, a.near_pairs) == (b.exact_pairs, b.near_pairs)
    assert not ta.equals(tc)
    texts = ta.column("text").to_pylist()
    for i, j in a.exact_pairs:
        assert i < j and texts[i] == texts[j]
    for i, j in a.near_pairs:
        assert i < j and texts[j] == f"{texts[i]} {gen.NEAR_DUP_MARK}"
    lengths = [len(t.split()) for t in texts]
    assert min(lengths) >= gen.MIN_WORDS
    assert len({w for t in texts for w in t.split()} - {gen.NEAR_DUP_MARK}) == gen.VOCAB_SIZE


# ------------------------------------------------------------------ tracing


def test_union_length_and_self_time():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    tr = Tracer()
    with tr.span("outside"):
        pass
    assert tr.spans == []  # nothing is recorded outside an op
    with tr.op("k", 0):
        with tr.span("a"):
            with tr.span("b"):
                pass
    names = [s.name for s in tr.spans]
    assert names == ["op.k", "a", "b"]
    st = tr.self_times()
    total = tr.spans[0].end - tr.spans[0].start
    assert sum(st.values()) == pytest.approx(total)


def _bindings():
    """Every (module or class, attribute) -> object the wrappers touch,
    including names bound by ``from x import f`` in engine modules."""
    out = {}
    wrapped = [(o, a) for _, o, a, _, _ in layers.SPECS]
    wrapped += [(layers.table_format.Table, "commit"), (layers.retry, "retry_on_backoff")]
    for owner, attr in wrapped:
        orig = owner.__dict__[attr]
        out[(id(owner), attr)] = orig
        for name, m in list(sys.modules.items()):
            if name.startswith("olake_spark") and getattr(m, "__dict__", {}).get(attr) is orig:
                out[(id(m), attr)] = orig
    return out


def test_wrappers_restore_every_binding():
    before = _bindings()
    tr, patches = Tracer(), Patches()
    layers.install(tr, patches)
    # the copy clustering bound with ``from ... import`` is patched too
    from olake_spark.functions import partitioning
    from olake_spark.operators import clustering

    orig = before[(id(partitioning), "exact_range_partition")]
    assert clustering.exact_range_partition is not orig
    assert clustering.exact_range_partition.__wrapped__ is orig
    assert len(patches.installed()) == len(before)
    patches.undo()
    assert patches.installed() == []
    objs = {id(m): m for m in list(sys.modules.values()) if m is not None}
    objs.update({id(o): o for _, o, _, _, _ in layers.SPECS})
    objs[id(layers.table_format.Table)] = layers.table_format.Table
    for (oid, attr), orig in before.items():
        assert objs[oid].__dict__[attr] is orig, attr


def test_every_span_a_workload_expects_is_wrapped():
    wrapped = {name for name, *_ in layers.SPECS} | {"table.commit", "plans.retry"}
    for w in ("rewrite", "cdc", "curate"):
        assert layers.expected_spans(w) <= wrapped
        assert layers.expected_spans(w)
