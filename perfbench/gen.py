"""Seeded inputs for the workloads.

Everything here is a pure function of the seed: the sequence table
comes from the engine's own counter-based generator, and the CDC batch
stream and the document corpus are drawn from ``numpy`` generators
seeded with it. The engine only ever sees the generated files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from olake_spark.datagen import arrow_batch

MAX_TOK = 1024
# Token streams of an upserted row are drawn under this seed offset,
# so an update always changes the row's contents.
_VERSION_SALT = 1_000_003


def version_seed(seed: int, version: int) -> int:
    return seed + version * _VERSION_SALT


@dataclass
class Batch:
    """One CDC batch: ids to upsert (existing rows, new contents), ids
    to insert (new rows) and ids to delete, plus the parquet file the
    batch was written to and its size."""

    index: int
    upsert: np.ndarray
    insert: np.ndarray
    delete: np.ndarray
    path: str = ""
    nbytes: int = 0

    @property
    def rows(self) -> int:
        return len(self.upsert) + len(self.insert) + len(self.delete)


class CdcStream:
    """Seeded change stream over a table whose rows are the generator's
    ids ``0 .. base_rows - 1``.

    Small batches upsert keys skewed toward recently inserted ids, insert
    fresh ids and delete uniformly chosen ids; correction batches upsert
    and delete uniformly chosen ids. The stream tracks which ids are live
    and at which content version, so every batch is valid against the
    state the previous batches left behind."""

    def __init__(self, seed: int, base_rows: int):
        self.seed = seed
        self.rng = np.random.default_rng([seed, 0xCDC])
        self.live = np.arange(base_rows, dtype=np.int64)  # kept sorted
        self.version: dict[int, int] = {}
        self.next_id = base_rows
        self.count = 0

    def _pick(self, n: int, exclude: np.ndarray, recent: bool) -> np.ndarray:
        pool = np.setdiff1d(self.live, exclude, assume_unique=True)
        if recent:
            # position ~ (1 - u^3): most picks land in the newest ids
            u = self.rng.random(4 * n)
            pos = ((1.0 - u**3) * len(pool)).astype(np.int64)
            ids = np.unique(pool[np.minimum(pos, len(pool) - 1)])
            if len(ids) >= n:
                return self.rng.permutation(ids)[:n]
        return self.rng.choice(pool, size=n, replace=False)

    def next_batch(self, n_upsert: int, n_insert: int, n_delete: int,
                   recent: bool) -> Batch:
        none = np.empty(0, dtype=np.int64)
        upsert = np.sort(self._pick(n_upsert, none, recent))
        delete = np.sort(self._pick(n_delete, upsert, recent=False))
        insert = np.arange(self.next_id, self.next_id + n_insert, dtype=np.int64)
        self.next_id += n_insert
        self.live = np.union1d(np.setdiff1d(self.live, delete), insert)
        b = Batch(self.count, upsert, insert, delete)
        self.count += 1
        return b

    def write(self, batch: Batch, path: str) -> None:
        """Write the batch's rows, encoded alone, to one parquet file.

        Upserts carry new contents; inserts carry the generator's row;
        deletes carry the row's last contents and a ``_cdc_deleted_at``
        tombstone."""
        for i in batch.upsert:
            self.version[int(i)] = self.version.get(int(i), 0) + 1
        parts = []
        groups = [(batch.upsert, False), (batch.insert, False), (batch.delete, True)]
        for ids, deleted in groups:
            by_version: dict[int, list[int]] = {}
            for i in ids:
                by_version.setdefault(self.version.get(int(i), 0), []).append(int(i))
            for v, vids in sorted(by_version.items()):
                parts.append(self._rows(np.array(vids, dtype=np.int64), v, deleted))
        for i in batch.delete:
            self.version.pop(int(i), None)
        table = pa.concat_tables(parts)
        pq.write_table(table, path, compression="snappy")
        batch.path, batch.nbytes = path, os.path.getsize(path)

    def _rows(self, ids: np.ndarray, version: int, deleted: bool) -> pa.Table:
        base = arrow_batch(ids, self.seed, MAX_TOK)
        body = base if version == 0 else arrow_batch(
            ids, version_seed(self.seed, version), MAX_TOK
        )
        ts = pa.array(
            [1_700_000_000_000_000 + self.count] * len(ids) if deleted
            else [None] * len(ids),
            pa.timestamp("us", tz="UTC"),
        )
        return pa.Table.from_arrays(
            [base.column("doc_id"), body.column("tokens"), body.column("n_tok"),
             base.column("source"), ts],
            ["doc_id", "tokens", "n_tok", "source", "_cdc_deleted_at"],
        )


# ---------------------------------------------------------------- documents
#
# The corpus copies the shape of the engine's sample documents table
# (5000 docs): lengths uniform over 10..100 words, a vocabulary of 30
# words drawn with equal frequency, 5.0% of docs a copy of another doc
# with one marker word appended, 0.16% exact copies, 20 sources taken in
# turn, and no PII.

N_SOURCES = 20
VOCAB_SIZE = 30
MIN_WORDS, MAX_WORDS = 10, 100
NEAR_DUP_FRAC = 0.05
EXACT_DUP_FRAC = 0.0016
NEAR_DUP_MARK = "dup"
_SYLLABLES = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]


@dataclass
class Corpus:
    path: str
    n_docs: int
    nbytes: int
    exact_pairs: set[tuple[int, int]]
    near_pairs: set[tuple[int, int]]


def write_corpus(seed: int, n_docs: int, path: str) -> Corpus:
    """A synthetic corpus of ``n_docs`` documents with planted exact and
    near duplicates (recorded as ``(id_a, id_b)`` pairs with
    ``id_a < id_b``), written to one parquet file with the columns
    ``doc_id, text, source, n_chars``."""
    rng = np.random.default_rng([seed, 0xD0C])
    # two-syllable words; the seed picks which
    pick = rng.choice(len(_SYLLABLES) ** 2, size=VOCAB_SIZE, replace=False)
    base = len(_SYLLABLES)
    vocab = np.array([_SYLLABLES[i // base] + _SYLLABLES[i % base] for i in pick])
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_docs)
    words = vocab[rng.integers(0, VOCAB_SIZE, size=int(lengths.sum()))]
    docs = [" ".join(d) for d in np.split(words, np.cumsum(lengths)[:-1])]

    # a copy may itself be copied, as in the sample table
    kind = rng.random(n_docs)
    exact, near = set(), set()
    for i in range(1, n_docs):
        if kind[i] < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            j = int(rng.integers(0, i))
            if kind[i] < EXACT_DUP_FRAC:
                docs[i] = docs[j]
                exact.add((j, i))
            else:
                docs[i] = f"{docs[j]} {NEAR_DUP_MARK}"
                near.add((j, i))
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(docs, pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in docs], pa.int64()),
    })
    pq.write_table(table, path, compression="snappy")
    return Corpus(path, n_docs, os.path.getsize(path), exact, near)
