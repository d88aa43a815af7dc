"""Seeded input generation.

Every workload input is drawn from ``numpy.random.default_rng(seed)`` and
written as parquet under the run directory, in the schemas of the
repository's TPC-H-ish test tables (``events``, ``lineitem``,
``documents``, ``embeddings``). The same seed gives byte-identical
inputs; the program under test only ever sees the generated files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. Each run of a workload fits in well under a minute on 4 cores,
# session start included; all inputs fit in memory.
EVENTS_BATCHES = 16  # micro-batch commits per ingest cycle
EVENTS_BATCH_ROWS = 1000  # mean rows per micro-batch
EVENTS_DAYS = 12
LINEITEM_ROWS = 30_000
DOCUMENTS = 600
EMBEDDINGS = 300
EMBEDDING_DIM = 64

_EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
_VOCAB = np.array(
    "a the spark table stream merge window column row data scan filter join "
    "group agg sort hash key value order part line customer vector query "
    "batch fast slow big small".split()
)
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


@dataclass(frozen=True)
class IngestPlan:
    """Events sorted by ``ts`` and the row offsets of each micro-batch."""

    events: pa.Table
    bounds: list[tuple[int, int]]


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def events(rng: np.random.Generator) -> IngestPlan:
    """``EVENTS_BATCHES × EVENTS_BATCH_ROWS`` events in ``ts`` order, cut
    into batches whose sizes vary by up to ±50 % around the mean (the
    total is fixed, so the seed moves batch boundaries, not the volume)."""
    n = EVENTS_BATCHES * EVENTS_BATCH_ROWS
    weights = rng.uniform(0.5, 1.5, EVENTS_BATCHES)
    ends = np.round(np.cumsum(weights) / weights.sum() * n).astype(np.int64)
    sizes = np.diff(ends, prepend=0)
    span_us = EVENTS_DAYS * 86_400 * 1_000_000
    ts = _EPOCH_2024 + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 2_000, n, dtype=np.int64)),
            "event_type": pa.array(_EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.uniform(0, 200, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    bounds = [(int(e - s), int(e)) for s, e in zip(sizes, ends)]
    return IngestPlan(table, bounds)


def lineitem(rng: np.random.Generator, rows: int = LINEITEM_ROWS) -> pa.Table:
    """``lineitem`` plus a unique synthetic ``l_rowid`` (TPC-H's
    (l_orderkey, l_linenumber) is not unique in the test data, which a
    MERGE keyed on it rejects as a cardinality violation)."""
    days = rng.integers(0, 366, rows)  # l_shipdate within 1992
    ship = np.datetime64("1992-01-01", "D") + days.astype("timedelta64[D]")
    qty = rng.integers(1, 51, rows).astype(np.float64)
    return pa.table(
        {
            "l_rowid": pa.array(np.arange(rows, dtype=np.int64)),
            "l_orderkey": pa.array(rng.integers(1, rows // 4 + 2, rows, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(1, 20_001, rows, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(1, 1_001, rows, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, rows).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2_100, rows), 2)),
            "l_discount": pa.array(rng.integers(0, 11, rows) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, rows) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, rows)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, rows)]),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )


def documents(rng: np.random.Generator) -> pa.Table:
    """Bag-of-words documents over a 31-word vocabulary, 10–100 tokens;
    one in ten is a lightly edited copy of an earlier document, so the
    near-duplicate operators have pairs to find."""
    texts: list[str] = []
    for i in range(DOCUMENTS):
        if i >= 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(toks) // 10)):
                toks[int(rng.integers(0, len(toks)))] = str(_VOCAB[rng.integers(0, len(_VOCAB))])
        else:
            toks = list(_VOCAB[rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))])
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(DOCUMENTS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(_LANGS[rng.integers(0, len(_LANGS), DOCUMENTS)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, DOCUMENTS)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(rng: np.random.Generator) -> pa.Table:
    """Unit-norm float32 vectors drawn around ten weak label centres."""
    centres = rng.normal(size=(10, EMBEDDING_DIM))
    labels = rng.integers(0, 10, EMBEDDINGS)
    x = rng.normal(size=(EMBEDDINGS, EMBEDDING_DIM)) + 0.35 * centres[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(EMBEDDINGS, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
