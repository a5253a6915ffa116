"""Seeded generator for the benchmark's input tables.

Writes the tables the benchmark's queries read (``events documents
embeddings``), one parquet file each, with the schemas of the test fixtures
(FIXTURES.md).  The same seed and sizes give the same tables, and the DuckDB
oracle reads exactly the files Spark reads.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "the a join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EMBED_DIM = 64
US_PER_DAY = 86_400_000_000
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
EVENT_SPAN_US = 30 * US_PER_DAY
DUP_SHARE = 0.05  # share of documents copying an earlier one, one word changed


@dataclass(frozen=True)
class Sizes:
    """Row counts of the generated tables."""

    events: int
    users: int
    documents: int
    embeddings: int


def _ts_ns(ns: np.ndarray) -> pa.Array:
    """TIMESTAMP(NANOS), the unit ``sources.load_table`` and the streaming
    events reader convert ns -> us: written so that fix-up runs."""
    return pa.array(ns.astype("int64"), pa.int64()).cast(pa.timestamp("ns"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, s: Sizes) -> dict:
    """Build every table in memory as a ``pyarrow.Table``."""
    rng = np.random.default_rng(seed)
    out = {}
    # events arrive in event-time order, as in the fixtures; about 66 per
    # user over 30 days, so most 30-minute sessions hold a single event
    # with sub-microsecond digits, so the ns -> us truncation matters
    ts_ns = EVENT_EPOCH_US * 1000 + np.sort(rng.integers(0, EVENT_SPAN_US * 1000, s.events))
    out["events"] = pa.table(
        {
            "event_id": np.arange(s.events, dtype="int64"),
            "ts": _ts_ns(ts_ns),
            "user_id": rng.integers(0, s.users, s.events),
            "event_type": rng.choice(EVENT_TYPES, s.events).tolist(),
            "value": _money(rng, 0.01, 490.02, s.events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
        }
    )
    out["documents"] = _documents(rng, s)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    label = rng.integers(0, 10, s.embeddings)
    vec = centers[label] + rng.normal(0.0, 1.5, (s.embeddings, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(s.embeddings, dtype="int64"),
            "embedding": pa.array(list(vec.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    return out


def _exact(rng, values, shares, n):
    """``n`` values in the given shares, exactly, in a seeded order: how
    much work a query does should not change with the seed."""
    counts = [int(round(p * n)) for p in shares]
    counts[0] += n - sum(counts)
    return rng.permutation(np.repeat(np.array(values), counts)).tolist()


def _documents(rng, s: Sizes) -> pa.Table:
    texts = []
    dup = _exact(rng, (False, True), (1 - DUP_SHARE, DUP_SHARE), s.documents)
    for i in range(s.documents):
        if texts and dup[i]:
            words = texts[rng.integers(0, len(texts))].split()
            words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 100))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(s.documents, dtype="int64"),
            "text": texts,
            "lang": _exact(rng, LANGS, LANG_P, s.documents),
            "source": [f"src{i % 20}" for i in range(s.documents)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def write(seed: int, s: Sizes, out_dir: str, names) -> dict:
    """Write the named tables under ``out_dir`` as ``<name>.parquet`` and
    return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(seed, s).items():
        if name in names:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
            rows[name] = table.num_rows
    return rows
