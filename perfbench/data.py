"""Seeded inputs for the benchmark workloads.

Every table is generated from ``numpy.random.default_rng(seed)`` with
the shapes of the synthetic dataset the registry queries are written
against (same columns, types, vocabularies and value ranges), so one
seed always yields byte-identical parquet files and the library only
ever sees the generated files.

Row counts scale with ``sf`` from the sf1 sizes below: sf0.1 gives
5,000 documents, 2,000 embeddings, 15,000 customers and 100,000
events over 1,500 users.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF1_ROWS = {"documents": 50_000, "embeddings": 20_000, "customer": 150_000, "events": 1_000_000}
SF1_USERS = 15_000

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EMBED_DIM = 64
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 UTC
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def _rows(sf: float, table: str) -> int:
    return max(1, int(round(SF1_ROWS[table] * sf)))


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """10-100 tokens drawn uniformly from a 31-word vocabulary, a few
    verbatim duplicates, 20 equal-sized sources."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    toks = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(t) for t in np.split(toks, cuts)]
    for i in rng.choice(n, size=max(1, n // 1000), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 Gaussian vectors with a random label 0-9."""
    e = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(e), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def customer(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": pa.array(keys),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, len(SEGMENTS), n)]),
        }
    )


def events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """Events sorted by a uniform timestamp over 30 days, uniform users."""
    ts = np.sort(EPOCH_US + rng.integers(0, EVENTS_SPAN_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float, names: tuple[str, ...]) -> dict[str, int]:
    """Write the named tables as ``<out_dir>/<name>.parquet``; returns
    their row counts. Each table draws from its own child stream of
    the seed, so the set of tables written does not change any one."""
    os.makedirs(out_dir, exist_ok=True)
    streams = dict(zip(SF1_ROWS, np.random.SeedSequence(seed).spawn(len(SF1_ROWS))))
    counts = {}
    for name in names:
        rng = np.random.default_rng(streams[name])
        n = _rows(sf, name)
        if name == "events":
            tbl = events(rng, n, max(1, int(round(SF1_USERS * sf))))
        else:
            tbl = {"documents": documents, "embeddings": embeddings, "customer": customer}[name](rng, n)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


@dataclass(frozen=True)
class Tape:
    """A stream of keyed events cut into files, one per micro-batch.

    Event time advances by ``step_ms`` per event; each event's time is
    pulled back by up to ``jitter_ms`` (< the watermark delay), so
    events arrive out of order but never behind the watermark. Keys
    follow a Zipf-like law over ``keys`` values, so a few keys are hot.
    """

    files: list[pa.Table]

    @property
    def n_events(self) -> int:
        return sum(f.num_rows for f in self.files)


def tape(
    seed: int,
    n_files: int,
    events_per_file: int,
    keys: int,
    step_ms: int = 10,
    jitter_ms: int = 2_000,
    zipf_s: float = 1.1,
) -> Tape:
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    weights = 1.0 / np.arange(1, keys + 1) ** zipf_s
    weights /= weights.sum()
    perm = rng.permutation(keys)  # the hot keys are not the smallest ids
    n = n_files * events_per_file
    idx = np.arange(n, dtype=np.int64)
    t_ms = EPOCH_US // 1000 + idx * step_ms - rng.integers(0, jitter_ms, n)
    tbl = pa.table(
        {
            "id": pa.array(idx),
            "k": pa.array(perm[rng.choice(keys, n, p=weights)].astype(np.int64)),
            "v": pa.array(rng.integers(0, 1000, n).astype(np.int64)),
            "ts": pa.array((t_ms * 1000).astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
        }
    )
    return Tape([tbl.slice(f * events_per_file, events_per_file) for f in range(n_files)])
