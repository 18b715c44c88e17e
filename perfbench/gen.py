"""Seeded input generator for the benchmark.

Everything the program reads is written here, from ``numpy``'s
``default_rng(seed)`` only: the same seed gives byte-identical tables,
arrival files and request streams. The program sees only these files.

Tables follow the testdata schemas the engine's catalog reads
(``events``, ``customer``, ``nation``, ``documents``, ``embeddings``).
The corpus tables are built as copies of a seeded base corpus. Each key
domain gets ONE shared span (``max(key) + 1`` over every table that
carries the key), so copy ``c`` of any row shifts its key by
``c * span`` in every table alike. Copies relabel their content words
with a per-copy seeded suffix, so a copy's documents are not
near-duplicates of another copy's; the exact and near duplicates planted
in the base corpus repeat inside each copy.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Word list of the generated documents (the testdata vocabulary).
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window spark part group big "
    "sort query fast"
).split()
#: Left unchanged by per-copy relabelling: the quality filter counts them.
STOPWORDS = ("the", "a")
LANGS = ("en", "zh", "es", "de", "fr")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
DIM = 64
N_LABELS = 10
N_NATIONS = 25
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400_000_000  # events cover 30 days


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one generated data set."""

    events: int = 0
    users: int = 0
    arrival_files: int = 0
    base_docs: int = 0
    base_vecs: int = 0
    copies: int = 1


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def events_table(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """``events`` in event-time order (``event_id`` ascending = ``ts``
    ascending, as in testdata)."""
    ts = np.sort(rng.integers(0, SPAN_US, n)) + EPOCH_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(
                np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]
            ),
            "value": pa.array(
                np.round(rng.exponential(50.0, n), 2) + 0.01, pa.float64()
            ),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]
            ),
        }
    )


def dimension_tables(rng: np.random.Generator, users: int) -> dict[str, pa.Table]:
    """``customer`` (one row per user id) and ``nation``."""
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(N_NATIONS, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i:02d}" for i in range(N_NATIONS)]),
            "n_regionkey": pa.array(np.arange(N_NATIONS, dtype=np.int32) % 5),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(users, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(users)]),
            "c_nationkey": pa.array(
                rng.integers(0, N_NATIONS, users).astype(np.int32)
            ),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, users), 2)),
            "c_mktsegment": pa.array(
                np.asarray(["AUTO", "BUILD", "FURN", "HOUSE", "MACH"], dtype=object)[
                    rng.integers(0, 5, users)
                ]
            ),
        }
    )
    return {"customer": customer, "nation": nation}


def base_documents(rng: np.random.Generator, n: int) -> list[list[str]]:
    """Token lists of the base corpus: random texts plus planted exact
    duplicates (5%) and near duplicates (10%, two words replaced and a
    ``dup`` marker) of earlier documents."""
    words = np.asarray(list(VOCAB) + list(STOPWORDS), dtype=object)
    docs: list[list[str]] = []
    for i in range(n):
        kind = rng.random()
        if i > 10 and kind < 0.05:
            docs.append(list(docs[int(rng.integers(0, i))]))
        elif i > 10 and kind < 0.15:
            d = list(docs[int(rng.integers(0, i))])
            for _ in range(2):
                d[int(rng.integers(0, len(d)))] = str(words[rng.integers(0, len(words))])
            docs.append(d + ["dup"])
        else:
            docs.append(list(words[rng.integers(0, len(words), int(rng.integers(8, 90)))]))
    return docs


def base_embeddings(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Unit vectors around ``N_LABELS`` random centres; returns
    ``(vectors float32 (n, DIM), labels int32)``."""
    centres = rng.normal(size=(N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    v = centres[labels] + rng.normal(scale=0.9, size=(n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels


def corpus_tables(rng: np.random.Generator, sizes: Sizes) -> tuple[dict[str, pa.Table], np.ndarray]:
    """``documents`` and ``embeddings`` as ``sizes.copies`` copies of a
    seeded base corpus; also returns the full embedding matrix (row i =
    ``vec_id`` i) for exact top-k checks."""
    docs = base_documents(rng, sizes.base_docs)
    vecs, labels = base_embeddings(rng, sizes.base_vecs)
    doc_span = sizes.base_docs  # one span for the doc_id domain
    vec_span = sizes.base_vecs  # one span for the vec_id domain
    letters = "bcdfghjklmnpqrstvwxz"
    # distinct two-letter suffixes, one per copy after the first
    codes = rng.choice(len(letters) ** 2, max(sizes.copies - 1, 0), replace=False)
    d_ids, d_text, d_lang, d_src = [], [], [], []
    v_ids, v_rows, v_labels = [], [], []
    for c in range(sizes.copies):
        # Per-copy suffix on content words: shingles of different copies
        # never coincide, so copies are not near-duplicates of each other.
        suffix = "" if c == 0 else "".join(letters[d] for d in divmod(int(codes[c - 1]), 20))
        for i, toks in enumerate(docs):
            d_ids.append(i + c * doc_span)
            d_text.append(
                " ".join(t if t in STOPWORDS else t + suffix for t in toks)
            )
            d_lang.append(LANGS[(i * 7 + c) % len(LANGS)])
            d_src.append(f"src{(i + c) % 5}")
        noise = rng.normal(scale=0.05, size=vecs.shape) if c else 0.0
        rows = vecs + noise
        rows /= np.linalg.norm(rows, axis=1, keepdims=True)
        v_ids.append(np.arange(sizes.base_vecs, dtype=np.int64) + c * vec_span)
        v_rows.append(rows.astype(np.float32))
        v_labels.append(labels)
    matrix = np.concatenate(v_rows)
    documents = pa.table(
        {
            "doc_id": pa.array(d_ids, pa.int64()),
            "text": pa.array(d_text),
            "lang": pa.array(d_lang),
            "source": pa.array(d_src),
            "n_chars": pa.array([len(t) for t in d_text], pa.int64()),
        }
    )
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.concatenate(v_ids)),
            "embedding": pa.array(list(matrix), pa.list_(pa.float32())),
            "label": pa.array(np.concatenate(v_labels)),
        }
    )
    return {"documents": documents, "embeddings": embeddings}, matrix


def write_arrivals(events: pa.Table, out_dir: str, n_files: int) -> None:
    """Split ``events`` (already in event-time order) into ``n_files``
    contiguous parquet arrival files, mtime-stamped in order so a file
    source with ``maxFilesPerTrigger=1`` replays them oldest first."""
    os.makedirs(out_dir, exist_ok=True)
    n = events.num_rows
    base = time.time() - 86_400
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(events.slice(lo, hi - lo), p)
        os.utime(p, (base + i, base + i))


@dataclass
class DataSet:
    """Paths and sizes of one generated data set."""

    tables_dir: str
    rows: dict[str, int]
    bytes: dict[str, int]
    vectors: np.ndarray | None = None  # embedding matrix, row i = vec_id i
    arrivals_dir: str | None = None
    mongo: str | None = None  # rendered logs (set by the log workload)
    mysql: str | None = None


def generate(root: str, seed: int, sizes: Sizes) -> DataSet:
    """Write one data set under ``root`` (``tables/`` holds the catalog
    tables; ``arrivals/`` the event arrival files when requested).

    Log files are rendered later by the engine's own
    ``loggen.ensure_*_log`` from ``tables/events.parquet``."""
    rng = np.random.default_rng(seed)
    tables_dir = os.path.join(root, "tables")
    rows: dict[str, int] = {}
    nbytes: dict[str, int] = {}
    ds = DataSet(tables_dir=tables_dir, rows=rows, bytes=nbytes)
    if sizes.events:
        ev = events_table(rng, sizes.events, sizes.users)
        tables = {"events": ev, **dimension_tables(rng, sizes.users)}
        for name, t in tables.items():
            rows[name] = t.num_rows
            nbytes[name] = _write(t, os.path.join(tables_dir, f"{name}.parquet"))
        if sizes.arrival_files:
            ds.arrivals_dir = os.path.join(root, "arrivals")
            write_arrivals(ev, ds.arrivals_dir, sizes.arrival_files)
    if sizes.base_docs:
        tables, ds.vectors = corpus_tables(rng, sizes)
        for name, t in tables.items():
            rows[name] = t.num_rows
            nbytes[name] = _write(t, os.path.join(tables_dir, f"{name}.parquet"))
    return ds


def request_stream(seed: int, n_vecs: int, batch: int, n: int) -> list[list[int]]:
    """``n`` request batches of ``batch`` distinct query ids, seeded."""
    rng = np.random.default_rng([seed, 7])
    return [
        sorted(int(x) for x in rng.choice(n_vecs, batch, replace=False))
        for _ in range(n)
    ]
