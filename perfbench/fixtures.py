"""Seeded generator of the benchmark's input tables.

Writes the three tables the ``curation`` queries read (``events
documents embeddings``), one single-row-group parquet file each, with
the schemas and value domains of the engine's fixture family: a sorted
event stream, word-soup documents from a 30-word vocabulary of which
5 % are near-copies of an earlier document, and unit-norm 64-d
embeddings drawn around ten weak class centres.

The same ``(scale, seed)`` always yields byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.43, 0.1425, 0.1425, 0.1425, 0.1425)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
TABLES = ("events", "documents", "embeddings")


def _day_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _pick(rng, choices, n, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def doc_text(rng, n_min: int = 10, n_max: int = 99) -> str:
    """One word-soup document of ``n_min..n_max`` vocabulary words."""
    return " ".join(rng.choice(VOCAB, int(rng.integers(n_min, n_max + 1))))


def row_counts(scale: float) -> dict[str, int]:
    return {
        "events": max(1, round(1_000_000 * scale)),
        "users": max(1, round(15_000 * scale)),
        # the text and vector tables stay at 500 rows up to sf0.01
        "documents": max(500, round(50_000 * scale)),
        "embeddings": max(500, round(20_000 * scale)),
    }


def build_tables(scale: float, seed: int = 42) -> dict[str, pa.Table]:
    """The tables as Arrow tables; each table draws from its own child
    stream of ``seed`` so one table's size never shifts another's values."""
    c = row_counts(scale)
    rngs = dict(zip(TABLES, (np.random.default_rng(s) for s in
                             np.random.SeedSequence(seed).spawn(len(TABLES)))))
    r, n = rngs["events"], c["events"]
    t0, t1 = _day_us("2024-01-01"), _day_us("2024-01-31")
    return {
        "events": pa.table({
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(np.sort(r.integers(t0, t1, n)), pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, c["users"], n), pa.int64()),
            "event_type": _pick(r, EVENT_TYPES, n),
            "value": np.maximum(np.round(r.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }),
        "documents": _documents(rngs["documents"], c["documents"]),
        "embeddings": _embeddings(rngs["embeddings"], c["embeddings"]),
    }


def _documents(r, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and r.random() < 0.05:
            # near-copy of an earlier document, marked by a trailing word
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(doc_text(r))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(r, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings(r, n: int, dim: int = 64, classes: int = 10) -> pa.Table:
    centres = r.normal(0.0, 0.15, (classes, dim))
    label = r.integers(0, classes, n)
    x = centres[label] + r.normal(0.0, 1.0, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _marker(scale: float, seed: int) -> str:
    return f"scale={scale} seed={seed} tables={','.join(TABLES)}\n"


def write_fixture(out_dir: str, scale: float, seed: int = 42) -> None:
    """Write every table to ``out_dir/<table>.parquet`` (one row group,
    like the engine's fixtures), then a ``_COMPLETE`` marker so a run
    cut short mid-write is regenerated, not read."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    with open(os.path.join(out_dir, "_COMPLETE"), "w") as f:
        f.write(_marker(scale, seed))


def ensure_fixture(out_dir: str, scale: float, seed: int = 42) -> str:
    try:
        with open(os.path.join(out_dir, "_COMPLETE")) as f:
            complete = f.read() == _marker(scale, seed)
    except FileNotFoundError:
        complete = False
    if not complete:
        write_fixture(out_dir, scale, seed)
    return out_dir
