"""Seeded document stream for the ``ingest`` workload.

Documents arrive in ``doc_id`` order, split into micro-batches. From the
second batch on, each batch also carries near-copies of documents from
earlier batches: the original text plus one appended vocabulary word,
under a new, larger id. An appended word adds one shingle, so a copy of
an original of at least ``MIN_COPY_WORDS`` words keeps an exact 3-gram
Jaccard of at least 0.97 with it — far above the ingest's 0.35
threshold and, at 8 bands of 2 rows, a chance below 1e-10 that banding
misses the pair.

The same seed always gives byte-identical batches (``to_bytes``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np

from fixtures import VOCAB, doc_text

MIN_COPY_WORDS = 40


@dataclass
class DocStream:
    batches: list[list[tuple[int, str]]]
    # copy id -> id of the original it repeats
    copies: dict[int, int] = field(default_factory=dict)

    def docs(self) -> list[tuple[int, str]]:
        return [d for b in self.batches for d in b]

    def to_bytes(self) -> bytes:
        return json.dumps(
            {"batches": self.batches, "copies": sorted(self.copies.items())},
            separators=(",", ":"),
        ).encode()


def make_stream(
    seed: int, n_batches: int, batch_size: int, copies_per_batch: int
) -> DocStream:
    """``n_batches`` batches of ``batch_size`` fresh documents each, plus
    ``copies_per_batch`` near-copies in every batch after the first."""
    rng = np.random.default_rng(seed)
    originals: list[tuple[int, str]] = []  # fresh docs long enough to copy
    batches: list[list[tuple[int, str]]] = []
    copies: dict[int, int] = {}
    next_id = 0
    for b in range(n_batches):
        items: list[tuple[str, int | None]] = [
            (doc_text(rng), None) for _ in range(batch_size)
        ]
        if b > 0:
            for k in rng.choice(len(originals), copies_per_batch, replace=False):
                oid, text = originals[int(k)]
                items.append((f"{text} {VOCAB[int(rng.integers(len(VOCAB)))]}", oid))
        batch = []
        for i in rng.permutation(len(items)):
            text, oid = items[int(i)]
            batch.append((next_id, text))
            if oid is None:
                if len(text.split()) >= MIN_COPY_WORDS:
                    originals.append((next_id, text))
            else:
                copies[next_id] = oid
            next_id += 1
        batches.append(batch)
    return DocStream(batches, copies)
