"""Seeded input generators.

Every input the benchmark feeds the library comes from here, drawn
from ``numpy.random.default_rng(seed)``: the same seed gives the same
rows, byte for byte, and :class:`Checksum` records a digest of them.
Items follow a Zipf law over a fixed vocabulary, the skew that makes
heavy hitters worth sketching.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 1_000_000


class ZipfItems:
    """Draws (category, item id) pairs. Each category ranks the
    vocabulary in its own order, so categories have different heavy
    hitters."""

    def __init__(self, rng: np.random.Generator, exponent: float, categories: int):
        weights = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** exponent
        self.cdf = np.cumsum(weights)
        self.cdf /= self.cdf[-1]
        self.perm = rng.permutation(VOCAB)
        self.categories = categories
        self.rng = rng

    def draw(self, rows: int) -> tuple[np.ndarray, np.ndarray]:
        ranks = np.searchsorted(self.cdf, self.rng.random(rows), side="right")
        ranks = np.minimum(ranks, VOCAB - 1)
        cats = self.rng.integers(0, self.categories, rows, dtype=np.int32)
        ids = (self.perm[ranks] + cats.astype(np.int64) * 50_021) % VOCAB
        return cats, ids


def item_names(ids: np.ndarray) -> np.ndarray:
    """The string items the library sees: ``i0001234``."""
    return np.char.mod("i%07d", ids)


class Checksum:
    """SHA-256 over every generated array, in generation order."""

    def __init__(self) -> None:
        self._h = hashlib.sha256()

    def add(self, *arrays: np.ndarray) -> None:
        for a in arrays:
            self._h.update(np.ascontiguousarray(a).tobytes())

    def hexdigest(self) -> str:
        return self._h.hexdigest()[:16]


def write_events(path: str, columns: dict[str, np.ndarray]) -> None:
    """One parquet file of raw events; ``item`` ids become strings."""
    table = {}
    for name, values in columns.items():
        table[name] = pa.array(item_names(values) if name == "item" else values)
    pq.write_table(pa.table(table), path)
