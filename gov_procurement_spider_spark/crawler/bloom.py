"""Broadcast Bloom filter for the URL-seen set (SURVEY §4.3).

The reference keeps `set(all_detail_links)` in driver memory (main.py:111);
at 10^10 URLs that set is ~terabytes, but a 1%-fpr Bloom filter is ~12 GB —
or ~1.2 GB at 1e10 keys with k=7 — which broadcasts once per epoch and lets
the definitely-new fast path skip the exact anti-join entirely. Correctness
is preserved because Bloom *positives* (maybe-seen) still go through the
exact LEFT ANTI JOIN against the persisted `seen` table; only definite
negatives bypass it, and the filter has no false negatives.

Pure numpy bit array; double-hashing (h1 + i*h2) over the 60-bit URL hash,
so adding keys is vectorized and the structure serializes to one .npz per
epoch checkpoint. Every crawl starts with this filter: until something
expires the seen set is append-only, and Bloom holds it in fewer bits per
key (~9.6 at the 1% target) than a cuckoo filter's 16-bit fingerprints.
Bloom cannot forget, so the crawl's first expiry that removes a url
replaces it by a cuckoo filter (crawler/cuckoo.py; plans/crawl.py
`_commit_epoch`, the north rule's fallback).
"""

from __future__ import annotations

import math

import numpy as np

_MIX = np.uint64(0x9E3779B97F4A7C15)
# per-byte popcount lookup (numpy < 2 has no bitwise_count)
_POPCNT = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(
    axis=1, dtype=np.int64
)


class BloomFilter:
    def __init__(self, n_expected: int, fpr: float = 0.01):
        n_expected = max(n_expected, 1)
        m = max(64, int(-n_expected * math.log(fpr) / (math.log(2) ** 2)))
        self.m = ((m + 63) // 64) * 64
        self.k = max(1, round(m / n_expected * math.log(2)))
        self.bits = np.zeros(self.m // 8, dtype=np.uint8)

    @classmethod
    def empty_like(cls, other: "BloomFilter") -> "BloomFilter":
        """A zeroed filter with ``other``'s exact geometry (m, k): the
        per-partition partial of the distributed build (partials must
        share it to merge)."""
        bf = cls.__new__(cls)
        bf.m, bf.k = other.m, other.k
        bf.bits = np.zeros_like(other.bits)
        return bf

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        """Union with a filter of the same geometry: OR its bits in."""
        self.bits |= other.bits
        return self

    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        """(len(hashes), k) bit positions via double hashing, vectorized."""
        h = hashes.astype(np.uint64)
        h1 = h
        h2 = (h ^ (h >> np.uint64(33))) * _MIX | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[None, :]
        return ((h1[:, None] + i * h2[:, None]) % np.uint64(self.m)).astype(np.int64)

    def add_many(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        pos = self._positions(np.asarray(hashes)).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def maybe_contains(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership: True = maybe seen, False = definitely new."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(np.asarray(hashes))
        byte = self.bits[pos >> 3]
        return ((byte >> (pos & 7).astype(np.uint8)) & 1).all(axis=1)

    def fill_fraction(self, max_bytes: int = 1 << 22) -> float:
        """Fraction of set bits — the saturation gauge recorded per epoch
        manifest (false-positive rate ≈ fill^k). Bloom bit positions are
        hash-uniform, so a strided byte sample is an unbiased estimator:
        the per-epoch gauge never scans more than ``max_bytes`` (4 MB) of
        a 10^10-bit (1.25 GB) bitmap — a full driver-side popcount per
        commit would be seconds of serial overhead (round-4 review
        finding). Exact whenever the bitmap fits the budget. Stride is
        CEILING division — floor let a bitmap just under 2·max_bytes scan
        fully, breaking the stated bound (round-4 ADVICE)."""
        stride = max(1, -(-len(self.bits) // max_bytes))
        sample = self.bits[::stride]
        total = int(_POPCNT[sample].sum(dtype=np.int64))
        return total / float(len(sample) * 8)

    def save(self, path: str) -> None:
        """Uncompressed: a bitmap near its design fill is random bits, which
        deflate does not shrink and saves at a fraction of disk speed."""
        np.savez(path, kind="bloom", bits=self.bits, m=self.m, k=self.k)

    @classmethod
    def load(cls, path: str) -> "BloomFilter":
        z = np.load(path)
        bf = cls.__new__(cls)
        bf.m, bf.k, bf.bits = int(z["m"]), int(z["k"]), z["bits"]
        return bf
