"""Cuckoo filter — the URL-seen prefilter variant that supports DELETION
(BASELINE.json north_rule: "broadcast Bloom filter (with cuckoo-filter
fallback for deletions)").

A Bloom filter (crawler/bloom.py) is the right seen-set prefilter while the
set is append-only; the moment the crawler needs *expiry* — recrawl TTLs,
robots policy changes invalidating previously-admitted URLs, GDPR-style
takedowns — Bloom cannot forget, and rebuilding a 10^10-key filter per
expiry batch is a full scan of the seen table. A cuckoo filter (Fan et al.,
"Cuckoo Filter: Practically Better Than Bloom", CoNEXT 2014 — public paper)
stores 16-bit fingerprints in 4-slot buckets with two candidate buckets per
key, giving the same no-false-negative / low-false-positive contract PLUS
O(1) deletion of individual keys. So a crawl pays that scan once: its first
expiry that removes a url builds this filter from the post-expiry seen view
in place of the Bloom filter (plans/crawl.py `_grow_cuckoo`), and every
later expiry deletes per key.

Same numpy-vectorized design rules as bloom.py: batch lookup is the Spark
hot path (broadcast into a pandas UDF, crawl.py), so ``maybe_contains`` is
pure array ops; ``add_many`` places whole batches per round via a
sorted-group rank trick and only rare eviction cascades fall back to a
bounded per-item loop; ``delete_many`` resolves same-bucket collisions by
iterating vectorized passes over unique buckets.

Deletion contract (standard for cuckoo filters): only delete keys that were
actually inserted — deleting a non-member can erase another key's
fingerprint. The crawler guarantees this by expiring only URLs present in
the exact `seen` table (plans/crawl.py drives expiry from that table, never
from user input).

Serialization matches BloomFilter: one uncompressed .npz per epoch
checkpoint with a ``kind`` field, on which a checkpoint loader dispatches.
"""

from __future__ import annotations

import numpy as np

_BUCKET_SLOTS = 4
_MAX_KICKS = 500
_FP_BITS = 16
# odd multiplier scrambles the fingerprint before XOR so i2 = i1 ^ s(fp)
# spreads across the table (partial-key cuckoo hashing; alt(alt(i)) == i)
_FP_MIX = np.uint64(0x5BD1E995)


def _next_pow2(n: int) -> int:
    return 1 << max(0, (n - 1).bit_length())


class CuckooFilter:
    """4-way, 16-bit-fingerprint cuckoo filter over int64 URL hashes."""

    @staticmethod
    def m_for(n_expected: int) -> int:
        """Bucket count for ``n_expected`` keys at the classic 95% safe
        load factor — usable without allocating a table (growth sizing)."""
        n_expected = max(int(n_expected), 1)
        return max(8, _next_pow2(int(np.ceil(n_expected / (_BUCKET_SLOTS * 0.95)))))

    def __init__(self, n_expected: int):
        self.m = self.m_for(n_expected)
        self.table = np.zeros((self.m, _BUCKET_SLOTS), dtype=np.uint16)
        self.fill = np.zeros(self.m, dtype=np.uint8)

    @classmethod
    def empty(cls, m: int) -> "CuckooFilter":
        """A zeroed filter with exactly ``m`` buckets — the per-partition
        unit of the distributed build (partials must share ``m`` to merge)."""
        cf = cls.__new__(cls)
        cf.m = m
        cf.table = np.zeros((m, _BUCKET_SLOTS), dtype=np.uint16)
        cf.fill = np.zeros(m, dtype=np.uint8)
        return cf

    @classmethod
    def empty_like(cls, other: "CuckooFilter") -> "CuckooFilter":
        """A zeroed filter with ``other``'s bucket count."""
        return cls.empty(other.m)

    # ---- key → (fingerprint, bucket) -------------------------------------
    def _fp_and_bucket(self, hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        h = np.asarray(hashes).astype(np.int64).view(np.uint64)
        fp = ((h >> np.uint64(40)) & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 is the empty sentinel
        i1 = (h & np.uint64(self.m - 1)).astype(np.int64)
        return fp, i1

    def _alt(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        s = (fp.astype(np.uint64) * _FP_MIX) & np.uint64(self.m - 1)
        return (idx.astype(np.uint64) ^ s).astype(np.int64)

    # ---- insert ----------------------------------------------------------
    def _place_batch(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        """Place whatever fits into buckets ``idx`` (compact: slots
        [0, fill) are occupied). Returns the boolean mask of placed items.
        Intra-batch same-bucket items get distinct slots via their rank
        within the sorted bucket group — one pass, no per-item loop."""
        n = len(idx)
        if n == 0:
            return np.zeros(0, dtype=bool)
        order = np.argsort(idx, kind="stable")
        sidx = idx[order]
        grp_start = np.r_[True, sidx[1:] != sidx[:-1]]
        starts = np.flatnonzero(grp_start)
        lens = np.diff(np.r_[starts, n])
        rank = np.arange(n) - np.repeat(starts, lens)  # pos within bucket group
        slot = self.fill[sidx].astype(np.int64) + rank
        ok = slot < _BUCKET_SLOTS
        self.table[sidx[ok], slot[ok]] = fp[order][ok]
        placed_per_bucket = np.bincount(sidx[ok], minlength=self.m).astype(np.uint8)
        self.fill += placed_per_bucket
        placed = np.zeros(n, dtype=bool)
        placed[order] = ok
        return placed

    def _insert(self, idx: np.ndarray, fp: np.ndarray) -> None:
        """Insert fingerprints whose CURRENT candidate bucket is ``idx``
        (the other candidate is derivable — partial-key symmetry). Batch
        rounds alternate between the two candidates; leftovers after both
        buckets are full go through the bounded eviction loop."""
        for _round in range(4):  # i1, i2, i1, i2 — alt(alt(i)) == i
            if len(idx) == 0:
                return
            placed = self._place_batch(idx, fp)
            idx, fp = idx[~placed], fp[~placed]
            idx = self._alt(idx, fp)
        # eviction cascades (rare below 95% load): per-item kicks with a
        # deterministic LCG choosing the victim slot — pseudo-random enough
        # to break eviction cycles (a fixed rotation can loop forever), yet
        # rebuilding the same key set yields the same table, no RNG state
        for j in range(len(idx)):
            cur, f = int(idx[j]), np.uint16(fp[j])
            state = (int(f) << 32) ^ cur
            for _kick in range(_MAX_KICKS):
                if self.fill[cur] < _BUCKET_SLOTS:
                    self.table[cur, self.fill[cur]] = f
                    self.fill[cur] += 1
                    break
                state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
                v = (state >> 62) & 3
                f, self.table[cur, v] = self.table[cur, v], f
                cur = int(self._alt(np.array([cur]), np.array([f]))[0])
            else:
                raise RuntimeError(
                    f"cuckoo filter full (load {self.load_factor():.2f}): "
                    "size it for the expected key count"
                )

    def add_many(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        fp, i1 = self._fp_and_bucket(hashes)
        self._insert(i1, fp)

    # ---- lookup (the Spark hot path) -------------------------------------
    def maybe_contains(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership: True = maybe seen, False = definitely new.
        No false negatives for inserted-and-not-deleted keys."""
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1 = self._fp_and_bucket(hashes)
        i2 = self._alt(i1, fp)
        hit1 = (self.table[i1] == fp[:, None]).any(axis=1)
        hit2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    # ---- delete ----------------------------------------------------------
    def delete_many(self, hashes: np.ndarray) -> np.ndarray:
        """Delete one stored occurrence per key; returns the mask of keys
        found (False = was not in the filter — with the members-only
        contract that means it was already deleted). Same-bucket collisions
        within the batch are resolved by vectorized passes over unique
        buckets, so two deletes never race for one slot."""
        n = len(hashes)
        if n == 0:
            return np.zeros(0, dtype=bool)
        fp, i1 = self._fp_and_bucket(hashes)
        i2 = self._alt(i1, fp)
        removed = np.zeros(n, dtype=bool)
        pending = np.arange(n)
        while len(pending):
            pfp = fp[pending]
            # prefer the bucket that actually holds the fingerprint
            in1 = (self.table[i1[pending]] == pfp[:, None]).any(axis=1)
            in2 = (self.table[i2[pending]] == pfp[:, None]).any(axis=1)
            found = in1 | in2
            tgt = np.where(in1, i1[pending], i2[pending])
            act = found.nonzero()[0]
            if len(act) == 0:
                break
            # one delete per bucket per pass
            _, first = np.unique(tgt[act], return_index=True)
            act = act[first]
            bidx, dfp = tgt[act], pfp[act]
            match = self.table[bidx] == dfp[:, None]
            slot = match.argmax(axis=1)
            last = self.fill[bidx].astype(np.int64) - 1
            tbl = self.table  # compact: move last occupant into the hole
            tbl[bidx, slot] = tbl[bidx, last]
            tbl[bidx, last] = 0
            self.fill[bidx] -= 1
            removed[pending[act]] = True
            keep = np.ones(len(pending), dtype=bool)
            keep[act] = False
            pending = pending[keep]
        return removed

    # ---- merge (distributed build: per-partition filters, tree-merged) ---
    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        """Union by re-inserting the other's occupied slots — sound because
        a stored (bucket, fingerprint) pair is exactly the information a
        fresh insert needs (the alternate bucket is derivable). Both filters
        must share ``m``."""
        assert other.m == self.m, "cuckoo merge requires equal table sizes"
        occ = np.repeat(np.arange(other.m), other.fill.astype(np.int64))
        slot = _occupied_slots(other.fill)
        self._insert(occ.astype(np.int64), other.table[occ, slot])
        return self

    # ---- introspection / io ---------------------------------------------
    def __len__(self) -> int:
        return int(self.fill.astype(np.int64).sum())

    @property
    def capacity(self) -> int:
        return self.m * _BUCKET_SLOTS

    def load_factor(self) -> float:
        return len(self) / float(self.capacity)

    def save(self, path: str) -> None:
        np.savez(path, kind="cuckoo", table=self.table, m=self.m)

    @classmethod
    def load(cls, path: str) -> "CuckooFilter":
        z = np.load(path)
        cf = cls.__new__(cls)
        cf.m = int(z["m"])
        cf.table = z["table"]
        cf.fill = (cf.table != 0).sum(axis=1).astype(np.uint8)
        return cf


def _occupied_slots(fill: np.ndarray) -> np.ndarray:
    """For compact buckets, the slot index of every occupied cell, aligned
    with np.repeat(arange(m), fill)."""
    total = int(fill.astype(np.int64).sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    ends = np.cumsum(fill.astype(np.int64))
    starts = ends - fill.astype(np.int64)
    return np.arange(total) - np.repeat(starts, fill.astype(np.int64))
