"""Cuckoo filter unit tests (north rule: deletion-capable seen-set
prefilter). Pure numpy — no SparkSession."""

from __future__ import annotations

import os
import tempfile
import zipfile

import numpy as np
import pytest

from gov_procurement_spider_spark.crawler.bloom import BloomFilter
from gov_procurement_spider_spark.crawler.cuckoo import CuckooFilter


def _keys(n: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    # distinct int64 "url hashes" (the 60-bit hash space url_hash64 uses)
    ks = rng.choice(np.int64(1) << 60, size=n * 2, replace=False)[:n]
    return ks.astype(np.int64)


def test_no_false_negatives():
    keys = _keys(50_000)
    cf = CuckooFilter(len(keys))
    cf.add_many(keys)
    assert cf.maybe_contains(keys).all()
    assert len(cf) == len(keys)


def test_false_positive_rate_low():
    keys = _keys(50_000, seed=1)
    other = _keys(50_000, seed=2)
    other = other[~np.isin(other, keys)]
    cf = CuckooFilter(len(keys))
    cf.add_many(keys)
    fpr = cf.maybe_contains(other).mean()
    # 16-bit fingerprints, 4-slot buckets: theory ≈ 8/2^16 ≈ 0.012%
    assert fpr < 0.005, fpr


def test_delete_then_absent_and_no_collateral():
    keys = _keys(20_000, seed=3)
    cf = CuckooFilter(len(keys))
    cf.add_many(keys)
    gone, kept = keys[:5_000], keys[5_000:]
    removed = cf.delete_many(gone)
    assert removed.all()  # members-only contract: every delete finds its key
    # remaining keys MUST still be present (no collateral false negatives)
    assert cf.maybe_contains(kept).all()
    # deleted keys are overwhelmingly absent (a residual hit is a true
    # false-positive aliasing another key's fingerprint, bounded by fpr)
    assert cf.maybe_contains(gone).mean() < 0.005
    assert len(cf) == len(kept)


def test_delete_same_bucket_collisions():
    """Many keys forced into few buckets: batch deletes that target the same
    bucket must resolve across passes, not race for one slot."""
    keys = _keys(2_000, seed=4)
    cf = CuckooFilter(256)  # small table (128 buckets) → heavy bucket sharing
    keys = keys[:150]
    cf.add_many(keys)
    assert cf.delete_many(keys).all()
    assert len(cf) == 0
    assert not cf.maybe_contains(keys).any()


def test_reinsert_after_delete():
    keys = _keys(1_000, seed=5)
    cf = CuckooFilter(len(keys))
    cf.add_many(keys)
    cf.delete_many(keys[:100])
    cf.add_many(keys[:100])
    assert cf.maybe_contains(keys).all()


def test_merge_equals_single_build():
    keys = _keys(30_000, seed=6)
    whole = CuckooFilter(len(keys))
    whole.add_many(keys)
    a = CuckooFilter(len(keys))
    b = CuckooFilter(len(keys))
    assert a.m == b.m == whole.m
    a.add_many(keys[: len(keys) // 2])
    b.add_many(keys[len(keys) // 2 :])
    a.merge(b)
    assert a.maybe_contains(keys).all()
    assert len(a) == len(whole)


def test_save_load_roundtrip(tmp_path):
    keys = _keys(10_000, seed=8)
    cf = CuckooFilter(len(keys))
    cf.add_many(keys)
    cf.delete_many(keys[:500])
    p = os.path.join(tmp_path, "cf.npz")
    cf.save(p)
    back = CuckooFilter.load(p)
    assert (back.table == cf.table).all()
    assert back.maybe_contains(keys[500:]).all()


def test_kind_field_disambiguates_from_bloom(tmp_path):
    """Both filters save one uncompressed .npz that names its kind."""
    cf = CuckooFilter(100)
    cf.add_many(_keys(100, seed=9))
    bf = BloomFilter(100)
    bf.add_many(_keys(100, seed=9))
    for name, flt in (("cuckoo", cf), ("bloom", bf)):
        path = os.path.join(tmp_path, f"{name}.npz")
        flt.save(path)
        with np.load(path) as z:
            assert str(z["kind"]) == name
        with zipfile.ZipFile(path) as z:
            assert {i.compress_type for i in z.infolist()} == {zipfile.ZIP_STORED}


def test_high_load_factor_build():
    """0.9 load on the sized table must build without eviction failure."""
    n = 60_000
    keys = _keys(n, seed=10)
    cf = CuckooFilter(n)
    cf.add_many(keys)
    assert cf.load_factor() > 0.85
    assert cf.maybe_contains(keys).all()


def test_overfull_raises():
    cf = CuckooFilter(32)  # m=8 buckets → 32 slots
    with pytest.raises(RuntimeError, match="full"):
        cf.add_many(_keys(200, seed=11))


def test_deterministic_build():
    keys = _keys(5_000, seed=12)
    a = CuckooFilter(len(keys))
    b = CuckooFilter(len(keys))
    a.add_many(keys)
    b.add_many(keys)
    assert (a.table == b.table).all()


# ---- property-based invariants (hypothesis; pure numpy, no Spark) --------
from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=3000),
    n_del=st.integers(min_value=0, max_value=3000),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_insert_delete_invariants(n, n_del, seed):
    """For ANY key set and ANY deletion subset: (1) never a false negative
    on live keys, (2) live-key count tracks exactly, (3) deleting members
    always succeeds."""
    rng = np.random.default_rng(seed)
    keys = rng.choice(np.int64(1) << 60, size=n, replace=False).astype(np.int64)
    cf = CuckooFilter(max(n, 64))
    cf.add_many(keys)
    assert cf.maybe_contains(keys).all()
    dels = keys[: min(n_del, n)]
    assert cf.delete_many(dels).all()
    kept = keys[min(n_del, n):]
    assert cf.maybe_contains(kept).all()
    assert len(cf) == len(kept)


def test_delete_many_chunked_equivalent():
    """Sequential chunked deletes == one batch delete (expire_seen streams
    bounded chunks through the driver): same survivor count, same per-bucket
    fingerprint multisets — slot ARRANGEMENT may differ (compaction moves
    the last occupant into the hole), content must not."""
    keys = _keys(10_000, seed=3)
    a, b = CuckooFilter(len(keys)), CuckooFilter(len(keys))
    a.add_many(keys)
    b.add_many(keys)
    victims = keys[:6_000]
    assert a.delete_many(victims).all()
    for i in range(0, len(victims), 500):
        assert b.delete_many(victims[i : i + 500]).all()
    assert len(a) == len(b) == 4_000
    assert (np.sort(a.table, axis=1) == np.sort(b.table, axis=1)).all()


def test_m_for_matches_init_sizing():
    for n in (1, 7, 1024, 50_000, 1_000_000):
        assert CuckooFilter.m_for(n) == CuckooFilter(n).m


def test_bloom_fill_fraction_sampled_estimator():
    bf = BloomFilter(50_000)
    keys = _keys(50_000, seed=9)
    bf.add_many(keys)
    exact = bf.fill_fraction()  # bitmap < 4 MB → exact
    sampled = bf.fill_fraction(max_bytes=256)  # force the strided path
    assert 0.05 < exact < 0.95
    assert abs(sampled - exact) < 0.05  # unbiased estimator, tiny sample


def test_bloom_fill_fraction_sample_never_exceeds_budget():
    """Round-4 ADVICE: floor-division stride let a bitmap just under
    2*max_bytes scan fully; ceiling division honors the documented bound."""
    bf = BloomFilter(1000)
    # force adversarial bitmap sizes around the budget boundary
    for nbytes, budget in ((1023, 512), (1024, 512), (1025, 512), (8 << 20, 1 << 22)):
        bf.bits = np.zeros(nbytes, dtype=np.uint8)
        stride = max(1, -(-len(bf.bits) // budget))
        assert len(bf.bits[::stride]) <= budget, (nbytes, budget)
        bf.fill_fraction(max_bytes=budget)  # and the call itself works


def test_grown_cuckoo_always_lands_below_grow_trigger():
    """Round-4 ADVICE: m_for(n) alone only bounds load at <=95% (above the
    0.9 grow trigger) when n/(slots*0.95) is already a power of two; the
    growth sizing must leave explicit headroom so a rebuild can never be
    re-triggered by its own batch."""
    from gov_procurement_spider_spark.plans.crawl import _CUCKOO_GROW_LOAD, _grown_m
    from gov_procurement_spider_spark.crawler.cuckoo import _BUCKET_SLOTS

    # adversarial n: exact multiples of slots*0.95*2^k (the next_pow2
    # no-op case that previously landed at 95%), plus off-by-ones
    for k in range(3, 22):
        base = int(_BUCKET_SLOTS * 0.95 * (1 << k))
        for n in (base - 1, base, base + 1):
            m = _grown_m(8, n)
            load = n / (m * _BUCKET_SLOTS)
            assert load < _CUCKOO_GROW_LOAD - 0.05, (n, m, load)
    # and the >=2x amortization floor holds
    assert _grown_m(1 << 20, 10) == 1 << 21
