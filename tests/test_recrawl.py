"""Cuckoo-filtered crawl + expiry/recrawl (north rule: the deletion-capable
seen-set fallback, exercised end-to-end).

Pass 1 runs the full crawl with the CUCKOO prefilter (same refsim oracle as
the Bloom path — the prefilter must be semantically invisible). Then every
seen URL is expired (tombstones + per-key cuckoo deletes, NO rebuild), the
seeds are re-injected, and the resumed crawl must reproduce the reference
crawl order a second time, epoch-shifted but otherwise bit-identical — the
TTL-recrawl contract.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest

from gov_procurement_spider_spark.crawler.cuckoo import CuckooFilter
from gov_procurement_spider_spark.functions.urls import url_hash64
from gov_procurement_spider_spark.plans.crawl import (
    ORDER_KEY,
    _load_seen_filter,
    expire_seen,
    reseed,
    run_crawl,
)
from gov_procurement_spider_spark.refsim import simulate
from gov_procurement_spider_spark.sources.site_model import SiteSpec
from gov_procurement_spider_spark.streaming import checkpoint as ck

SPEC = SiteSpec(
    n_seeds=6,
    n_hosts=3,
    detail_space=60,
    max_list_pages=3,
    rate_per_sec=2.0,
    burst=4.0,
    epoch_seconds=2.0,
)

ORDER_COLS = ["epoch", "host"] + ORDER_KEY + ["kind", "url"]


@pytest.fixture(scope="module")
def sim():
    return simulate(SPEC)


@pytest.fixture(scope="module")
def state(spark, sim):
    """Pass 1 (cuckoo prefilter) → expire all → reseed → pass 2."""
    ckpt = tempfile.mkdtemp(prefix="crawl_recrawl_")
    first = run_crawl(spark, SPEC, ckpt, filter_kind="cuckoo")
    n_seen = first.seen().count()
    expired = expire_seen(spark, ckpt, first.seen())
    expiry_epoch = ck.last_committed(ckpt)
    reseed(spark, SPEC, ckpt)
    reseed_epoch = ck.last_committed(ckpt)
    second = run_crawl(spark, SPEC, ckpt)
    return {
        "ckpt": ckpt,
        "first": first,
        "second": second,
        "n_seen_pass1": n_seen,
        "expired": expired,
        "expiry_epoch": expiry_epoch,
        "reseed_epoch": reseed_epoch,
    }


def test_pass1_cuckoo_matches_refsim(state, sim):
    """The cuckoo prefilter is semantically invisible: pass-1 crawl order
    and URL-seen set equal the sequential oracle, same as the Bloom path."""
    pass1 = (
        state["first"]
        .crawl_order()
        .filter(f"epoch < {state['expiry_epoch']}")
        .select(*ORDER_COLS)
        .collect()
    )
    assert [tuple(r) for r in pass1] == [tuple(o) for o in sim.crawl_order]


def test_checkpoint_stores_cuckoo(state):
    flt = _load_seen_filter(
        os.path.join(ck.epoch_dir(state["ckpt"], 0), "bloom.npz")
    )
    assert isinstance(flt, CuckooFilter)


def test_expiry_counts_and_filter_deletes(state, sim, spark):
    """Expiry removed exactly the pass-1 seen set, per-key, no rebuild: the
    post-expiry filter answers 'definitely new' for (almost) every expired
    URL — impossible for a Bloom filter without a full rebuild."""
    assert state["expired"] == state["n_seen_pass1"] == len(sim.url_seen)
    flt = _load_seen_filter(
        os.path.join(ck.epoch_dir(state["ckpt"], state["expiry_epoch"]), "bloom.npz")
    )
    hashes_df = spark.createDataFrame(
        [(u,) for u in sorted(sim.url_seen)], ["url"]
    ).select(url_hash64("url").alias("h"))
    hashes = np.array([r.h for r in hashes_df.collect()], dtype=np.int64)
    assert flt.maybe_contains(hashes).mean() < 0.01
    # and the exact seen view is empty at the expiry epoch
    from gov_procurement_spider_spark.plans.crawl import _seen_view

    assert _seen_view(spark, state["ckpt"], state["expiry_epoch"]).count() == 0


def test_recrawl_reproduces_reference_order(state, sim):
    """Pass 2 (post expiry+reseed) re-fetches the whole site in exactly the
    reference order, shifted by the reseed epoch."""
    shift = state["reseed_epoch"]
    rows = (
        state["second"]
        .crawl_order()
        .filter(f"epoch >= {shift}")
        .select(*ORDER_COLS)
        .collect()
    )
    renumbered = [
        (
            r.epoch - shift,
            r.host,
            r.priority,
            0 if r.disc_epoch == 0 else r.disc_epoch - shift,
            r.seed_idx,
            r.page_idx,
            r.pos,
            r.kind,
            r.url,
        )
        for r in rows
    ]
    assert renumbered == [tuple(o) for o in sim.crawl_order]


def test_seen_restored_after_recrawl(state, sim):
    assert {r.url for r in state["second"].seen().collect()} == sim.url_seen


def test_partial_expiry_keeps_rest_seen(spark, state, sim):
    """Expiring a subset tombstones only that subset; the rest of the seen
    set and its filter entries are untouched (no collateral deletes)."""
    ckpt = state["ckpt"]
    all_urls = sorted(sim.url_seen)
    subset = all_urls[:5]
    before = ck.last_committed(ckpt)
    n = expire_seen(spark, ckpt, spark.createDataFrame([(u,) for u in subset], ["url"]))
    assert n == 5
    now = ck.last_committed(ckpt)
    from gov_procurement_spider_spark.plans.crawl import _seen_view

    seen_now = {r.url for r in _seen_view(spark, ckpt, now).collect()}
    assert seen_now == set(all_urls) - set(subset)
    flt = _load_seen_filter(os.path.join(ck.epoch_dir(ckpt, now), "bloom.npz"))
    kept_hashes = np.array(
        [
            r.h
            for r in spark.createDataFrame(
                [(u,) for u in all_urls[5:]], ["url"]
            )
            .select(url_hash64("url").alias("h"))
            .collect()
        ],
        dtype=np.int64,
    )
    assert flt.maybe_contains(kept_hashes).all()
    assert before + 1 == now


_STEADY_SPEC = SiteSpec(n_hosts=3, rate_per_sec=100.0, burst=100.0)


def _fresh_cuckoo_ckpt(spark, n_urls: int) -> str:
    from gov_procurement_spider_spark.plans.crawl import init_steady_frontier

    ckpt = tempfile.mkdtemp(prefix="cuckoo_ck_")
    init_steady_frontier(spark, _STEADY_SPEC, ckpt, n_urls, filter_kind="cuckoo")
    return ckpt


@pytest.mark.parametrize("form", ["table", "dataframe"])
def test_expire_seen_chunked_equivalence(spark, monkeypatch, form):
    """VERDICT r3 item 3: the cuckoo delete reads the written tombstones
    back in bounded chunks. `_EXPIRE_CHUNK` = 7 over 40 expiring URLs (6
    chunks) must leave the filter semantically identical to the
    single-batch read — same expiry count, same per-bucket fingerprint
    multisets — whether the tombstones were written on the driver (a
    pyarrow input) or by Spark (a DataFrame input)."""
    import shutil

    from gov_procurement_spider_spark.plans import crawl as C

    results = []
    for chunk in (7, 1 << 20):
        ckpt = _fresh_cuckoo_ckpt(spark, 60)
        urls = (
            spark.read.parquet(ck.table_path(ckpt, 0, "seen_new"))
            .select("url")
            .orderBy("url")
            .limit(40)
        )
        if form == "table":
            urls = urls.toArrow()
        with monkeypatch.context() as m:
            m.setattr(C, "_EXPIRE_CHUNK", chunk)
            n = expire_seen(spark, ckpt, urls)
        flt = _load_seen_filter(
            os.path.join(
                ck.epoch_dir(ckpt, ck.last_committed(ckpt)), "bloom.npz"
            )
        )
        assert isinstance(flt, CuckooFilter)
        results.append((n, np.sort(flt.table, axis=1), flt.m))
        shutil.rmtree(ckpt, ignore_errors=True)
    (n_a, t_a, m_a), (n_b, t_b, m_b) = results
    assert n_a == n_b == 40
    # deletion ORDER may arrange slots differently; the stored fingerprint
    # multiset per bucket must match exactly
    assert m_a == m_b and (t_a == t_b).all()
    assert int((t_a != 0).sum()) == 20  # the 20 unexpired keys remain


def test_fresh_cuckoo_sized_below_grow_trigger(spark, monkeypatch):
    """A fresh cuckoo filter gets the headroom a grown one gets: at 3,891
    keys a table sized for <=95% load (4,096 slots) sits above the 0.9
    grow trigger, and the init commit that fills it would rebuild it."""
    import shutil

    from gov_procurement_spider_spark.plans import crawl as C

    calls = []
    grow = C._grow_cuckoo
    monkeypatch.setattr(C, "_grow_cuckoo", lambda *a: calls.append(a) or grow(*a))
    ckpt = _fresh_cuckoo_ckpt(spark, 3891)
    flt = _load_seen_filter(os.path.join(ck.epoch_dir(ckpt, 0), "bloom.npz"))
    assert calls == [], "init rebuilt the filter it had just sized"
    assert len(flt) == 3891 and flt.load_factor() <= C._CUCKOO_GROW_LOAD
    shutil.rmtree(ckpt, ignore_errors=True)


def test_grow_cuckoo_rebuilds_at_2x(spark):
    """ADVICE r3: near the safe load factor the epoch grows the filter into
    a 2×-bucket table rebuilt from the exact seen view — every seen key
    still answers maybe-seen (no false negatives across growth)."""
    import shutil

    from gov_procurement_spider_spark.plans.crawl import _grow_cuckoo

    ckpt = _fresh_cuckoo_ckpt(spark, 60)
    old = _load_seen_filter(os.path.join(ck.epoch_dir(ckpt, 0), "bloom.npz"))
    new = _grow_cuckoo(spark, ckpt, 0, old, 60)
    assert new.m == 2 * old.m
    assert len(new) == 60
    # a batch far beyond one doubling sizes past 2× so the rebuilt filter
    # never lands back above the safe load (round-4 review finding)
    big = _grow_cuckoo(spark, ckpt, 0, old, 64 * old.m * 4)
    assert big.m > 2 * old.m
    assert CuckooFilter.m_for(64 * old.m * 4) == big.m
    hashes = np.array(
        [
            r.url_hash
            for r in spark.read.parquet(ck.table_path(ckpt, 0, "seen_new"))
            .select("url_hash")
            .collect()
        ],
        dtype=np.int64,
    )
    assert new.maybe_contains(hashes).all()
    shutil.rmtree(ckpt, ignore_errors=True)


def test_cuckoo_growth_triggered_in_epoch(spark):
    """End-to-end growth trigger (ADVICE r3): seed a crawl with a
    deliberately tiny cuckoo filter so the first link-admitting epoch
    crosses the safe load factor. run_epoch must rebuild into a larger
    table mid-crawl, and the grown filter must stay semantically invisible:
    the finished crawl's order and seen set still equal the sequential
    oracle exactly."""
    import shutil

    from gov_procurement_spider_spark.plans.crawl import init_state
    from gov_procurement_spider_spark.refsim import simulate

    spec = SiteSpec(
        n_seeds=6,
        n_hosts=3,
        detail_space=60,
        max_list_pages=3,
        rate_per_sec=50.0,
        burst=50.0,
    )
    ckpt = tempfile.mkdtemp(prefix="cuckoo_grow_e2e_")
    init_state(spark, spec, ckpt, filter_kind="cuckoo")
    # swap in a near-toy filter: capacity 32 slots, seeds already inserted
    tiny = CuckooFilter(16)
    seed_hashes = np.array(
        [
            r.url_hash
            for r in spark.read.parquet(ck.table_path(ckpt, 0, "seen_new"))
            .select("url_hash")
            .collect()
        ],
        dtype=np.int64,
    )
    tiny.add_many(seed_hashes)
    tiny.save(os.path.join(ck.epoch_dir(ckpt, 0), "bloom.npz"))

    result = run_crawl(spark, spec, ckpt)
    final = _load_seen_filter(
        os.path.join(ck.epoch_dir(ckpt, ck.last_committed(ckpt)), "bloom.npz")
    )
    assert isinstance(final, CuckooFilter)
    assert final.m > tiny.m, "growth branch never fired"
    # no false negatives across growth: every seen URL still maybe-seen
    all_hashes = np.array(
        [
            r.h
            for r in result.seen()
            .select(url_hash64("url").alias("h"))
            .collect()
        ],
        dtype=np.int64,
    )
    assert final.maybe_contains(all_hashes).all()
    assert final.load_factor() <= 0.9
    sim = simulate(spec)
    got = result.crawl_order().select(*ORDER_COLS).collect()
    assert [tuple(r) for r in got] == [tuple(o) for o in sim.crawl_order]
    assert {r.url for r in result.seen().collect()} == sim.url_seen
    shutil.rmtree(ckpt, ignore_errors=True)


def test_epoch_manifest_records_filter_load(spark):
    """ADVICE r3: saturation is visible in lineage before it becomes fatal —
    every admission-committing epoch manifest carries seen_filter_load."""
    import shutil

    from gov_procurement_spider_spark.plans.crawl import run_epoch

    ckpt = _fresh_cuckoo_ckpt(spark, 60)
    run_epoch(spark, _STEADY_SPEC, ckpt, 0)
    man = ck.read_manifest(ckpt, 1)
    load = man.get("seen_filter_load")
    assert load is not None and 0.0 < load <= 1.0
    shutil.rmtree(ckpt, ignore_errors=True)
