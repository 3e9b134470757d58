"""North-rule gates (BASELINE.json): the Spark engine must reproduce the
sequential reference simulator's crawl order + URL-seen set exactly, payload
invariants must hold per row, and a killed job must resume to identical
results.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest

from gov_procurement_spider_spark.crawler import fetcher
from gov_procurement_spider_spark.crawler.bloom import BloomFilter
from gov_procurement_spider_spark.functions import images
from gov_procurement_spider_spark.plans import crawl as crawl_plan
from gov_procurement_spider_spark.plans.crawl import ORDER_KEY, init_state, run_crawl
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
def crawl(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("crawl_eq"))
    return run_crawl(spark, SPEC, ckpt)


def test_crawl_order_exact_match(crawl, sim):
    engine = [tuple(r) for r in crawl.crawl_order().select(*ORDER_COLS).collect()]
    assert engine == [tuple(o) for o in sim.crawl_order]


def test_url_seen_exact_match(crawl, sim):
    assert {r.url for r in crawl.seen().collect()} == sim.url_seen


def test_payload_invariants(crawl, sim):
    """input_hint gate: decoded pixels allclose (PSNR≥40 dB for lossy, exact
    for png), caption exact equality, phash equality — per row."""
    rows = {r.url: r for r in crawl.fetched().collect()}
    expected = {d["url"]: d for d in sim.fetched_details}
    assert set(rows) == set(expected)
    assert rows, "no payloads fetched"
    for url, exp in expected.items():
        got = rows[url]
        assert got.caption == exp["caption"], url
        assert (got.w, got.h, got.fmt) == (exp["w"], exp["h"], exp["fmt"])
        ref_px = images.gen_pixels(exp["pixel_seed"], exp["w"], exp["h"])
        dec = images.decode_image(bytes(got.bytes))
        assert dec.shape == ref_px.shape
        if exp["fmt"] == "png":
            assert np.array_equal(dec, ref_px), url
        else:
            assert images.psnr(ref_px, dec) >= 40.0, url
        assert got.phash == images.ahash64(ref_px), url


def test_metrics_lineage(crawl, sim):
    m = crawl.metrics().collect()
    assert sum(r.urls_fetched for r in m) == len(sim.crawl_order)
    assert sum(r.payload_bytes for r in m) > 0
    assert all(r.wall_ms >= 0 for r in m)


def test_readers_before_any_fetch_epoch(spark, crawl, tmp_path):
    """A checkpoint with only its init epoch (max_epochs=0) has no
    crawl_log or fetch_out yet: each reader returns an empty DataFrame with
    the columns and types it has on a finished crawl."""
    ckpt = str(tmp_path)
    result = run_crawl(spark, SPEC, ckpt, max_epochs=0)
    assert ck.committed_epochs(ckpt) == [0]
    for reader in ("crawl_order", "fetched", "failed", "metrics"):
        empty, full = getattr(result, reader)(), getattr(crawl, reader)()
        assert empty.dtypes == full.dtypes, reader
        assert empty.count() == 0, reader


def _assert_resumed_equal(resumed, crawl, sim):
    """The resumed crawl's order, seen set and payload bytes equal refsim's
    and the uninterrupted run's."""
    engine = [tuple(r) for r in resumed.crawl_order().select(*ORDER_COLS).collect()]
    assert engine == [tuple(o) for o in sim.crawl_order]
    assert {r.url for r in resumed.seen().collect()} == sim.url_seen

    base_payloads = {
        r.url: (bytes(r.bytes), r.caption, r.phash) for r in crawl.fetched().collect()
    }
    res_payloads = {
        r.url: (bytes(r.bytes), r.caption, r.phash) for r in resumed.fetched().collect()
    }
    assert base_payloads == res_payloads


def test_resume_byte_identical(spark, crawl, sim, tmp_path):
    """Kill after 3 epochs → resume → identical crawl order, seen set, and
    payload bytes as the uninterrupted run (T5; ref has no counterpart —
    main.py:55-68 loses everything)."""
    ckpt = str(tmp_path)
    partial = run_crawl(spark, SPEC, ckpt, max_epochs=3)
    assert partial.epochs == 3
    resumed = run_crawl(spark, SPEC, ckpt)  # picks up from last manifest
    _assert_resumed_equal(resumed, crawl, sim)


def test_resume_after_crash_inside_payload_file(
    spark, crawl, sim, monkeypatch, tmp_path
):
    """Kill epoch 2's fetch after a payload batch reached its fetch_out
    file → resume unpatched → the same crawl as the uninterrupted run."""
    make_fetcher = fetcher.make_fetcher

    def crashing(spec, epoch, robots):
        fetch = make_fetcher(spec, epoch, robots)

        def crash(batches):
            for rb in fetch(batches):
                yield rb
                if rb.column(0)[0].as_py() == "payload":
                    raise RuntimeError("killed inside fetch_out")

        return crash if epoch == 2 else fetch

    ckpt = str(tmp_path)
    with monkeypatch.context() as m:
        m.setattr(fetcher, "make_fetcher", crashing)
        with pytest.raises(RuntimeError, match="killed inside fetch_out"):
            run_crawl(spark, SPEC, ckpt)
    assert ck.last_committed(ckpt) == 2
    payload_dir = os.path.join(ck.table_path(ckpt, 3, "fetch_out"), "row_type=payload")
    assert os.listdir(payload_dir) and not glob.glob(f"{payload_dir}/*.parquet")
    resumed = run_crawl(spark, SPEC, ckpt)
    _assert_resumed_equal(resumed, crawl, sim)


def test_fractional_rate_engine_equivalence(spark, tmp_path):
    """rate*epoch < 1 ⇒ zero-fetch virtual-time epochs interleave; the engine
    must refill buckets, keep committing, and still match the simulator
    (regression: zero-fetch epochs write no seen_new dir)."""
    spec = SiteSpec(
        n_seeds=2, n_hosts=1, detail_space=20, max_list_pages=2,
        rate_per_sec=0.25, burst=1.0, epoch_seconds=2.0,
    )
    sim_f = simulate(spec)
    assert sim_f.epochs > len({row[0] for row in sim_f.crawl_order})
    ckpt = str(tmp_path)
    res = run_crawl(spark, spec, ckpt)
    engine = [tuple(r) for r in res.crawl_order().select(*ORDER_COLS).collect()]
    assert engine == [tuple(o) for o in sim_f.crawl_order]
    assert {r.url for r in res.seen().collect()} == sim_f.url_seen


def test_failed_fetch_equivalence(spark, tmp_path):
    """Fetch failures (ref main.py:124-127): failed URLs still consume their
    politeness slot and appear in the crawl order, but yield no payload —
    engine and simulator must agree on the exact failed set."""
    spec = SiteSpec(
        n_seeds=6, n_hosts=3, detail_space=60, max_list_pages=3,
        rate_per_sec=2.0, burst=4.0, fail_permille=200,
    )
    sim_f = simulate(spec)
    failed_sim = set(sim_f.extra.get("failed", []))
    assert failed_sim, "failure injection produced no failures"
    ckpt = str(tmp_path)
    res = run_crawl(spark, spec, ckpt)
    engine = [tuple(r) for r in res.crawl_order().select(*ORDER_COLS).collect()]
    assert engine == [tuple(o) for o in sim_f.crawl_order]
    assert {r.url for r in res.failed().collect()} == failed_sim
    got_payload_urls = {r.url for r in res.fetched().collect()}
    assert got_payload_urls == {d["url"] for d in sim_f.fetched_details}
    assert got_payload_urls.isdisjoint(failed_sim)


def test_saturated_filter_equivalence(spark, sim, monkeypatch, tmp_path):
    """The seen-filter is an optimization, never semantics: with an
    all-ones epoch-0 Bloom filter every candidate is 'maybe seen' and goes
    through the exact anti-join (local caps at 0, so admission runs in
    Spark, the path that consults the filter), and the crawl still equals
    the reference."""
    ckpt = str(tmp_path)
    init_state(spark, SPEC, ckpt)
    path = os.path.join(ck.epoch_dir(ckpt, 0), "bloom.npz")
    bf = BloomFilter.load(path)
    bf.bits[:] = 0xFF
    bf.save(path)
    for cap in (
        "_DRIVER_COMMIT_MAX_ROWS", "_DRIVER_ADD_MAX_ROWS", "_DRIVER_FETCH_MAX_URLS"
    ):
        monkeypatch.setattr(crawl_plan, cap, 0)
    res = run_crawl(spark, SPEC, ckpt)
    engine = [tuple(r) for r in res.crawl_order().select(*ORDER_COLS).collect()]
    assert engine == [tuple(o) for o in sim.crawl_order]
    assert {r.url for r in res.seen().collect()} == sim.url_seen
    last = BloomFilter.load(os.path.join(ck.epoch_dir(ckpt, res.epochs), "bloom.npz"))
    assert last.fill_fraction() == 1.0
