"""Constrained selection under heavy host skew: with one ccgp-style portal
holding ~90% of the frontier and budget ≪ pending, both forms of the
selection must reproduce the sequential simulator's crawl order and
URL-seen set bit-for-bit (north rule) — the driver-side host-run rank that
small frontiers take, and (local caps forced to 0) the salted per-(host,
salt) pre-truncation + exact re-rank, in which no single task ever sorts
the dominant host's whole pending set."""

from __future__ import annotations

import pytest

from gov_procurement_spider_spark.plans import crawl as C
from gov_procurement_spider_spark.plans.crawl import ORDER_KEY, run_crawl
from gov_procurement_spider_spark.refsim import simulate
from gov_procurement_spider_spark.sources.site_model import SiteSpec, seed_host

# zipf_s=4.0 over 4 hosts → host 0 carries ~90% of seeds; burst=2 with
# pending ≫ budget keeps every epoch deep inside the constrained path
# (universe sized so the test stays ~2 min — the 97-epoch variant passed too)
SPEC = SiteSpec(
    n_seeds=16,
    n_hosts=4,
    detail_space=24,
    max_list_pages=2,
    zipf_s=4.0,
    rate_per_sec=2.0,
    burst=2.0,
    epoch_seconds=2.0,
)

ORDER_COLS = ["epoch", "host"] + ORDER_KEY + ["kind", "url"]
# the caps below which an epoch fetches and materialises its tables on
# the driver
LOCAL_CAPS = (
    "_DRIVER_COMMIT_MAX_ROWS", "_DRIVER_ADD_MAX_ROWS", "_DRIVER_FETCH_MAX_URLS"
)


def test_spec_is_actually_skewed():
    hosts = [seed_host(SPEC, i) for i in range(SPEC.n_seeds)]
    assert hosts.count("h0.test") / len(hosts) >= 0.85


@pytest.mark.parametrize("spark_only", [False, True], ids=["default_caps", "caps_0"])
def test_crawl_order_exact_under_skew(spark, monkeypatch, tmp_path, spark_only):
    if spark_only:
        for cap in LOCAL_CAPS:
            monkeypatch.setattr(C, cap, 0)
    sim = simulate(SPEC)
    ckpt = str(tmp_path)
    crawl = run_crawl(spark, SPEC, ckpt)
    engine = [tuple(r) for r in crawl.crawl_order().select(*ORDER_COLS).collect()]
    assert engine == [tuple(o) for o in sim.crawl_order]
    assert {r.url for r in crawl.seen().collect()} == sim.url_seen
