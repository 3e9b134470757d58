"""A frontier host with no politeness tokens yet (first discovered
mid-crawl) must neither vanish from selection (the old null-budget bug: both
rn<=budget and rn>budget are null-false) nor fetch uncapped on the fast
path. It enters with a fresh floor(burst) budget and keeps its refilled
tokens in the hosts table."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gov_procurement_spider_spark.crawler.bloom import BloomFilter
from gov_procurement_spider_spark.functions.urls import url_hash64
from gov_procurement_spider_spark.plans.crawl import (
    FRONTIER_COLS,
    _count_by_host,
    init_steady_frontier,
    run_epoch,
)
from gov_procurement_spider_spark.sources.site_model import SiteSpec
from gov_procurement_spider_spark.streaming import checkpoint as ck

SPEC = SiteSpec(n_hosts=2, rate_per_sec=1.0, burst=3.0, epoch_seconds=1.0)
N_UNKNOWN = 10  # pending on the unknown host: >> floor(burst) == 3


def _inject_unknown_host(spark, ckpt):
    """Append detail URLs for a host the hosts table has no tokens for."""
    rows = [
        (9, 0, 1000 + i, 0, i, "detail", f"https://ghost.test/detail/g{i}", "ghost.test")
        for i in range(N_UNKNOWN)
    ]
    extra = spark.createDataFrame(
        rows,
        "priority int, disc_epoch int, seed_idx int, page_idx int, pos int,"
        " kind string, url string, host string",
    )
    # materialize driver-side before overwriting the path being read
    frontier = ck.read_table(spark, ckpt, 0, "frontier").unionByName(extra)
    fr_rows = frontier.select(*FRONTIER_COLS).collect()
    ck.write_table(
        spark.createDataFrame(fr_rows, frontier.select(*FRONTIER_COLS).schema),
        ckpt, 0, "frontier",
    )
    # their URLs are already 'seen' (admission happened upstream)
    seen = ck.read_table(spark, ckpt, 0, "seen_new").unionByName(
        extra.select(
            "url", url_hash64("url").alias("url_hash"), F.lit(0).alias("admit_epoch")
        )
    )
    seen_rows = seen.collect()
    ck.write_table(spark.createDataFrame(seen_rows, seen.schema), ckpt, 0, "seen_new")
    # hand-editing the frontier invalidates the carried hosts table's
    # counts (in the real flow every commit carries them via _host_carry) —
    # recount them, keeping the known hosts' tokens (the ghost gets none)
    hosts = (
        _count_by_host(ck.read_table(spark, ckpt, 0, "frontier"), "n_pending")
        .join(ck.read_table(spark, ckpt, 0, "hosts").drop("n_pending"), "host", "left")
        .select("host", "n_pending", "tokens")
    )
    ck.write_table(
        spark.createDataFrame(hosts.collect(), hosts.schema), ckpt, 0, "hosts"
    )
    bf = BloomFilter(1024)
    bf.save(os.path.join(ck.epoch_dir(ckpt, 0), "bloom.npz"))


def test_unknown_host_selected_capped_and_tracked(spark, tmp_path):
    ckpt = str(tmp_path)
    # known hosts get ample pending so the epoch runs the constrained path
    init_steady_frontier(spark, SPEC, ckpt, 40)
    _inject_unknown_host(spark, ckpt)

    n_frontier, n_sel = run_epoch(spark, SPEC, ckpt, 0)
    assert n_frontier == 40 + N_UNKNOWN

    log = spark.read.parquet(ck.table_path(ckpt, 1, "crawl_log"))
    ghost_fetched = log.filter(F.col("host") == "ghost.test").count()
    # neither vanished (old bug: 0) nor uncapped (fast path: 10)
    assert ghost_fetched == int(SPEC.burst)

    remaining = spark.read.parquet(ck.table_path(ckpt, 1, "frontier"))
    assert remaining.filter(F.col("host") == "ghost.test").count() == (
        N_UNKNOWN - int(SPEC.burst)
    )

    hosts = spark.read.parquet(ck.table_path(ckpt, 1, "hosts"))
    ghost_rows = hosts.filter(F.col("host") == "ghost.test").collect()
    assert len(ghost_rows) == 1  # the carry kept the new host's refill
    # burst - taken + refill, capped at burst
    expected = min(SPEC.burst, SPEC.burst - int(SPEC.burst) + SPEC.rate_per_sec * SPEC.epoch_seconds)
    assert ghost_rows[0]["tokens"] == expected
