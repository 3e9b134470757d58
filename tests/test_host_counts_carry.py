"""The carried per-host table (epoch state `hosts`: pending count and
politeness tokens).

Round-5 scale fix: every epoch used to open with a full-frontier
groupBy(host) — at 10^10-URL scale that is a complete frontier shuffle-agg
per epoch just to learn per-host pending counts the previous epoch already
knew. The commit now carries the counts forward incrementally
(pending − taken + admitted) in the hosts table, and the plan phase reads
that tiny carried table instead. These tests pin the invariant that makes
that sound: for every committed epoch, the carried counts equal a fresh
recomputation from that epoch's frontier — through admissions,
constrained selection, zero-budget ticks, resume, expiry and reseed."""

from __future__ import annotations

import inspect
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from gov_procurement_spider_spark.plans import crawl as C
from gov_procurement_spider_spark.sources.site_model import SiteSpec
from gov_procurement_spider_spark.streaming import checkpoint as ck


def _assert_counts_match_frontier(spark, ckpt):
    checked = 0
    for e in ck.committed_epochs(ckpt):
        carried = ck.read_table(spark, ckpt, e, "hosts").filter("n_pending > 0")
        want = sorted(
            (r.host, r.n)
            for r in ck.read_table(spark, ckpt, e, "frontier")
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        got = sorted((r.host, r.n_pending) for r in carried.collect())
        assert got == want, f"epoch {e}: carried {got} != recomputed {want}"
        checked += 1
    assert checked >= 2, "expected carried host counts on several epochs"


def test_carried_counts_match_frontier_with_admissions(spark, tmp_path):
    """A real multi-epoch crawl (links discovered → admissions → drain):
    the incremental carry stays equal to ground truth at every commit."""
    spec = SiteSpec(
        n_seeds=6, n_hosts=3, detail_space=60, max_list_pages=3,
        rate_per_sec=8.0, burst=6.0,
    )
    ckpt = str(tmp_path)
    C.run_crawl(spark, spec, ckpt)
    _assert_counts_match_frontier(spark, ckpt)


def test_carried_counts_under_constrained_selection(spark, tmp_path):
    """Tight budgets force the salted top-k path (taken ≠ pending), the
    branch where the carry must subtract the *selected* counts."""
    spec = SiteSpec(
        n_seeds=4, n_hosts=2, detail_space=40, max_list_pages=2,
        rate_per_sec=1.0, burst=2.0, epoch_seconds=2.0,
    )
    ckpt = str(tmp_path)
    C.run_crawl(spark, spec, ckpt)
    _assert_counts_match_frontier(spark, ckpt)


def test_plan_phase_reads_carried_table_not_frontier(spark, tmp_path):
    """After the first epoch commits, the next epoch's plan phase must find
    the carried table (no silent fall-back to the frontier recompute)."""
    spec = SiteSpec(
        n_seeds=4, n_hosts=2, detail_space=40, max_list_pages=2,
        rate_per_sec=50.0, burst=100.0,
    )
    ckpt = str(tmp_path)
    C.run_crawl(spark, spec, ckpt, max_epochs=2)
    for e in ck.committed_epochs(ckpt):
        assert os.path.isdir(ck.table_path(ckpt, e, "hosts"))


def test_every_epoch_kind_commits_counts_and_filter_lineage(spark, tmp_path):
    """init, run_epoch, expiry and reseed all commit through one path:
    through a crawl, an expiry of every seen URL, a reseed and the second
    crawl, each committed epoch carries host counts equal to a recount of
    its frontier and a manifest with urls_admitted and seen_filter_load."""
    spec = SiteSpec(
        n_seeds=4, n_hosts=2, detail_space=40, max_list_pages=2,
        rate_per_sec=1.0, burst=2.0, epoch_seconds=2.0,
    )
    ckpt = str(tmp_path)
    first = C.run_crawl(spark, spec, ckpt)
    C.expire_seen(spark, ckpt, first.seen())
    C.reseed(spark, spec, ckpt)
    C.run_crawl(spark, spec, ckpt)
    _assert_counts_match_frontier(spark, ckpt)
    kinds = set()
    for e in ck.committed_epochs(ckpt):
        man = ck.read_manifest(ckpt, e)
        kinds.add(man.get("kind", "run_epoch"))
        for key in ("urls_admitted", "seen_filter_load"):
            assert key in man, f"epoch {e} manifest lacks {key}"
    assert kinds == {"init", "run_epoch", "expiry", "reseed"}


def test_local_pending_stats_match_spark_aggregate(spark, monkeypatch, tmp_path):
    """The host plan (_host_plan) run on the driver and through mapInArrow
    must yield the same per-host rows, and its plan scalars must equal an
    independent Spark aggregate, on every committed epoch of a crawl that
    exercises both budget-bound and fast-path epochs — budget =
    floor(tokens), a full bucket for hosts with null tokens, n_selected =
    Σ min(n_pending, budget)."""
    spec = SiteSpec(
        n_seeds=6, n_hosts=3, detail_space=60, max_list_pages=3,
        rate_per_sec=2.0, burst=4.0, epoch_seconds=2.0,
    )
    ckpt = str(tmp_path)
    C.run_crawl(spark, spec, ckpt)
    default_budget = int(spec.burst)
    checked = 0
    for e in ck.committed_epochs(ckpt):
        carried = ck.read_table(spark, ckpt, e, "hosts")
        local = C._plan_hosts(spark, spec, ckpt, e, [])
        assert isinstance(local.plan, pa.Table)
        with monkeypatch.context() as m:
            m.setattr(C, "_DRIVER_ADD_MAX_ROWS", 0)
            cached = []
            dist = C._plan_hosts(spark, spec, ckpt, e, cached)
        assert sorted(tuple(r) for r in dist.plan.collect()) == sorted(
            zip(*local.plan.to_pydict().values())
        ), f"epoch {e}: driver and mapInArrow plans differ"
        for df in cached:
            df.unpersist()
        row = (
            carried.withColumn(
                "budget",
                F.coalesce(F.floor("tokens").cast("int"), F.lit(default_budget)),
            )
            .agg(
                F.sum("n_pending").alias("nf"),
                F.sum(F.least("n_pending", "budget")).alias("ns"),
            )
            .first()
        )
        want = (int(row["nf"] or 0), int(row["ns"] or 0))
        for got in (local, dist):
            assert (got.n_frontier, got.n_selected) == want, f"epoch {e}"
        checked += 1
    assert checked >= 2


def test_one_host_table(spark, tmp_path):
    """Every epoch kind commits one host table: through a steady init, and
    through a crawl, an expiry of every seen URL, a reseed and the second
    crawl, each committed epoch holds `hosts` and neither of the two
    tables it replaced (`host_counts`, `politeness`), and the plan phase
    reads it with no join in either form."""
    spec = SiteSpec(
        n_seeds=4, n_hosts=2, detail_space=40, max_list_pages=2,
        rate_per_sec=1.0, burst=2.0, epoch_seconds=2.0,
    )
    steady = str(tmp_path / "steady")
    C.init_steady_frontier(spark, spec, steady, 40)
    ckpt = str(tmp_path / "lifecycle")
    first = C.run_crawl(spark, spec, ckpt)
    C.expire_seen(spark, ckpt, first.seen().toArrow())
    C.reseed(spark, spec, ckpt)
    C.run_crawl(spark, spec, ckpt)
    kinds = set()
    for c in (steady, ckpt):
        for e in ck.committed_epochs(c):
            kinds.add(ck.read_manifest(c, e).get("kind", "run_epoch"))
            assert os.path.isdir(ck.table_path(c, e, "hosts")), (c, e)
            for gone in ("host_counts", "politeness"):
                assert not os.path.exists(ck.table_path(c, e, gone)), (c, e, gone)
    assert kinds == {"steady_state_init", "init", "run_epoch", "expiry", "reseed"}
    assert ".join(" not in inspect.getsource(C._plan_hosts)
