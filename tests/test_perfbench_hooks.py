"""The benchmark's crawl hooks keep resolving against the engine.

perfbench/run.py wraps every `trace_targets()` entry of a crawl workload
with a span and reads epoch manifests afterwards; a renamed function, a
commit made outside `ck.commit_epoch` or a manifest key dropped would make
its per-layer numbers silently read 0. This drives the 6-seed test crawl
through the same wrapping and checks each hook fires as the layer metrics
assume.
"""

from __future__ import annotations

import shutil
import tempfile

from gov_procurement_spider_spark.plans import crawl as crawl_plan
from gov_procurement_spider_spark.sources.site_model import SiteSpec
from gov_procurement_spider_spark.streaming import checkpoint as ck
from perfbench.probes import Tracer
from perfbench.workloads import PHASES, CrawlPolite

SPEC = SiteSpec(
    n_seeds=6, n_hosts=3, detail_space=60, max_list_pages=3,
    rate_per_sec=2.0, burst=4.0, epoch_seconds=2.0,
)


def test_crawl_trace_targets_resolve_and_fire(spark):
    work = tempfile.mkdtemp(prefix="perfbench_hooks_")
    targets = CrawlPolite(0, work, smoke=True).trace_targets()
    for owner, attr, span in targets:
        assert callable(getattr(owner, attr, None)), f"{span}: {attr} is gone"

    tracer = Tracer()
    for owner, attr, span in targets:
        tracer.wrap(owner, attr, span)
    tracer.iteration, tracer.active = 0, True
    try:
        crawl_plan.run_crawl(spark, SPEC, work)
    finally:
        tracer.active = False
        tracer.restore()
    spans = tracer.totals(0)

    epochs = ck.committed_epochs(work)
    assert len(epochs) > 2
    assert spans["plans.crawl.init_state"]["calls"] == 1
    # every epoch's run_epoch call, plus the last one finding the frontier empty
    assert spans["plans.crawl.run_epoch"]["calls"] == len(epochs)
    assert spans["streaming.checkpoint.commit_epoch"]["calls"] == len(epochs)
    for e in epochs[1:]:
        man = ck.read_manifest(work, e)
        for key in ("urls_fetched", "urls_admitted", "crawl_log_from_frontier"):
            assert key in man, f"epoch {e} manifest lacks {key}"
        assert man["phase_ms"], f"epoch {e} has no phases"
        assert set(man["phase_ms"]) <= set(PHASES), f"epoch {e}: {man['phase_ms']}"
    shutil.rmtree(work, ignore_errors=True)
