"""One crawl, two materialisations: every epoch must commit the same bytes
whether its small tables are computed on the driver or by Spark jobs.

Each crawl runs twice — as-is (small epochs fetch and commit driver-side)
and with the local caps forced to 0, so every epoch, init and lifecycle
step goes through Spark. At every committed epoch the state tables and the
fetch_out payload, link and failed rows must be equal as sorted rows with
equal Arrow column types, the fetch_out metric rows must sum to the same
counts, the seen filters must be equal (Bloom arrays byte for byte), and
the manifests must agree on what was fetched and admitted.
"""

from __future__ import annotations

import ast
import glob
import inspect
import os
import re
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame

from gov_procurement_spider_spark.crawler import fetcher
from gov_procurement_spider_spark.crawler.bloom import BloomFilter
from gov_procurement_spider_spark.crawler.cuckoo import CuckooFilter
from gov_procurement_spider_spark.plans import crawl as C
from gov_procurement_spider_spark.sources import site_model as sm
from gov_procurement_spider_spark.sources.site_model import SiteSpec
from gov_procurement_spider_spark.streaming import checkpoint as ck

# the caps below which an epoch fetches and materialises its tables on the
# driver
LOCAL_CAPS = (
    "_DRIVER_COMMIT_MAX_ROWS", "_DRIVER_ADD_MAX_ROWS", "_DRIVER_FETCH_MAX_URLS"
)
TABLES = (
    "frontier", "hosts", "seen_new", "crawl_log", "seen_removed",
    *(f"fetch_out/row_type={kind}" for kind in ("payload", "link", "failed")),
)
# a metric row is written per fetched batch, and the two fetch forms cut
# batches differently (and time them differently: wall_ms): metric rows
# are compared by these sums
METRIC_SUMS = ("urls_fetched", "links_discovered", "payload_bytes")

# test_crawl_equivalence's site: budget-bound and admitting epochs
SPEC = SiteSpec(
    n_seeds=6, n_hosts=3, detail_space=60, max_list_pages=3,
    rate_per_sec=2.0, burst=4.0, epoch_seconds=2.0,
)
# rate * epoch < 1: zero-fetch tick epochs interleave
FRACTIONAL = SiteSpec(
    n_seeds=2, n_hosts=1, detail_space=20, max_list_pages=2,
    rate_per_sec=0.25, burst=1.0, epoch_seconds=2.0,
)
# open budgets: the first admitting epoch overflows a tiny cuckoo filter
GROWING = SiteSpec(
    n_seeds=6, n_hosts=3, detail_space=60, max_list_pages=3,
    rate_per_sec=50.0, burst=50.0,
)
# a steady frontier of 60 detail urls, 20 per host, drained at 8 per host
# per epoch over three fetching epochs (two budget-bound), each fetched on
# the driver when local
STEADY = SiteSpec(n_hosts=3, rate_per_sec=4.0, burst=8.0, epoch_seconds=2.0)
# open budgets on a small site: a pass takes few epochs, so three fit
TWICE = SiteSpec(
    n_seeds=3, n_hosts=2, detail_space=20, max_list_pages=2,
    rate_per_sec=50.0, burst=50.0,
)


def _crawl(spark, spec, ckpt):
    C.run_crawl(spark, spec, ckpt)


def _steady_crawl(spark, spec, ckpt):
    """A steady frontier (its rows from driver-held ids when local, from
    `spark.range` with the caps at 0) crawled to exhaustion."""
    C.init_steady_frontier(spark, spec, ckpt, 60)
    C.run_crawl(spark, spec, ckpt)


def _init_tiny_cuckoo(spark, spec, ckpt):
    """init_state with its Bloom filter swapped for a 16-bucket cuckoo
    filter holding the seeds, so the first admitting epoch must grow it.
    Returns it."""
    C.init_state(spark, spec, ckpt)
    seeds = pq.read_table(ck.table_path(ckpt, 0, "seen_new"), columns=["url_hash"])
    tiny = CuckooFilter(16)
    tiny.add_many(np.sort(seeds.column("url_hash").to_numpy()))
    tiny.save(os.path.join(ck.epoch_dir(ckpt, 0), "bloom.npz"))
    return tiny


def _seen_column(spark, ckpt, epoch, column):
    """One column of the seen view as of `epoch`, in its driver form."""
    view = C._seen_view(spark, C._seen_log(ckpt, epoch), True)
    return view.column(column).to_pylist()


def _last_filter(ckpt):
    return C._load_seen_filter(
        os.path.join(ck.epoch_dir(ckpt, ck.last_committed(ckpt)), "bloom.npz")
    )


def _growing_then_recrawl(spark, spec, ckpt):
    """A cuckoo crawl that grows its filter mid-crawl, then one expiry of
    every seen URL (a driver-held table: the local run deletes driver-written
    tombstones), a reseed and the second pass over the site."""
    tiny = _init_tiny_cuckoo(spark, spec, ckpt)
    first = C.run_crawl(spark, spec, ckpt)
    assert _last_filter(ckpt).m > tiny.m, "the filter never grew"
    C.expire_seen(spark, ckpt, first.seen().toArrow())
    C.reseed(spark, spec, ckpt)
    C.run_crawl(spark, spec, ckpt)


def _partial_expiry_recrawl(spark, spec, ckpt):
    """A crawl, an expiry of every other seen url (a driver-held table: the
    local run builds the cuckoo filter that replaces the crawl's Bloom
    filter on the driver, the other by the distributed build), a reseed
    and the second pass: the reseed finds some seeds still seen and
    re-admits the rest."""
    first = C.run_crawl(spark, spec, ckpt)
    urls = sorted(r.url for r in first.seen().collect())
    C.expire_seen(spark, ckpt, pa.table({"url": urls[::2]}))
    C.reseed(spark, spec, ckpt)
    epoch = ck.last_committed(ckpt)
    frontier = pq.read_table(ck.table_path(ckpt, epoch, "frontier"), columns=["url"])
    seeds = {sm.seed_url(spec, i) for i in range(spec.n_seeds)}
    n_seeds = len(seeds & set(frontier.column("url").to_pylist()))
    assert 0 < ck.read_manifest(ckpt, epoch)["urls_admitted"] < n_seeds
    C.run_crawl(spark, spec, ckpt)


def _double_expiry_recrawl(spark, spec, ckpt):
    """Two expiry rounds: every seen url expired, a reseed and the second
    pass re-admit them, then every other url seen again expired a second
    time (its events: admitted, removed, re-admitted, removed), a reseed
    and the third pass."""
    once = C.run_crawl(spark, spec, ckpt).seen().toArrow()
    C.expire_seen(spark, ckpt, once)
    C.reseed(spark, spec, ckpt)
    urls = sorted(r.url for r in C.run_crawl(spark, spec, ckpt).seen().collect())
    assert set(urls[::2]) <= set(once.column("url").to_pylist())
    assert C.expire_seen(spark, ckpt, pa.table({"url": urls[::2]})) == len(urls[::2])
    C.reseed(spark, spec, ckpt)
    C.run_crawl(spark, spec, ckpt)


def _run_both(spark, monkeypatch, tmp_path, drive, spec):
    """Runs `drive` as-is and with the local caps at 0. Returns the two
    checkpoints and, per run, the type name of the input each fetch ran over
    (a driver-held pyarrow "Table" or a "DataFrame")."""
    ckpts, fetched = [], []
    map_arrow = C._map_arrow
    for spark_only in (False, True):
        ckpt = str(tmp_path / ("spark" if spark_only else "local"))
        forms = []

        def spy(fn, t, schema):
            if schema.equals(fetcher.FETCH_COUNT_PA):
                forms.append(type(t).__name__)
            return map_arrow(fn, t, schema)

        with monkeypatch.context() as m:
            m.setattr(C, "_map_arrow", spy)
            if spark_only:
                for cap in LOCAL_CAPS:
                    m.setattr(C, cap, 0)
            drive(spark, spec, ckpt)
        ckpts.append(ckpt)
        fetched.append(forms)
    return ckpts, fetched


def _table(path):
    """(column names and types, sorted rows). Nullability is left out:
    Spark marks a column non-null where its plan proves it, pyarrow writes
    every column nullable, and readers of either file see the same values."""
    t = pq.read_table(path)
    fields = [(f.name, f.type) for f in t.schema]
    return fields, sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def _metric_sums(path):
    t = pq.read_table(path)
    return [(f.name, f.type) for f in t.schema], [
        sum(t.column(c).to_pylist()) for c in METRIC_SUMS
    ]


def _filter_content(ckpt, epoch):
    """Bloom: the saved arrays, byte for byte. Cuckoo: the table size and
    the multiset of stored (fingerprint, bucket pair) entries. Which of its
    two buckets an entry sits in depends on insertion order, and a
    distributed build merges per-partition partials in partition order;
    the entries themselves decide every lookup."""
    path = os.path.join(ck.epoch_dir(ckpt, epoch), "bloom.npz")
    flt = C._load_seen_filter(path)
    if not isinstance(flt, CuckooFilter):
        with np.load(path) as z:
            return {k: z[k].tobytes() for k in z.files}
    bucket, slot = np.nonzero(flt.table)
    fp = flt.table[bucket, slot]
    pair = np.minimum(bucket, flt._alt(bucket, fp))
    return flt.m, sorted(zip(fp.tolist(), pair.tolist()))


def _differences(local, spark_only):
    epochs = ck.committed_epochs(local)
    assert epochs == ck.committed_epochs(spark_only)
    assert len(epochs) > 2
    diffs = []
    for e in epochs:
        for name in TABLES:
            paths = [ck.table_path(c, e, name) for c in (local, spark_only)]
            present = [os.path.isdir(p) for p in paths]
            if present[0] != present[1]:
                diffs.append(f"epoch {e} {name}: present {present}")
            elif present[0]:
                (fa, ra), (fb, rb) = (_table(p) for p in paths)
                if fa != fb:
                    diffs.append(f"epoch {e} {name}: columns {fa} != {fb}")
                elif ra != rb:
                    diffs.append(f"epoch {e} {name}: rows differ")
        metric = [
            ck.table_path(c, e, "fetch_out/row_type=metric")
            for c in (local, spark_only)
        ]
        present = [os.path.isdir(p) for p in metric]
        if present[0] != present[1]:
            diffs.append(f"epoch {e} metric rows: present {present}")
        elif present[0] and _metric_sums(metric[0]) != _metric_sums(metric[1]):
            diffs.append(f"epoch {e} metric rows: {[_metric_sums(p) for p in metric]}")
        if _filter_content(local, e) != _filter_content(spark_only, e):
            diffs.append(f"epoch {e}: bloom.npz differs")
        ma, mb = ck.read_manifest(local, e), ck.read_manifest(spark_only, e)
        for key in ("urls_fetched", "urls_admitted"):
            if ma.get(key) != mb.get(key):
                diffs.append(f"epoch {e} {key}: {ma.get(key)} != {mb.get(key)}")
    return diffs


@pytest.mark.parametrize(
    "drive,spec",
    [
        (_crawl, SPEC),
        (_crawl, FRACTIONAL),
        (_growing_then_recrawl, GROWING),
        (_partial_expiry_recrawl, SPEC),
        (_steady_crawl, STEADY),
        (_double_expiry_recrawl, TWICE),
    ],
    ids=[
        "budget_bound", "fractional_rate", "cuckoo_growth_recrawl",
        "partial_expiry_recrawl", "steady_state", "double_expiry_recrawl",
    ],
)
def test_driver_and_spark_commits_identical(
    spark, monkeypatch, tmp_path, drive, spec
):
    (local, spark_only), fetched = _run_both(spark, monkeypatch, tmp_path, drive, spec)
    # the two runs really took different paths: a driver-side write is one
    # fixed-name file per table (ck.write_table_local), and with the caps at
    # 0 only empty tables may be written that way; the local run fetched
    # only driver-held tables, the other only DataFrames
    driver_rows = [
        [
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(c, "epoch=*", "*", "part-*-driver.parquet"))
        ]
        for c in (local, spark_only)
    ]
    assert any(driver_rows[0]) and not any(driver_rows[1])
    assert set(fetched[0]) == {"Table"} and set(fetched[1]) == {"DataFrame"}
    assert _differences(local, spark_only) == []


def test_local_caps_lists_every_driver_cap():
    """Every local cap is forced to 0 above, so a new one cannot skip the
    both-forms comparison."""
    caps = {n for n in vars(C) if re.fullmatch(r"_DRIVER_\w+_MAX_\w+", n)}
    assert caps == set(LOCAL_CAPS)


def test_one_commit_path():
    """Every epoch kind commits through `_commit_epoch`: the manifest write
    and the seen-filter save each appear once in the module, inside it, so
    a second commit tail cannot skip its filter growth or manifest keys."""
    module, commit = inspect.getsource(C), inspect.getsource(C._commit_epoch)
    for call in ("ck.commit_epoch(", ".save(_filter_path("):
        assert module.count(call) == 1 and call in commit, call


def _callers(name):
    """The functions of plans/crawl.py (methods included) that call `name`."""
    tree = ast.parse(inspect.getsource(C))
    return {
        f.name
        for f in ast.walk(tree)
        if isinstance(f, ast.FunctionDef)
        and any(
            isinstance(c, ast.Call) and getattr(c.func, "id", None) == name
            for c in ast.walk(f)
        )
    }


def _walks_epochs(f):
    """Whether function `f` loops over epochs: over a `range` or the
    committed epochs."""
    return any(
        isinstance(n, (ast.For, ast.comprehension))
        and isinstance(n.iter, ast.Call)
        and getattr(n.iter.func, "id", getattr(n.iter.func, "attr", None))
        in ("range", "committed_epochs")
        for n in ast.walk(f)
    )


def test_one_seen_view():
    """The seen view has one source: `_seen_log` is the one function that
    walks the epochs for seen_new / seen_removed tables, each step that
    needs the view lists the log once, `_seen_view` builds the view from
    that listing in both forms (the per-form views, the seen-row counter
    and the max-removed join are gone), and the latest-event rule is
    `_first_per_key`, whose two users are keep-first on url and the seen
    view."""
    module = inspect.getsource(C)
    for gone in ("_seen_view_local", "_seen_rows_small", 'F.max("removed_epoch")'):
        assert gone not in module, gone
    seen_names = ("seen_new", "seen_removed")
    walkers = {
        f.name
        for f in ast.walk(ast.parse(module))
        if isinstance(f, ast.FunctionDef)
        and _walks_epochs(f)
        and any(n in ast.unparse(f) for n in seen_names)
    }
    assert walkers == {"_seen_log"}
    steps = (C._inject, C._admit, C.expire_seen, C._grow_cuckoo, C.CrawlResult.seen)
    assert _callers("_seen_log") == {f.__name__ for f in steps} | {"_commit_epoch"}
    for step in steps:
        assert inspect.getsource(step).count("_seen_log(") == 1, step.__name__
    assert _callers("_seen_view") == {"seen", "_grow_cuckoo", "_split_seen"}
    assert _callers("_first_per_key") == {"_first_per_url", "_seen_view"}
    assert _callers("_take_first") == {"_first_per_key", "_select_local"}


def test_filter_add_runs_no_python_per_row():
    """The distributed filter add crosses the Python boundary as Arrow
    batches (mapInArrow), one partial per task: nothing in the module
    iterates Rows through `.rdd.mapPartitions` or builds an array from
    them with `np.fromiter`."""
    module = inspect.getsource(C)
    assert ".rdd.mapPartitions" not in module and "np.fromiter" not in module
    assert "mapInArrow(" in inspect.getsource(C._filter_add_from_df)


def test_one_filter_update_path():
    """Every seen-filter change happens in `_commit_epoch`, read back from
    the tables it wrote: the cuckoo delete appears once, inside it, the
    one build of a filter from the seen view, `_grow_cuckoo`, is called
    only there (a Bloom filter's first expiry and a cuckoo filter's
    growth), and no filter update streams a DataFrame through the
    driver."""
    module, commit = inspect.getsource(C), inspect.getsource(C._commit_epoch)
    assert module.count(".delete_many(") == 1 and ".delete_many(" in commit
    assert module.count("_grow_cuckoo(") == 3  # its def and two calls
    assert commit.count("_grow_cuckoo(") == 2
    assert "toLocalIterator" not in module


def test_one_seed_path():
    """Every frontier is initialised one way, `_inject`: init_state and
    reseed call `_inject_seeds`, the only caller of `_seed_frontier`, which
    alone builds the seed rows, and init_steady_frontier injects its
    steady rows. `_commit_epoch` is called only by `_inject`, `_commit`
    and expire_seen, and no per-row pandas generator builds rows, so a
    second initialisation path cannot skip keep-first, the seen anti-join
    or the new hosts' state."""
    module = inspect.getsource(C)
    inject = inspect.getsource(C._inject_seeds)
    assert module.count("_seed_frontier(") == 2  # its def and one call
    assert "_seed_frontier(" in inject
    assert module.count("_seed_rows(") == 2
    assert "_seed_rows(" in inspect.getsource(C._seed_frontier)
    for entry in (C.init_state, C.reseed):
        assert "_inject_seeds(" in inspect.getsource(entry), entry.__name__
    for caller in (C._inject_seeds, C.init_steady_frontier):
        assert "_inject(" in inspect.getsource(caller), caller.__name__
    assert module.count("_commit_epoch(") == 4  # its def and three calls
    for caller in (C._inject, C._commit, C.expire_seen):
        assert "_commit_epoch(" in inspect.getsource(caller), caller.__name__
    assert "mapInPandas" not in module


def test_driver_refill_reads_stored_hashes(spark, monkeypatch, tmp_path):
    """The driver build of a cuckoo filter from the seen view adds the
    url_hash each seen row stores and hashes no url: with site_model.h64
    raising, `_grow_cuckoo` over a small crawl's last epoch holds the same
    entries as a cuckoo filter of its size filled by `add_many` from the
    committed seen_new url_hash columns."""
    ckpt = str(tmp_path / "crawl")
    C.run_crawl(spark, SPEC, ckpt)
    last = ck.last_committed(ckpt)
    stored = np.concatenate(
        [
            pq.read_table(p, columns=["url_hash"]).column(0).to_numpy()
            for e in ck.committed_epochs(ckpt)
            if os.path.isdir(p := ck.table_path(ckpt, e, "seen_new"))
        ]
    )

    def no_hash(s):
        raise AssertionError(f"hashed {s!r}")

    monkeypatch.setattr(sm, "h64", no_hash)
    built = C._grow_cuckoo(spark, ckpt, last, 0, len(stored))
    assert len(built) == len(stored) > 0
    expected = CuckooFilter.empty(built.m)
    expected.add_many(stored)
    contents = []
    for name, flt in (("built", built), ("expected", expected)):
        out = str(tmp_path / name)
        os.makedirs(ck.epoch_dir(out, last))
        flt.save(os.path.join(ck.epoch_dir(out, last), "bloom.npz"))
        contents.append(_filter_content(out, last))
    assert contents[0] == contents[1]


def test_seen_filter_follows_expiry(spark, monkeypatch, tmp_path):
    """The seen-filter's kind is derived, not chosen: no entry point takes
    a kind, every crawl starts with a Bloom filter, an expiry that removes
    nothing leaves it as it is, the first expiry that removes a url
    replaces it by a cuckoo filter built from the post-expiry seen view
    and sized for every url admitted so far, and later expiries delete per
    key with no rebuild."""
    for entry in (C.init_state, C.init_steady_frontier, C.run_crawl):
        assert "filter_kind" not in inspect.signature(entry).parameters
    job = os.path.join(os.path.dirname(__file__), "..", "scripts", "crawl_job.py")
    with open(job) as f:
        assert "--filter" not in f.read()
    calls = []
    grow = C._grow_cuckoo
    monkeypatch.setattr(C, "_grow_cuckoo", lambda *a: calls.append(a[3:]) or grow(*a))
    ckpt = str(tmp_path / "crawl")
    C.run_crawl(spark, SPEC, ckpt)

    # an expiry of an unseen url keeps the previous epoch's filter file
    unseen = pa.table({"url": ["https://unseen.test/detail/0"]})
    assert C.expire_seen(spark, ckpt, unseen) == 0
    noop = ck.last_committed(ckpt)
    saved = []
    for e in (noop - 1, noop):
        with open(C._filter_path(ckpt, e), "rb") as f:
            saved.append(f.read())
    assert saved[0] == saved[1]
    assert calls == []

    seen = sorted(_seen_column(spark, ckpt, noop, "url"))
    n_admitted = sum(
        ck.read_manifest(ckpt, e)["urls_admitted"] for e in ck.committed_epochs(ckpt)
    )
    assert n_admitted == len(seen)
    assert C.expire_seen(spark, ckpt, pa.table({"url": seen[::2]})) == len(seen[::2])
    first = ck.last_committed(ckpt)
    assert calls == [(0, n_admitted)]
    for e in ck.committed_epochs(ckpt)[:-1]:
        assert isinstance(C._load_seen_filter(C._filter_path(ckpt, e)), BloomFilter)
    flt = _last_filter(ckpt)
    assert isinstance(flt, CuckooFilter) and flt.m == C._grown_m(0, n_admitted)
    live = np.array(_seen_column(spark, ckpt, first, "url_hash"), np.int64)
    assert len(live) == len(seen) - len(seen[::2])
    expected = CuckooFilter.empty(flt.m)
    expected.add_many(live)
    out = str(tmp_path / "expected")
    os.makedirs(ck.epoch_dir(out, first))
    expected.save(os.path.join(ck.epoch_dir(out, first), "bloom.npz"))
    assert _filter_content(ckpt, first) == _filter_content(out, first)

    n = C.expire_seen(spark, ckpt, pa.table({"url": seen[1::2][:5]}))
    assert n == ck.read_manifest(ckpt, ck.last_committed(ckpt))["urls_expired"] == 5
    assert calls == [(0, n_admitted)]
    later = _last_filter(ckpt)
    assert isinstance(later, CuckooFilter) and len(later) == len(flt) - n


def test_driver_split_seen_hashes_only_unseen_rows(spark, monkeypatch, tmp_path):
    """A driver `_split_seen` takes each seen row's url_hash from the seen
    view and hashes only the unseen urls: site_model.h64 is called once per
    unseen url, and both sides carry each url's hash."""
    ckpt = str(tmp_path)
    C.run_crawl(spark, SPEC, ckpt)
    last = ck.last_committed(ckpt)
    seen_urls = sorted(_seen_column(spark, ckpt, last, "url"))[:7]
    new_urls = [f"https://new.test/detail/{i}" for i in range(5)]
    h64, calls = sm.h64, []
    monkeypatch.setattr(sm, "h64", lambda u: calls.append(u) or h64(u))
    seen, unseen = C._split_seen(
        spark, C._seen_log(ckpt, last), pa.table({"url": seen_urls + new_urls}), []
    )
    assert sorted(calls) == new_urls
    assert sorted(seen.column("url").to_pylist()) == seen_urls
    assert sorted(unseen.column("url").to_pylist()) == new_urls
    for side in (seen, unseen):
        urls = side.column("url").to_pylist()
        assert side.column("url_hash").to_pylist() == [h64(u) for u in urls]


def _rows(t):
    """(column names, sorted rows) of a pyarrow table or a DataFrame."""
    if isinstance(t, DataFrame):
        t = t.toArrow()
    return t.column_names, sorted(zip(*(c.to_pylist() for c in t.columns)))


def _frontier_row(host, key, url):
    return dict(zip(C.ORDER_KEY, key), kind="detail", url=url, host=host)


# three hosts at a budget boundary: a.test's 2nd and 3rd rows tie on
# ORDER_KEY and differ only by url; b.test has no budget; c.test has fewer
# pending rows than its budget
BOUNDARY_ROWS = [
    _frontier_row("a.test", (0, 0, 0, 0, 0), "https://a.test/detail/9"),
    _frontier_row("a.test", (0, 0, 1, 0, 3), "https://a.test/detail/2"),
    _frontier_row("a.test", (0, 0, 1, 0, 3), "https://a.test/detail/1"),
    _frontier_row("a.test", (1, 0, 0, 0, 0), "https://a.test/detail/0"),
    _frontier_row("b.test", (0, 0, 0, 0, 0), "https://b.test/detail/0"),
    _frontier_row("b.test", (0, 0, 0, 0, 1), "https://b.test/detail/1"),
    _frontier_row("c.test", (0, 1, 0, 0, 0), "https://c.test/detail/1"),
    _frontier_row("c.test", (0, 0, 0, 0, 0), "https://c.test/detail/0"),
]
BOUNDARY_PLAN = pa.table(
    {
        "host": ["a.test", "b.test", "c.test"],
        "n_pending": [4, 2, 2],
        "n_taken": [2, 0, 3],
        "tokens": [0.5, 0.5, 2.0],
    },
    schema=C._HOST_PLAN_PA,
)
BOUNDARY_SELECTED = {
    "https://a.test/detail/9", "https://a.test/detail/1",
    "https://c.test/detail/0", "https://c.test/detail/1",
}


@pytest.mark.parametrize("plan_kind", ["driver_plan", "spark_plan"])
def test_select_boundary_driver_equals_salted(spark, monkeypatch, tmp_path, plan_kind):
    """Driver `_select` (plan held on the driver, or a DataFrame as when
    the hosts table is above its local cap) and the salted Spark
    `_select` (caps 0) pick the same rows at a budget boundary."""
    ckpt = str(tmp_path)
    ck.write_table_local(
        ckpt, 0, "frontier", pa.Table.from_pylist(BOUNDARY_ROWS, schema=C._FRONTIER_PA)
    )
    plan = BOUNDARY_PLAN
    if plan_kind == "spark_plan":
        plan = spark.createDataFrame(plan)
    hosts = C._Hosts(plan, len(BOUNDARY_ROWS), len(BOUNDARY_SELECTED))
    results = []
    cached = []
    for spark_only in (False, True):
        with monkeypatch.context() as m:
            if spark_only:
                for cap in LOCAL_CAPS:
                    m.setattr(C, cap, 0)
            out = C._select(spark, ckpt, 0, hosts, cached)
            assert isinstance(out[0], DataFrame) == spark_only
            results.append([_rows(t) for t in out])
    for df in cached:
        df.unpersist()
    assert results[0] == results[1]
    (cols, selected), (_, remaining), (log_cols, log) = results[0]
    url = cols.index("url")
    assert {r[url] for r in selected} == BOUNDARY_SELECTED
    assert {r[url] for r in remaining} == {
        r["url"] for r in BOUNDARY_ROWS
    } - BOUNDARY_SELECTED
    assert log_cols == cols + ["epoch"] and log == [r + (0,) for r in selected]


def _spark_jobs(spark, run):
    """The ids of the Spark jobs launched while `run()` runs: those of its
    job group, and any new job outside a group — threads (the concurrent
    state writes) do not inherit the job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    group = f"counted_{uuid.uuid4().hex}"
    bus.waitUntilEmpty()
    before = max(tracker.getJobIdsForGroup(None), default=-1)
    sc.setJobGroup(group, "counted run")
    try:
        run()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    bus.waitUntilEmpty()
    return list(tracker.getJobIdsForGroup(group)) + [
        j for j in tracker.getJobIdsForGroup(None) if j > before
    ]


def test_small_crawl_runs_no_spark_job(spark, tmp_path):
    """Under the default caps a whole small crawl — init, a budget-bound
    selection, every fetch, admission and commit — runs on the driver:
    `run_crawl` launches no Spark job."""
    ckpt = str(tmp_path)
    assert _spark_jobs(spark, lambda: C.run_crawl(spark, SPEC, ckpt)) == []
    manifests = [ck.read_manifest(ckpt, e) for e in ck.committed_epochs(ckpt)[1:]]
    assert any(
        m["urls_fetched"] and not m["crawl_log_from_frontier"] for m in manifests
    ), "the crawl had no budget-bound epoch"


def test_recrawl_after_expiry_and_reseed_runs_no_spark_job(spark, tmp_path):
    """A small site's expiry of a driver-held url table tombstones, counts
    and builds the cuckoo filter that replaces the crawl's Bloom filter on
    the driver; reseed injects the seeds
    on the driver, as init does; and both commit a hosts table like every
    other epoch, so the second pass plans from it on the driver: none of
    expire_seen, reseed and the resumed `run_crawl` launches a Spark job."""
    ckpt = str(tmp_path)
    first = C.run_crawl(spark, SPEC, ckpt)
    urls = first.seen().toArrow()
    assert _spark_jobs(spark, lambda: C.expire_seen(spark, ckpt, urls)) == []
    assert ck.read_manifest(ckpt, ck.last_committed(ckpt))["urls_expired"] == len(urls)
    assert _spark_jobs(spark, lambda: C.reseed(spark, SPEC, ckpt)) == []
    reseed_epoch = ck.last_committed(ckpt)
    assert _spark_jobs(spark, lambda: C.run_crawl(spark, SPEC, ckpt)) == []
    assert ck.last_committed(ckpt) > reseed_epoch + 1, "the second pass never ran"


def test_small_steady_init_runs_no_spark_job(spark, tmp_path):
    """Under the default caps a steady frontier below
    `_DRIVER_COMMIT_MAX_ROWS` is built from driver-held ids and injected on
    the driver: init_steady_frontier launches no Spark job."""
    ckpt = str(tmp_path)
    assert _spark_jobs(
        spark, lambda: C.init_steady_frontier(spark, STEADY, ckpt, 2048)
    ) == []
    assert ck.table_num_rows(ckpt, 0, "frontier") == 2048


def test_small_cuckoo_growth_runs_no_spark_job(spark, tmp_path):
    """A cuckoo filter outgrown by a small crawl is rebuilt from the seen
    view on the driver, like every other small-site filter update: the
    crawl launches no Spark job, and the filter grew."""
    ckpt = str(tmp_path)
    tiny = _init_tiny_cuckoo(spark, GROWING, ckpt)
    assert _spark_jobs(spark, lambda: C.run_crawl(spark, GROWING, ckpt)) == []
    assert _last_filter(ckpt).m > tiny.m, "the filter never grew"
