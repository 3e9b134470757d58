"""The crawl scheduler: a distributed, checkpointed epoch loop over a
partitioned URL frontier (BASELINE.json north_rule).

Replaces the reference's strictly sequential fetch loop (main.py:69-140, one
in-flight request, fresh Chrome per URL, no persistence) with per-epoch
DataFrame dataflow, one path for every epoch:

  plan    hosts ─ _host_plan ─► per-host taken, refill
  select  frontier ─ top-taken per host (O2; salted above the cap) ─►
          selected / remaining
  fetch   selected ─ make_fetcher (S3) ─ fetch_out_writer ─► fetch_out:
          payloads + candidate links (route filter P5 and robots T3
          applied where links are generated), written by the code that
          fetched them; on the driver for a small driver-held selection,
          else in each mapInArrow task
  admit   links ─ keep-first (min per url) ─ seen-filter prefilter + exact
          anti-join vs seen (D1) ─► admitted
  commit  frontier' / hosts' / seen+ / crawl_log / seen-filter, one
          manifest per epoch (T5) — `_commit_epoch`, the one commit path
          of every epoch kind (init, steady init, run_epoch, expiry,
          reseed)

A tick epoch (no budget anywhere) skips fetch and admit; a link-free epoch
skips admit. Each table is materialised on the driver (pyarrow, one sorted
parquet file) when its size — known before it is built — is under the local
caps, otherwise by Spark jobs. The host-sized state — one carried table,
`hosts` (host, n_pending, tokens): plan scalars, per-host taken, token
refill and the pending-count carry — and the fetch have one
implementation each — the pyarrow pair `_host_plan` / `_host_carry` and
`make_fetcher` — with two forms chosen in one place (`_map_arrow`): called
directly over the batches of a driver-held table, or through mapInArrow
over a DataFrame (the hosts table above the cap; a selection above
`_DRIVER_FETCH_MAX_URLS`). A small crawl therefore launches no Spark job
at all. Three steps are kept in two forms, Spark for big inputs and
pyarrow for small ones: the budget-bound selection (salted windows),
keep-first on url (`_first_per_url`) and the exact seen-membership test
(`_split_seen`, Bloom-prefiltered in Spark), which splits its input into
the seen and the unseen rows. The last two dispatch on where their input
is held and are shared by admission, injection (both keep the unseen
rows) and expiry (which keeps the seen ones). The seen view has one
source: each step lists the seen log once (`_seen_log`: the seen_new and
seen_removed tables up to an epoch, with footer row counts), takes the
view's size from the listing and reads (url, url_hash) from it with
`_seen_view`, in either form. Keep-first and the view's latest event per
url are one first-row-per-key step, `_first_per_key`: a min-struct
aggregation in Spark, on the driver `_take_first` — the first n rows of
each key run — which also selects the budget-bound rows and gates the
streaming politeness operator (streaming/stateful_politeness.py). A
frontier is initialised one way,
`_inject`, which gives the injected hosts a full bucket and their robots
rules: init_state injects the seeds into an empty checkpoint, reseed over
the last committed epoch, and init_steady_frontier injects `_steady_rows`
(built column-wise through `_map_arrow`, from driver-held ids or
`spark.range`) into an empty checkpoint. tests/test_crawl_dual_path.py
pins both materialisations to the same committed rows, fetch_out and
filters.

The seen-set prefilter's kind follows from the checkpoint: every crawl
starts with a Bloom filter (the seen set is append-only until something
expires), and the first expiry that removes a url replaces it with a
cuckoo filter (crawler/cuckoo.py) built from the post-expiry seen view,
which deletes per key from then on. Every change to the filter happens in
`_commit_epoch`, read back from the tables the epoch has just written:
seen_new hashes are added (a cuckoo filter about to cross its safe load
is first rebuilt larger from the exact seen view), and seen_removed
hashes are deleted from a cuckoo filter or, at the first expiry, dropped
by building it. `_grow_cuckoo` is the one builder of a filter from the
seen view. expire_seen only assembles that tombstone table and reseed
re-injects the seed pages — together the TTL-recrawl lifecycle
(tests/test_recrawl.py proves the second pass reproduces the reference
order bit-identically).

Determinism: selection and dedup order by the data-carried key
(priority, disc_epoch, seed_idx, page_idx, pos) — never by execution order —
so any parallelism level yields the reference crawl order exactly
(refsim.simulate is the oracle; ref keep-first semantics main.py:111).

Scale design (100 TB / 10^10 URLs): payload bytes never leave the Python
worker that fetched them (fetched and written in-partition: no shuffle, no
hop into the JVM); only ~100-byte link rows shuffle for dedup; the seen
anti-join is Bloom-prefiltered so definite-new URLs skip it; the frontier
shuffles hash-partitioned by host (politeness is a per-host
constraint, so host-partitioning also co-locates the budget join); skewed
hosts can't exceed their politeness budget, which bounds per-host *fetch*
work by construction, and the constrained selection window is salted
(operators/skew.py) so a dominant host's pending set never sorts in a
single task either — per-(host, salt) pre-truncation to budget rows, then
an exact re-rank of the ≤ salts·budget survivors.
"""

from __future__ import annotations

import os
import pickle
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..crawler import fetcher
from ..crawler.bloom import BloomFilter
from ..crawler.cuckoo import CuckooFilter
from ..functions.urls import url_hash64
from ..operators.skew import with_salt
from ..sources import site_model as sm
from ..sources.site_model import SiteSpec
from ..streaming import checkpoint as ck

ORDER_KEY = ["priority", "disc_epoch", "seed_idx", "page_idx", "pos"]
FRONTIER_COLS = ORDER_KEY + ["kind", "url", "host"]
# selection windows order by ORDER_KEY + url: the url is a guaranteed-unique
# final tiebreaker, so the two-stage salted selection and the unsalted
# per-host window agree even if two rows ever tie on the 5-part key at a
# budget boundary (ADVICE r2; refsim sorts by the same extended key)
SELECT_ORDER = ORDER_KEY + ["url"]

# sub-windows per host in the constrained selection path: a dominant host's
# pending set sorts in N_SALT_PARTS parallel bounded tasks instead of one
N_SALT_PARTS = 16

# Arrow types of the frontier tables, whichever writer: int32 keys, or
# cross-epoch unions break
_FRONTIER_PA = pa.schema(
    [(c, pa.int32() if c in ORDER_KEY else pa.string()) for c in FRONTIER_COLS]
)


@dataclass
class CrawlResult:
    ckpt: str
    epochs: int
    spark: SparkSession

    def _concat(self, dfs: list, schema: pa.Schema) -> DataFrame:
        """The union of `dfs`, or an empty `schema` table when there are
        none (a checkpoint with no fetch epoch yet)."""
        if not dfs:
            return self.spark.createDataFrame([], from_arrow_schema(schema))
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def _fetch_out(self) -> DataFrame:
        # per-path reads unioned (not a multi-root read: the row_type
        # partitioning inside fetch_out confuses cross-root discovery)
        paths = [
            ck.table_path(self.ckpt, e, "fetch_out")
            for e in ck.committed_epochs(self.ckpt)
            if os.path.isdir(ck.table_path(self.ckpt, e, "fetch_out"))
        ]
        return self._concat(
            [self.spark.read.parquet(p) for p in paths], fetcher.FETCH_OUT_PA
        )

    def crawl_order(self) -> DataFrame:
        """Total crawl order: (epoch, host, key...) ascending — the proof
        artifact compared against refsim (north rule). Fast-path epochs that
        fetched the whole frontier record a manifest pointer instead of
        re-writing the log; reassemble from the frontier snapshot."""
        parts = []
        for e in ck.committed_epochs(self.ckpt):
            log_dir = ck.table_path(self.ckpt, e, "crawl_log")
            if os.path.isdir(log_dir):
                parts.append(self.spark.read.parquet(log_dir))
                continue
            man = ck.read_manifest(self.ckpt, e)
            if man.get("crawl_log_from_frontier") and man.get("urls_fetched", 0):
                pe = man["processed_epoch"]
                parts.append(
                    ck.read_table(self.spark, self.ckpt, pe, "frontier")
                    .select(*FRONTIER_COLS)
                    .withColumn("epoch", F.lit(pe))
                )
        out = self._concat(
            parts, _FRONTIER_PA.append(pa.field("epoch", pa.int32()))
        )
        return out.orderBy(["epoch", "host"] + SELECT_ORDER)

    def fetched(self) -> DataFrame:
        """Payload rows (input_hint schema + provenance), partition-pruned
        out of fetch_out — payload bytes are written exactly once."""
        return (
            self._fetch_out()
            .filter(F.col("row_type") == "payload")
            .select(
                "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                "url", "host", "fetch_epoch",
                *ORDER_KEY,
            )
        )

    def failed(self) -> DataFrame:
        """Failed fetches (consumed budget, no payload; ref main.py:124-127)."""
        return (
            self._fetch_out()
            .filter(F.col("row_type") == "failed")
            .select("url", "host", "fetch_epoch", *ORDER_KEY)
        )

    def seen(self) -> DataFrame:
        """The current exact seen set (tombstone-aware: expire_seen's
        removals are subtracted unless the URL was re-admitted later)."""
        log = _seen_log(self.ckpt, ck.last_committed(self.ckpt) or 0)
        return _seen_view(self.spark, log, False).select("url")

    def metrics(self) -> DataFrame:
        """Fetch lineage rows (T6): one per batch the fetch function
        fetched."""
        return (
            self._fetch_out()
            .filter(F.col("row_type") == "metric")
            .select(
                "fetch_epoch", "urls_fetched", "links_discovered",
                "payload_bytes", "wall_ms",
            )
        )


def _bloom_expected(spec: SiteSpec) -> int:
    per_seed = spec.max_list_pages * (1 + spec.max_links_per_page)
    return max(1024, spec.n_seeds * per_seed)


def _seed_rows(spec: SiteSpec) -> pa.Table:
    """The seed list pages as frontier rows, before keep-first."""
    ids = range(spec.n_seeds)
    rows = pd.DataFrame(
        {
            "priority": [sm.seed_priority(spec, i) for i in ids],
            "disc_epoch": 0,
            "seed_idx": ids,
            "page_idx": 1,
            "pos": -1,
            "kind": "list",
            "url": [sm.seed_url(spec, i) for i in ids],
            "host": [sm.seed_host(spec, i) for i in ids],
        }
    )
    return pa.Table.from_pandas(rows, preserve_index=False).cast(_FRONTIER_PA)


def _first_per_key(t, key: str, order: list):
    """Each `key`'s first row by `order` — the one first-row-per-key step,
    used by keep-first on url and the seen view's latest event per url. On
    the driver `_take_first(t, key, order, 1)`; in Spark a min-struct
    aggregation — one partial+final hash agg, no sort, cheaper than a
    row_number window; `order` leads the struct, so its lexicographic min
    IS the first row."""
    if not isinstance(t, DataFrame):
        return _take_first(t, key, order, 1)[0]
    rest = [c for c in t.columns if c != key and c not in order]
    first = F.min(F.struct(*order, *rest)).alias("_first")
    return t.groupBy(key).agg(first).select(key, "_first.*")


def _first_per_url(t):
    """Keep-first on url: each url's row with the smallest (ORDER_KEY,
    kind, host), as FRONTIER_COLS."""
    return _cols(_first_per_key(t, "url", [*ORDER_KEY, "kind", "host"]), FRONTIER_COLS)


def _seed_frontier(spec: SiteSpec) -> pa.Table:
    """The deduped seed frontier (keep-first on url — parity with refsim's
    seed admission loop), always built on the driver: the seed list is the
    site's configuration (at most 96 seeds in any caller), so it becomes a
    DataFrame only when the injection runs in Spark. `_inject_seeds` is its
    one caller."""
    return _first_per_url(_seed_rows(spec))


# a driver-written table is one parquet file in this row order: same rows →
# same bytes, so resume replay stays byte-identical
_SORT_KEY = {
    "frontier": "url", "crawl_log": "url", "seen_new": "url",
    "seen_removed": "url", "hosts": "host", "robots": "host",
}


def _cols(t, cols: list):
    return t.select(*cols) if isinstance(t, DataFrame) else t.select(cols)


def _to_df(spark: SparkSession, t) -> DataFrame:
    return t if isinstance(t, DataFrame) else spark.createDataFrame(t)


def _count_by_host(t, name: str):
    """(host, `name`): rows per host."""
    if isinstance(t, DataFrame):
        return t.groupBy("host").agg(F.count(F.lit(1)).alias(name))
    out = t.group_by("host").aggregate([("url", "count")])
    return pa.table({"host": out.column("host"), name: out.column("url_count")})


def _seen_event(t, col: str, epoch: int):
    """The seen-set event rows (url, url_hash, `col` = epoch) of `t`: the
    seen_new admissions (admit_epoch) or the seen_removed tombstones
    (removed_epoch)."""
    if isinstance(t, DataFrame):
        return t.select("url", "url_hash", F.lit(epoch).alias(col))
    return pa.table(
        {
            "url": t.column("url"),
            "url_hash": t.column("url_hash"),
            col: pa.array(np.full(t.num_rows, epoch, np.int32)),
        }
    )


def _write_all(ckpt: str, epoch: int, tables: dict) -> None:
    """Write an epoch's tables: driver-held ones as one sorted parquet file
    each (`_SORT_KEY`), Spark ones from one thread each so their fixed
    job-submission latencies overlap (Spark schedules concurrent jobs from
    one session; the writes target distinct dirs)."""
    jobs = []
    for name, t in tables.items():
        if isinstance(t, DataFrame):
            jobs.append((t, name))
        else:
            ck.write_table_local(ckpt, epoch, name, t.sort_by(_SORT_KEY[name]))
    if jobs:
        with ThreadPoolExecutor(len(jobs)) as ex:
            for f in [ex.submit(ck.write_table, t, ckpt, epoch, n) for t, n in jobs]:
                f.result()


def _with_url_hash(t):
    """`t` plus its url_hash column: url_hash64 in Spark, site_model.h64
    (the same hash) on the driver."""
    if isinstance(t, DataFrame):
        return t.withColumn("url_hash", url_hash64("url"))
    hashes = [sm.h64(u) for u in t.column("url").to_pylist()]
    return t.append_column("url_hash", pa.array(hashes, pa.int64()))


def _take_first(t: pa.Table, run: str, order: list, n) -> tuple[pa.Table, pa.Table]:
    """(taken, rest): `t` sorted by (run, *order) and split into the first
    `n` rows of each `run` key and the others. `n` is an int or the name of
    a per-row count column (null counts as 0). The driver form of every
    first-n-per-key step: the budget-bound selection, `_first_per_key`
    (keep-first on url and the seen view's latest event per url) and the
    streaming politeness gate."""
    t = t.sort_by([(c, "ascending") for c in [run, *order]])
    key = t.column(run).to_numpy(zero_copy_only=False)
    i = np.arange(len(key))
    start = np.ones(len(key), dtype=bool)
    start[1:] = key[1:] != key[:-1]
    rank = i - np.maximum.accumulate(np.where(start, i, 0))
    if isinstance(n, str):
        n = pc.fill_null(t.column(n), 0).to_numpy()
    first = pa.array(rank < n)
    return t.filter(first), t.filter(pc.invert(first))


def _new_hosts(hosts: pa.Array, spec: SiteSpec) -> pa.Table:
    """The injected hosts' first state: a full politeness bucket and the
    host's robots rules."""
    names = hosts.to_pylist()
    return pa.table(
        {
            "host": pa.array(names, pa.string()),
            "tokens": pa.array([float(spec.burst)] * len(names), pa.float64()),
            "disallow_prefixes": pa.array(
                [sm.robots_disallows(spec, h) for h in names], pa.list_(pa.string())
            ),
        }
    )


def _inject(
    spark: SparkSession, spec: SiteSpec, ckpt: str, epoch: int, rows,
    hosts: pa.Array, flt, lineage: dict,
) -> None:
    """Commit epoch `epoch` as the frontier rows `rows` (keep-first on url
    already applied) injected into the state of epoch `epoch - 1` (none at
    init), through `_commit_epoch` with the seen-filter `flt` — the one way
    a frontier is initialised or reseeded. The frontier keeps the first
    row of each url over the pending rows and `rows` (`_first_per_url`).
    The rows not seen as of the prior epoch enter seen_new (`_split_seen`'s
    unseen side): refsim puts the seeds in the seen set at start, so every
    pass must, and a row still seen keeps its one live seen row. The hosts
    table is the frontier's count by host ⟗ the `hosts` with a full
    politeness bucket (`_carry_hosts`); any other pending host gets null
    tokens, which plan as a full bucket too. The `hosts` also get their
    site-model robots rules, written at init only, where `_robots` reads
    them. Every table stays on the driver when `rows` is a driver-held
    table and it, the pending frontier and the prior seen view fit the
    local caps, as in `_admit`; otherwise the steps run in Spark, over
    `rows` persisted once."""
    prior = epoch - 1
    new_hosts = _new_hosts(hosts, spec)
    log = _seen_log(ckpt, prior)  # empty at init
    local = (
        not isinstance(rows, DataFrame)
        and rows.num_rows <= _DRIVER_COMMIT_MAX_ROWS
        and log.small
        and (
            epoch == 0
            or ck.table_num_rows(ckpt, prior, "frontier") <= _DRIVER_COMMIT_MAX_ROWS
        )
    )
    cached: list[DataFrame] = []
    if not local:  # read by every table built below
        rows, new_hosts = _to_df(spark, rows).persist(), _to_df(spark, new_hosts)
        cached.append(rows)
    try:
        if epoch == 0:
            frontier, admitted = rows, _with_url_hash(rows)
        else:
            pending = (
                _read_frontier_local(ckpt, prior)
                if local
                else _read_frontier(spark, ckpt, prior)
            )
            frontier = _first_per_url(_union(spark, [pending, rows]))
            if not local:  # read twice: written, and counted by host
                frontier = frontier.persist()
                cached.append(frontier)
            admitted = _split_seen(spark, log, rows, cached)[1]
        tables = {
            "frontier": frontier,
            "seen_new": _seen_event(admitted, "admit_epoch", epoch),
            "hosts": _carry_hosts(
                spark, _count_by_host(frontier, "n_pending"),
                _cols(new_hosts, ["host", "tokens"]),
            ),
        }
        if epoch == 0:
            tables["robots"] = _cols(new_hosts, ["host", "disallow_prefixes"])
        _commit_epoch(spark, ckpt, epoch, tables, flt, lineage, _Phases())
    finally:
        for df in cached:
            df.unpersist()


def _inject_seeds(
    spark: SparkSession, spec: SiteSpec, ckpt: str, epoch: int, flt, lineage: dict
) -> None:
    """`_inject` of the seed list pages (`_seed_frontier`, built on the
    driver) and their hosts."""
    seeds = _seed_frontier(spec)
    hosts = pc.unique(seeds.column("host"))
    _inject(spark, spec, ckpt, epoch, seeds, hosts, flt, lineage)


def init_state(spark: SparkSession, spec: SiteSpec, ckpt: str) -> None:
    """Epoch-0 state: the seeds injected (`_inject_seeds`) into an empty
    checkpoint with a fresh Bloom seen-filter sized for the site —
    frontier = the seeds, seen = the seeds, hosts = their counts with
    tokens = burst, robots."""
    _inject_seeds(
        spark, spec, ckpt, 0, BloomFilter(_bloom_expected(spec)), {"kind": "init"}
    )


# ---- host-sized state: one carried table, `hosts` (host, n_pending,
# tokens), and one pyarrow implementation, on the driver or in Spark. Both
# functions map one batch to one batch.

_HOSTS_PA = pa.schema(
    [("host", pa.string()), ("n_pending", pa.int64()), ("tokens", pa.float64())]
)
_HOST_PLAN_PA = pa.schema(
    [("host", pa.string()), ("n_pending", pa.int64()), ("n_taken", pa.int64()),
     ("tokens", pa.float64())]
)


def _host_plan(hosts: pa.RecordBatch, burst: float, refill: float) -> pa.RecordBatch:
    """The per-host politeness step (T2, the spec shared with refsim) over
    a batch of the hosts table (host, n_pending, tokens). A host with null
    tokens (first discovered this run) starts with a full bucket; a host
    with no pending url is idle.

      n_taken = min(n_pending, floor(tokens))   this epoch's fetches
      tokens' = min(burst, tokens − n_taken + refill)   for active hosts;
                idle hosts keep their stale tokens, as refsim does

    The plan scalars are its sums: Σ n_pending is the frontier size and
    Σ n_taken the selected-set size — known before selection, and the
    selection is budget-bound exactly when they differ."""
    pending = pc.fill_null(hosts.column("n_pending"), 0)
    tokens = pc.fill_null(hosts.column("tokens"), burst)
    taken = pc.min_element_wise(pending, pc.cast(pc.floor(tokens), pa.int64()))
    refilled = pc.min_element_wise(pc.add(pc.subtract(tokens, taken), refill), burst)
    return pa.RecordBatch.from_arrays(
        [
            pc.cast(hosts.column("host"), pa.string()),
            pending,
            taken,
            pc.if_else(pc.greater(pending, 0), refilled, tokens),
        ],
        schema=_HOST_PLAN_PA,
    )


def _host_carry(hosts: pa.RecordBatch) -> pa.RecordBatch:
    """The next hosts table (host, n_pending, tokens) from a batch of a
    host join holding n_pending and tokens, plus n_taken and n_admitted
    where they apply, each null where its side has no row for the host.
    The count is pending − taken + admitted — what a groupBy over the next
    frontier returns, without scanning it (tests/test_host_counts_carry.py
    pins the two equal); the tokens pass through. Idle hosts keep their
    row, since their tokens are state, and a host without tokens (first
    seen in this epoch's admissions) keeps null ones."""
    names = hosts.schema.names
    n = pc.fill_null(hosts.column("n_pending"), 0)
    if "n_taken" in names:
        n = pc.subtract(n, pc.fill_null(hosts.column("n_taken"), 0))
    if "n_admitted" in names:
        n = pc.add(n, pc.fill_null(hosts.column("n_admitted"), 0))
    return pa.RecordBatch.from_arrays(
        [pc.cast(hosts.column("host"), pa.string()), n, hosts.column("tokens")],
        schema=_HOSTS_PA,
    )


def _per_batch(fn):
    """The iterator-of-batches form of a batch → batch function."""
    return lambda batches: map(fn, batches)


def _map_arrow(fn, t, schema: pa.Schema):
    """`fn`, an iterator of record batches → an iterator of `schema`
    batches, over a table: called directly on a driver-held pyarrow table,
    through mapInArrow on a DataFrame. The host plan and carry and the
    fetch all go through here, so each has one implementation and its form
    follows from where its input is held."""
    if isinstance(t, DataFrame):
        return t.mapInArrow(fn, from_arrow_schema(schema))
    return pa.Table.from_batches(fn(t.combine_chunks().to_batches()), schema=schema)


@dataclass
class _Hosts:
    plan: object  # _host_plan output: pa.Table on the driver, else DataFrame
    n_frontier: int
    n_selected: int


def _plan_hosts(
    spark: SparkSession, spec: SiteSpec, ckpt: str, epoch: int, cached: list
) -> _Hosts:
    """Run `_host_plan` over the epoch's hosts table, which every committed
    epoch carries (|hosts| rows: the plan phase never re-shuffles the
    frontier). Under the local cap it is read and planned on the driver
    with no Spark job; above it through mapInArrow over its scan,
    persisted for selection and the commit."""
    fn = _per_batch(
        partial(
            _host_plan, burst=float(spec.burst),
            refill=float(spec.rate_per_sec * spec.epoch_seconds),
        )
    )
    if ck.table_num_rows(ckpt, epoch, "hosts") <= _DRIVER_ADD_MAX_ROWS:
        hosts = ck.read_table_local(
            ckpt, epoch, "hosts", _HOSTS_PA.names, _DRIVER_ADD_MAX_ROWS
        )
    else:  # an explicit schema, as in _read_frontier
        hosts = spark.read.schema(from_arrow_schema(_HOSTS_PA)).parquet(
            ck.table_path(ckpt, epoch, "hosts")
        )
    plan = _map_arrow(fn, hosts, _HOST_PLAN_PA)
    if not isinstance(plan, DataFrame):
        return _Hosts(
            plan,
            pc.sum(plan.column("n_pending")).as_py() or 0,
            pc.sum(plan.column("n_taken")).as_py() or 0,
        )
    plan = plan.persist()
    cached.append(plan)
    row = plan.agg(F.sum("n_pending"), F.sum("n_taken")).first()
    return _Hosts(plan, int(row[0] or 0), int(row[1] or 0))


def _carry_hosts(spark: SparkSession, hosts, other):
    """`_host_carry` over `hosts` ⟗ `other` on host, the one host join:
    the plan ⟗ this epoch's admissions by host in `_commit` (`other` None
    when nothing was admitted), the frontier's count by host ⟗ the
    injected hosts' full buckets in `_inject`. On the driver when both are
    driver-held, else through mapInArrow."""
    if other is not None:
        if isinstance(hosts, DataFrame) or isinstance(other, DataFrame):
            hosts = _to_df(spark, hosts).join(_to_df(spark, other), "host", "full")
        else:
            hosts = hosts.join(other, "host", join_type="full outer")
    return _map_arrow(_per_batch(_host_carry), hosts, _HOSTS_PA)


# The local caps. An epoch table whose row count — known before it is built
# — is at most its cap is materialised on the driver with pyarrow (a ~1 ms
# parquet write instead of a Spark job of ~0.3 s fixed latency; the r6 phase
# profile put such jobs at ~2 s of a ~2.9 s small-site epoch). Larger ones
# stay Spark jobs, so at 10^8-row epochs nothing collects.
# Full frontier/link rows (~200 B each, ≤50 MB at the cap): a budget-bound
# epoch's selection, a discovered-link batch, an injection's rows.
_DRIVER_COMMIT_MAX_ROWS = 1 << 18
# Narrow rows: the host tables, the seen view's urls, url_hash columns
# (≤8 MB of int64 hashes).
_DRIVER_ADD_MAX_ROWS = 1 << 20
# The batch of tombstone hashes a cuckoo filter deletes at a time, read
# back from any size of seen_removed table: the same ~8 MB bound.
_EXPIRE_CHUNK = 1 << 20
# URLs a driver-held selection may hold to be fetched on the driver
# (`_fetch`), serially, instead of by a Spark job over 2× task slots. On a
# 4-core local[4] box the driver fetch costs ~0.3 ms per URL at max_dim 64
# (761 URLs in ~0.2 s); a warm Spark fetch job has ~0.4-0.5 s of fixed
# latency before any work (a 14-URL epoch spent 0.39-0.52 s in its fetch
# phase), so the serial fetch is no slower in wall time up to ~0.5 s /
# 0.3 ms ≈ 1,700-1,800 URLs, and costs far less CPU (no JVM job, no Python
# worker). 1024 stays below that break-even: every politeness-bound
# crawl_polite epoch (14-318 URLs) fetches on the driver, a 51,200-URL
# steady-state epoch in Spark.
_DRIVER_FETCH_MAX_URLS = 1 << 10


_BUILD_ROWS_PER_PART = 50_000_000  # ~1 partial per 50M hashes per task


def _build_partitions(n_rows: int | None) -> int:
    """Partition count for the distributed filter builds. The trade: each
    partition yields one partial (an m/8-byte bitmap or an m×4 fingerprint
    table), so reduce cost is partitions × partial-size — but a CONSTANT 8
    means an epoch admitting 10^9 URLs hashes 1.25×10^8 rows per task,
    single-threaded (VERDICT r3 item 4). Scale with the batch at ~50M
    hashes/task; treeReduce keeps the merge log-depth regardless."""
    if n_rows is None:
        return 8
    return max(8, n_rows // _BUILD_ROWS_PER_PART)


def _filter_add_from_df(flt, hashes_df: DataFrame, n_rows: int | None = None) -> None:
    """Distributed filter build, the 10^10-scale path with no driver-side
    row collection: each task adds the Arrow batches of its hash column
    (mapInArrow, no Python per row) to an empty partial of `flt`'s
    geometry (`empty_like`; the closure carries that empty filter, not
    `flt`'s keys) and yields it once, pickled in one binary row; the
    partials are tree-merged into `flt` — a Bloom bitmap OR, or cuckoo
    fingerprint re-insertion (cuckoo.py merge). Few fat partitions: each
    yields one partial, so the reduce cost is partitions × partial size,
    not rows — the count is scaled by the caller's batch size hint
    (`_build_partitions`)."""
    empty = type(flt).empty_like(flt)

    def part(batches):
        local = type(empty).empty_like(empty)
        for b in batches:
            local.add_many(b.column(0).to_numpy())
        yield pa.record_batch({"partial": [pickle.dumps(local)]})

    partials = hashes_df.coalesce(_build_partitions(n_rows)).mapInArrow(
        part, "partial binary"
    )
    merged = partials.rdd.map(lambda r: pickle.loads(r[0]))
    flt.merge(merged.treeReduce(lambda a, b: a.merge(b)))


# growth trigger for the cuckoo seen-filter: above ~90% of slot capacity,
# eviction cascades lengthen and add_many can hit its _MAX_KICKS RuntimeError
# mid-commit (ADVICE r3) — grow BEFORE inserting the batch that would cross it
_CUCKOO_GROW_LOAD = 0.9


def _grown_m(old_m: int, n_total: int) -> int:
    """Bucket count for a fresh (``old_m`` 0) or rebuilt cuckoo
    seen-filter: ≥2× the old table (amortized O(1) growth) and sized so
    ``n_total`` keys land at ≤0.72·0.95 ≈ 0.68 load — always below the 0.9
    grow trigger, so a filter can never be rebuilt by the batch it was
    sized for."""
    return max(2 * old_m, CuckooFilter.m_for(int(n_total / 0.72) + 1))


def _grow_cuckoo(
    spark: SparkSession, ckpt: str, upto_epoch: int, old_m: int, n_total: int
) -> CuckooFilter:
    """A cuckoo seen-filter of `_grown_m(old_m, n_total)` buckets built from
    the EXACT seen view as of ``upto_epoch`` (whose own tables must already
    be written), with the url_hash each seen row stores: from the view's
    driver form when the log is small, else by a distributed build over its
    Spark form scaled by ``n_total``.
    The one builder of a filter from the seen view, for two events: the
    first expiry of a Bloom crawl (``old_m`` 0) and the growth of a cuckoo
    filter (``old_m`` its bucket count). A cuckoo table cannot be grown
    from its own fingerprints — doubling m adds an index bit that only the
    original 64-bit key carries. `_grown_m` is at least 2× the old table
    (so growth amortizes to O(1) per admitted URL) and lands ``n_total``
    keys well below the 0.9 grow trigger — a rebuild landing above it would
    force another full rebuild on the very next admission (round-4
    ADVICE)."""
    flt = CuckooFilter.empty(_grown_m(old_m, n_total))
    log = _seen_log(ckpt, upto_epoch)
    view = _seen_view(spark, log, log.small)
    if log.small:
        flt.add_many(view.column("url_hash").to_numpy())
    else:
        _filter_add_from_df(flt, view.select("url_hash"), n_total)
    return flt


def _seen_filter_load(flt) -> float:
    """The saturation gauge recorded in every committed manifest — visible
    BEFORE it becomes fatal (cuckoo: fraction of slots; bloom: fraction of
    set bits, fpr ≈ fill^k)."""
    if isinstance(flt, CuckooFilter):
        return round(flt.load_factor(), 4)
    return round(flt.fill_fraction(), 4)


def _filter_path(ckpt: str, epoch: int) -> str:
    return os.path.join(ck.epoch_dir(ckpt, epoch), "bloom.npz")


def _load_seen_filter(path: str):
    """Load whichever filter the checkpoint stored, by the .npz's ``kind``
    field."""
    with np.load(path) as z:
        kind = str(z["kind"])
    return {"bloom": BloomFilter, "cuckoo": CuckooFilter}[kind].load(path)


def _seen_filter_udf(flt):
    contains = flt.maybe_contains  # bound method pickles the filter arrays

    @F.pandas_udf("boolean")
    def maybe_seen(h: pd.Series) -> pd.Series:
        return pd.Series(contains(h.to_numpy(dtype=np.int64)))

    return maybe_seen


def _select(
    spark: SparkSession, ckpt: str, epoch: int, hosts: _Hosts, cached: list
):
    """(selected, remaining, crawl_log): the rows to fetch (None in a tick
    epoch), the rows carried to the next frontier, and the crawl_log to
    commit (None when it is the frontier snapshot itself); pyarrow tables
    where the driver built them, DataFrames where Spark does.

    When every host's pending set fits its budget the whole frontier is
    selected (the steady-state fast path and the drain phase of every
    crawl: no sort at all). It is read onto the driver only when `_fetch`
    will fetch it there; a larger one stays a parquet scan. Otherwise each
    host takes its `n_taken` first rows by SELECT_ORDER — on the driver for
    a frontier under the local cap (`_select_local`, by `_take_first`),
    else by two salted Spark windows, skew-safe (Zipf host distributions
    are the norm — site_model.py:55): a plain PARTITION BY host window
    sorts one dominant host's ENTIRE pending set (10^9 rows at 10^10-URL
    scale) in a single task, because the budget bounds the window's
    output, not its input.
    Stage 1 salts each host's rows into N_SALT_PARTS sub-windows and keeps
    only the per-salt top-n_taken — sound because any row in the global
    top-n_taken has < n_taken rows ahead of it overall, hence < n_taken
    ahead within its own salt. Stage 2 ranks the ≤ salts·n_taken survivors
    exactly. Rows dropped in stage 1 are provably unselected, so the result
    is bit-identical to the unsalted window (test_crawl_skew.py proves both
    forms against refsim under 90% skew)."""
    local = hosts.n_frontier <= _DRIVER_COMMIT_MAX_ROWS
    if hosts.n_selected == hosts.n_frontier:
        if hosts.n_selected <= _DRIVER_FETCH_MAX_URLS:
            selected = _read_frontier_local(ckpt, epoch)
        else:
            selected = _read_frontier(spark, ckpt, epoch)
        return selected, _FRONTIER_PA.empty_table(), None
    if hosts.n_selected == 0:  # tick: the frontier carries over unchanged
        if local:
            return None, _read_frontier_local(ckpt, epoch), None
        return None, _read_frontier(spark, ckpt, epoch), None
    if local:
        return _select_local(ckpt, epoch, hosts)
    taken = _to_df(spark, _cols(hosts.plan, ["host", "n_taken"]))
    wpre = W.partitionBy("host", "_salt").orderBy(*SELECT_ORDER)
    pre = (
        with_salt(_read_frontier(spark, ckpt, epoch), N_SALT_PARTS, "url")
        .join(F.broadcast(taken), "host", "left")
        .fillna(0, ["n_taken"])
        .withColumn("_prn", F.row_number().over(wpre))
        .persist()
    )
    cached.append(pre)
    wsel = W.partitionBy("host").orderBy(*SELECT_ORDER)
    ranked = (
        pre.filter(F.col("_prn") <= F.col("n_taken"))
        .withColumn("_rn", F.row_number().over(wsel))
    )
    marked = (
        pre.filter(F.col("_prn") > F.col("n_taken"))
        .select(*FRONTIER_COLS, F.lit(False).alias("_sel"))
        .unionByName(
            ranked.select(
                *FRONTIER_COLS, (F.col("_rn") <= F.col("n_taken")).alias("_sel")
            )
        )
        .persist()
    )
    cached.append(marked)
    selected = marked.filter(F.col("_sel")).select(*FRONTIER_COLS)
    return (
        selected,
        marked.filter(~F.col("_sel")).select(*FRONTIER_COLS),
        selected.withColumn("epoch", F.lit(epoch)),
    )


def _read_frontier(spark: SparkSession, ckpt: str, epoch: int) -> DataFrame:
    """The epoch's frontier as a Spark scan, for the branches that run Spark
    jobs over it. Explicit schema: a schema-less read eagerly lists the dir
    and reads a footer (~50-60 ms of py4j/JVM latency per call)."""
    return spark.read.schema(from_arrow_schema(_FRONTIER_PA)).parquet(
        ck.table_path(ckpt, epoch, "frontier")
    )


def _read_frontier_local(ckpt: str, epoch: int) -> pa.Table:
    return ck.read_table_local(
        ckpt, epoch, "frontier", FRONTIER_COLS, _DRIVER_COMMIT_MAX_ROWS
    ).cast(_FRONTIER_PA)


_TAKEN_PA = pa.schema([("host", pa.string()), ("n_taken", pa.int64())])


def _select_local(ckpt: str, epoch: int, hosts: _Hosts):
    """The budget-bound selection on the driver: `_take_first` of each
    host's n_taken rows by SELECT_ORDER, over the frontier left-joined to
    the plan's (host, n_taken). The same rows as the salted windows, with
    no Spark job — unless the plan is a DataFrame (a hosts table above
    `_DRIVER_ADD_MAX_ROWS` under a frontier within the local cap): then one
    collect of its hosts with budget, at most n_frontier rows."""
    taken = _cols(hosts.plan, ["host", "n_taken"])
    if isinstance(taken, DataFrame):
        taken = taken.filter(F.col("n_taken") > 0).toArrow()
    rows = _read_frontier_local(ckpt, epoch).join(
        taken.cast(_TAKEN_PA), "host", join_type="left outer"
    )
    log, rest = (
        t.select(FRONTIER_COLS)
        for t in _take_first(rows, "host", SELECT_ORDER, "n_taken")
    )
    return (
        log,
        rest,
        log.append_column("epoch", pa.array(np.full(log.num_rows, epoch, np.int32))),
    )


# Task-sizing floor of the Spark fetch: at ~2 ms of codec work per URL and
# ~10 ms of fixed per-task cost (schedule + Arrow round-trip + commit), a
# task below ~32 URLs spends more on overhead than fetching. (Round 6 set it
# on the small-site crawl, which then fetched in Spark: floor 4 → 32 cut its
# fetch phase 4.8 → 2.3 s. Small selections now fetch on the driver, see
# _DRIVER_FETCH_MAX_URLS.) Above that cap the floor binds only where 2×
# task slots exceed n_selected/32 — a few thousand URLs on a wide cluster;
# the 2×-slots cap binds at scale, so the big-epoch plan is unchanged.
_MIN_URLS_PER_FETCH_TASK = 32


def _robots(ckpt: str) -> dict:
    """host → disallowed path prefixes, for the hosts that have any: the
    robots table init wrote (one row per seed host). The fetch closure
    carries it to every task, as the broadcast robots join it replaces did
    (PySpark broadcasts a pickled closure above 1 MB)."""
    t = pq.read_table(
        ck.table_path(ckpt, 0, "robots"), columns=["host", "disallow_prefixes"]
    )
    return {
        h: tuple(p)
        for h, p in zip(
            t.column("host").to_pylist(), t.column("disallow_prefixes").to_pylist()
        )
        if p
    }


def _fetch(
    spark: SparkSession, spec: SiteSpec, ckpt: str, epoch: int, selected,
    n_selected: int,
) -> int:
    """Fetch the selected rows into the next epoch's fetch_out; returns the
    number of candidate links written. One fetch function (`make_fetcher`)
    inside one writer (`fetch_out_writer`), two forms, chosen by
    `n_selected` alone: a selection of at most _DRIVER_FETCH_MAX_URLS rows
    is fetched and written on the driver (collected first when Spark
    selected it), one file per row_type; a larger one runs through
    mapInArrow, each task writing its own file per row_type. Either way
    payloads are written exactly once, by the Python code that fetched
    them, and only the per-call link counts come back."""
    if n_selected > _DRIVER_FETCH_MAX_URLS:
        # fetch tasks must be sized by fetch *cost*, not by input bytes: the
        # frontier rows are ~100 B each, so a byte-based scan split would run
        # a million-URL fetch on two cores. Round-robin to 2× task slots —
        # but no more tasks than ~n_selected/32 (see _MIN_URLS_PER_FETCH_TASK).
        fetch_par = min(
            spark.sparkContext.defaultParallelism * 2,
            max(1, -(-n_selected // _MIN_URLS_PER_FETCH_TASK)),
        )
        selected = _to_df(spark, selected).repartition(fetch_par)
    elif isinstance(selected, DataFrame):
        selected = selected.toArrow()
    out_dir = ck.table_path(ckpt, epoch + 1, "fetch_out")
    shutil.rmtree(out_dir, ignore_errors=True)
    fetch = fetcher.make_fetcher(spec, epoch, _robots(ckpt))
    counts = _map_arrow(
        fetcher.fetch_out_writer(fetch, out_dir), selected, fetcher.FETCH_COUNT_PA
    )
    if isinstance(counts, DataFrame):
        counts = counts.toArrow()
    return pc.sum(counts.column("n_links")).as_py()


@dataclass
class _SeenLog:
    """The seen-log tables of `ckpt` up to `epoch`, as (epoch, table)
    pairs, and their rows from the parquet footers (`_seen_log`)."""

    ckpt: str
    epoch: int
    tables: list
    n_rows: int

    @property
    def small(self) -> bool:
        """The gate of the seen view's driver form: its input rows fit
        `_DRIVER_ADD_MAX_ROWS`."""
        return self.n_rows <= _DRIVER_ADD_MAX_ROWS


def _seen_log(ckpt: str, epoch: int) -> _SeenLog:
    """The one listing of the seen log: every seen_new and seen_removed
    table up to `epoch` (zero-fetch epochs write neither) with its footer
    row count, no data read. A step that needs the seen view lists the log
    once and takes the view (`_seen_view`) and its size from the listing."""
    tables = [
        (e, name)
        for e in range(epoch + 1)
        for name in ("seen_new", "seen_removed")
        if os.path.isdir(ck.table_path(ckpt, e, name))
    ]
    n_rows = sum(ck.table_num_rows(ckpt, e, name) for e, name in tables)
    return _SeenLog(ckpt, epoch, tables, n_rows)


def _seen_view(spark: SparkSession, log: _SeenLog, local: bool):
    """The exact seen set (url, url_hash) as of `log.epoch`, read from the
    tables `log` lists: a pyarrow table when `local` (callers gate it by
    `log.small`), else a DataFrame over explicit-schema scans. A url is
    seen iff its latest event is an admission, a tombstone winning a tie,
    so a TTL'd url is admissible again and a later re-admission stays
    seen: `_first_per_key` of each url's events ordered by (−epoch,
    admitted). Without a tombstone each url has exactly one seen_new row,
    and the view is their union."""
    parts = []
    for name, col in (("seen_new", "admit_epoch"), ("seen_removed", "removed_epoch")):
        epochs = [e for e, n in log.tables if n == name]
        if not epochs:
            continue
        schema = pa.schema(
            [("url", pa.string()), ("url_hash", pa.int64()), (col, pa.int32())]
        )
        admitted = name == "seen_new"
        if local:
            t = pa.concat_tables(
                ck.read_table_local(
                    log.ckpt, e, name, schema.names, _DRIVER_ADD_MAX_ROWS
                ).cast(schema)
                for e in epochs
            )
            t = t.set_column(2, "after", pc.negate(t.column(col)))
            flag = pa.array(np.full(len(t), admitted))
            parts.append(t.append_column("admitted", flag))
        else:
            parts.append(
                spark.read.schema(from_arrow_schema(schema))
                .parquet(*(ck.table_path(log.ckpt, e, name) for e in epochs))
                .select("url", "url_hash", (-F.col(col)).alias("after"))
                .withColumn("admitted", F.lit(admitted))
            )
    if len(parts) == 1:  # no tombstone
        return _cols(parts[0], ["url", "url_hash"])
    events = pa.concat_tables(parts) if local else parts[0].unionByName(parts[1])
    latest = _first_per_key(events, "url", ["after", "admitted"])
    admitted = latest.column("admitted") if local else "admitted"
    return _cols(latest.filter(admitted), ["url", "url_hash"])


def _split_seen(spark: SparkSession, log: _SeenLog, t, cached: list):
    """(seen, unseen): the rows of `t` whose url is / is not in the seen
    view of `log`, both plus url_hash — the one exact seen-membership
    test. Admission and injection keep the unseen rows, expiry the
    seen ones. A driver-held `t` (its callers gate the view by
    `log.small`) is looked up by `pc.index_in` in the view's driver form:
    the seen rows take the url_hash the view stores (a seen url is never
    re-hashed), and only the unseen ones are hashed.
    For a DataFrame only the rows the epoch's seen-filter cannot rule out
    are joined to the view: semi-joined for `seen`, anti-joined for
    `unseen`, which is persisted."""
    if not isinstance(t, DataFrame):
        view = _seen_view(spark, log, True)
        at = pc.index_in(t.column("url"), value_set=view.column("url").combine_chunks())
        seen = pc.is_valid(at)
        hashes = view.column("url_hash").take(at.filter(seen))
        return (
            t.filter(seen).append_column("url_hash", hashes),
            _with_url_hash(t.filter(pc.invert(seen))),
        )
    maybe = _seen_filter_udf(_load_seen_filter(_filter_path(log.ckpt, log.epoch)))
    cand = _with_url_hash(t).withColumn("_maybe", maybe("url_hash")).persist()
    cached.append(cand)
    suspect = cand.filter(F.col("_maybe")).drop("_maybe")
    view = _seen_view(spark, log, False)
    unseen = (
        cand.filter(~F.col("_maybe"))
        .drop("_maybe")
        .unionByName(suspect.join(view, "url", "left_anti"))
        .persist()
    )
    cached.append(unseen)
    return suspect.join(view, "url", "left_semi"), unseen


def _admit(spark: SparkSession, ckpt: str, epoch: int, n_links: int, cached: list):
    """Admission of the epoch's candidate links: keep-first within the
    batch (`_first_per_url`, disc_epoch = the next epoch), then the exact
    anti-join against the seen view (`_split_seen`'s unseen side). Returns
    the admitted rows (FRONTIER_COLS + url_hash): a pyarrow table sorted by
    url when the link batch and the seen view fit the local caps, else a
    persisted DataFrame."""
    out_epoch = epoch + 1
    fetch_out = ck.table_path(ckpt, out_epoch, "fetch_out")
    log = _seen_log(ckpt, epoch)
    if n_links <= _DRIVER_COMMIT_MAX_ROWS and log.small:
        # n_links is exact and the epoch admits only when it is > 0, so
        # the link dir exists
        links = pq.read_table(
            os.path.join(fetch_out, "row_type=link"), columns=FRONTIER_COLS
        ).cast(_FRONTIER_PA)
        links = links.set_column(
            1, "disc_epoch", pa.array(np.full(links.num_rows, out_epoch, np.int32))
        )
    else:
        links = (
            spark.read.schema(from_arrow_schema(fetcher.FETCH_OUT_PA))
            .parquet(fetch_out)
            .filter(F.col("row_type") == "link")
            .select(*FRONTIER_COLS)
            .withColumn("disc_epoch", F.lit(out_epoch))
        )
    return _split_seen(spark, log, _first_per_url(links), cached)[1]


class _Phases(dict):
    """Per-phase wall clock (ms), committed into the epoch manifest
    ("phase_ms"): the scheduler's own lineage for finding non-scaling time
    (a phase whose wall is flat across core counts is serial overhead)."""

    def __init__(self):
        super().__init__()
        self._t = time.perf_counter()

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self[name] = round((now - self._t) * 1000.0, 1)
        self._t = now


def _commit_epoch(
    spark: SparkSession, ckpt: str, epoch: int, tables: dict, flt, lineage: dict,
    phases: _Phases,
) -> None:
    """The one commit path of every epoch kind (an injection — init,
    steady init or reseed —, run_epoch and expiry): write `tables`
    (`_write_all`), apply them to the seen-filter `flt` and save it, and
    last write the manifest — the caller's `lineage` plus urls_admitted,
    seen_filter_load and phase_ms, and urls_expired for an expiry. Every
    filter change is read back from the written tables, so it happens here
    and only here:

    - seen_removed (an expiry): its row count comes from the footers. A
      cuckoo filter deletes the tombstones' url_hash column, read in
      `_EXPIRE_CHUNK` batches from the sorted part files — no Spark job and
      O(chunk) driver memory at any size; the members-only deletion
      contract holds because expiry tombstones only seen urls. A Bloom
      filter cannot forget, so the first expiry that removes a url
      replaces it by a cuckoo filter built from the post-expiry seen view
      (`_grow_cuckoo` from 0 buckets), sized for every url admitted so
      far: before that expiry nothing was removed and each admission adds
      only unseen urls, so the prior seen log's rows are the seen set the
      crawl already holds. An expiry that removes nothing leaves the
      filter as it is.
    - seen_new (an admission): its hashes are added, read on the driver up
      to `_DRIVER_ADD_MAX_ROWS` (a distributed build is a full job of
      ~0.5 s fixed latency to hash a few hundred rows), else by a
      distributed build over its scan. A cuckoo filter the batch would
      push past `_CUCKOO_GROW_LOAD` is first rebuilt larger
      (`_grow_cuckoo`).

    Replay-deterministic either way (sorted part files / deterministic
    coalesce), so resume stays byte-identical."""
    seen_new = tables.pop("seen_new", None)
    if seen_new is not None:
        # written first: for a Spark batch this is the one pass that
        # computes `admitted` into its cache (no separate count job — the
        # count comes from the written parquet footers) before the
        # concurrent writes below read it
        _write_all(ckpt, epoch, {"seen_new": seen_new})
    _write_all(ckpt, epoch, tables)
    phases.mark("state_writes")

    if "seen_removed" in tables:
        n_expired = ck.table_num_rows(ckpt, epoch, "seen_removed")
        lineage = {**lineage, "urls_expired": n_expired}
        if isinstance(flt, CuckooFilter):
            root = ck.table_path(ckpt, epoch, "seen_removed")
            for fn in sorted(f for f in os.listdir(root) if f.endswith(".parquet")):
                chunks = pq.ParquetFile(os.path.join(root, fn)).iter_batches(
                    _EXPIRE_CHUNK, columns=["url_hash"]
                )
                for b in chunks:
                    flt.delete_many(b.column(0).to_numpy())
        elif n_expired:
            n_seen = _seen_log(ckpt, epoch - 1).n_rows
            flt = _grow_cuckoo(spark, ckpt, epoch, 0, n_seen)
    n_admitted = 0 if seen_new is None else ck.table_num_rows(ckpt, epoch, "seen_new")
    if n_admitted:
        if (
            isinstance(flt, CuckooFilter)
            and len(flt) + n_admitted > _CUCKOO_GROW_LOAD * flt.capacity
        ):
            # the batch would cross the safe load factor: rebuild larger
            # from the exact seen view (seen_new for this epoch is already
            # written, so the rebuild covers the batch too)
            flt = _grow_cuckoo(spark, ckpt, epoch, flt.m, len(flt) + n_admitted)
        elif n_admitted <= _DRIVER_ADD_MAX_ROWS:
            flt.add_many(
                ck.read_column_local(
                    ckpt, epoch, "seen_new", "url_hash", _DRIVER_ADD_MAX_ROWS
                )
            )
        else:
            hashes = ck.read_table(spark, ckpt, epoch, "seen_new").select("url_hash")
            _filter_add_from_df(flt, hashes, n_admitted)
    flt.save(_filter_path(ckpt, epoch))
    filter_load = _seen_filter_load(flt)  # inside the timed phase
    phases.mark("bloom")
    ck.commit_epoch(
        ckpt,
        epoch,
        {
            **lineage,
            "urls_admitted": n_admitted,
            "seen_filter_load": filter_load,
            "phase_ms": phases,
        },
    )


def _union(spark: SparkSession, tables: list):
    """The frontier rows of `tables`: one driver-held table when all are,
    else the union of the DataFrames and the non-empty driver tables,
    hash-partitioned by host."""
    if not any(isinstance(t, DataFrame) for t in tables):
        return pa.concat_tables(tables)
    dfs = [_to_df(spark, t) for t in tables if isinstance(t, DataFrame) or t.num_rows]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out.repartition("host")


def _commit(
    spark: SparkSession, ckpt: str, epoch: int, hosts: _Hosts, remaining,
    crawl_log, admitted, phases: _Phases,
) -> None:
    """Commit epoch `epoch`'s transition as epoch `epoch + 1`: assemble the
    next frontier (remaining ∪ admitted), hosts (`_carry_hosts` of the
    plan, with `_host_plan`'s refilled tokens, ⟗ the admissions by host),
    seen_new and crawl_log, and hand them with the previous seen-filter to
    `_commit_epoch`. Driver-held inputs write driver-side; any Spark input
    makes its table a Spark write."""
    out_epoch = epoch + 1
    frontier, by_host = remaining, None
    if admitted is not None:
        frontier = _union(spark, [remaining, _cols(admitted, FRONTIER_COLS)])
        by_host = _count_by_host(admitted, "n_admitted")
    tables = {"frontier": frontier, "hosts": _carry_hosts(spark, hosts.plan, by_host)}
    if admitted is not None:
        tables["seen_new"] = _seen_event(admitted, "admit_epoch", out_epoch)
    if crawl_log is not None:
        tables["crawl_log"] = crawl_log
    _commit_epoch(
        spark,
        ckpt,
        out_epoch,
        tables,
        _load_seen_filter(_filter_path(ckpt, epoch)),
        {
            "processed_epoch": epoch,
            "urls_fetched": hosts.n_selected,
            # a fetch of the whole frontier logs exactly the frontier
            # snapshot: a manifest pointer instead of a re-write
            # (CrawlResult.crawl_order reassembles it)
            "crawl_log_from_frontier": hosts.n_selected == hosts.n_frontier,
        },
        phases,
    )


def run_epoch(
    spark: SparkSession, spec: SiteSpec, ckpt: str, epoch: int
) -> tuple[int, int]:
    """Process epoch `epoch` (state dir `epoch`) → commit dir `epoch+1`.
    Returns (frontier size, URLs fetched); frontier 0 ⇒ crawl done.

    plan → select → fetch → admit → commit. A zero-budget epoch (frontier
    pending but every active host's bucket below 1 token) skips fetch and
    admit but still commits: politeness refills and virtual time advances,
    matching the simulator's cadence exactly. A pure-payload epoch (steady
    state, drain) skips admit."""
    phases = _Phases()
    cached: list[DataFrame] = []
    try:
        hosts = _plan_hosts(spark, spec, ckpt, epoch, cached)
        phases.mark("plan")
        if hosts.n_frontier == 0:
            return 0, 0
        selected, remaining, crawl_log = _select(spark, ckpt, epoch, hosts, cached)
        phases.mark("select")
        admitted = None
        if selected is not None:
            n_links = _fetch(spark, spec, ckpt, epoch, selected, hosts.n_selected)
            phases.mark("fetch")
            if n_links:
                admitted = _admit(spark, ckpt, epoch, n_links, cached)
                phases.mark("admission")
        _commit(spark, ckpt, epoch, hosts, remaining, crawl_log, admitted, phases)
        return hosts.n_frontier, hosts.n_selected
    finally:
        for df in cached:
            df.unpersist()


def _steady_rows(batch: pa.RecordBatch, n_hosts: int) -> pa.RecordBatch:
    """Steady-state frontier rows for a batch of ids: detail URL i on host
    i % n_hosts, keyed by i — column-wise, no Python per row."""
    i = batch.column("id").to_numpy()
    key = pa.array((i % 2_000_000_000).astype(np.int32))
    zero = pa.array(np.zeros(len(i), np.int32))
    host = pc.binary_join_element_wise(
        "h", pa.array(i % n_hosts).cast(pa.string()), ".test", ""
    )
    url = pc.binary_join_element_wise(
        "https://", host, "/detail/ss", pa.array(i).cast(pa.string()), ""
    )
    kind = pa.repeat(pa.scalar("detail", pa.string()), len(i))
    return pa.RecordBatch.from_arrays(
        [zero, zero, key, zero, key, kind, url, host], schema=_FRONTIER_PA
    )


def init_steady_frontier(
    spark: SparkSession, spec: SiteSpec, ckpt: str, n_urls: int
) -> None:
    """Steady-state bench setup: a frontier preloaded with `n_urls` pending
    detail URLs across `spec.n_hosts` hosts — the regime every epoch of a
    10^10-URL crawl lives in (frontier ≫ per-epoch budget is the *politeness*
    constraint; here budgets are open so the epoch measures scheduler +
    fetch + payload throughput, the BASELINE.json metric). The rows
    (`_steady_rows`) are built from ids held on the driver up to
    `_DRIVER_COMMIT_MAX_ROWS`, else from `spark.range`, and `_inject`ed
    into an empty checkpoint with every host h0.test … and a fresh Bloom
    seen-filter."""
    if n_urls <= _DRIVER_COMMIT_MAX_ROWS:
        ids = pa.table({"id": np.arange(n_urls, dtype=np.int64)})
    else:
        ids = spark.range(n_urls).repartition(32)
    fn = _per_batch(partial(_steady_rows, n_hosts=spec.n_hosts))
    hosts = pa.array([f"h{i}.test" for i in range(spec.n_hosts)], pa.string())
    _inject(
        spark, spec, ckpt, 0, _map_arrow(fn, ids, _FRONTIER_PA), hosts,
        BloomFilter(max(n_urls, 1024)), {"kind": "steady_state_init"},
    )


def run_crawl(
    spark: SparkSession, spec: SiteSpec, ckpt: str, max_epochs: int = 10_000
) -> CrawlResult:
    """Run (or resume, from the last committed epoch: uncommitted crash
    debris is dropped first) the crawl to frontier exhaustion. A fresh
    crawl starts with a Bloom seen-filter; a resumed one keeps whatever
    filter the checkpoint stored (a cuckoo filter after an expiry)."""
    ck.cleanup_uncommitted(ckpt)
    last = ck.last_committed(ckpt)
    if last is None:
        init_state(spark, spec, ckpt)
        last = 0
    epoch = last
    while epoch < max_epochs:
        n_frontier, _ = run_epoch(spark, spec, ckpt, epoch)
        if n_frontier == 0:
            break
        epoch += 1
    return CrawlResult(ckpt=ckpt, epochs=epoch, spark=spark)


def expire_seen(spark: SparkSession, ckpt: str, urls) -> int:
    """TTL / policy expiry: make previously-crawled URLs admissible again
    (north rule: the cuckoo filter exists exactly for this). `urls` is a
    pyarrow table or a DataFrame with a ``url`` column; returns the number
    of URLs actually expired. Raises ValueError when `ckpt` holds no
    committed epoch.

    Commits a fresh epoch whose ``seen_removed`` tombstone table (parquet
    is append-only, like Iceberg delete files) holds the distinct `urls`
    that are seen now (`_split_seen`'s seen side, with url_hash).
    Frontier and hosts carry forward unchanged, as copies of the committed
    dirs (exact bytes, no Spark job). The epoch commits through
    `_commit_epoch`, which counts the tombstones and updates the seen
    prefilter from them: the crawl's first expiry that removes a url
    swaps its Bloom filter for a cuckoo filter built from the post-expiry
    set, and every later one deletes per key in bounded chunks, with no
    rebuild; an expiry that removes nothing leaves the filter as it is.

    The tombstones are built on the driver when `urls` is a table within
    `_DRIVER_COMMIT_MAX_ROWS` and the seen view fits the local cap, so a
    small site's expiry launches no Spark job; otherwise in Spark (a
    DataFrame input, e.g. crawl_job --recrawl passing prior.seen()
    wholesale, always is)."""
    ck.cleanup_uncommitted(ckpt)  # never expire from crash debris (ADVICE r3)
    last = ck.last_committed(ckpt)
    if last is None:
        raise ValueError("expire_seen needs an initialised checkpoint")
    out_epoch = last + 1
    log = _seen_log(ckpt, last)
    local = (
        not isinstance(urls, DataFrame)
        and urls.num_rows <= _DRIVER_COMMIT_MAX_ROWS
        and log.small
    )
    if local:
        urls = pa.table({"url": pc.unique(urls.column("url")).cast(pa.string())})
    else:
        urls = _to_df(spark, urls).select("url").distinct()
    cached: list[DataFrame] = []
    try:
        gone = _split_seen(spark, log, urls, cached)[0]
        for name in ("frontier", "hosts"):
            shutil.copytree(
                ck.table_path(ckpt, last, name), ck.table_path(ckpt, out_epoch, name)
            )
        _commit_epoch(
            spark,
            ckpt,
            out_epoch,
            {"seen_removed": _seen_event(gone, "removed_epoch", out_epoch)},
            _load_seen_filter(_filter_path(ckpt, last)),
            {"kind": "expiry", "processed_epoch": last},
            _Phases(),
        )
    finally:
        for df in cached:
            df.unpersist()
    return ck.read_manifest(ckpt, out_epoch)["urls_expired"]


def reseed(spark: SparkSession, spec: SiteSpec, ckpt: str) -> None:
    """Recrawl entry point: the seeds injected (`_inject_seeds`) over the
    last committed epoch with that epoch's seen-filter — keep-first against
    the rows already pending, the seeds not currently seen marked seen
    (init_state's invariant: seeds are born seen) and the seed hosts'
    politeness buckets full, the state a fresh crawl starts from. Combined
    with expire_seen over the previous crawl's URLs, a resumed run_crawl
    reproduces the reference crawl order again from the new epoch
    (tests/test_recrawl.py proves the second pass bit-identical). Raises
    ValueError when `ckpt` holds no committed epoch."""
    ck.cleanup_uncommitted(ckpt)  # never reseed over crash debris (ADVICE r3)
    last = ck.last_committed(ckpt)
    if last is None:
        raise ValueError("reseed needs an initialised checkpoint")
    _inject_seeds(
        spark, spec, ckpt, last + 1,
        _load_seen_filter(_filter_path(ckpt, last)),
        {"kind": "reseed", "processed_epoch": last},
    )
