"""The fetch_out writer's retry and crash contract: a rerun over the same
selection rewrites the same bytes under the same names and leaves no temp
file behind, and a fetch that fails part-way exposes no partial file.
"""

from __future__ import annotations

import glob
import os
import types
from urllib.parse import urlsplit

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gov_procurement_spider_spark.crawler import fetcher
from gov_procurement_spider_spark.plans import crawl as C
from gov_procurement_spider_spark.sources import site_model as sm
from gov_procurement_spider_spark.sources.site_model import SiteSpec

# failures on: the selection fetches into payload, link, failed and metric
# rows
SPEC = SiteSpec(n_seeds=4, n_hosts=2, detail_space=40, fail_permille=300)


def _selection(spec):
    """The seed list pages plus the detail links of each seed's first page."""
    rows = C._seed_frontier(spec).to_pylist()
    for i in range(spec.n_seeds):
        for pos in range(sm.n_links(spec, i, 1)):
            url, _ = sm.child_detail(spec, i, 1, pos)
            rows.append(
                dict(priority=0, disc_epoch=1, seed_idx=i, page_idx=1, pos=pos,
                     kind="detail", url=url, host=urlsplit(url).netloc)
            )
    return pa.Table.from_pylist(rows, schema=C._FRONTIER_PA)


def _files(out_dir):
    """Every file under out_dir, dot-files included: relative path → bytes."""
    out = {}
    for root, _, names in os.walk(out_dir):
        for n in names:
            with open(os.path.join(root, n), "rb") as f:
                out[os.path.relpath(os.path.join(root, n), out_dir)] = f.read()
    return out


def test_rerun_rewrites_identical_files(tmp_path, monkeypatch):
    """A retried attempt on the driver: the same part files, byte for byte,
    and no temp file left by either run."""
    # a constant clock: the metric rows' wall_ms is the fetch's only
    # non-deterministic value
    clock = types.SimpleNamespace(perf_counter=lambda: 0.0)
    monkeypatch.setattr(fetcher, "time", clock)
    selection = _selection(SPEC)
    out_dir = str(tmp_path / "fetch_out")
    runs = []
    for _ in range(2):
        write = fetcher.fetch_out_writer(fetcher.make_fetcher(SPEC, 1, {}), out_dir)
        counts = C._map_arrow(write, selection, fetcher.FETCH_COUNT_PA)
        runs.append((counts.to_pylist(), _files(out_dir)))
    assert runs[0] == runs[1]
    counts, files = runs[0]
    assert sorted(files) == [
        f"row_type={kind}/part-00000.parquet"
        for kind in ("failed", "link", "metric", "payload")
    ]
    link_rows = pq.read_table(os.path.join(out_dir, "row_type=link")).num_rows
    assert counts == [{"n_links": link_rows}] and link_rows > 0


def test_failed_fetch_exposes_no_partial_file(tmp_path):
    """A fetch that raises after yielding a payload batch: the payload rows
    reached a temp file only, never a part file."""
    real = fetcher.make_fetcher(SPEC, 1, {})

    def fetch(batches):
        for rb in real(batches):
            yield rb
            if rb.column(0)[0].as_py() == "payload":
                raise RuntimeError("fetch failed mid-batch")

    out_dir = str(tmp_path / "fetch_out")
    with pytest.raises(RuntimeError, match="mid-batch"):
        C._map_arrow(
            fetcher.fetch_out_writer(fetch, out_dir), _selection(SPEC),
            fetcher.FETCH_COUNT_PA,
        )
    payload_dir = os.path.join(out_dir, "row_type=payload")
    assert os.listdir(payload_dir), "the payload batch was never written"
    assert not glob.glob(os.path.join(out_dir, "*", "part-*.parquet"))
