"""Iceberg stand-in contract (round-4 VERDICT item 6).

streaming/checkpoint.py documents a 1:1 mapping onto Iceberg snapshots
(one commit per epoch, manifest-last visibility). These tests pin the
interface to invariants an Iceberg catalog could honor verbatim, so the
"swapping the catalog in is a sink change" claim stays true:

1. commit visibility is a single atomic rename (manifest-last); staged
   epochs are invisible to every reader until then, and no tmp debris
   survives a commit;
2. committed epoch dirs are immutable — later epochs only ADD new
   snapshot dirs, they never rewrite an earlier one (Iceberg snapshots
   are append-only);
3. crash cleanup only ever touches unmanifested staging dirs.
"""

from __future__ import annotations

import os

import pytest

from gov_procurement_spider_spark.streaming import checkpoint as cp


def _touch_table(ckpt: str, epoch: int, name: str = "frontier") -> None:
    d = cp.table_path(ckpt, epoch, name)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-00000.parquet"), "wb") as f:
        f.write(b"stub")


def test_staged_epoch_invisible_until_manifest_and_commit_is_atomic(tmp_path):
    ckpt = str(tmp_path)
    _touch_table(ckpt, 0)
    # staged but unmanifested: invisible to every reader
    assert cp.committed_epochs(ckpt) == []
    assert cp.last_committed(ckpt) is None

    cp.commit_epoch(ckpt, 0, {"n_urls": 4})
    assert cp.committed_epochs(ckpt) == [0]
    assert cp.last_committed(ckpt) == 0
    assert cp.read_manifest(ckpt, 0)["n_urls"] == 4
    # the marker was renamed into place — no tmp debris, exactly one manifest
    names = os.listdir(cp.epoch_dir(ckpt, 0))
    assert cp.MANIFEST in names
    assert not any(n.endswith(".tmp") for n in names)


def test_cleanup_preserves_committed_removes_staged(tmp_path):
    ckpt = str(tmp_path)
    _touch_table(ckpt, 0)
    cp.commit_epoch(ckpt, 0, {})
    _touch_table(ckpt, 1)  # crash debris: staged, never manifested
    removed = cp.cleanup_uncommitted(ckpt)
    assert removed == ["epoch=000001"]
    assert os.path.isdir(cp.epoch_dir(ckpt, 0))
    assert not os.path.isdir(cp.epoch_dir(ckpt, 1))
    # idempotent
    assert cp.cleanup_uncommitted(ckpt) == []


def _snapshot(root: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) for every file under committed epoch dirs."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_committed_epochs_immutable_as_later_epochs_land(spark, tmp_path):
    """The append-only snapshot discipline, end-to-end: run the crawl for a
    few epochs, snapshot every byte under the committed dirs, run the crawl
    to completion in the same checkpoint — every previously-committed file
    must be untouched (same size AND same mtime_ns: not even an identical
    rewrite), and later epochs may only add new ``epoch=`` dirs."""
    from gov_procurement_spider_spark.plans.crawl import run_crawl
    from gov_procurement_spider_spark.sources.site_model import SiteSpec

    spec = SiteSpec(
        n_seeds=6,
        n_hosts=3,
        detail_space=60,
        max_list_pages=3,
        rate_per_sec=2.0,
        burst=4.0,
        epoch_seconds=2.0,
    )
    ckpt = str(tmp_path)
    run_crawl(spark, spec, ckpt, max_epochs=2)
    committed = cp.committed_epochs(ckpt)
    assert committed, "expected at least one committed epoch"
    before = {
        e: _snapshot(cp.epoch_dir(ckpt, e)) for e in committed
    }

    run_crawl(spark, spec, ckpt)  # resume to completion
    after_epochs = cp.committed_epochs(ckpt)
    assert after_epochs[: len(committed)] == committed
    assert len(after_epochs) > len(committed)  # later snapshots ADDED
    for e in committed:
        assert _snapshot(cp.epoch_dir(ckpt, e)) == before[e], (
            f"epoch {e} was rewritten after commit"
        )


def test_table_num_rows_matches_read_back_count(spark, tmp_path):
    """table_num_rows must be exact (crawl.py uses it as n_admitted) and
    must come from footers only — no Spark job. Write a multi-part table,
    compare against a full read-back count."""
    ckpt = str(tmp_path)
    df = spark.range(0, 1237, 1, 7).selectExpr(
        "concat('u', id) AS url", "id AS url_hash", "0 AS admit_epoch"
    )
    cp.write_table(df, ckpt, 0, "seen_new")
    assert cp.table_num_rows(ckpt, 0, "seen_new") == 1237
    assert cp.read_table(spark, ckpt, 0, "seen_new").count() == 1237
    # empty table: footers still present, count is 0
    cp.write_table(df.limit(0), ckpt, 0, "empty")
    assert cp.table_num_rows(ckpt, 0, "empty") == 0


def test_read_column_local_is_bounded_and_exact(spark, tmp_path):
    """read_column_local must return every value of the column (any row
    order — filter add_many is order-insensitive set semantics) and must
    REFUSE to exceed the caller's row bound rather than silently collect."""
    import numpy as np
    import pytest

    ckpt = str(tmp_path)
    df = spark.range(0, 500, 1, 5).selectExpr(
        "concat('u', id) AS url", "id AS url_hash", "0 AS admit_epoch"
    )
    cp.write_table(df, ckpt, 0, "seen_new")
    got = cp.read_column_local(ckpt, 0, "seen_new", "url_hash", max_rows=500)
    assert sorted(got.tolist()) == list(range(500))
    assert got.dtype == np.int64
    with pytest.raises(ValueError, match="exceeds"):
        cp.read_column_local(ckpt, 0, "seen_new", "url_hash", max_rows=499)
    # empty table → empty int64 array, not an error
    cp.write_table(df.limit(0), ckpt, 0, "empty")
    assert cp.read_column_local(ckpt, 0, "empty", "url_hash", max_rows=10).size == 0


def test_interface_exposes_no_mutation_of_committed_epochs():
    """The module's public surface must stay catalog-swappable: the only
    write primitives are stage (write_table), commit (commit_epoch), and
    crash cleanup of UNcommitted staging — nothing that edits or deletes a
    committed snapshot. Guards against a future helper quietly breaking
    the Iceberg mapping."""
    public = {n for n in dir(cp) if not n.startswith("_") and callable(getattr(cp, n))}
    assert public == {
        # stage / commit / read / crash-cleanup — the Iceberg-honorable set
        "write_table",
        # the driver-side stage primitive (round 6): same stage-then-commit
        # role as write_table — writes data files into a NOT-yet-committed
        # epoch dir, never touches a manifested snapshot (Iceberg: a client
        # writing data files before the snapshot commit)
        "write_table_local",
        "read_table",
        # read-only snapshot metadata (Iceberg: snapshot summary record_count)
        "table_num_rows",
        # bounded read-only column scans of a small snapshot (Iceberg: a
        # client-side read of a snapshot's data files — still no mutation)
        "read_column_local",
        "read_table_local",
        "commit_epoch",
        "committed_epochs",
        "last_committed",
        "cleanup_uncommitted",
        "read_manifest",
        "epoch_dir",
        "table_path",
        # re-exported pyspark type imports, not interface
        "DataFrame",
        "SparkSession",
    }
