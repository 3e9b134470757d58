"""Epoch checkpoint/commit protocol (SURVEY §2.10 T5, §4.3).

The reference loses all state on crash (main.py:55-68: Python lists). Here
every epoch's state transition is staged to ``<ckpt>/epoch=NNNNNN/<table>/``
parquet dirs and committed by writing ``MANIFEST.json`` *last* (atomic
rename-free commit marker: readers only trust manifested epochs). A killed
job resumes from the last manifested epoch and replays forward to the exact
same tables — the synthetic fetch is deterministic, selection order is a
total data-carried order, so the resume is byte-identical in content.

This is the parquet stand-in for an Iceberg multi-table transaction; the
directory layout maps 1:1 onto Iceberg snapshots (one commit per epoch) so
swapping the catalog in is a sink change, not a redesign.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "MANIFEST.json"


def epoch_dir(ckpt: str, epoch: int) -> str:
    return os.path.join(ckpt, f"epoch={epoch:06d}")


def table_path(ckpt: str, epoch: int, name: str) -> str:
    return os.path.join(epoch_dir(ckpt, epoch), name)


def write_table(df: DataFrame, ckpt: str, epoch: int, name: str) -> None:
    df.write.mode("overwrite").parquet(table_path(ckpt, epoch, name))


def read_table(spark: SparkSession, ckpt: str, epoch: int, name: str) -> DataFrame:
    return spark.read.parquet(table_path(ckpt, epoch, name))


def table_num_rows(ckpt: str, epoch: int, name: str) -> int:
    """Exact row count of a written epoch table from the parquet footers —
    O(part files) driver-side metadata reads, no Spark job. Iceberg keeps
    the same number in each snapshot's manifest (record_count), so this
    stays a metadata read under the real catalog too."""
    import pyarrow.parquet as pq

    total = 0
    root = table_path(ckpt, epoch, name)
    for fn in os.listdir(root):
        if fn.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
    return total


def read_table_local(
    ckpt: str, epoch: int, name: str, columns: list, max_rows: int
) -> "pa.Table":
    """Driver-side read of a SMALL staged/committed epoch table — the
    latency escape hatch for per-epoch scheduler bookkeeping (a Spark job
    costs ~0.3-0.5 s of fixed latency to scan a few hundred rows).
    Bounded by construction: callers must pass the row cap they already
    know from ``table_num_rows`` and the read raises if the table exceeds
    it, so this can never become an unbounded driver collect. Part files
    are read in sorted order (deterministic replay). Iceberg-honorable:
    snapshot data files are parquet under the real catalog too, and a
    read-only client-side scan of a small snapshot is exactly what an
    Iceberg client library does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = table_path(ckpt, epoch, name)
    parts = []
    total = 0
    for fn in sorted(os.listdir(root)):
        if not fn.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(root, fn), columns=list(columns))
        total += t.num_rows
        if total > max_rows:
            raise ValueError(
                f"read_table_local({name}): {total} rows exceeds "
                f"the caller's bound of {max_rows}"
            )
        parts.append(t)
    if not parts:
        return pa.table({c: [] for c in columns})
    return pa.concat_tables(parts)


def write_table_local(ckpt: str, epoch: int, name: str, table) -> None:
    """Driver-side write of a SMALL epoch table (a ``pyarrow.Table``) as one
    deterministic parquet file — the write-side counterpart of
    ``read_table_local`` (round 6). A Spark write job costs ~0.3 s of
    fixed latency (job submission + committer protocol) to persist a few
    hundred rows; for tables the caller has ALREADY bounded and holds in
    driver memory, one ``pq.write_table`` is equivalent output (the readers
    above glob ``*.parquet``; Spark's reader accepts the same files) at
    ~1 ms. Callers own the bound and the schema — pass explicit types that
    match what the distributed writer produces, or cross-epoch unions
    break. Deterministic: fixed filename, no timestamps in our metadata,
    same rows → same bytes (resume replay stays byte-identical)."""
    import pyarrow.parquet as pq

    root = table_path(ckpt, epoch, name)
    os.makedirs(root, exist_ok=True)
    pq.write_table(table, os.path.join(root, "part-00000-driver.parquet"))


def read_column_local(
    ckpt: str, epoch: int, name: str, column: str, max_rows: int
) -> "np.ndarray":
    """One column of ``read_table_local`` as a numpy array (the seen-filter
    add path)."""
    table = read_table_local(ckpt, epoch, name, [column], max_rows)
    return table.column(column).to_numpy()


def commit_epoch(ckpt: str, epoch: int, lineage: dict) -> None:
    """Write the manifest marker — the epoch is visible only after this."""
    payload = {"epoch": epoch, "committed_unix": time.time(), **lineage}
    tmp = os.path.join(epoch_dir(ckpt, epoch), f".{MANIFEST}.tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1, default=str)
    os.replace(tmp, os.path.join(epoch_dir(ckpt, epoch), MANIFEST))


def committed_epochs(ckpt: str) -> list[int]:
    if not os.path.isdir(ckpt):
        return []
    out = []
    for d in os.listdir(ckpt):
        if d.startswith("epoch=") and os.path.exists(os.path.join(ckpt, d, MANIFEST)):
            out.append(int(d.split("=")[1]))
    return sorted(out)


def last_committed(ckpt: str) -> int | None:
    eps = committed_epochs(ckpt)
    return eps[-1] if eps else None


def cleanup_uncommitted(ckpt: str) -> list[str]:
    """Drop staged-but-unmanifested epoch dirs (crash debris) before resume."""
    removed = []
    if not os.path.isdir(ckpt):
        return removed
    for d in os.listdir(ckpt):
        p = os.path.join(ckpt, d)
        if d.startswith("epoch=") and not os.path.exists(os.path.join(p, MANIFEST)):
            shutil.rmtree(p)
            removed.append(d)
    return removed


def read_manifest(ckpt: str, epoch: int) -> dict:
    with open(os.path.join(epoch_dir(ckpt, epoch), MANIFEST)) as f:
        return json.load(f)
