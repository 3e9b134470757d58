"""Within-bucket pair generation for every bucketed similarity query
(dd2, dd4, dd7, ml3, dd6).

`group_members` groups the members by bucket key once, as one sorted list
per bucket; callers that need more than the pairs (dd2's per-document
sizes) read the same grouped frame, so no query gains a shuffle.
`bucket_pairs` emits every pair a < b of each list from one `mapInArrow`
generator: Python runs once per Arrow batch, not once per bucket. Ragged
triu indices come from the batch's list offsets in chunks of at most
`_PAIR_CHUNK` pairs, each handed to a vectorized per-query scorer. A chunk
holds whole buckets and cuts one only when that bucket alone has more
pairs, so no array or scorer call grows with the hottest bucket.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# pairs per scorer call: bounds ml's transient float64 pair blocks at
# ~3 × 64k × 64 × 8 B ≈ 100 MB per Python worker, whatever the bucket size.
# Read when a plan is built, so a test can shrink it for a whole query.
_PAIR_CHUNK = 1 << 16


def group_members(
    df: DataFrame, keys: list[str], cols: list[str], max_size: int | None = None
) -> DataFrame:
    """One row per bucket of `df` grouped by `keys`: `members` lists the
    bucket's `cols` (a struct per member, or the bare column when there is
    one) sorted by the first column; buckets over `max_size` are dropped."""
    member = F.struct(*cols) if len(cols) > 1 else F.col(cols[0])
    grouped = df.groupBy(*keys).agg(
        F.sort_array(F.collect_list(member)).alias("members")
    )
    if max_size is not None:
        grouped = grouped.filter(F.size("members") <= max_size)
    return grouped


def bucket_pairs(buckets: DataFrame, score, schema: str) -> DataFrame:
    """Every within-bucket pair of `group_members` output, as the rows
    `score(member columns, i, j) -> {column: values}` returns (i < j index
    the member columns, one entry per pair; columns in `schema` order)."""
    chunk = _PAIR_CHUNK
    return (
        buckets.filter(F.size("members") >= 2)
        .select("members")
        .mapInArrow(lambda batches: _pair_batches(batches, score, chunk), schema)
    )


def _pair_batches(batches, score, chunk: int):
    """The generator behind `bucket_pairs`: one output batch per non-empty
    scored chunk of at most `chunk` pairs."""
    for rb in batches:
        lists = rb.column(0)
        if len(lists) == 0:
            continue
        offs = lists.offsets.to_numpy().astype(np.int64)
        values = lists.flatten()
        fields = values.flatten() if pa.types.is_struct(values.type) else [values]
        cols = [_to_numpy(a) for a in fields]
        for lo, hi, i, j in _pair_chunks(offs - offs[0], chunk):
            out = score([c[lo:hi] for c in cols], i, j)
            if len(next(iter(out.values()))):
                yield pa.RecordBatch.from_pydict(out)


def _to_numpy(a: pa.Array) -> np.ndarray:
    """A member column as numpy; a list column (an embedding) as a
    (members × dim) matrix over its values buffer."""
    if pa.types.is_list(a.type):
        return a.flatten().to_numpy(zero_copy_only=False).reshape(len(a), -1)
    return a.to_numpy(zero_copy_only=False)


def _pair_chunks(offs: np.ndarray, chunk: int):
    """(lo, hi, i, j) per chunk of the buckets delimited by `offs`: i < j
    index the chunk's members [lo, hi), bucket by bucket in triu order."""
    n = np.diff(offs)
    cum = np.concatenate([[0], np.cumsum(n * (n - 1) // 2)])
    # every triu row: its bucket, its row index r and its first pair's index
    bucket = np.repeat(np.arange(len(n)), n - 1)
    r = np.arange(len(bucket)) - np.repeat(offs[:-1] - np.arange(len(n)), n - 1)
    first = cum[bucket] + r * (2 * n[bucket] - r - 1) // 2
    p = 0
    while p < cum[-1]:
        # end at the last bucket boundary that fits; inside a bucket only
        # when none does
        q = cum[np.searchsorted(cum, p + chunk, side="right") - 1]
        q = q if q > p else p + chunk
        rows = slice(
            np.searchsorted(first, p, side="right") - 1, np.searchsorted(first, q)
        )
        lo, hi = offs[bucket[rows][0]], offs[bucket[rows][-1] + 1]
        width = n[bucket[rows]] - 1 - r[rows]
        row = np.repeat(np.arange(len(width)), width)
        step = np.arange(len(row)) - np.repeat(np.cumsum(width) - width, width)
        i = (offs[bucket[rows]] - lo + r[rows])[row]
        s = p - first[rows][0]
        yield lo, hi, i[s : s + q - p], (i + 1 + step)[s : s + q - p]
        p = q
