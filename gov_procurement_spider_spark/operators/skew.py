"""Explicit skew salting (SURVEY §4.3).

The reference's world is one dominant host (ccgp portals) — exactly the skew
a hash-partitioned join/agg chokes on at 10^10 URLs. AQE's skew-join split
handles skewed *shuffle partitions* after the fact; salting attacks the key
itself: the hot side gets a salt column `hash(row) % k`, the small/dim side
is replicated k× (one copy per salt), and the join key becomes
(key, salt) — k-way parallelism for the hot key with identical results.

Used by the crawler's constrained selection path (plans/crawl.py `_select`):
`with_salt` splits each host's pending set into sub-windows that are
pre-truncated to budget rows before the exact per-host re-rank, so a
dominant host sorts in k bounded tasks instead of one unbounded one. Also
exposed as a general salted-join operator with an oracle proving
salted == unsalted (j6_salted_skew_join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, col: str, *cols: str) -> DataFrame:
    """Deterministic salt in [0, n_salts): a hash of the given columns, so
    a retried task salts every row the same way."""
    salt = F.pmod(F.xxhash64(col, *cols), F.lit(n_salts))
    return df.withColumn("_salt", salt.cast("int"))


def replicate_for_salts(df: DataFrame, n_salts: int) -> DataFrame:
    """Explode the (small) build side once per salt value."""
    return df.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join `big` (skewed on `on`) with `small`, spreading each hot key over
    `n_salts` partitions. Result is identical to big.join(small, on, how);
    only the shuffle layout changes."""
    b = with_salt(big, n_salts, *on, *[c for c in big.columns if c not in on][:2])
    s = replicate_for_salts(small, n_salts)
    out = b.join(s, on + ["_salt"], how)
    return out.drop("_salt")
