"""The shared within-bucket pair generator (`operators/pairs.py`): exact
pair sets in bounded batches, the chunk-local top-k prune mask, a hot dd4
bucket that streams out in chunks, and a plan guard that every bucketed
pair query runs through it."""

from __future__ import annotations

import re
from itertools import combinations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from gov_procurement_spider_spark.operators import pairs
from gov_procurement_spider_spark.plans import ml_ops


def test_pairs_are_each_sorted_buckets_combinations(spark, monkeypatch):
    """Random bucket sizes (1, 2, many; one bucket with more pairs than the
    chunk), members arriving unsorted across partitions: the pairs are
    exactly `combinations` of each sorted bucket, a < b, and no generated
    batch is longer than the chunk."""

    def ids_scorer(cols, i, j):  # nested: shipped to the workers by value
        ids, v = cols
        assert (v == 3 * ids).all(), "payload column misaligned with ids"
        return {"a": ids[i], "b": ids[j]}

    chunk = 50
    monkeypatch.setattr(pairs, "_PAIR_CHUNK", chunk)
    rng = np.random.default_rng(3)
    sizes = [1, 1, 2, 2, 3, *rng.integers(4, 12, size=8).tolist(), 40]
    assert 40 * 39 // 2 > chunk
    pool = rng.permutation(100_000)  # ids unique across buckets
    buckets, rows, at = [], [], 0
    for b, n in enumerate(sizes):
        ids = pool[at : at + n].tolist()
        at += n
        buckets.append(ids)
        rows += [(b, v, 3 * v) for v in ids]
    rng.shuffle(rows)
    want = sorted(p for ids in buckets for p in combinations(sorted(ids), 2))

    df = spark.createDataFrame(rows, "bucket long, id long, v long").repartition(4)
    grouped = pairs.group_members(df, ["bucket"], ["id", "v"])
    found = pairs.bucket_pairs(grouped, ids_scorer, "a long, b long")
    got = sorted(tuple(r) for r in found.collect())
    assert got == want
    assert all(a < b for a, b in got)

    batches = grouped.select("members").toArrow().to_batches(max_chunksize=5)
    out = list(pairs._pair_batches(batches, ids_scorer, chunk))
    assert max(rb.num_rows for rb in out) <= chunk
    direct = sorted(
        p
        for rb in out
        for p in zip(rb.column(0).to_pylist(), rb.column(1).to_pylist())
    )
    assert direct == want


def _bucket_mask_reference(m, i, j, s_clean, k):
    """Top-k keep mask of ONE complete bucket (m members, all m(m−1)/2
    pairs): each member's m−1 directed sims as a row, partners counted by a
    per-row sorted search."""
    pairs_n = len(i)
    src = np.concatenate([i, j])
    sv = np.concatenate([s_clean, s_clean])
    order = np.argsort(src, kind="stable")
    by_row = sv[order].reshape(m, m - 1)
    row_sorted = np.sort(by_row, axis=1)
    better = np.empty((m, m - 1), dtype=np.int64)
    for q in range(m):
        better[q] = (m - 1) - np.searchsorted(
            row_sorted[q], by_row[q] + ml_ops._PRUNE_GT_MARGIN, side="right"
        )
    keep_dir = np.empty(2 * pairs_n, dtype=bool)
    keep_dir[order] = (better < k).ravel()
    return keep_dir[:pairs_n] | keep_dir[pairs_n:]


def _bucket_sims(rng, n_pairs):
    s = rng.uniform(-1, 1, n_pairs)
    c = rng.random(n_pairs)
    near_one = c < 0.3  # ties and near-ties straddling the margin at 1.0
    s[near_one] = 1.0 - rng.integers(0, 4, near_one.sum()) * 1e-6 + rng.uniform(
        -1e-12, 1e-12, near_one.sum()
    )
    s[c > 0.9] = -np.inf  # NaN sims arrive as −inf
    return s


def test_chunk_local_topk_mask_matches_per_bucket_reference():
    """Over a chunk of whole buckets the mask equals each bucket's own
    mask; over part of a cut bucket it keeps at least what the whole
    bucket's mask keeps there (a lower bound of "better" partners)."""
    rng = np.random.default_rng(5)
    n_buckets = 0
    for _ in range(600):
        k = int(rng.integers(1, 8))
        offset = int(rng.integers(0, 10**6))
        I, J, S, want = [], [], [], []
        for m in rng.integers(2, 30, size=5):
            i, j = np.triu_indices(m, 1)
            s = _bucket_sims(rng, len(i))
            want.append(_bucket_mask_reference(m, i, j, s, k))
            I.append(i + offset)
            J.append(j + offset)
            S.append(s)
            offset += m
            n_buckets += 1
        got = ml_ops._topk_keep_mask(
            np.concatenate(I), np.concatenate(J), np.concatenate(S), k
        )
        assert (got == np.concatenate(want)).all()
        # the last bucket cut: any contiguous run of its pairs
        i, j, s, full = I[-1], J[-1], S[-1], want[-1]
        lo = int(rng.integers(0, len(i)))
        hi = int(rng.integers(lo + 1, len(i) + 1))
        part = ml_ops._topk_keep_mask(i[lo:hi], j[lo:hi], s[lo:hi], k)
        assert (part >= full[lo:hi]).all()
    assert n_buckets == 3000


def test_dd4_hot_bucket_streams_in_chunks_and_matches_oracle(
    spark, sf_small, tmp_path
):
    """1,000 identical documents share every band bucket: 499,500 pairs in
    one bucket, more than one chunk. dd4 (uncapped) must return exactly the
    rows of its DuckDB oracle on the same file."""
    docs = pq.read_table(f"{sf_small}/documents.parquet")
    n_hot = 1000
    assert n_hot * (n_hot - 1) // 2 > pairs._PAIR_CHUNK
    first = pc.max(docs["doc_id"]).as_py() + 1
    hot = docs.take([0] * n_hot)
    hot = hot.set_column(
        hot.schema.get_field_index("doc_id"),
        "doc_id",
        pa.array(range(first, first + n_hot), pa.int64()),
    ).set_column(
        hot.schema.get_field_index("text"),
        "text",
        pa.array([" ".join(f"boiler{w}" for w in range(40))] * n_hot),
    )
    path = tmp_path / "documents.parquet"
    pq.write_table(pa.concat_tables([docs, hot]), path)

    got = (
        entrymod.queries()["dd4_minhash_lsh_pairs"](spark, str(tmp_path))
        .toArrow()
        .sort_by([("doc_a", "ascending"), ("doc_b", "ascending")])
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    want = (
        con.execute(entrymod.oracle_sql()["dd4_minhash_lsh_pairs"])
        .arrow()
        .sort_by([("doc_a", "ascending"), ("doc_b", "ascending")])
    )
    assert got.num_rows >= n_hot * (n_hot - 1) // 2
    assert got.num_rows == want.num_rows
    for c in ("doc_a", "doc_b"):
        assert got[c].to_numpy().tolist() == want[c].to_numpy().tolist()


# hash / round-robin exchanges of each query's initial plan at sf0.01 when
# the pair generator was unified; the generator must not add a shuffle
_PAIR_QUERY_EXCHANGES = {
    "dd2_ngram_jaccard": 9,
    "dd4_minhash_lsh_pairs": 4,
    "dd7_simhash_pairs": 4,
    "ml3_ann_topk": 4,
    "dd6_embedding_near_dup": 3,
}


@pytest.mark.parametrize("name", sorted(_PAIR_QUERY_EXCHANGES))
def test_pair_query_plans_use_the_one_generator(spark, sf_dir, name):
    """Plan guard, without running the query: exactly one MapInArrow pair
    step, no grouped Arrow apply, no in-row pair arrays, and no extra
    shuffle."""
    df = entrymod.queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "FlatMapGroupsInArrow" not in plan
    assert "flatten(transform(" not in plan
    exchanges = re.findall(
        r"Exchange (?:hashpartitioning|RoundRobinPartitioning)", plan
    )
    assert len(exchanges) <= _PAIR_QUERY_EXCHANGES[name], plan
