"""Training-data text operators over the `documents` table: token counting,
quality scoring, language-ID heuristic, document fingerprinting, and the
dedup family (exact, n-gram Jaccard, MinHash+LSH banding, SimHash) — the
operations a 100 TB pretraining-data pipeline runs after the crawl stage.

All pure column expressions (no Python in the hot path); every query has a
DuckDB oracle. Cross-engine 60-bit hash: int of the first 15 hex chars of
md5 — `conv(substring(md5(s),1,15),16,10)` in Spark,
`CAST('0x'||substr(md5(s),1,15) AS BIGINT)` in DuckDB.

Scale notes (the 100 TB story):
- every dedup here is shuffle-on-key (fingerprint / shingle / band / bit):
  partial aggregation happens map-side, and shingle explosion is bounded by
  document length, so the shuffle volume is O(tokens), never O(pairs);
- pairwise similarity is only ever computed *within* a bucket (shared
  shingle, LSH band) — the cross join never materializes;
- MinHash banding keys are tiny (band hash), so the bucket join is a
  hash-partitioned equi-join that AQE can skew-split if one bucket is hot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators.pairs import bucket_pairs, group_members
from ..sources.tables import load_table
from .registry import register


def _h64(col):
    """60-bit md5-prefix hash, identical in DuckDB (see module docstring)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


_H64_DUCK = "CAST('0x'||substr(md5({0}),1,15) AS BIGINT)"

_TOKENS_SPARK = lambda c: F.split(c, " ")  # noqa: E731 - docs are single-space word streams


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "tx1_token_count",
    r"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           length(text) AS n_chars_measured,
           n_chars,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+'))
             AS n_bpe_tokens
    FROM documents
    """,
)
def tx1_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting — the unit of truth for training-data budgeting:
    whitespace split+size, plus a BPE-ish regex count (the GPT-2
    pretokenizer shape: letter runs | digit runs | punctuation runs). Both
    pure column expressions; the regex runs in the JVM, not Python. (Was two
    driver rows tx1/tx5 — merged to fit the driver's 50-query cap.)"""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_TOKENS_SPARK(F.col("text"))).alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        "n_chars",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]+"), 0)
        ).alias("n_bpe_tokens"),
    )


@register(
    "tx2_quality_score",
    """
    SELECT doc_id,
           round(len(list_distinct(string_split(text,' ')))
                 / len(string_split(text,' ')), 4)           AS distinct_ratio,
           round(length(replace(text,' ','')) * 1.0
                 / len(string_split(text,' ')), 4)           AS mean_word_len,
           CASE WHEN len(string_split(text,' ')) >= 20
                 AND len(list_distinct(string_split(text,' ')))
                     / len(string_split(text,' ')) > 0.3
                THEN 'keep' ELSE 'drop' END                  AS quality_class
    FROM documents
    """,
)
def tx2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: lexical diversity + mean word length + a keep/drop
    gate — the Gopher-rules shape (length & repetition filters)."""
    d = load_table(spark, sf_dir, "documents")
    toks = _TOKENS_SPARK(F.col("text"))
    n = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)) / n
    return d.select(
        "doc_id",
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(F.length(F.regexp_replace("text", " ", "")) / n, 4).alias(
            "mean_word_len"
        ),
        F.when((n >= 20) & (distinct_ratio > 0.3), "keep")
        .otherwise("drop")
        .alias("quality_class"),
    )


@register(
    "tx3_lang_id",
    """
    SELECT doc_id, lang AS labeled,
           CASE
             WHEN length(text) - length(regexp_replace(text, '[一-龥]', '', 'g')) > 0
               THEN 'zh'
             WHEN list_contains(string_split(text,' '), 'the')
               OR list_contains(string_split(text,' '), 'a')
               THEN 'en'
             ELSE 'other'
           END AS lang_pred
    FROM documents
    """,
)
def tx3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: CJK-codepoint presence, else stopword hit —
    the n-gram-free fast path of a fastText-style gate."""
    d = load_table(spark, sf_dir, "documents")
    toks = _TOKENS_SPARK(F.col("text"))
    n_cjk = F.length("text") - F.length(F.regexp_replace("text", "[一-龥]", ""))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled"),
        F.when(n_cjk > 0, "zh")
        .when(
            F.array_contains(toks, "the") | F.array_contains(toks, "a"), "en"
        )
        .otherwise("other")
        .alias("lang_pred"),
    )


@register(
    "tx4_fingerprint",
    f"""
    SELECT doc_id,
           {_H64_DUCK.format("replace(lower(text),' ','')")} AS fingerprint
    FROM documents
    """,
)
def tx4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: 60-bit hash of the normalized text (whitespace
    squashed, lowercased) — the exact-dedup key."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        _h64(F.replace(F.lower(F.col("text")), F.lit(" "), F.lit(""))).alias(
            "fingerprint"
        ),
    )


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


@register(
    "dd1_exact_dedup",
    f"""
    SELECT fingerprint, min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM (
      SELECT doc_id,
             {_H64_DUCK.format("replace(lower(text),' ','')")} AS fingerprint
      FROM documents
    )
    GROUP BY fingerprint
    """,
)
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the fingerprint, keep the smallest id —
    the D1 keep-first rule generalized to content identity."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            _h64(F.replace(F.lower(F.col("text")), F.lit(" "), F.lit(""))).alias(
                "fingerprint"
            ),
        )
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


_SHINGLES_DUCK = """
      SELECT doc_id, shingle FROM (
        SELECT doc_id, list_distinct(list_transform(
                 generate_series(1, len(string_split(text,' ')) - 2),
                 i -> string_split(text,' ')[i] || ' ' ||
                      string_split(text,' ')[i+1] || ' ' ||
                      string_split(text,' ')[i+2])) AS shs
        FROM documents
      ), unnest(shs) AS t(shingle)
"""


def _shingles_spark(d: DataFrame) -> DataFrame:
    # documents are tiny rows → a small parquet arrives as 1-2 scan
    # partitions, which would run the ~100× shingle explode single-task;
    # spread docs across the executor slots first (cheap: pre-explosion)
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism)
    # split ONCE through a projected column: higher-order lambdas evaluate
    # interpreted with no common-subexpression elimination, so referencing
    # split(text) inside the per-element lambda re-tokenized the whole
    # document for every element_at call — 3 full re-splits per shingle,
    # O(tokens²) per document (round-6 profile: the shingle Generate
    # dominated dd2/dd4 CPU). An attribute boundary (Project below the
    # Generate) makes it one split per document.
    # parser-side expr string: the identical array_distinct/transform tree
    # the Column API built, in one F.expr parse instead of ~25 py4j calls
    # per fresh build (round-6 build-latency discipline)
    shingles_sql = (
        "array_distinct(transform(sequence(0, size(_toks) - 3),"
        " i -> concat_ws(' ', element_at(_toks, i + 1),"
        " element_at(_toks, i + 2), element_at(_toks, i + 3))))"
    )
    return d.select(
        "doc_id", _TOKENS_SPARK(F.col("text")).alias("_toks")
    ).select("doc_id", F.expr(f"explode({shingles_sql})").alias("shingle"))


# hot-shingle cap: shingles shared by more than this many docs are
# boilerplate (navigation chrome, legal footers) and are dropped from the
# Jaccard universe BEFORE the inverted-index self-join — one shingle in 10^6
# docs would otherwise emit ~10^12 pair rows inside a single join bucket.
# df ≤ τ bounds per-shingle pair fan-out at τ·(τ-1)/2, so total pairs are
# O(distinct shingles · τ²) — linear in corpus size for fixed τ.
_DD2_MAX_DF = 50

_DOC_PAIRS_SCHEMA = "doc_a long, doc_b long"


def _doc_pairs(cols, i, j):
    """`bucket_pairs` scorer for the id-only candidate queries (dd2, dd4)."""
    (ids,) = cols
    return {"doc_a": ids[i], "doc_b": ids[j]}


def ngram_jaccard_pairs(
    sh: DataFrame, threshold: float = 0.3, max_df: int | None = _DD2_MAX_DF
) -> DataFrame:
    """Inverted-index near-dup pairs from a (doc_id, shingle) table, the
    canonical one-pass posting-list formulation: ONE shuffle groups each
    shingle's (sorted) doc list, the df-cap is a free filter on list size,
    and candidate pairs come from `bucket_pairs` over each ≤τ-element
    posting list — no self-join, no second pass over the shingle table.
    Sizes come from the same capped lists (singletons included), so the
    metric stays a true Jaccard of the restricted shingle sets."""
    grouped = group_members(sh, ["shingle"], ["doc_id"], max_df)
    sizes = (
        grouped.select(F.explode("members").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    pairs = bucket_pairs(grouped, _doc_pairs, _DOC_PAIRS_SCHEMA)
    inter = pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    j = F.col("n_common") / (F.col("sa.sz") + F.col("sb.sz") - F.col("n_common"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(j >= threshold)
        .select("doc_a", "doc_b", F.round(j, 4).alias("jaccard"))
    )


@register(
    "dd2_ngram_jaccard",
    f"""
    WITH sh0 AS ({_SHINGLES_DUCK}),
    keep AS (
      SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {_DD2_MAX_DF}
    ),
    sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.3
    """,
)
def dd2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: 3-gram shingle Jaccard ≥ 0.3. The pair space is
    generated ONLY through the shared-shingle join (inverted index), never a
    cross join, and shingles with document frequency > `_DD2_MAX_DF` are
    dropped first — so at 100 TB the shuffle is O(total shingles) and the
    pair fan-out per shingle is bounded at τ(τ-1)/2 regardless of how common
    a boilerplate phrase is."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(_shingles_spark(d))


_N_MINHASH = 8

# double-hashing family: ONE md5 per shingle, k hashes by arithmetic
# h_s = h1 + s·h2 with h1/h2 = two 48-bit md5 slices (h2 forced odd).
# Max value ≈ 2^48 + 7·2^48 < 2^52 — exact in BIGINT in both engines.
_MINHASH_DUCK = f"""
      SELECT doc_id, s.seed,
             min(CAST('0x'||substr(md5(shingle),1,12) AS BIGINT)
                 + s.seed * (CAST('0x'||substr(md5(shingle),13,12) AS BIGINT) | 1)
                ) AS minhash
      FROM ({_SHINGLES_DUCK}), unnest(generate_series(0, {_N_MINHASH - 1})) AS s(seed)
      GROUP BY doc_id, s.seed
"""


def _minhash_wide(d: DataFrame) -> DataFrame:
    """One row per doc with all k minima (_m0.._m{k-1}) from ONE aggregation
    pass over the shingle explode (no ×k row blow-up). The two 48-bit hash
    halves are PROJECTED once per shingle before the aggregate — as inline
    sub-expressions of the 8 min() updates they relied on codegen CSE to
    avoid 16 md5 evaluations per row; a named column makes the single
    evaluation structural (round-6 change, guide §2.3 narrow-the-bytes)."""
    sh = _shingles_spark(d)
    hashed = sh.selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(shingle), 1, 12), 16, 10) AS BIGINT) AS _h1",
        "CAST(conv(substring(md5(shingle), 13, 12), 16, 10) AS BIGINT) | 1"
        " AS _h2",
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.expr(f"min(_h1 + {s} * _h2)").alias(f"_m{s}")
            for s in range(_N_MINHASH)
        ]
    )


def _minhash_spark(d: DataFrame) -> DataFrame:
    """(doc_id, seed, minhash) signature shape: `_minhash_wide` + a stack()
    unpivot."""
    wide = _minhash_wide(d)
    stack_expr = "stack({n}, {args}) as (seed, minhash)".format(
        n=_N_MINHASH,
        args=", ".join(f"{s}, _m{s}" for s in range(_N_MINHASH)),
    )
    return wide.select("doc_id", F.expr(stack_expr))


@register("dd3_minhash_signature", f"SELECT doc_id, seed, minhash FROM ({_MINHASH_DUCK})")
def dd3_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=8): min over hashed shingles per seed — one
    hash-agg after the shingle explode; signature size is constant per doc."""
    return _minhash_spark(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "seed", "minhash"
    )


@register(
    "dd4_minhash_lsh_pairs",
    f"""
    WITH mh AS ({_MINHASH_DUCK}),
    bands AS (
      SELECT doc_id, seed // 2 AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed)) AS band_key
      FROM mh GROUP BY doc_id, seed // 2
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
)
def dd4_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH: 4 bands × 2 rows — candidate pairs are docs sharing any
    band key. Round-6 restructure (guide §2.4 / §3.3): the old self-join on
    (band, band_key) built the whole tokenize→shingle→minhash pipeline TWICE
    (once per join side — AQE could only reuse the exchanges, not the band
    aggregation), and the band keys themselves went through a stack-unpivot
    + a second ObjectHashAggregate. Now the band keys are computed directly
    from the one-row-per-doc `_minhash_wide` output — sorted-by-seed concat
    of each band's two minima, byte-identical md5 input to the old
    sort+transform over collected (seed, minhash) structs — and candidate
    pairs come from posting lists per (band, band_key), dd2-style: one
    shuffle groups each bucket's doc list, `bucket_pairs` emits its
    combinations (doc_a < doc_b by the sorted list), cross-band duplicates
    drop in the final distinct. One pass over the documents instead of two,
    two ObjectHashAggregates and the broadcast build removed. Pair fan-out
    per bucket is n·(n-1)/2 exactly as the old join's — the bucket IS the
    candidate set either way. There is no bucket cap: a hot bucket (many
    identical documents) streams out in `_PAIR_CHUNK`-bounded batches."""
    wide = _minhash_wide(load_table(spark, sf_dir, "documents"))
    n_bands = _N_MINHASH // 2
    keyed = wide.selectExpr(
        "doc_id",
        *[
            f"md5(concat_ws(',', CAST(_m{2 * b} AS STRING),"
            f" CAST(_m{2 * b + 1} AS STRING))) AS _k{b}"
            for b in range(n_bands)
        ],
    )
    stack_expr = "stack({n}, {args}) as (band, band_key)".format(
        n=n_bands,
        args=", ".join(f"CAST({b} AS BIGINT), _k{b}" for b in range(n_bands)),
    )
    bands = keyed.select("doc_id", F.expr(stack_expr))
    grouped = group_members(bands, ["band", "band_key"], ["doc_id"])
    return bucket_pairs(grouped, _doc_pairs, _DOC_PAIRS_SCHEMA).distinct()


_N_SIMHASH_BITS = 32

# 48-bit token hash: exactly representable as a double in BOTH engines, so
# floor(h / 2^bit) % 2 is exact bit extraction everywhere
_H48_DUCK = "CAST('0x'||substr(md5({0}),1,12) AS BIGINT)"


def _h48(col):
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


_SIMHASH_DUCK = f"""
      WITH tok AS (
        SELECT doc_id, token, count(*) AS tf FROM (
          SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents
        ) GROUP BY doc_id, token
      ),
      bits AS (
        SELECT doc_id, b.bit,
               sum(CASE WHEN ({_H48_DUCK.format("token")} // power(2, b.bit)::BIGINT) % 2 = 1
                        THEN tf ELSE -tf END) AS s
        FROM tok, unnest(generate_series(0, {_N_SIMHASH_BITS - 1})) AS b(bit)
        GROUP BY doc_id, b.bit
      )
      SELECT doc_id,
             sum(CASE WHEN s > 0 THEN power(2, bit)::BIGINT ELSE 0 END)::BIGINT AS simhash
      FROM bits GROUP BY doc_id
"""


def simhash_signatures(d: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, simhash): tf-weighted 32-bit SimHash.

    All 32 signed bit-sums come out of ONE wide aggregation over the
    (doc, token) occurrence stream — no ×32 bit explode, and since round 6
    no (doc, token) tf pre-aggregation either: the tf-weighted sum over
    DISTINCT tokens is algebraically the plain ±1 sum over OCCURRENCES
    (Σ_distinct tf·sign ≡ Σ_occurrences sign — integer, order-independent,
    so bit-for-bit what the tf form produced), which deletes a full
    5M-row (doc_id, token) shuffle + two hash aggregates from the plan
    (2 Exchange → 1; guide §2.4). The one md5 per occurrence happens in a
    projection; the 32 partial sums combine map-side. The DuckDB oracle
    keeps the readable tf-explode form — same sums by the identity above."""
    # spread docs across slots first: the single-row-group documents scan
    # would otherwise run the explode + per-occurrence md5 + 32 partial
    # sums in ONE task now that no (doc, token) shuffle follows them
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism)
    tok = d.select(
        "doc_id", F.explode(_TOKENS_SPARK(F.col("text"))).alias("token")
    ).select("doc_id", _h48(F.col("token")).alias("th"))
    # expression-construction discipline (CLAUDE.md r4): built with the
    # Column API these 32 aggregates plus the 32-term assembly cost ~0.8 s
    # of py4j chatter per fresh query build; as parser-side expr strings the
    # identical plan builds in a handful of calls
    wide = tok.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(th, {b}) & 1) = 1"
                f" THEN 1L ELSE -1L END) AS _s{b}"
            )
            for b in range(_N_SIMHASH_BITS)
        ]
    )
    assemble = " + ".join(
        f"(CASE WHEN _s{b} > 0 THEN {1 << b}L ELSE 0L END)"
        for b in range(_N_SIMHASH_BITS)
    )
    return wide.select(
        "doc_id", F.expr(f"CAST(({assemble}) AS BIGINT)").alias("simhash")
    )


@register("dd5_simhash", f"SELECT doc_id, simhash FROM ({_SIMHASH_DUCK})")
def dd5_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (32-bit, tf-weighted): per (doc, bit) signed sums → sign bits
    assembled into one long. Explode factor is 32× tokens — linear, map-side
    combinable, no pairwise work until hamming bucketing (dd7)."""
    return simhash_signatures(load_table(spark, sf_dir, "documents"))


# bit-block LSH over the 32-bit signature: split into r+1 = 4 blocks of
# 8 bits; by pigeonhole any pair at hamming ≤ r = 3 matches exactly on at
# least one block, so the block-bucket join has PERFECT recall for the
# threshold — same bucketed topology as dd4's MinHash banding. The bucket
# cap bounds a hot block value's pair fan-out at τ(τ-1)/2, exactly like
# dd2's posting-list df-cap (a capped bucket means >τ docs share 8 identical
# signature bits — boilerplate-dominated corpora hit this, and the cap trades
# those pairs away with a log line rather than a quadratic join bucket).
_DD7_BLOCKS = 4
_DD7_MAX_HAMMING = _DD7_BLOCKS - 1
_DD7_MAX_BUCKET = 200


def _popcount64(x):
    """Vectorized 64-bit SWAR popcount — integer-exact, the numpy mirror of
    Spark's bit_count (numpy 1.x has no popcount ufunc)."""
    import numpy as np

    x = x.astype(np.uint64)
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(
        "int64"
    )


def simhash_pairs(
    sig: DataFrame,
    max_hamming: int = _DD7_MAX_HAMMING,
    max_bucket: int | None = _DD7_MAX_BUCKET,
) -> DataFrame:
    """(doc_id, simhash) → near-dup pairs at hamming ≤ max_hamming, via
    bit-block posting lists: ONE shuffle groups each (block, value) bucket's
    members — the signature rides along, so the exact popcount(xor) hamming
    is computed on each candidate pair inside the bucket (no join back to
    the signature table, which would recompute the whole tokenize+aggregate
    pipeline per join side); a final groupBy dedups pairs found by several
    blocks. Two shuffles total.

    Pairs come from `bucket_pairs`: a vectorized SWAR popcount of each
    chunk of candidate pairs, integer-exact, doc_a < doc_b by the sorted
    member lists; buckets over `max_bucket` are dropped before pairing."""
    import numpy as np

    stack_args = ", ".join(
        f"{b}, shiftright(simhash, {8 * b}) & 255" for b in range(_DD7_BLOCKS)
    )
    blocks = sig.select(
        "doc_id",
        "simhash",
        F.expr(f"stack({_DD7_BLOCKS}, {stack_args}) as (block, block_val)"),
    )

    def near(cols, i, j):
        ids, sigs = cols
        ham = _popcount64(np.bitwise_xor(sigs[i], sigs[j]))
        keep = ham <= max_hamming
        return {
            "doc_a": ids[i][keep],
            "doc_b": ids[j][keep],
            "hamming": ham[keep].astype(np.int32),
        }

    grouped = group_members(
        blocks, ["block", "block_val"], ["doc_id", "simhash"], max_bucket
    )
    return (
        bucket_pairs(grouped, near, "doc_a long, doc_b long, hamming int")
        .groupBy("doc_a", "doc_b")
        .agg(F.min("hamming").alias("hamming"))
    )


@register(
    "dd7_simhash_pairs",
    f"""
    WITH sig AS ({_SIMHASH_DUCK}),
    blocks AS (
      SELECT doc_id, b.b AS block,
             (simhash // CAST(power(2, 8 * b.b) AS BIGINT)) % 256 AS block_val
      FROM sig, unnest(generate_series(0, {_DD7_BLOCKS - 1})) AS b(b)
    ),
    keep AS (
      SELECT block, block_val FROM blocks
      GROUP BY block, block_val HAVING count(*) <= {_DD7_MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM blocks a
      JOIN keep USING (block, block_val)
      JOIN blocks b ON a.block = b.block AND a.block_val = b.block_val
                   AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
    FROM cand
    JOIN sig sa ON sa.doc_id = doc_a
    JOIN sig sb ON sb.doc_id = doc_b
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {_DD7_MAX_HAMMING}
    """,
)
def dd7_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pair generation (completes the family the way dd4
    completes MinHash — VERDICT r2 item 3): bit-block LSH buckets,
    posting-list pair combinations, exact hamming verification. Candidate
    generation is linear in docs; pair fan-out per bucket is bounded."""
    return simhash_pairs(
        simhash_signatures(load_table(spark, sf_dir, "documents"))
    )
