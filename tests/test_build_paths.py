"""Round-6 build-latency paths: the load_table schema memo and the
parser-side expression strings must be exactly equivalent to the
construction paths they replaced (same schema, same rows, same trees)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gov_procurement_spider_spark.operators.splitter import (
    DELIMITERS,
    _split_clean,
    _split_clean_sql,
)
from gov_procurement_spider_spark.sources import tables


def test_load_table_schema_memo_identical(spark, sf_small):
    """First load infers from the parquet footer; later loads pass the
    memoized schema explicitly. Both must yield the same schema and rows."""
    for name in ("documents", "embeddings", "events"):
        tables._SCHEMA_MEMO.clear()
        first = tables.load_table(spark, sf_small, name)
        inferred_schema, inferred_count = first.schema, first.count()
        assert tables._SCHEMA_MEMO, "first load should populate the memo"
        second = tables.load_table(spark, sf_small, name)
        assert second.schema == inferred_schema
        assert second.count() == inferred_count


def test_memo_keys_are_per_path(spark, sf_small, sf_dir):
    tables._SCHEMA_MEMO.clear()
    tables.load_table(spark, sf_small, "events")
    tables.load_table(spark, sf_dir, "events")
    assert len(tables._SCHEMA_MEMO) == 2


def test_memo_sees_a_rewritten_file(spark, tmp_path):
    """A file rewritten in place with another schema is read under the new
    schema, not the memoized one."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert tables.load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = tables.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert tuple(df.collect()[0]) == ("x", 1.5)


# strings exercising every delimiter plus trim/empty-part edge cases the
# driver corpus never hits ('\n' and '|' never align there)
_SPLIT_CASES = [
    "a；b；c",
    " a ; b ;; c ",
    "x、 y 、z、",
    "line1\nline2\n\nline3",
    "p|q||r ",
    "；",
    "",
    "no-delimiter",
    "mix;of、all\nfive|kinds",
    "\\|escaped-looking\\n",
]


def test_split_clean_sql_matches_column_api(spark):
    """The expr-string splitter must produce the identical arrays the
    Column-API `_split_clean` builds, for EVERY delimiter (the oracle only
    exercises '；' and '、')."""
    df = spark.createDataFrame([(s,) for s in _SPLIT_CASES], ["v"])
    for d in DELIMITERS:
        got = df.select(
            _split_clean(F.col("v"), d).alias("old"),
            F.expr(_split_clean_sql("v", d)).alias("new"),
        ).collect()
        for row in got:
            assert row.old == row.new, (d, row)


def test_get_spark_pins_default_string_escaping(spark):
    """`_sql_str` writes literals for the default parser escaping, so
    `get_spark` must keep it even when `extra_conf` asks otherwise; the
    `\\n` and `|` delimiters are the ones the other escaping would change."""
    from gov_procurement_spider_spark.session import get_spark

    key = "spark.sql.parser.escapedStringLiterals"
    s = get_spark(
        app_name="tests", master="local[8]", shuffle_partitions=8,
        extra_conf={key: "true"},
    )
    assert s.conf.get(key) == "false"
    df = s.createDataFrame([(c,) for c in _SPLIT_CASES], ["v"])
    for d in ("\n", "|"):
        got = df.select(
            _split_clean(F.col("v"), d).alias("old"),
            F.expr(_split_clean_sql("v", d)).alias("new"),
        ).collect()
        for row in got:
            assert row.old == row.new, (d, row)
