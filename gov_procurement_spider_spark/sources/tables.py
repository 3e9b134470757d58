"""Loaders for the driver-provided TPC-H-ish parquet tables.

Mirrors the reference's CSV source stage (``post_processor.py:29``,
``converter.py:35``) but columnar: ``spark.read.parquet`` gives predicate
pushdown + column pruning for free, where the reference re-read whole CSVs
between pipeline stages.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Per-process memo of each table file's INFERRED schema (metadata only —
# never rows or results): a schema-less spark.read.parquet eagerly lists the
# path and reads a parquet footer for inference, ~65-85 ms of py4j/JVM
# latency per call (measured, round 6), paid again on every fresh DataFrame
# build. The first read of a file in a process still infers from the real
# footer; later builds pass the identical schema explicitly — same plan,
# same pushdown, no repeated footer job. Keyed by (absolute path, mtime,
# size): different sf_dirs never share an entry, and a file rewritten in
# place is inferred afresh instead of read under a stale schema.
_SCHEMA_MEMO: dict[tuple[str, int, int], StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so queries can use spark.sql."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
