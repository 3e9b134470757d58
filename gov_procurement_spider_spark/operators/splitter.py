"""E2 — prioritized-delimiter row splitter (ref post_processor.py:34-98).

The reference walks每 record in Python: try delimiters in priority order,
split 规格型号/数量/单价, accept the first delimiter where all three counts
are equal and >1 while 名称/品牌 counts are 1 or equal, emit N rows
(broadcasting scalar 名称/品牌), and tag each input with one of four
``split_status`` classes (post_processor.py:47,82,95,97):

    ok | attachment | mismatched | single_item

Here the whole cascade is pure column expressions — `split`, `filter`,
`size` equality, a `when` cascade picking the first qualifying delimiter,
`posexplode` on a 0..n-1 sequence with `element_at` (1-based, scalar
broadcast via size()==1) — so Catalyst constant-folds and codegens it; no
Python touches the data. The attachment bypass (P7, post_processor.py:44-48)
short-circuits splitting entirely.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# priority order from the reference (post_processor.py:32)
DELIMITERS = [";", "；", "、", "\n", "|"]

ATTACHMENT_MARK = "详见附件"

STATUS_OK = "ok"
STATUS_ATTACHMENT = "attachment"
STATUS_MISMATCHED = "mismatched"
STATUS_SINGLE = "single_item"


def _split_clean(col: Column, delim: str) -> Column:
    """Split on a literal delimiter, trim parts, drop empties."""
    arr = F.split(col, re.escape(delim), -1)
    return F.filter(F.transform(arr, lambda x: F.trim(x)), lambda x: x != "")


def _sql_str(s: str) -> str:
    """Spark-SQL single-quoted string literal for `s` (default escaping,
    pinned by `session.get_spark`)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'").replace("\n", "\\n") + "'"


def _split_clean_sql(colname: str, delim: str) -> str:
    """`_split_clean` as a parser-side expression string — the identical
    split/transform/filter tree, one F.expr parse instead of ~10 py4j
    Column-API round trips per column (25 columns below; the same
    build-latency discipline the when-cascades already use)."""
    return (
        f"filter(transform(split(`{colname}`, {_sql_str(re.escape(delim))}, -1),"
        " x -> trim(x)), x -> x != '')"
    )


def with_split_status(
    df: DataFrame,
    name_col: str = "名称",
    brand_col: str = "品牌",
    spec_col: str = "规格型号",
    qty_col: str = "数量",
    price_col: str = "单价",
) -> DataFrame:
    """Add `split_status`, the chosen-delimiter arrays, and `n_items`."""
    core = [spec_col, qty_col, price_col]

    # Plan-construction discipline (round-4 profile): a chained-withColumn
    # version of this cascade spent 2.6 s per FRESH query build in driver-
    # side analysis — each withColumn re-analyzes the growing plan, O(n²)
    # in the ~30 added columns — vs 0.7 s of actual cluster execution.
    # Three bulk projections (withColumns) carry the same expressions with
    # linear analysis cost; the data-side plan is unchanged.

    # projection 1: all per-delimiter candidate arrays at once
    arrays = {}
    for i, d in enumerate(DELIMITERS):
        for prefix, colname in zip(
            "sqpnb", (spec_col, qty_col, price_col, name_col, brand_col)
        ):
            arrays[f"_{prefix}{i}"] = F.expr(_split_clean_sql(colname, d))
    out = df.withColumns(arrays)

    # projections 2+3 as parser-side expr strings: the same when-cascades
    # built through the Column API cost ~1 s of per-call py4j chatter per
    # fresh build (CLAUDE.md r4); a handful of F.expr parses carries the
    # identical trees. Only generated column names and the attachment mark
    # appear in the SQL — no user data, no delimiter regexes.
    att_sql = " OR ".join(
        f"coalesce(contains(`{c}`, '{ATTACHMENT_MARK}'), false)"
        for c in [name_col, *core]
    )

    def _sz(p: str, i: int) -> str:
        return f"size(_{p}{i})"

    def _aligned(i: int) -> str:
        return (
            f"({_sz('s', i)} > 1 AND {_sz('q', i)} = {_sz('s', i)}"
            f" AND {_sz('p', i)} = {_sz('s', i)}"
            f" AND ({_sz('n', i)} = 1 OR {_sz('n', i)} = {_sz('s', i)})"
            f" AND ({_sz('b', i)} = 1 OR {_sz('b', i)} = {_sz('s', i)}))"
        )

    chosen_sql = (
        "CASE "
        + " ".join(
            f"WHEN NOT ({att_sql}) AND {_aligned(i)} THEN {i}"
            for i in range(len(DELIMITERS))
        )
        + " ELSE -1 END"
    )
    any_multi_sql = " OR ".join(
        f"({_sz('s', i)} > 1 OR {_sz('q', i)} > 1 OR {_sz('p', i)} > 1)"
        for i in range(len(DELIMITERS))
    )
    out = out.withColumns(
        {
            "_chosen": F.expr(chosen_sql),
            "split_status": F.expr(
                f"CASE WHEN {att_sql} THEN '{STATUS_ATTACHMENT}'"
                f" WHEN ({chosen_sql}) >= 0 THEN '{STATUS_OK}'"
                f" WHEN {any_multi_sql} THEN '{STATUS_MISMATCHED}'"
                f" ELSE '{STATUS_SINGLE}' END"
            ),
        }
    )

    def pick_sql(prefix: str) -> str:
        return (
            "CASE _chosen "
            + " ".join(
                f"WHEN {i} THEN _{prefix}{i}" for i in range(len(DELIMITERS))
            )
            + " ELSE array() END"
        )

    out = out.withColumns(
        {
            "_spec_arr": F.expr(pick_sql("s")),
            "_qty_arr": F.expr(pick_sql("q")),
            "_price_arr": F.expr(pick_sql("p")),
            "_name_arr": F.expr(pick_sql("n")),
            "_brand_arr": F.expr(pick_sql("b")),
            "n_items": F.expr(
                f"CASE WHEN split_status = '{STATUS_OK}'"
                f" THEN size({pick_sql('s')}) ELSE 1 END"
            ),
        }
    )
    return out.drop(
        *[f"_{p}{i}" for p in "sqpnb" for i in range(len(DELIMITERS))], "_chosen"
    )


def split_rows(
    df: DataFrame,
    name_col: str = "名称",
    brand_col: str = "品牌",
    spec_col: str = "规格型号",
    qty_col: str = "数量",
    price_col: str = "单价",
) -> DataFrame:
    """1→N explode of `with_split_status` output (post_processor.py:75-86):
    split rows take element i of each array, scalar 名称/品牌 broadcast;
    non-`ok` rows pass through as one row with `item_pos` 0."""
    staged = with_split_status(df, name_col, brand_col, spec_col, qty_col, price_col)
    exploded = staged.select(
        "*", F.posexplode(F.sequence(F.lit(0), F.col("n_items") - 1)).alias("item_pos", "_x")
    ).drop("_x")

    def elem(arr: str, fallback: str) -> Column:
        return F.expr(
            f"CASE WHEN split_status != '{STATUS_OK}' THEN `{fallback}`"
            f" ELSE element_at({arr}, CASE WHEN size({arr}) = 1 THEN 1"
            f" ELSE item_pos + 1 END) END"
        )

    return exploded.withColumns(
        {
            spec_col: elem("_spec_arr", spec_col),
            qty_col: elem("_qty_arr", qty_col),
            price_col: elem("_price_arr", price_col),
            name_col: elem("_name_arr", name_col),
            brand_col: elem("_brand_arr", brand_col),
        }
    ).drop("_spec_arr", "_qty_arr", "_price_arr", "_name_arr", "_brand_arr", "n_items")
