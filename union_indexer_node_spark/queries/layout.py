"""Data-layout entries: Z-order (Morton) and Hilbert clustering keys
over lineitem, re-derived bit for bit in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..pipelines.layout import hilbert_key_frame, zorder_key
from . import q


# Z-order (Morton) clustering key (round 10): the multi-dimensional
# data-skipping layout key — 16 low bits of l_partkey and l_suppkey
# interleaved, pure long arithmetic (the placement pass
# zorder_layout() is plan-pinned separately; placement is not a
# row-visible value). Oracle rebuilds the interleave bit-for-bit with
# a generate_series bit sum.
@q(
    "layout_zorder_key",
    """
    SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber,
           CAST((SELECT SUM(
                    (((l_partkey & 65535) >> i) & 1) * (1::BIGINT << (2*i))
                  + (((l_suppkey & 65535) >> i) & 1) * (1::BIGINT << (2*i+1))
                 ) FROM generate_series(0, 15) AS t(i)) AS BIGINT) AS zval
    FROM lineitem
    """,
)
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        zorder_key([F.col("l_partkey"), F.col("l_suppkey")], bits=16).alias(
            "zval"
        ),
    )


def _hilbert_oracle_sql(bits: int) -> str:
    """Level-chain CTE mirror of hilbert_key_frame: one CTE per curve
    level, each rewriting (x, y, d) from the previous — the same
    linear-projection shape the Spark side uses (a single nested
    expression would explode in either engine)."""
    n = 1 << bits
    mask = n - 1
    parts = [
        f"""h{bits} AS (
      SELECT l_orderkey, CAST(l_linenumber AS INTEGER) AS l_linenumber,
             CAST(l_partkey AS BIGINT) & {mask} AS x,
             CAST(l_suppkey AS BIGINT) & {mask} AS y,
             CAST(0 AS BIGINT) AS d
      FROM lineitem)"""
    ]
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        parts.append(
            f"""h{level} AS (
      SELECT l_orderkey, l_linenumber,
             d + CAST({s * s} AS BIGINT)
                 * xor(3 * CASE WHEN (x & {s}) != 0 THEN 1 ELSE 0 END,
                       CASE WHEN (y & {s}) != 0 THEN 1 ELSE 0 END) AS d,
             CASE WHEN (y & {s}) = 0
                  THEN CASE WHEN (x & {s}) != 0 THEN {n - 1} - y
                       ELSE y END
                  ELSE x END AS x,
             CASE WHEN (y & {s}) = 0
                  THEN CASE WHEN (x & {s}) != 0 THEN {n - 1} - x
                       ELSE x END
                  ELSE y END AS y
      FROM h{level + 1})"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    SELECT l_orderkey, l_linenumber, CAST(d AS BIGINT) AS hval"
        "\n    FROM h0"
    )


# Hilbert clustering key (round 13): the better-locality sibling of
# layout_zorder_key — consecutive Hilbert cells are always
# grid-adjacent, so a file covering a compact key range covers a
# compact 2-D region and footer min/max pruning stays tight for range
# predicates on BOTH columns. Same (l_partkey, l_suppkey, 16-bit)
# frame as the Morton entry so the two layouts are directly
# comparable. The level-chain construction (16 withColumns
# projections, never one nested expression) is itself the point: the
# naive Column form is ~3^16 Catalyst nodes.
@q("layout_hilbert_key", _hilbert_oracle_sql(16))
def layout_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        "l_partkey",
        "l_suppkey",
    )
    return hilbert_key_frame(
        li, F.col("l_partkey"), F.col("l_suppkey"), bits=16, out="hval"
    ).drop("l_partkey", "l_suppkey")
