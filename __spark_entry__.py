"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (socialFeed byApp=3speak) on sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator
from SURVEY.md §2, backed by union_indexer_node_spark.queries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from union_indexer_node_spark import queries as _q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _q.registry()["social_feed_by_app"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: qd.fn for name, qd in _q.registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: qd.oracle for name, qd in _q.registry().items()}
