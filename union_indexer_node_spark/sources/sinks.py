"""Sinks (SURVEY S6/S7/S8): upsert, bulk upsert, delete — batch-first.

The reference's findOneAndUpdate/bulkWrite/findOneAndDelete calls
(hive-stream.ts:160-197,289-310,711-718) are last-write-wins upserts
and keyed deletes against MongoDB. Re-expressed set-oriented:

- ``upsert``: union(current, incoming) -> LWW window on the key -> new
  snapshot. One shuffle on the key; with both sides bucketed by the key
  the shuffle disappears.
- ``apply_deletes``: left-anti join against the tombstone set.

On a Delta/Iceberg-backed deployment these become single
``MERGE INTO ... WHEN MATCHED UPDATE / DELETE WHEN NOT MATCHED INSERT``
statements inside foreachBatch (exactly-once with the streaming
checkpoint, SURVEY T2); the pure-parquet variants here implement the
same semantics for environments without a table format, and are what
the tests drive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, DataFrameWriter
from pyspark.sql import functions as F

from ..operators.windows import lww_latest


def upsert(
    current: DataFrame | None,
    incoming: DataFrame,
    keys: list[str],
    order: list[Column],
) -> DataFrame:
    """LWW upsert: the winning row per key across both frames. `order`
    columns (descending recency, e.g. block_height/tx_idx/op_idx) must
    exist in both frames; `current=None` means first load."""
    merged = incoming if current is None else current.unionByName(
        incoming, allowMissingColumns=True
    )
    return lww_latest(merged, keys, order)


def apply_deletes(current: DataFrame, tombstones: DataFrame, keys: list[str]) -> DataFrame:
    """S8 — drop rows whose key appears in the tombstone set (unfollow,
    unsubscribe, revoked authority). Broadcast anti-join when the
    tombstone set is small."""
    return current.join(tombstones.select(*keys).distinct(), keys, "left_anti")


def _partitioned_writer(df: DataFrame, cols: list[str]) -> DataFrameWriter:
    """Overwrite writer for a table partitioned on ``cols``, with its
    rows clustered by those columns first, so each partition directory
    gets one file. Unclustered, T writing tasks over D partition values
    leave up to T*D small files, and every later scan pays to open each
    one. AQE's rebalance splits a partition larger than
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` over several
    tasks, so a hot date still writes in parallel, one file per
    advisory-size slice."""
    return df.hint("rebalance", *cols).write.mode("overwrite").partitionBy(*cols)


def write_snapshot(df: DataFrame, path: str, *, partition_by: list[str] | None = None) -> None:
    """Write the new table snapshot. Date-partitioning posts by
    created_at day mirrors the reference's (created_at desc) index
    intent and gives partition pruning to every trending/window query.
    A partitioned snapshot is written one file per partition directory
    (see ``_partitioned_writer``); an unpartitioned one keeps the
    frame's own partitioning."""
    w = _partitioned_writer(df, partition_by) if partition_by else df.write.mode("overwrite")
    w.parquet(path)


def overwrite_partitions(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Replace only the partitions of ``path`` that ``df`` has rows in
    (dynamic partition overwrite), one file per partition directory like
    ``write_snapshot``. A partition ``df`` has no rows for is left as it
    is: a caller that empties one must remove it itself. ``df`` must not
    read ``path``; Spark refuses to overwrite a path it is reading."""
    _partitioned_writer(df, partition_by).option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(path)
