"""Window-shaped operators (SURVEY §2.5 W1-W4).

The reference has no window functions; these four behaviors are windows
in disguise (leaderboard rank, last-write-wins upsert ordering,
first-upload existence check, pagination). Centralized here so ingest
and the query layer share one implementation: every feed arm in
operators/feeds.py pages through ``paginate`` and both leaderboard arms
rank through ``ranked``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def lww_latest(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """W2 — keep the winning (latest) row per key. `order` lists columns
    whose DESCENDING order defines recency, e.g. [block_height, tx_idx,
    op_idx]. Replaces Mongo's upsert-in-arrival-order with a
    deterministic, order-insensitive reduction
    (hive-stream.ts:536-582)."""
    w = Window.partitionBy(*keys).orderBy(*[c.desc() for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def first_per_group(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """W3 — earliest row per key (ASCENDING order), e.g. first_upload =
    author's first 3speak post (hive-stream.ts:623-631)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def ranked(df: DataFrame, order: list[Column], rank_col: str = "rank") -> DataFrame:
    """W1 — global rank after sort (leaderboard,
    resolvers/index.ts:465-471). Single-partition window: only use on
    already-small (filtered/aggregated) frames."""
    w = Window.orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w))


def paginate(
    df: DataFrame,
    order: list[tuple[str, bool]],
    *,
    skip: int = 0,
    limit: int = 100,
    after: tuple | None = None,
) -> DataFrame:
    """W4/O1 — sorted skip/limit feed pagination
    (resolvers/index.ts:178-183). ``order`` lists (column, descending)
    sort keys. offset+limit compiles to a global TakeOrderedAndProject
    (distributed top-k), not a full sort.

    ``after`` is a keyset cursor: the key values of the previous page's
    last row, one per sort key. Rows strictly after it in ``order`` pass
    (the lexicographic expansion k1 past v1, or k1 = v1 and k2 past v2,
    ...), and ``skip`` is ignored — the cursor IS the position, so page
    N costs O(limit) instead of reading and discarding the sorted
    prefix. A timestamp leading key is sargable: it reaches the parquet
    scan as a pushed filter."""
    if after is not None:
        pred = prefix = None
        for (name, desc), value in zip(order, after):
            c, v = F.col(name), F.lit(value)
            past = c < v if desc else c > v
            term = past if prefix is None else prefix & past
            pred = term if pred is None else pred | term
            prefix = c == v if prefix is None else prefix & (c == v)
        df = df.filter(pred)
    out = df.orderBy(*[F.desc(n) if d else F.asc(n) for n, d in order])
    if skip and after is None:
        out = out.offset(skip)
    return out.limit(limit)


def scd2_history(
    df: DataFrame,
    keys: list[str],
    time_col: str,
    order: list[Column] | None = None,
) -> DataFrame:
    """W5 (extension) — slowly-changing-dimension type-2 history: every
    version of a key becomes a validity interval [valid_from, valid_to)
    with ``is_current`` on the open row. The complement of W2: LWW keeps
    only the winner, SCD2 keeps the full lineage queryable by as-of
    time (pair with temporal.asof_join for point-in-time reads). The
    reference's Mongo upserts overwrite history (hive-stream.ts:536-582)
    — a 100 TB warehouse wants the history table instead.

    One window partitioned by the natural key (bounded by per-key
    version count, not corpus size): valid_to = lead(valid_from). An
    extra ``order`` tiebreak makes the interval chain deterministic for
    same-timestamp versions.
    """
    tiebreak = order or []
    w = Window.partitionBy(*keys).orderBy(F.col(time_col).asc(), *tiebreak)
    valid_to = F.lead(time_col).over(w)
    return (
        df.withColumn("valid_from", F.col(time_col))
        .withColumn("valid_to", valid_to)
        .withColumn("is_current", F.col("valid_to").isNull())
    )
