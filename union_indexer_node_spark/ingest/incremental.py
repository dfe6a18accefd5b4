"""T6 — high-watermark incremental maintenance (batch form).

The reference maintains derived state with dirty flags + cron rescans
(needs_stat_update / metadata_status / needs_update, scanned every
1-10 min with caps — core.ts:44-246,460-464). The batch-engine
equivalent: each derived table remembers the highest source watermark
it has incorporated; a refresh recomputes ONLY keys whose source rows
moved past it, then LWW-merges the recomputed slice into the snapshot.

This replaces unbounded dirty-flag scans with one pushed-down range
predicate (watermark > x prunes date partitions at the scan), and the
per-key recompute is deterministic — the same property that makes
replays safe everywhere else in the engine.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.sinks import upsert


def incremental_refresh(
    source: DataFrame,
    state: DataFrame | None,
    watermark_col: str,
    last_watermark,
    keys: list[str],
    recompute: Callable[[DataFrame], DataFrame],
    order: list[Column],
) -> tuple[DataFrame, object]:
    """One incremental cycle.

    1. touched = keys of source rows with watermark > last_watermark
       (a pushed-down range scan, not a full pass);
    2. slice = ALL source rows for those keys (semi-join — per-key
       recompute needs full key history, e.g. edit folds);
    3. fresh = recompute(slice); merged = LWW upsert into state.

    Returns (merged_state, new_watermark).
    """
    touched = (
        source.filter(F.col(watermark_col) > F.lit(last_watermark))
        .select(*keys)
        .distinct()
    )
    slice_df = source.join(touched, keys, "left_semi")
    fresh = recompute(slice_df)
    merged = upsert(state, fresh, keys, order)
    new_wm = source.agg(F.max(watermark_col)).collect()[0][0]
    return merged, new_wm


def watermark_state(spark, entries: dict[str, tuple]) -> DataFrame:
    """The syncState backing table (reference stats doc,
    resolvers/index.ts:352-362): one row per derived table with the
    watermark it has incorporated and the newest source watermark seen —
    their difference is the lag the reference reports as blockLag.

    Built from literals (``inline``), not ``createDataFrame`` over a
    Python list, whose rows are unpickled by Python workers: serving it
    starts none."""
    rows = [
        F.struct(
            F.lit(str(name)).alias("table_name"),
            F.lit(int(incorporated)).alias("watermark"),
            F.lit(int(source_seen)).alias("source_watermark"),
        )
        for name, (incorporated, source_seen) in entries.items()
    ]
    return spark.range(1).select(
        F.inline(
            F.array(*rows).cast(
                "array<struct<table_name:string,watermark:bigint,"
                "source_watermark:bigint>>"
            )
        )
    )
