"""Streaming ingest: the batch pipelines wrapped in foreachBatch.

Reference behaviors and their Spark counterparts (SURVEY §2.9):

- T1 ordering: the reference buffers out-of-order block fetches into
  strict height order (utils.ts:41-68). Not needed — LWW keys on
  (block_height, tx_idx, op_idx) make every micro-batch merge
  order-insensitive.
- T2 checkpoint/exactly-once: the 2-second checkpoint doc
  (hive-stream.ts:183-197) becomes the streaming checkpointLocation;
  the LWW upsert is idempotent, so replayed batches converge to the
  same table (true exactly-once on a transactional table format via
  MERGE; parquet snapshots here are at-least-once with idempotent
  effect).
- T3 backpressure: heap watermarks (hive-stream.ts:65-78) ->
  maxFilesPerTrigger / maxOffsetsPerTrigger.
- T4 late data: the state_control monotonic guard (hive-stream.ts:538)
  is subsumed by W2 — a stale update loses the window regardless of
  arrival order.
- T6 dirty-flag recompute: cron scans of needs_* flags become
  "recompute the affected keys each micro-batch" — foreachBatch below
  merges only keys present in the batch.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest.posts import apply_first_upload, build_posts
from ..session import free_local_checkpoint
from ..sources.sinks import overwrite_partitions, upsert, write_snapshot


def ops_file_stream(spark: SparkSession, ops_dir: str, schema: str, *, max_files_per_trigger: int = 1) -> DataFrame:
    """File-based ops stream (block dumps landing as parquet). Rate is
    bounded by maxFilesPerTrigger (T3)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")  # block dumps land as dirs
        .parquet(ops_dir)
    )


def _fold_stream(
    ops_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    partition_col: str,
    build: Callable[[DataFrame, DataFrame | None], DataFrame],
    merge: Callable[[DataFrame | None, DataFrame], tuple[DataFrame, list]],
):
    """The micro-batch partition fold both incremental snapshots share.

    Each non-empty batch is ``build(batch, current)`` into new rows,
    materialized once (localCheckpoint) for the merge's several reads;
    ``merge(current, new)`` returns the rows to write and the partition
    values they replace (``current`` is None before the first batch).
    The first batch writes the snapshot; later batches rewrite only the
    touched partitions (dynamic partition overwrite, one file per
    partition — ``sources.sinks.overwrite_partitions``).
    localCheckpoint materializes the merge first: the write plan must
    not read state_dir while replacing it. Both checkpoints are freed
    once the batch is written. A touched partition whose merged
    output is empty is removed explicitly — dynamic overwrite cannot
    drop a partition it writes zero rows into, so the stale rows would
    otherwise survive on disk."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        current = None
        if os.path.exists(state_dir):
            try:
                current = batch_df.sparkSession.read.parquet(state_dir)
            except Exception:
                current = None
        new = build(batch_df, current).localCheckpoint()
        merged, touched = merge(current, new)
        if current is None:
            write_snapshot(merged, state_dir, partition_by=[partition_col])
        else:
            merged = merged.localCheckpoint()
            overwrite_partitions(merged, state_dir, [partition_col])
            surviving = {
                r[0] for r in merged.select(partition_col).distinct().collect()
            }
            for p in touched:
                if p not in surviving:
                    shutil.rmtree(
                        os.path.join(state_dir, f"{partition_col}={p}"),
                        ignore_errors=True,
                    )
            free_local_checkpoint(merged)
        free_local_checkpoint(new)

    return (
        ops_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def build_posts_batch(batch: DataFrame, current: DataFrame | None) -> DataFrame:
    """The posts stream's rows for one micro-batch: ``build_posts`` over
    the batch's ops against the snapshot (``current``, None before the
    first batch), plus the ``created_date`` partition column."""
    return build_posts(batch, snapshot=current).withColumn(
        "created_date", F.to_date("created_at")
    )


def start_posts_stream(
    spark: SparkSession,
    ops_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
):
    """Incremental posts index: each micro-batch builds post rows for
    the keys it touches and LWW-merges them into the snapshot.

    NOTE on correctness vs the pure-batch path: edit folds and windows
    inside one micro-batch see only that batch's events; the LWW merge
    against the existing snapshot resolves the final winner per key by
    (block_height, tx_idx, op_idx) — identical outcome to a full batch
    rebuild for every field whose value is carried by the winning event
    (title, metadata, status...). The X13 body fold of a published post
    resumes from its stored body (``build_posts``), so a patch edit
    landing in a later batch than its post applies as in the full
    rebuild. A full deterministic rebuild (the batch pipeline) remains
    the reconciliation path for what the notes below leave out,
    exactly like the reference's reindex twin worker
    (hive-stream-reindex.ts).

    The J9 reply closure of a batch starts from the batch's allowed
    roots and from the snapshot's allowed posts its comments reply to
    (``build_posts_batch``), so a reply or an edit landing after its
    parent is allowed exactly as in the full build. Rows outside the
    batch are not re-derived: a reply that lands BEFORE its parent keeps
    allowed_by_parent=false when the parent arrives later, and so do the
    snapshot descendants of a post an edit re-types. The full batch
    rebuild reconciles both, and a body edit older than the post's
    stored winning event (a backfill), which the resumed fold skips.

    Cross-batch aggregates are inherited, not recomputed: a later
    batch's build_posts sees only that batch's events, so its
    created_at (min event time) / updated_at (max event time) are
    batch-local; the merge takes least/greatest against the snapshot's
    values per key so both match the full-batch rebuild.

    The snapshot is date-partitioned on ``created_date`` and each
    micro-batch REWRITES only the partitions it touches (dynamic
    partition overwrite) — write cost is O(touched days). Each touched
    date is rewritten as one file, or one per advisory-size slice of a
    hot date (``sources.sinks.overwrite_partitions``), however many
    partitions the merged frame has. The read side is O(snapshot
    rows) in a few columns: finding the old dates / prior timestamps
    of updated keys scans the snapshot's (author, permlink, created_at,
    updated_at, created_date) columns, and resuming body folds scans
    its (author, permlink, body, block_height, tx_idx, op_idx) columns
    (parquet column-pruned, not full rows), each batch. Bounding the
    read to O(touched keys) as well needs a key -> created_date sidecar
    index or a transactional format; on Delta/Iceberg all of this is
    one MERGE. A partition whose last surviving row was migrated away is
    removed explicitly — dynamic overwrite cannot drop a partition it
    writes zero rows into.
    """

    def _touched_dates(current: DataFrame, new_posts: DataFrame) -> list:
        # AUTHOR-scoped (round 10): first_upload (W3) is a per-author
        # window, so the merge must read every existing row of every
        # author the batch touches — key-scoped reads would freeze a
        # batch-local flag into the snapshot and the streamed silver
        # would drift from the batch rebuild. The rewrite stays
        # partition-bounded; the bound is now "partitions holding
        # touched authors' posts" instead of "touched keys' posts".
        authors = new_posts.select("author").distinct()
        old_dates = (
            current.join(F.broadcast(authors), ["author"], "left_semi")
            .select("created_date")
            .distinct()
        )
        new_dates = new_posts.select("created_date").distinct()
        return [
            r[0]
            for r in new_dates.unionByName(old_dates).distinct().collect()
            if r[0] is not None
        ]

    def _merge_with_timestamps(cur: DataFrame, new_posts: DataFrame) -> DataFrame:
        """Row-level LWW for event-carried fields + per-key aggregate
        merge for the cross-event timestamps: created_at = min over
        BOTH sides, updated_at = max — regardless of which side's row
        wins the LWW. A later-batch edit therefore cannot reset a
        post's first-seen time (and a backfilled earlier event pulls it
        back), matching the full batch rebuild exactly."""
        key = ["author", "permlink"]
        ts_cols = [*key, "created_at", "updated_at"]
        ts = (
            cur.select(*ts_cols)
            .unionByName(new_posts.select(*ts_cols))
            .groupBy(*key)
            .agg(
                F.min("created_at").alias("created_at"),
                F.max("updated_at").alias("updated_at"),
            )
        )
        merged = upsert(
            cur,
            new_posts,
            key,
            [F.col("block_height"), F.col("tx_idx"), F.col("op_idx")],
        ).drop("created_at", "updated_at", "created_date")
        return merged.join(ts, key).withColumn(
            "created_date", F.to_date("created_at")
        )

    def merge(current: DataFrame | None, new_posts: DataFrame):
        if current is None:
            return new_posts, []
        touched = _touched_dates(current, new_posts)
        # Full LWW order key inside _merge_with_timestamps: block_height
        # alone ties for same-block edits, making the winner
        # partition-order dependent — the tiebreakers keep replays
        # byte-identical (T1/T2).
        merged = _merge_with_timestamps(
            current.filter(F.col("created_date").isin(touched)), new_posts
        )
        # Dirty-author first_upload recompute (T6): rows of authors in
        # this batch re-derive W3 over their FULL history (the
        # author-scoped read above guarantees it is all present);
        # bystander rows that merely share a touched partition keep
        # their stored flag — their history may span partitions this
        # batch did not read.
        batch_authors = new_posts.select("author").distinct()
        dirty = merged.join(F.broadcast(batch_authors), "author", "left_semi")
        bystanders = merged.join(
            F.broadcast(batch_authors), "author", "left_anti"
        )
        return apply_first_upload(dirty).unionByName(bystanders), touched

    return _fold_stream(
        ops_stream, state_dir, checkpoint_dir, "created_date",
        build_posts_batch, merge,
    )


def start_follows_stream(
    spark: SparkSession,
    ops_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    *,
    n_buckets: int = 64,
    tombstone_watermark_blocks: int | None = None,
):
    """Incremental follows silver (S8 dispatch, streamed): each
    micro-batch runs the full build_follows dispatch on its own ops
    and LWW-merges the per-edge-key winners into the snapshot WITH
    unfollow tombstones retained — a tombstone must outlive the batch
    that produced it, or an edge's own older follow re-arriving in a
    later batch would resurrect it. Read the serving table via
    ``follows_view``.

    ``tombstone_watermark_blocks`` bounds tombstone retention (VERDICT
    r10 item 3 — unbounded, the tombstone set only grows at 100×
    scale): a tombstone exists to beat LATE follow ops with lower
    (block_height, tx_idx, op_idx); once the stream head has advanced
    ``tombstone_watermark_blocks`` past a tombstone's height, any op it
    could still beat is older than the lateness bound and will never
    arrive, so the tombstone is dead state. Each batch computes
    high_wm = max(batch block_height) - watermark and drops tombstones
    below it from the buckets it rewrites — compaction is LAZY
    (cold buckets compact on their next touch; an offline pass with
    the same predicate compacts the rest), and tombstones within the
    watermark still win LWW, so resurrection stays impossible inside
    the bound. Default None keeps today's keep-forever behavior.

    The snapshot is hash-bucketed on the edge key and a micro-batch
    rewrites ONLY the buckets it touches (dynamic partition overwrite)
    — the follows analog of the posts stream's date-bounded rewrite:
    write cost tracks touched buckets, not table size. Each touched
    bucket is rewritten as one file, as in the posts stream. The bucket
    count is a state-layout constant (changing it means a one-off
    snapshot rewrite), sized so one bucket ≈ one comfortable task."""
    from ..ingest.posts import build_follows

    def _compact(frame: DataFrame, batch_edges: DataFrame) -> DataFrame:
        if tombstone_watermark_blocks is None:
            return frame
        head = batch_edges.agg(F.max("block_height")).first()[0]
        if head is None:
            return frame
        high_wm = head - tombstone_watermark_blocks
        return frame.filter(
            ~(F.col("is_unfollow") & (F.col("block_height") < high_wm))
        )

    def build(batch_df: DataFrame, current: DataFrame | None) -> DataFrame:
        return build_follows(batch_df, keep_tombstones=True).withColumn(
            "_bucket",
            F.pmod(F.crc32(F.col("_id")), F.lit(n_buckets)).cast("int"),
        )

    def merge(current: DataFrame | None, new_edges: DataFrame):
        if current is None:
            return _compact(new_edges, new_edges), []
        touched = [
            r[0] for r in new_edges.select("_bucket").distinct().collect()
        ]
        merged = upsert(
            current.filter(F.col("_bucket").isin(touched)),
            new_edges,
            ["_id"],
            [F.col("block_height"), F.col("tx_idx"), F.col("op_idx")],
        )
        # _compact can empty a touched bucket (a catch-up batch's
        # unfollow fell below high_wm); the fold removes it so the
        # pre-merge bucket cannot resurrect beaten follows.
        return _compact(merged, new_edges), touched

    return _fold_stream(
        ops_stream, state_dir, checkpoint_dir, "_bucket", build, merge
    )


def follows_view(snapshot: DataFrame) -> DataFrame:
    """Serving projection of the streamed follows state: live edges
    only (tombstone winners dropped), batch-`build_follows` columns."""
    return snapshot.filter(~F.col("is_unfollow")).select(
        "_id", "follower", "following", "what", "followed_at"
    )
