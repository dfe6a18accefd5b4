"""Event-time entries: as-of and range joins, sessions, rollups,
funnels, cohorts, gap fill, and the streaming windows and
stream-stream joins checked against their batch equivalents.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..operators.temporal import (
    asof_join,
    bucketed_range_join,
    cohort_retention,
    funnel_stages,
    gap_fill,
    moving_window_agg,
    ohlc_rollup,
    sessionize,
    time_rollup,
)
from ..operators.windows import lww_latest
from ..streaming.windows import (
    stream_exact_dedup,
    stream_stream_attribution,
    windowed_counts,
)
from . import q


# Point-in-time as-of join: each purchase picks up the value of the
# user's latest click at-or-before it (union+window form, one shuffle;
# oracle is DuckDB's native ASOF LEFT JOIN — same inclusive semantics).
@q(
    "temporal_asof_join",
    """
    WITH p AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ), c0 AS (
      SELECT user_id, ts, value, event_id FROM events WHERE event_type = 'click'
    ), c AS (
      SELECT user_id, ts, value FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM c0
      ) WHERE rn = 1
    )
    SELECT p.user_id, p.ts, p.event_id,
           ROUND(c.value, 2) AS asof_value
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def temporal_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = lww_latest(
        e.filter(F.col("event_type") == "click").select(
            "user_id", "ts", "value", "event_id"
        ),
        ["user_id", "ts"],
        [F.col("event_id")],
    ).select("user_id", "ts", "value")
    out = asof_join(purchases, clicks, ["user_id"], payload=["value"])
    return out.select(
        "user_id", "ts", "event_id", F.round(F.col("asof_value"), 2).alias("asof_value")
    )


# Batch sessionization: 30-minute inactivity gap, deterministic
# boundaries via whole-microsecond arithmetic + event_id tiebreak.
@q(
    "temporal_sessionize",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN date_diff('microsecond',
                    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    ts) > 1800000000
                  THEN 1 ELSE 0 END AS ns
      FROM events
    ), sid AS (
      SELECT user_id, ts,
             CAST(SUM(ns) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM marked
    )
    SELECT user_id, session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sid GROUP BY user_id, session_id
    """,
)
def temporal_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    return sessionize(e, "user_id", "ts", gap_minutes=30, tiebreak_col="event_id")


# Range join: clicks falling inside 10-minute attribution windows
# opened by purchases — bucketed to an equi-join (no nested loop);
# oracle is DuckDB's native range join (IEJoin).
@q(
    "temporal_range_join",
    """
    WITH windows AS (
      SELECT event_id AS purchase_id, user_id,
             ts AS start_ts, ts + INTERVAL 10 MINUTE AS end_ts
      FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT event_id AS click_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.click_id, w.purchase_id, w.user_id
    FROM clicks c JOIN windows w
      ON c.ts >= w.start_ts AND c.ts <= w.end_ts
    """,
)
def temporal_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    windows = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "ts"
    )
    return bucketed_range_join(
        clicks, windows, point_ts="ts", bucket_minutes=10
    ).select("click_id", "purchase_id", "user_id")


# Hypertable-style rollup: (day, event_type) + day subtotals + grand
# total in one pass (DataFrame rollup == SQL GROUP BY ROLLUP).
@q(
    "temporal_time_rollup",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value,
           CAST(GROUPING(strftime(date_trunc('day', ts), '%Y-%m-%d')) * 2
                + GROUPING(event_type) AS BIGINT) AS grouping_level
    FROM events
    GROUP BY ROLLUP (strftime(date_trunc('day', ts), '%Y-%m-%d'), event_type)
    """,
)
def temporal_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    out = time_rollup(e, "ts", "event_type", "value", granularity="day")
    return out.select(
        "bucket",
        "event_type",
        "n",
        "total_value",
        F.col("grouping_level").cast("long").alias("grouping_level"),
    )


# ---------------------------------------------------------------------------
# T-layer in-stream exact dedup (streaming/windows.py:stream_exact_dedup)
# == batch digest-distinct. The corpus gains a re-arriving duplicate for
# every doc_id % 3 == 0; the stream (file source, availableNow) must
# emit EXACTLY one row per content digest — the oracle is the batch
# distinct-digest set, so a missed drop (extra row) or an over-drop
# (missing digest) both hash-mismatch. Watermark is set past the data's
# span so state never evicts mid-run and the emission set is
# deterministic across micro-batch boundaries.
# ---------------------------------------------------------------------------
@q(
    "stream_dedup_batch_equivalence",
    "SELECT DISTINCT md5(text) AS text_hash FROM documents",
)
def stream_dedup_batch_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias("ts"),
    )
    rearrivals = base.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        (F.col("ts") + F.expr("INTERVAL 30 SECONDS")).alias("ts"),
    )
    corpus = base.unionByName(rearrivals)
    # tempdir removed after the memory sink materializes (ADVICE r4:
    # repeated correctness/bench runs were leaking the corpus copy in
    # /tmp on every invocation).
    src = tempfile.mkdtemp(prefix="stream_dedup_src_")
    try:
        corpus.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(corpus.schema).parquet(src)
        deduped = stream_exact_dedup(
            stream, text_col="text", time_col="ts", watermark="365 days"
        )
        qname = f"stream_dedup_eq_{uuid.uuid4().hex[:8]}"
        query = (
            deduped.select("text_hash")
            .writeStream.format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        # memory sink holds the rows on the driver; the parquet copy is
        # no longer needed once the query has terminated.
        return spark.table(qname)
    finally:
        shutil.rmtree(src, ignore_errors=True)


# T5 hard signal: tumbling-window streamed counts must equal the batch
# GROUP BY over the same events. The stream runs the production
# windowed_counts operator (watermarked tumbling windows) over a
# file-source replay of the events table with availableNow; complete
# output mode flushes every window including the ones the watermark
# has not closed, which is what makes stream == batch exact.
@q(
    "stream_windowed_counts_batch_equivalence",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
             AS window_end,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_windowed_counts_batch_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    src = tempfile.mkdtemp(prefix="stream_wc_src_")
    try:
        ev.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        counts = windowed_counts(stream, window="1 hour", watermark="1 hour")
        qname = f"stream_wc_eq_{uuid.uuid4().hex[:8]}"
        query = (
            counts.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        return spark.table(qname)
    finally:
        shutil.rmtree(src, ignore_errors=True)


# Stream-stream join hard signal: a watermarked view->purchase
# attribution join over an availableNow replay must equal the batch
# interval join. Inner stream-stream joins emit eagerly (no
# watermark-close latency), and the replay is written as ONE file so
# the single micro-batch sees every row before any watermark advances
# — batch == stream exactly, which the DuckDB interval-join oracle
# pins.
@q(
    "stream_stream_join_attribution",
    """
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts,
           ROUND(p.value, 2) AS purchase_value
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '1 hour'
    """,
)
def stream_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    src = tempfile.mkdtemp(prefix="stream_ssj_src_")
    try:
        ev.coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        joined = stream_stream_attribution(
            stream, horizon="1 hour", watermark="2 hours"
        )
        qname = f"stream_ssj_{uuid.uuid4().hex[:8]}"
        query = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        return spark.table(qname)
    finally:
        shutil.rmtree(src, ignore_errors=True)


# T-layer hard signal #2: watermark EVICTION in the stream-stream join.
# Three micro-batches over a shared checkpoint:
#   b1: per-user "early" views (near t0) + one far-future purchase that
#       advances the watermark ~46h past their join horizon;
#   b2: one unrelated view — state cleanup fires under the advanced
#       watermark (eviction lags the watermark update by one batch);
#   b3: purchases 30min after the b1 views (their pairs MUST NOT emit:
#       the views were evicted / the purchases are below-watermark late
#       input) + fresh view/purchase pairs above the watermark (these
#       MUST emit — they prove b3 actually joined, so an implementation
#       that silently drops everything also fails).
# Expected output = exactly the fresh b3 pairs, which DuckDB computes
# from the same deterministic per-user timestamp arithmetic. The
# single-batch equivalence entry (stream_stream_join_attribution) can't
# see any of this — its one micro-batch never advances the watermark.
@q(
    "stream_ssj_watermark_eviction",
    """
    WITH u AS (
      SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT 20
    )
    SELECT user_id,
           2000000 + user_id AS view_id,
           4000000 + user_id AS purchase_id,
           TIMESTAMP '2024-01-01 00:00:00' + INTERVAL 47 HOUR
             + INTERVAL 1 MINUTE * (user_id % 60) AS view_ts,
           TIMESTAMP '2024-01-01 00:00:00' + INTERVAL 47 HOUR
             + INTERVAL 1 MINUTE * (user_id % 60)
             + INTERVAL 10 MINUTE AS purchase_ts,
           ROUND(CAST(user_id AS DOUBLE), 2) AS purchase_value
    FROM u
    """,
)
def stream_ssj_watermark_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    T0 = 1704067200  # 2024-01-01 00:00:00 UTC
    users = (
        tables.load(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .orderBy("user_id")
        .limit(20)
    )
    umin = (F.col("user_id") % 60) * 60  # per-user minute offset, seconds

    def mk(eid_base: int, etype: str, offset_sec, value):
        return users.select(
            (F.lit(eid_base) + F.col("user_id")).cast("long").alias("event_id"),
            F.col("user_id").cast("long").alias("user_id"),
            F.lit(etype).alias("event_type"),
            F.timestamp_seconds(F.lit(T0) + offset_sec).alias("ts"),
            value.alias("value"),
        )

    zero = F.lit(0.0)
    early_views = mk(1_000_000, "view", umin, zero)
    wm_driver = early_views.limit(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("purchase").alias("event_type"),
        F.timestamp_seconds(F.lit(T0 + 48 * 3600)).alias("ts"),
        zero.alias("value"),
    )
    cleanup_tick = early_views.limit(1).select(
        F.lit(-2).cast("long").alias("event_id"),
        F.lit(-2).cast("long").alias("user_id"),
        F.lit("view").alias("event_type"),
        F.timestamp_seconds(F.lit(T0 + 47 * 3600)).alias("ts"),
        zero.alias("value"),
    )
    late_purchases = mk(3_000_000, "purchase", umin + 30 * 60, zero)
    fresh_views = mk(2_000_000, "view", F.lit(47 * 3600) + umin, zero)
    fresh_purchases = mk(
        4_000_000,
        "purchase",
        F.lit(47 * 3600) + umin + 600,
        F.round(F.col("user_id").cast("double"), 2),
    )

    src = tempfile.mkdtemp(prefix="ssj_evict_src_")
    out = tempfile.mkdtemp(prefix="ssj_evict_out_")
    ckpt = tempfile.mkdtemp(prefix="ssj_evict_ckpt_")
    schema = "event_id long, user_id long, event_type string, ts timestamp, value double"
    try:
        def run_batch(df):
            df.coalesce(1).write.mode("append").parquet(src)
            query = (
                stream_stream_attribution(
                    spark.readStream.schema(schema).parquet(src),
                    horizon="1 hour",
                    watermark="2 hours",
                )
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()

        run_batch(early_views.unionByName(wm_driver))
        run_batch(cleanup_tick)
        run_batch(
            late_purchases.unionByName(fresh_views).unionByName(fresh_purchases)
        )
        return (
            spark.read.parquet(out)
            .select(
                "user_id",
                "view_id",
                "purchase_id",
                "view_ts",
                "purchase_ts",
                "purchase_value",
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


# Funnel analysis (view -> click -> purchase) on the events stream:
# per-user max stage under the strict-ts greedy recurrence. The oracle
# states the same recurrence as a chain of min-aggregate CTEs.
@q(
    "temporal_funnel_stages",
    """
    WITH stepped AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    t0 AS (
      SELECT user_id, MIN(ts) AS t0 FROM stepped
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t1 AS (
      SELECT s.user_id, MIN(s.ts) AS t1 FROM stepped s
      JOIN t0 ON s.user_id = t0.user_id AND s.ts > t0.t0
      WHERE s.event_type = 'click' GROUP BY s.user_id
    ),
    t2 AS (
      SELECT s.user_id, MIN(s.ts) AS t2 FROM stepped s
      JOIN t1 ON s.user_id = t1.user_id AND s.ts > t1.t1
      WHERE s.event_type = 'purchase' GROUP BY s.user_id
    )
    SELECT u.user_id,
           (CASE WHEN t0.t0 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN t2.t2 IS NOT NULL THEN 1 ELSE 0 END) AS stage
    FROM (SELECT DISTINCT user_id FROM stepped) u
    LEFT JOIN t0 ON u.user_id = t0.user_id
    LEFT JOIN t1 ON u.user_id = t1.user_id
    LEFT JOIN t2 ON u.user_id = t2.user_id
    """,
)
def temporal_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    return funnel_stages(
        e, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


# Weekly cohort-retention triangle over events (first-activity cohort,
# distinct-user activity per week offset).
@q(
    "temporal_cohort_retention",
    """
    WITH acts AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    ),
    firsts AS (
      SELECT user_id, MIN(w) AS cohort_week FROM acts GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.w) / 7 AS INTEGER)
             AS week_offset,
           COUNT(*) AS n_active
    FROM acts a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def temporal_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    return cohort_retention(e, "user_id", "ts")


# Trailing 7-day RANGE-frame aggregate per user (true interval frame,
# microsecond-exact bounds, integer-cent sums).
@q(
    "temporal_moving_window_agg",
    """
    WITH e AS (
      SELECT user_id, ts,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents,
             epoch_us(ts) AS eus
      FROM events
    )
    SELECT user_id, ts, value_cents,
           COUNT(*) OVER w AS n_trailing,
           CAST(SUM(value_cents) OVER w AS BIGINT) AS sum_trailing_cents
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY eus
                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
    """,
)
def temporal_moving_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    return moving_window_agg(e, "user_id", "ts", "value", days=7)


# Time-grid gap filling with LOCF (round 13): the hypertable-family
# completion — every hour between a user's first and last event exists
# in the output, empty buckets carrying the last observed value
# (dashboards and window math need the empty buckets PRESENT; the
# rollup entry folds only observed ones). Integer-cents values; the
# oracle replays grid + LOCF with generate_series and IGNORE NULLS.
@q(
    "temporal_gap_fill",
    """
    WITH e AS (
      SELECT user_id, date_trunc('hour', ts) AS b,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS c
      FROM events WHERE user_id % 25 = 0
    ),
    obs AS (
      SELECT user_id, b, CAST(SUM(c) AS BIGINT) AS v
      FROM e GROUP BY 1, 2
    ),
    span AS (
      SELECT user_id, MIN(b) AS mn, MAX(b) AS mx FROM obs GROUP BY 1
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS b
      FROM span
    ),
    d AS (
      SELECT g.user_id, g.b, o.v
      FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.b = g.b
    )
    SELECT user_id, strftime(b, '%Y-%m-%d %H:00') AS bucket,
           CAST(LAST_VALUE(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS value_cents,
           v IS NOT NULL AS observed
    FROM d
    """,
)
def temporal_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events").filter(
        F.col("user_id") % 25 == 0
    )
    return gap_fill(e, "ts", "user_id", "value", granularity="hour")


# OHLC candlestick rollup (round 13): the hypertable downsample whose
# open/close need ORDER within the bucket, not just extrema. The
# engine rides min/max over a (ts, seq, cents) struct — lexicographic
# struct comparison turns "value at the earliest tick" into an
# ordinary commutative aggregate (one shuffle, full map-side partial
# agg, no window); the oracle derives open/close INDEPENDENTLY with
# ordered first()/last() aggregates, so the struct trick is checked
# against a different formulation. event_id breaks timestamp ties.
@q(
    "temporal_ohlc_rollup",
    """
    SELECT user_id, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00')
             AS bucket,
           FIRST(c ORDER BY ts, event_id) AS open_c,
           MAX(c) AS high_c,
           MIN(c) AS low_c,
           LAST(c ORDER BY ts, event_id) AS close_c,
           CAST(COUNT(*) AS BIGINT) AS n_obs
    FROM (
      SELECT user_id, ts, event_id,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS c
      FROM events WHERE user_id % 10 = 3
    )
    GROUP BY 1, 2
    """,
)
def temporal_ohlc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events").filter(
        F.col("user_id") % 10 == 3
    )
    return ohlc_rollup(
        e, "ts", "user_id", "value", "event_id", granularity="hour"
    )


# As-of join with staleness tolerance (round 13): the pandas
# merge_asof(tolerance=) semantics — a click from last month is not a
# campaign touch; matches older than left_ts - 1h null out. The
# engine carries the matched right timestamp through the same LOCF
# window (one shuffle, no extra join, default arm byte-unchanged);
# the oracle uses DuckDB's NATIVE ASOF JOIN with a CASE staleness
# gate — a different formulation agreeing on the answer.
@q(
    "temporal_asof_tolerance",
    """
    WITH p AS (
      SELECT user_id, ts, event_id FROM events
      WHERE event_type = 'purchase'
    ), c0 AS (
      SELECT user_id, ts, value, event_id FROM events
      WHERE event_type = 'click'
    ), c AS (
      SELECT user_id, ts, value FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM c0
      ) WHERE rn = 1
    )
    SELECT p.user_id, p.ts, p.event_id,
           CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR
                THEN ROUND(c.value, 2) END AS asof_value
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def temporal_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    # the same LWW tie-break the sibling temporal_asof_join uses — one
    # implementation, so the two arms can never diverge on tied clicks
    clicks = lww_latest(
        e.filter(F.col("event_type") == "click").select(
            "user_id", "ts", "value", "event_id"
        ),
        ["user_id", "ts"],
        [F.col("event_id")],
    ).select("user_id", "ts", "value")
    out = asof_join(
        purchases,
        clicks,
        ["user_id"],
        payload=["value"],
        tolerance_seconds=3600,
    )
    return out.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("asof_value"), 2).alias("asof_value"),
    )
