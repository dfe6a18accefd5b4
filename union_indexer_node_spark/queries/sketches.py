"""Sketch and sampling entries: HLL, KMV, count-min, quantile sketches
and weighted reservoir samples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..operators.sketches import (
    _HLL_ALPHA_NUM as _HLL_AN,
    bottomk_sample,
    cm_estimate,
    cm_sketch,
    hll_estimate,
    hll_registers,
    hll_rollup,
    kmv_distinct,
    kmv_estimate,
    kmv_pairwise_overlap,
    kmv_sketch,
    kmv_sketch_global,
    sample_quantiles,
    weighted_bottomk,
)
from . import q


# Embedding-cosine near-dup lives with the ANN-LSH block below (it
# shares the hyperplane literals): see dedup_embedding_neardup.

# Corpus-wide approximate distinct users. Originally Spark's
# approx_count_distinct (HLL++), which can never be oracle-hashed —
# engine sketch encodings differ — leaving this the registry's one
# permanently rows-only entry. Round 12 (VERDICT r11 item 4) swaps the
# estimator for the GLOBAL KMV sketch: identical math in both engines
# (md5 hash, integer-division estimate), so the entry is now
# hash-checked like everything else, and the global sketch exercises
# the two-level truncation that avoids the single-reducer global
# window at 100 TB (see kmv_sketch_global). The exact count rides
# along as a 1-row scalar broadcast (allowlisted BNLJ, the
# search_bm25_topk pattern) so the estimator's error is visible in
# the verified row itself.
@q(
    "a_approx_distinct_users",
    """
    WITH h AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
                  AS BIGINT) AS _h
      FROM events
    ),
    rk AS (
      SELECT _h, ROW_NUMBER() OVER (ORDER BY _h) AS _r
      FROM h QUALIFY _r <= 64
    ),
    per AS (
      SELECT MAX(CASE WHEN _r = 64 THEN _h END) AS kth_hash,
             COUNT(*) AS sketch_size
      FROM rk
    )
    SELECT CAST(CASE WHEN sketch_size < 64 THEN sketch_size
                     ELSE 63 * 281474976710656 // kth_hash
                END AS BIGINT) AS n_distinct_est,
           CAST(COALESCE(kth_hash, 0) AS BIGINT) AS kth_hash,
           CAST(sketch_size AS BIGINT) AS sketch_size,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_users
    FROM per
    """,
)
def a_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    est = kmv_estimate(kmv_sketch_global(e, "user_id", k=64), [], k=64)
    exact = e.agg(F.countDistinct("user_id").alias("exact_users"))
    return est.crossJoin(F.broadcast(exact))


# KMV cardinality sketch (round 10): the oracle-EXACT sibling of the
# HLL entry above — k-minimum-values over an md5 hash, per-group
# bounded state (k longs), mergeable across slices, integer-division
# estimator identical in both engines. This upgrades the sketch family
# from a permanent rows-only check to a hash-matched one.
@q(
    "a_approx_distinct_kmv",
    """
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
                  AS BIGINT) AS _h
      FROM events
    ),
    rk AS (
      SELECT event_type, _h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY _h) AS _r
      FROM h QUALIFY _r <= 64
    ),
    per AS (
      SELECT event_type,
             MAX(CASE WHEN _r = 64 THEN _h END) AS kth_hash,
             COUNT(*) AS sketch_size
      FROM rk GROUP BY event_type
    )
    SELECT event_type,
           CAST(CASE WHEN sketch_size < 64 THEN sketch_size
                     ELSE 63 * 281474976710656 // kth_hash
                END AS BIGINT) AS n_distinct_est,
           CAST(COALESCE(kth_hash, 0) AS BIGINT) AS kth_hash,
           CAST(sketch_size AS BIGINT) AS sketch_size
    FROM per
    """,
)
def a_approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    return kmv_distinct(e, ["event_type"], "user_id", k=64)


# Count-Min sketch heavy-hitter probe (round 12): the mergeable
# frequency sketch next to KMV — d md5 hash rows × w counters,
# bit-identical in both engines, w·d longs of state per slice. w=64 is
# deliberately small at this SF so collisions actually occur and the
# min-over-rows estimator does real work; the exact count rides along so
# the row itself shows est >= exact (the CM guarantee), and the oracle
# replays the identical sketch.
@q(
    "sketch_cm_heavy_hitters",
    """
    WITH k AS (SELECT CAST(user_id AS VARCHAR) AS _k FROM events),
    cells AS (
      SELECT r,
             CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || _k),
                                  1, 12)) AS BIGINT) % 64 AS b,
             COUNT(*) AS cnt
      FROM k, range(0, 4) rr(r) GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
    ),
    probes AS (
      SELECT c.user_id, r,
             CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|'
                                      || CAST(c.user_id AS VARCHAR)),
                                  1, 12)) AS BIGINT) % 64 AS b
      FROM cand c, range(0, 4) rr(r)
    ),
    est AS (
      SELECT user_id, MIN(COALESCE(cnt, 0)) AS cm_count
      FROM probes LEFT JOIN cells USING (r, b) GROUP BY user_id
    ),
    ex AS (SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id)
    SELECT est.user_id, CAST(est.cm_count AS BIGINT) AS cm_count,
           CAST(ex.exact_count AS BIGINT) AS exact_count
    FROM est JOIN ex USING (user_id)
    """,
)
def sketch_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    cells = cm_sketch(e, "user_id", w=64, d=4)
    cand = (
        e.filter(F.col("user_id") % 97 == 0).select("user_id").distinct()
    )
    est = cm_estimate(cells, cand, "user_id", w=64, d=4)
    exact = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    return est.join(exact, "user_id")


# Bottom-k-sample quantiles (round 12):
# the KMV selection applied to whole rows = a deterministic uniform
# sample without replacement, mergeable across slices; nearest-rank
# quantiles over the sample bound both state and error where exact
# quantiles would need a full 100 TB sort. Values quantized to cents
# so both engines rank identical integers.
@q(
    "sketch_sample_quantiles",
    """
    WITH h AS (
      SELECT event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
             CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))
                  AS BIGINT) AS _h,
             event_id
      FROM events
    ),
    s AS (
      SELECT event_type, v, _h,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY _h, event_id) AS _r
      FROM h QUALIFY _r <= 128
    ),
    rk AS (
      SELECT event_type, v, _h,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY v, _h) AS _vr,
             COUNT(*) OVER (PARTITION BY event_type) AS _n
      FROM s
    )
    SELECT event_type, CAST(q AS INT) AS q, v AS quantile_value
    FROM rk, (VALUES (25), (50), (75)) qq(q)
    WHERE _vr = 1 + (q * (_n - 1)) // 100
    """,
)
def sketch_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("v"),
        "event_id",
    )
    samp = bottomk_sample(e, ["event_type"], "event_id", k=128)
    return sample_quantiles(samp, ["event_type"], "v", qs=(25, 50, 75))


# KMV pairwise set-overlap (round 13): the sketch-family set-operation
# completion — cross-source CONTENT overlap estimated from per-source
# KMV sketches ALONE (Beyer et al.: the k smallest hashes of the merged
# sketch ARE the union's sketch; the fraction present in both inputs
# estimates Jaccard). The keyed set is word BIGRAMS, not unigrams: the
# synthetic corpus shares one tiny vocabulary across sources (31
# distinct tokens — unigram Jaccard is degenerately 1.0), while
# per-source bigram sets run ~700 >> k=128, so the SATURATED estimator
# and partial overlaps are what the oracle hash-checks, end to end in
# exact integers.
_KMV_OV_K = 128


_KMV_OV_NUMER = (_KMV_OV_K - 1) * (1 << 48)


@q(
    "sketch_kmv_source_overlap",
    f"""
    WITH t AS (
      SELECT source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    b AS (
      SELECT source, toks[i] || ' ' || toks[i+1] AS token
      FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1))
                       AS i) s
      WHERE len(toks) >= 2
    ),
    th AS (
      SELECT DISTINCT source,
             CAST(('0x' || substr(md5(token), 1, 12)) AS BIGINT) AS h
      FROM b
    ),
    sk AS (
      SELECT source, h FROM (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS r
        FROM th) WHERE r <= {_KMV_OV_K}
    ),
    gs AS (SELECT DISTINCT source FROM sk),
    pairs AS (
      SELECT a.source AS ga, b.source AS gb
      FROM gs a, gs b WHERE a.source < b.source
    ),
    cand AS (
      SELECT DISTINCT p.ga, p.gb, s.h
      FROM pairs p JOIN sk s ON s.source = p.ga OR s.source = p.gb
    ),
    uk AS (
      SELECT ga, gb, h, r FROM (
        SELECT ga, gb, h,
               ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS r
        FROM cand) WHERE r <= {_KMV_OV_K}
    ),
    per AS (
      SELECT uk.ga, uk.gb,
             SUM(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                      THEN 1 ELSE 0 END) AS j_num,
             COUNT(*) AS k_used,
             MAX(CASE WHEN uk.r = {_KMV_OV_K} THEN uk.h END) AS kth
      FROM uk
      LEFT JOIN sk sa ON sa.source = uk.ga AND sa.h = uk.h
      LEFT JOIN sk sb ON sb.source = uk.gb AND sb.h = uk.h
      GROUP BY 1, 2
    )
    SELECT ga, gb, CAST(j_num AS BIGINT) AS j_num,
           CAST(k_used AS BIGINT) AS k_used,
           CAST(ue AS BIGINT) AS union_est,
           CAST((j_num * ue) // k_used AS BIGINT) AS intersect_est,
           CAST((1000 * j_num) // k_used AS BIGINT) AS jaccard_permille
    FROM (SELECT *, CASE WHEN k_used < {_KMV_OV_K} THEN k_used
                         ELSE {_KMV_OV_NUMER} // kth END AS ue
          FROM per)
    """,
)
def sketch_kmv_source_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda x: x != "",
    )
    bg = F.expr(
        "transform(sequence(1, size(_toks) - 1), "
        "i -> concat(_toks[i-1], ' ', _toks[i]))"
    )
    bigrams = (
        d.select("source", toks.alias("_toks"))
        .filter(F.size("_toks") >= 2)
        .select("source", F.explode(bg).alias("token"))
    )
    sk = kmv_sketch(bigrams, ["source"], "token", k=_KMV_OV_K)
    return kmv_pairwise_overlap(sk, "source", k=_KMV_OV_K)


# Explicit-register HyperLogLog (round 13): the fixed-size,
# MAX-mergeable member of the sketch family (KMV = k rows, merge by
# re-rank; CM = counter grid, merge by +; HLL = 256 registers, merge
# by element-wise MAX — the cheapest fold of the three, and duplicate
# keys are absorbed map-side because MAX is idempotent). Registers
# build from the same md5 48-bit hash as KMV, so the estimate is pure
# integer arithmetic and the oracle replays it bit-for-bit — the
# "engine HLL encodings can never be oracle-checked" objection applies
# to approx_count_distinct's private state, not to explicit registers.
# Keyspace: per-source trigram vocabulary (~20-40x the register count
# at sf0.01 — the raw-estimate regime, no small-range correction).
_HLL_SFX = 1 << 40


@q(
    "sketch_hll_distinct",
    f"""
    WITH t AS (
      SELECT source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT source,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS token
      FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2))
                       AS i) s
      WHERE len(toks) >= 3
    ),
    h AS (
      SELECT source,
             CAST(('0x' || substr(md5(token), 1, 12)) AS BIGINT) AS hv
      FROM g
    ),
    r AS (
      SELECT source, hv >> 40 AS bucket,
             MAX(CASE WHEN hv % {_HLL_SFX} = 0 THEN 41
                 ELSE 40 - CAST(floor(log2(CAST(hv % {_HLL_SFX} AS DOUBLE)))
                                AS BIGINT) END) AS rho
      FROM h GROUP BY 1, 2
    ),
    per AS (
      SELECT source,
             SUM(CAST(1 AS BIGINT) << (41 - rho)) AS hsum,
             COUNT(*) AS nb
      FROM r GROUP BY 1
    )
    SELECT source,
           CAST({_HLL_AN} // (hsum + (256 - nb) * (CAST(1 AS BIGINT) << 41))
                AS BIGINT) AS est_distinct,
           CAST(256 - nb AS BIGINT) AS n_zero
    FROM per
    """,
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda x: x != "",
    )
    tg = F.expr(
        "transform(sequence(2, size(_toks) - 1), "
        "i -> concat(_toks[i-2], ' ', _toks[i-1], ' ', _toks[i]))"
    )
    trigrams = (
        d.select("source", toks.alias("_toks"))
        .filter(F.size("_toks") >= 3)
        .select("source", F.explode(tg).alias("token"))
    )
    regs = hll_registers(trigrams, ["source"], "token")
    return hll_estimate(regs, ["source"])


# Weighted reservoir sample (round 13): Efraimidis–Spirakis A-ES
# bottom-k — per-group sample WITHOUT replacement whose inclusion
# probability tracks the weight column, deterministically (u from the
# shared md5 hash, rank by round(ln(u)/w, 12), id tie-break). The
# weighted sibling of sketch_sample_quantiles' uniform bottom-k and
# sample_weighted_bernoulli's with-replacement rates; mergeable like
# KMV (union + re-rank). Weights: n_chars (longer docs likelier).
@q(
    "sample_weighted_reservoir",
    """
    SELECT source, doc_id, n_chars, CAST(rk AS BIGINT) AS rk FROM (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY ROUND(ln((CAST(('0x' || substr(
                          md5(CAST(doc_id AS VARCHAR)), 1, 12))
                          AS BIGINT) + 1) / 281474976710656.0)
                          / CAST(n_chars AS DOUBLE), 12) DESC,
                        doc_id
             ) AS rk
      FROM documents WHERE n_chars > 0
    ) WHERE rk <= 16
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    out = weighted_bottomk(
        d.select("source", "doc_id", "n_chars"),
        ["source"],
        "doc_id",
        "n_chars",
        k=16,
    )
    w = Window.partitionBy("source").orderBy(F.desc("_wk"), "doc_id")
    return out.select(
        "source",
        "doc_id",
        "n_chars",
        F.row_number().over(w).cast("long").alias("rk"),
    )


# HLL sketch lattice (round 13): daily distinct (user, event_type)
# estimates derived by ROLLING UP hourly register state — never
# rescanning events — the property that makes sketch dashboards
# affordable (materialize registers at the finest grain once, serve
# every coarser grain by MAX-folding; associativity tested through
# the hour -> day -> global chain). The oracle builds daily registers
# directly: MAX over (day, bucket) of hourly maxima IS the direct
# daily maximum — the identity under check. Small-range regime on
# this fixture (~270 keys/day vs m=256): the raw estimate is biased
# high and n_zero says so — emitted, not hidden; the entry pins the
# lattice identity, not small-range accuracy (KMV serves that).
@q(
    "sketch_hll_rollup",
    f"""
    WITH h AS (
      -- NULL keys are "no observation" (hll_registers filters them
      -- up front; a NULL register row would deflate the empty-bucket
      -- term) — mirror the exclusion or the parity gate flips on the
      -- first NULL-bearing fixture
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':'
                                      || event_type), 1, 12))
                  AS BIGINT) AS hv
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    r AS (
      SELECT day, hv >> 40 AS bucket,
             MAX(CASE WHEN hv % {_HLL_SFX} = 0 THEN 41
                 ELSE 40 - CAST(floor(log2(CAST(hv % {_HLL_SFX}
                                               AS DOUBLE)))
                                AS BIGINT) END) AS rho
      FROM h GROUP BY 1, 2
    ),
    per AS (
      SELECT day,
             SUM(CAST(1 AS BIGINT) << (41 - rho)) AS hsum,
             COUNT(*) AS nb
      FROM r GROUP BY 1
    )
    SELECT day,
           CAST({_HLL_AN} // (hsum + (256 - nb) * (CAST(1 AS BIGINT) << 41))
                AS BIGINT) AS est_distinct,
           CAST(256 - nb AS BIGINT) AS n_zero
    FROM per
    """,
)
def sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    keyed = e.select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        F.date_format(
            F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH"
        ).alias("hour"),
        F.concat(
            F.col("user_id").cast("string"), F.lit(":"), F.col("event_type")
        ).alias("key"),
    )
    hourly = hll_registers(keyed, ["day", "hour"], "key")
    daily = hll_rollup(hourly, ["day"])
    return hll_estimate(daily, ["day"])
