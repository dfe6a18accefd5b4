"""Training-data entries: decontamination, chunking, packing, splits,
shards, resampling and token budgets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..pipelines.curation import domain_mixture_weights
from ..pipelines.dedup import token_count
from ..pipelines.training import (
    bloom_decontaminate,
    budget_select,
    cdc_chunks,
    chunk_sliding,
    cluster_split,
    contamination_report,
    decontaminate,
    dsir_resample,
    epoch_interleave,
    hash_split,
    negative_sample_ring,
    pack_next_fit,
    rendezvous_shard,
    temperature_resample,
    token_budget_allocation,
    weighted_sample,
)
from . import q
from .shared import _TOKS_CTE


# Hash-ring negative sampling (round 10): k deterministic pseudo-
# random negatives per document for contrastive training — md5 bucket
# rings + per-ring LEAD with wrap-around via the bounded ring-head
# array. O(n), no cross join, reproducible in any engine.
@q(
    "training_negative_sample",
    """
    WITH ringed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 16 AS ring,
             md5(CAST(doc_id AS VARCHAR)) AS pos
      FROM documents
    ),
    w AS (
      SELECT doc_id, ring, pos,
             ROW_NUMBER() OVER (PARTITION BY ring ORDER BY pos) AS rn,
             COUNT(*) OVER (PARTITION BY ring) AS m,
             LEAD(doc_id, 1) OVER (PARTITION BY ring ORDER BY pos) AS l1,
             LEAD(doc_id, 2) OVER (PARTITION BY ring ORDER BY pos) AS l2,
             LEAD(doc_id, 3) OVER (PARTITION BY ring ORDER BY pos) AS l3
      FROM ringed
    ),
    heads AS (
      SELECT ring, list(doc_id ORDER BY pos) AS hs
      FROM (SELECT ring, doc_id, pos,
                   ROW_NUMBER() OVER (PARTITION BY ring ORDER BY pos)
                     AS rn
            FROM ringed QUALIFY rn <= 3)
      GROUP BY ring
    ),
    negs AS (
      SELECT w.doc_id, g.j AS neg_rank,
             CASE WHEN g.j <= w.m - 1 THEN
               COALESCE([w.l1, w.l2, w.l3][CAST(g.j AS INT)],
                        h.hs[CAST(w.rn + g.j - w.m AS INT)])
             END AS neg_id
      FROM w JOIN heads h USING (ring),
           LATERAL (SELECT UNNEST(generate_series(1, 3)) AS j) g
    )
    SELECT doc_id, neg_id, CAST(neg_rank AS INT) AS neg_rank
    FROM negs WHERE neg_id IS NOT NULL
    """,
)
def training_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return negative_sample_ring(d, "doc_id", k=3, n_buckets=16)


# Benchmark decontamination: distinct 3-gram overlap of every training
# doc against a (broadcast) benchmark gram set. Benchmark = every 19th
# doc, train = the rest — both derived deterministically so the oracle
# reproduces the exact split.
@q(
    "training_decontaminate",
    f"""
    WITH {_TOKS_CTE.strip()},
    grams AS (
      SELECT doc_id, list_distinct(
        list_transform(generate_series(1, len(toks) - 2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ) AS gs
      FROM toks
    ),
    bench AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 19 = 0),
    train AS (SELECT doc_id, gs FROM grams WHERE doc_id % 19 <> 0),
    tg AS (SELECT doc_id, unnest(gs) AS g FROM train),
    hits AS (
      SELECT tg.doc_id, COUNT(*) AS n_hit
      FROM tg JOIN bench USING (g) GROUP BY tg.doc_id
    )
    SELECT t.doc_id, len(t.gs) AS n_grams,
           COALESCE(h.n_hit, 0) AS n_hit,
           ROUND(COALESCE(h.n_hit, 0) / GREATEST(len(t.gs), 1), 6)
             AS contamination
    FROM train t LEFT JOIN hits h USING (doc_id)
    """,
)
def training_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 19 == 0)
    train = d.filter(F.col("doc_id") % 19 != 0)
    return decontaminate(train, bench, "text", "doc_id", n=3)


# Bloom-filter decontamination (round 10): the broadcast-boundable
# sibling of the exact join above — benchmark 5-grams folded into a
# k=3-hash, m=2^18-bit filter (materialized as its set-bit table);
# training grams probe all k positions against the broadcast bits.
# False positives only ever OVER-count contamination; the oracle
# replays the identical hash family so the counts (FPs included) match
# bit-for-bit. Benchmark = source 'src0', train = the rest.
@q(
    "training_bloom_decontaminate",
    f"""
    WITH {_TOKS_CTE.strip()},
    g AS (
      SELECT t.doc_id, d.source, list_distinct(
        list_transform(generate_series(1, len(toks) - 4),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
               toks[i+3] || ' ' || toks[i+4])) AS gs
      FROM toks t JOIN documents d USING (doc_id)
    ),
    bset AS (
      SELECT DISTINCT
        CAST(('0x' || substr(md5(bg || '#' || s), 1, 8)) AS BIGINT)
          % 262144 AS pos
      FROM (SELECT DISTINCT unnest(gs) AS bg FROM g WHERE source = 'src0'),
           (SELECT unnest([0, 1, 2]) AS s)
    ),
    probe AS (
      SELECT doc_id, tg, MIN(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
               AS all_set
      FROM (SELECT doc_id, tg,
              CAST(('0x' || substr(md5(tg || '#' || s), 1, 8)) AS BIGINT)
                % 262144 AS pos
            FROM (SELECT doc_id, unnest(gs) AS tg FROM g
                  WHERE source <> 'src0'),
                 (SELECT unnest([0, 1, 2]) AS s)) p
      LEFT JOIN bset b USING (pos)
      GROUP BY doc_id, tg
    ),
    hits AS (SELECT doc_id, SUM(all_set) AS n_maybe_hit FROM probe
             GROUP BY doc_id)
    SELECT g.doc_id, CAST(len(g.gs) AS BIGINT) AS n_grams,
           CAST(COALESCE(h.n_maybe_hit, 0) AS BIGINT) AS n_maybe_hit,
           COALESCE(h.n_maybe_hit, 0) > 0 AS contaminated
    FROM g LEFT JOIN hits h USING (doc_id)
    WHERE g.source <> 'src0'
    """,
)
def training_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    bench = d.filter(F.col("source") == "src0")
    train = d.filter(F.col("source") != "src0")
    return bloom_decontaminate(
        train, bench, "text", "doc_id", n=5, k=3, m=1 << 18
    )


# DSIR-style importance resampling (round 10): hashed-bigram bucket
# models for target (src0) and train (rest); per-gram importance =
# add-1-smoothed probability ratio quantized via the char_lm no-float
# contract (HUGEINT product, integer div); keep = top-25% by exact
# quantile. Zero-gram docs score 0 and are never kept.
@q(
    "training_dsir_resample",
    f"""
    WITH {_TOKS_CTE.strip()},
    lab AS (
      SELECT t.doc_id, t.toks, d.source FROM toks t
      JOIN documents d USING (doc_id)
    ),
    trg AS (
      SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
      FROM (SELECT doc_id, toks FROM lab WHERE source <> 'src0') tr,
           LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) s
    ),
    tgg AS (
      SELECT toks[i] || ' ' || toks[i+1] AS g
      FROM (SELECT toks FROM lab WHERE source = 'src0') tg,
           LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) s
    ),
    trb AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS b
      FROM trg
    ),
    tgb AS (
      SELECT CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS b
      FROM tgg
    ),
    ctm AS (SELECT b, COUNT(*) AS ct FROM tgb GROUP BY b),
    csm AS (SELECT b, COUNT(*) AS cs FROM trb GROUP BY b),
    tot AS (SELECT (SELECT SUM(ct) FROM ctm) AS nt,
                   (SELECT SUM(cs) FROM csm) AS ns),
    qv AS (
      SELECT p.doc_id,
             CAST(CAST(1000000 AS HUGEINT)
                  * (COALESCE(ctm.ct, 0) + 1) * (tot.ns + 4096)
                  // (CAST(COALESCE(csm.cs, 0) + 1 AS HUGEINT)
                      * (tot.nt + 4096)) AS BIGINT) AS q
      FROM trb p LEFT JOIN ctm USING (b) LEFT JOIN csm USING (b), tot
    ),
    sc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(q) // COUNT(*) AS BIGINT) AS score_q
      FROM qv GROUP BY doc_id
    ),
    allsc AS (
      SELECT l.doc_id,
             COALESCE(sc.n_grams, 0) AS n_grams,
             COALESCE(sc.score_q, 0) AS score_q
      FROM (SELECT doc_id FROM lab WHERE source <> 'src0') l
      LEFT JOIN sc USING (doc_id)
    ),
    thr AS (
      SELECT ROUND(quantile_cont(CAST(score_q AS DOUBLE), 0.75), 4) AS thr
      FROM allsc WHERE n_grams > 0
    )
    SELECT a.doc_id, a.n_grams, a.score_q, thr.thr,
           (a.n_grams > 0 AND CAST(a.score_q AS DOUBLE) >= thr.thr) AS kept
    FROM allsc a, thr
    """,
)
def training_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    target = d.filter(F.col("source") == "src0")
    train = d.filter(F.col("source") != "src0")
    return dsir_resample(
        train, target, "text", "doc_id",
        buckets=4096, scale=1_000_000, keep_frac=0.25,
    )


# Sliding-window token chunking (chunk=24, stride=12; final window
# re-anchored to cover the doc tail). Map-side only.
@q(
    "training_chunk_sliding",
    f"""
    WITH {_TOKS_CTE.strip()},
    nn AS (
      SELECT doc_id, toks, len(toks) AS n FROM toks WHERE len(toks) >= 1
    ),
    starts AS (
      SELECT doc_id, n, toks,
             unnest(list_distinct(list_append(
               generate_series(1, GREATEST(n - 24 + 1, 1), 12),
               GREATEST(n - 24 + 1, 1)))) AS chunk_start
      FROM nn
    )
    SELECT doc_id, chunk_start,
           LEAST(24, n - chunk_start + 1) AS chunk_len,
           array_to_string(toks[chunk_start:chunk_start+23], ' ') AS chunk_text
    FROM starts
    """,
)
def training_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return chunk_sliding(d, "text", "doc_id", chunk=24, stride=12)


# Content-defined chunking (round 10): boundaries where the rolling
# 3-token md5 ≡ 0 mod 16 (mean chunk ~16 tokens) — chunk identities
# re-synchronize after edits, unlike the shift-everything fixed
# windows above. Spark side is pure array HOFs (zero shuffle); the
# oracle rebuilds the same spans with a window LEAD over unnested
# boundary positions — structurally independent constructions.
@q(
    "training_cdc_chunks",
    f"""
    WITH {_TOKS_CTE.strip()},
    nn AS (SELECT doc_id, toks, len(toks) AS n FROM toks
           WHERE len(toks) >= 1),
    b AS (
      SELECT doc_id, i
      FROM nn, LATERAL (SELECT unnest(generate_series(3, n - 1)) AS i) s
      WHERE CAST(('0x' || substr(md5(toks[i-2] || ' ' || toks[i-1] || ' '
                                     || toks[i]), 1, 8)) AS BIGINT)
              % 16 = 0
    ),
    starts AS (
      SELECT doc_id, 1 AS s FROM nn
      UNION ALL
      SELECT doc_id, i + 1 FROM b
    ),
    w AS (
      SELECT doc_id, s,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) AS cidx,
             LEAD(s) OVER (PARTITION BY doc_id ORDER BY s) AS nxt
      FROM starts
    )
    SELECT w.doc_id, CAST(cidx AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS chunk_start,
           CAST(COALESCE(nxt - 1, n) - s + 1 AS BIGINT) AS chunk_len,
           array_to_string(toks[s:COALESCE(nxt - 1, n)], ' ') AS chunk_text
    FROM w JOIN nn USING (doc_id)
    """,
)
def training_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return cdc_chunks(d, "text", "doc_id", gram=3, divisor=16)


# Greedy next-fit-decreasing sequence packing into 256-token bins per
# source (applyInPandas custom stateful operator; the oracle walks the
# identical recurrence with a recursive CTE over row_number).
@q(
    "training_pack_next_fit",
    f"""
    WITH RECURSIVE {_TOKS_CTE.strip()},
    items AS (
      SELECT d.source, t.doc_id, len(t.toks) AS n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY d.source
               ORDER BY len(t.toks) DESC, t.doc_id
             ) AS rn
      FROM toks t JOIN documents d USING (doc_id)
    ),
    packed(source, doc_id, n_tokens, rn, bin, fill) AS (
      SELECT source, doc_id, n_tokens, rn, CAST(0 AS BIGINT), n_tokens
      FROM items WHERE rn = 1
      UNION ALL
      SELECT i.source, i.doc_id, i.n_tokens, i.rn,
             CASE WHEN p.fill + i.n_tokens <= 256
                  THEN p.bin ELSE p.bin + 1 END,
             CASE WHEN p.fill + i.n_tokens <= 256
                  THEN p.fill + i.n_tokens ELSE i.n_tokens END
      FROM items i
      JOIN packed p ON i.source = p.source AND i.rn = p.rn + 1
    )
    SELECT source, doc_id, n_tokens, bin FROM packed
    """,
)
def training_pack_next_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    with_len = d.select(
        "source",
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return pack_next_fit(with_len, "n_tokens", "doc_id", budget=256, by="source")


# Deterministic weighted Bernoulli sample: per-source weight (derived
# from an md5 of the source name, standing in for a mixture config
# table) gates an md5 hash draw per doc. Fully map-side.
@q(
    "sample_weighted_bernoulli",
    """
    WITH w AS (
      SELECT doc_id, source,
             ROUND(CAST(('0x' || substr(md5(source), 1, 4)) AS BIGINT) % 80
                   / 100.0 + 0.1, 6) AS weight,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) / 4294967296.0 AS draw_exact
      FROM documents
    )
    SELECT doc_id, source, weight, ROUND(draw_exact, 6) AS draw
    FROM w WHERE draw_exact < weight
    """,
)
def sample_weighted_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    weight = F.round(
        F.conv(F.substring(F.md5("source"), 1, 4), 16, 10).cast("long") % 80
        / F.lit(100.0)
        + 0.1,
        6,
    )
    weighted = d.select("doc_id", "source", weight.alias("weight"))
    return weighted_sample(weighted, "doc_id", "weight").select(
        "doc_id", "source", "weight", "draw"
    )


# Deterministic mixture-interleaved epoch order: md5-shuffled rank
# within source scaled by 1/weight; consuming in interleave_key order
# realizes the mixture without a global single-task sort.
@q(
    "training_epoch_interleave",
    """
    WITH w AS (
      SELECT doc_id, source,
             ROUND(CAST(('0x' || substr(md5(source), 1, 4)) AS BIGINT) % 80
                   / 100.0 + 0.1, 6) AS weight
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, weight,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS source_rank
      FROM w
    )
    SELECT doc_id, source, source_rank,
           ROUND(source_rank / weight, 6) AS interleave_key
    FROM r
    """,
)
def training_epoch_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    weight = F.round(
        F.conv(F.substring(F.md5("source"), 1, 4), 16, 10).cast("long") % 80
        / F.lit(100.0)
        + 0.1,
        6,
    )
    weighted = d.select("doc_id", "source", weight.alias("weight"))
    return epoch_interleave(weighted, "doc_id", "source", "weight")


# The training-prep pipeline in ONE plan: length gate -> benchmark
# decontamination gate -> sliding-window chunking -> per-source corpus
# stats. Composes the round-5 operators the way a real pre-training
# job would run them: gates map-side, the only shuffles are the
# decontamination count (on doc_id) and the final per-source aggregate;
# the benchmark gram set is broadcast.
@q(
    "pipeline_training_prep",
    f"""
    WITH {_TOKS_CTE.strip()},
    grams AS (
      SELECT doc_id, list_distinct(
        list_transform(generate_series(1, len(toks) - 2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ) AS gs
      FROM toks
    ),
    bench AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 19 = 0),
    gated AS (
      SELECT t.doc_id, t.toks, len(t.toks) AS n, g.gs
      FROM toks t JOIN grams g USING (doc_id)
      WHERE t.doc_id % 19 <> 0 AND len(t.toks) >= 20
    ),
    tg AS (SELECT doc_id, unnest(gs) AS g FROM gated),
    hits AS (
      SELECT tg.doc_id, COUNT(*) AS n_hit
      FROM tg JOIN bench USING (g) GROUP BY tg.doc_id
    ),
    kept AS (
      SELECT ga.doc_id, ga.toks, ga.n
      FROM gated ga LEFT JOIN hits h USING (doc_id)
      WHERE ROUND(COALESCE(h.n_hit, 0) / GREATEST(len(ga.gs), 1), 6) <= 0.2
    ),
    chunks AS (
      SELECT doc_id, n,
             unnest(list_distinct(list_append(
               generate_series(1, GREATEST(n - 24 + 1, 1), 12),
               GREATEST(n - 24 + 1, 1)))) AS chunk_start
      FROM kept
    )
    SELECT d.source,
           COUNT(DISTINCT c.doc_id) AS n_docs,
           COUNT(*) AS n_chunks,
           CAST(SUM(LEAST(24, c.n - c.chunk_start + 1)) AS BIGINT)
             AS total_chunk_tokens
    FROM chunks c JOIN documents d USING (doc_id)
    GROUP BY d.source ORDER BY d.source
    """,
)
def pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 19 == 0)
    train = d.filter(F.col("doc_id") % 19 != 0).filter(
        token_count(F.col("text")) >= 20
    )
    decon = decontaminate(train, bench, "text", "doc_id", n=3)
    kept = train.join(
        decon.filter(F.col("contamination") <= 0.2).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    chunks = chunk_sliding(kept, "text", "doc_id", chunk=24, stride=12)
    return (
        chunks.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_len").cast("long").alias("total_chunk_tokens"),
        )
        .orderBy("source")
    )


# Deterministic hash-based train/val/test split: same id -> same split
# on any engine at any scale (stable eval sets across reruns/backfills).
# Map-side only; the oracle recomputes the same md5 permille bucket.
@q(
    "training_hash_split",
    """
    SELECT doc_id,
           CASE WHEN b < 10 THEN 'test'
                WHEN b < 20 THEN 'val'
                ELSE 'train' END AS split
    FROM (
      SELECT doc_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                  AS BIGINT) % 1000 AS b
      FROM documents
    )
    """,
)
def training_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents").select("doc_id")
    return hash_split(d, "doc_id", val_permille=10, test_permille=10)


# Domain temperature resampling (round 10): kept mixture follows
# n_s^alpha instead of raw counts — the multilingual-LM head-flatten /
# tail-boost. The per-domain keep rate is quantized to 1/2^20 BEFORE
# the md5-draw comparison in BOTH engines, so the one order-dependent
# float (sum of n^0.5 doubles) cannot flip a keep/drop at the
# boundary. Association order of the rate product mirrors the Spark
# expression exactly (left-assoc numerator / (n * wsum)).
@q(
    "training_temperature_resample",
    """
    WITH c AS (
      SELECT source AS dom, CAST(COUNT(*) AS DOUBLE) AS n
      FROM documents GROUP BY source
    ),
    t AS (SELECT SUM(pow(n, 0.5)) AS wsum, SUM(n) AS total FROM c),
    r AS (
      SELECT dom,
             -- round-to-nearest grid point, matching the Spark arm:
             -- floor alone cliffs exactly on the attractor values
             -- exact math produces (0.5 under uniform counts)
             FLOOR(LEAST(1.0, 0.5 * t.total * pow(c.n, 0.5)
                              / (c.n * t.wsum)) * 1048576.0 + 0.5)
               / 1048576.0 AS rate
      FROM c, t
    )
    SELECT d.doc_id, d.source, ROUND(r.rate, 6) AS rate
    FROM documents d JOIN r ON d.source = r.dom
    WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
               AS BIGINT) / 4294967296.0 < r.rate
    """,
)
def training_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_resample(
        d, "doc_id", "source", alpha=0.5, target_frac=0.5
    )


# Largest-remainder token-budget apportionment over the domain mixture
# weights — exact integer allocation (always sums to the budget), the
# step between domain_mixture_weights and an actual sampling run.
@q(
    "training_token_budget",
    """
    WITH per AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')))
               AS BIGINT) AS total_tokens
      FROM documents GROUP BY source
    ),
    wts AS (
      SELECT source,
             ROUND(POWER(CAST(total_tokens AS DOUBLE), 0.5)
                   / SUM(POWER(CAST(total_tokens AS DOUBLE), 0.5)) OVER (), 6)
               AS mix_weight
      FROM per
    ),
    q AS (
      SELECT source,
             CAST(ROUND(mix_weight * 10000, 0) AS BIGINT) AS w10k
      FROM wts
    ),
    tot AS (SELECT SUM(w10k) AS wsum FROM q),
    alloc AS (
      SELECT source,
             CAST((1000000 * w10k) // wsum AS BIGINT) AS floor_tokens,
             (1000000 * w10k) % wsum AS rem
      FROM q, tot
    ),
    ranked AS (
      SELECT source, floor_tokens,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rnk,
             (SELECT 1000000 - SUM(floor_tokens) FROM alloc) AS leftover
      FROM alloc
    )
    SELECT source, floor_tokens,
           CAST(floor_tokens + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM ranked
    """,
)
def training_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    weights = domain_mixture_weights(d, "source", "text", alpha=0.5).select(
        "source", "mix_weight"
    )
    return token_budget_allocation(
        weights, 1_000_000, group_col="source", weight_col="mix_weight"
    )


# Greedy selection under a per-source token budget: ordered cumulative
# sum gate, computed as a DISTRIBUTED two-level prefix-sum (value-
# bucketed by the order key) — the oracle states the naive single
# window, so the hash gate proves the two-level decomposition exact.
@q(
    "training_budget_select",
    f"""
    WITH {_TOKS_CTE.strip()},
    n AS (
      SELECT t.doc_id, d.source,
             CAST(COALESCE(len(t.toks), 0) AS BIGINT) AS n_tokens
      FROM toks t JOIN documents d USING (doc_id)
    )
    SELECT doc_id, source, n_tokens,
           CAST(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY n_tokens DESC, doc_id ASC
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
           CAST(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY n_tokens DESC, doc_id ASC
             ROWS UNBOUNDED PRECEDING) AS BIGINT) <= 20000 AS selected
    FROM n
    """,
)
def training_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return budget_select(d, "text", "doc_id", "source", 20000)


# Per-benchmark contamination report (round 11): the breakdown curation
# teams publish next to the aggregate decontaminate stats — per
# benchmark (source here): its distinct-gram count, training docs
# sharing >= 1 gram, and distinct (doc, gram) overlap pairs. Benchmarks
# with zero hits keep their row.
@q(
    "training_contamination_report",
    """
    WITH bt AS (
      SELECT source AS benchmark,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents WHERE doc_id % 19 = 0
    ),
    bg AS (
      SELECT DISTINCT benchmark,
             md5(array_to_string(toks[i:i+2], ' ')) AS gh
      FROM bt, LATERAL (SELECT UNNEST(generate_series(1, len(toks) - 2))
                        AS i) g
      WHERE len(toks) >= 3
    ),
    sizes AS (
      SELECT benchmark, COUNT(*) AS n_bench_grams FROM bg GROUP BY benchmark
    ),
    tt AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents WHERE doc_id % 19 <> 0
    ),
    tg AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(toks[i:i+2], ' ')) AS gh
      FROM tt, LATERAL (SELECT UNNEST(generate_series(1, len(toks) - 2))
                        AS i) g
      WHERE len(toks) >= 3
    ),
    hits AS (SELECT tg.doc_id, bg.benchmark FROM tg JOIN bg USING (gh)),
    agg AS (
      SELECT benchmark, COUNT(DISTINCT doc_id) AS n_docs_hit,
             COUNT(*) AS n_gram_hits
      FROM hits GROUP BY benchmark
    )
    SELECT s.benchmark,
           CAST(s.n_bench_grams AS BIGINT) AS n_bench_grams,
           CAST(COALESCE(a.n_docs_hit, 0) AS BIGINT) AS n_docs_hit,
           CAST(COALESCE(a.n_gram_hits, 0) AS BIGINT) AS n_gram_hits
    FROM sizes s LEFT JOIN agg a USING (benchmark)
    """,
)
def training_contamination_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 19 == 0)
    train = d.filter(F.col("doc_id") % 19 != 0)
    return contamination_report(
        train, bench, "text", "doc_id", "source", n=3
    )


# Rendezvous (HRW) sharding (round 13): the reshard-stable shard
# assignment — growing n shards to n+1 moves an expected 1/(n+1) of
# keys, every one TO the new shard (a modulus bucket remaps ~n/(n+1)
# of the corpus — the difference between an incremental top-up copy
# and rewriting the export at 100 TB). Pure map-side argmax over
# per-shard md5 scores; the oracle replays the argmax with a window.
@q(
    "training_rendezvous_shard",
    """
    SELECT doc_id, CAST(shard AS BIGINT) AS shard FROM (
      SELECT doc_id, s AS shard,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '#'
                            || CAST(s AS VARCHAR)) DESC, s
             ) AS r
      FROM documents, (SELECT unnest(generate_series(0, 7)) AS s)
    ) WHERE r = 1
    """,
)
def training_rendezvous_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distinct() makes the entry share the oracle's per-KEY framing
    # explicitly (the window replay collapses duplicate ids, while the
    # operator itself is per-row — a duplicated id would row-count-
    # mismatch without this even though every assignment agrees)
    keys = tables.load(spark, sf_dir, "documents").select("doc_id").distinct()
    return rendezvous_shard(keys, "doc_id", n_shards=8).select(
        "doc_id", "shard"
    )


# Leakage-safe split (round 13): split assignment drawn from the
# duplicate-cluster representative instead of the row id — members of
# a dup cluster can never straddle train/test (the contamination an
# id-keyed draw commits for ~2% of dup pairs and decontamination then
# has to mop up). Fixture plants exact duplicates (every 4th doc
# re-ingested under a new id); identity is exact md5 of the text,
# rep = min member id (groupBy-min + equi-join — the skew-safe form),
# draw = hash_split's md5 permille buckets on the rep.
@q(
    "training_cluster_split",
    """
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 4 = 0
    ),
    cl AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS cluster_rep
      FROM all_docs
    )
    SELECT doc_id, cluster_rep,
           CASE WHEN b < 10 THEN 'test'
                WHEN b < 20 THEN 'val'
                ELSE 'train' END AS split
    FROM (
      SELECT doc_id, cluster_rep,
             CAST(('0x' || substring(md5(CAST(cluster_rep AS VARCHAR)),
                                     1, 8))::UBIGINT AS BIGINT) % 1000 AS b
      FROM cl
    )
    """,
)
def training_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    dups = base.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    all_docs = base.unionByName(dups)
    # window MIN over the digest, not aggregate-then-join: md5-text
    # clusters are tiny by construction (no skew hazard), so the
    # window form's one scan + one shuffle beats re-deriving the
    # keyed frame on both join sides (the exact_dedup shape)
    labeled = all_docs.select(
        "doc_id", F.md5(F.col("text")).alias("_h")
    ).withColumn(
        "cluster_rep",
        F.min("doc_id").over(Window.partitionBy("_h")),
    )
    return cluster_split(labeled, "cluster_rep").select(
        "doc_id", "cluster_rep", "split"
    )
