"""Embedding entries: brute-force, IVF and PQ top-k, hyperplane-LSH
ANN with its recall evals, k-means, MMR re-ranking, quantization and
embedding near-dup flags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..pipelines.ann_lsh import (
    ann_topk,
    ann_topk_batch,
    brute_topk_batch,
    bucket_expr,
    hyperplanes,
    multiprobe_recall,
    probe_masks,
    recall_at_k,
    signatures,
)
from ..pipelines.similarity import (
    _dot,
    brute_force_topk,
    ivf_topk,
    ivfpq_topk,
    kmeans_assign,
    kmeans_fold_suffstats,
    kmeans_suffstats,
    label_centroids,
    mmr_rerank,
    mmr_rerank_batch,
    pairwise_cosine,
    pq_adc_topk,
    quantize_int8,
    semantic_dup_flags,
    truncate_renorm,
    with_norm,
)
from . import q


_ANN_PLANES = hyperplanes(dim=64, n_bits=8)


def _planes_sql() -> list[str]:
    return ["[" + ", ".join(repr(x) for x in p) + "]" for p in _ANN_PLANES]


def _bucket_sql(vec_expr: str) -> str:
    terms = [
        f"(CASE WHEN list_sum(list_transform(generate_series(1, 64), "
        f"i -> (CAST({vec_expr} AS DOUBLE[]))[i] * ({p})[i])) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(_planes_sql())
    ]
    return "CAST((" + " + ".join(terms) + ") AS INTEGER)"


_KMEANS_CTE_1 = """q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000000, 0) AS BIGINT)) AS qv
      FROM embeddings
      WHERE embedding IS NOT NULL
    ),
    seeds AS (
      SELECT CAST(ROW_NUMBER() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
             AS INTEGER) AS cluster,
             list_transform(qv, v -> round(v / 1000000.0, 6)) AS c
      FROM q
      QUALIFY ROW_NUMBER() OVER (
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 4
    ),
    d0 AS (
      SELECT q.vec_id, q.qv, s.cluster,
             round(list_sum(list_transform(q.qv,
               (v, i) -> (v / 1000000.0 - s.c[i])
                         * (v / 1000000.0 - s.c[i]))), 4) AS dist
      FROM q CROSS JOIN seeds s
    ),
    a0 AS (
      SELECT vec_id, qv, cluster, dist FROM d0
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY dist, cluster) = 1
    ),
    c1d AS (
      SELECT a0.cluster, t.i AS dim, SUM(a0.qv[t.i]) AS s, COUNT(*) AS n
      FROM a0 CROSS JOIN range(1, 65) AS t(i)
      GROUP BY a0.cluster, t.i
    ),
    cent1 AS (
      SELECT s.cluster,
             CASE WHEN COUNT(c1d.dim) = 0 THEN ANY_VALUE(s.c)
                  ELSE list(round(c1d.s / (c1d.n * 1000000.0), 6)
                            ORDER BY c1d.dim) END AS c
      FROM seeds s LEFT JOIN c1d ON s.cluster = c1d.cluster
      GROUP BY s.cluster
    ),
    d1 AS (
      SELECT a0.vec_id, a0.qv, m.cluster,
             round(list_sum(list_transform(a0.qv,
               (v, i) -> (v / 1000000.0 - m.c[i])
                         * (v / 1000000.0 - m.c[i]))), 4) AS dist
      FROM a0 CROSS JOIN cent1 m
    ),
    a1 AS (
      SELECT vec_id, qv, cluster, dist FROM d1
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY dist, cluster) = 1
    )"""


_KMEANS_CTE = _KMEANS_CTE_1 + """,
    c2d AS (
      SELECT a1.cluster, t.i AS dim, SUM(a1.qv[t.i]) AS s, COUNT(*) AS n
      FROM a1 CROSS JOIN range(1, 65) AS t(i)
      GROUP BY a1.cluster, t.i
    ),
    cent2 AS (
      SELECT m.cluster,
             CASE WHEN COUNT(c2d.dim) = 0 THEN ANY_VALUE(m.c)
                  ELSE list(round(c2d.s / (c2d.n * 1000000.0), 6)
                            ORDER BY c2d.dim) END AS c
      FROM cent1 m LEFT JOIN c2d ON m.cluster = c2d.cluster
      GROUP BY m.cluster
    ),
    d2 AS (
      SELECT a1.vec_id, m.cluster,
             round(list_sum(list_transform(a1.qv,
               (v, i) -> (v / 1000000.0 - m.c[i])
                         * (v / 1000000.0 - m.c[i]))), 4) AS dist
      FROM a1 CROSS JOIN cent2 m
    ),
    asg AS (
      SELECT vec_id, cluster, dist FROM d2
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY dist, cluster) = 1
    )"""


# --- similarity search ------------------------------------------------------
@q(
    "sim_cosine_topk",
    """
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])), 6) AS sim
    FROM embeddings e, q
    ORDER BY sim DESC, e.vec_id
    LIMIT 20
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return brute_force_topk(emb, list(qv), k=20)


@q(
    "sim_ivf_topk_label",
    """
    WITH q AS (SELECT embedding, label FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])), 6) AS sim
    FROM embeddings e, q
    WHERE e.label = q.label
    ORDER BY sim DESC, e.vec_id
    LIMIT 20
    """,
)
def sim_ivf_topk_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == 0).select("embedding", "label").head()
    return ivf_topk(emb, list(row[0]), row[1], k=20)


@q(
    "sim_pairwise_cosine",
    """
    SELECT a.vec_id AS a, b.vec_id AS b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    """,
)
def sim_pairwise_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    pairs = emb.select(
        F.col("vec_id").alias("a"), (F.col("vec_id") + 1).alias("b")
    ).join(
        emb.select(F.col("vec_id").alias("b")), "b", "left_semi"
    )
    return pairwise_cosine(emb, pairs)


# ===========================================================================
# Hyperplane-LSH ANN: deterministic signatures shared with the oracle.
# ===========================================================================

# Embedding-cosine near-dup, LSH-banded (the 100 TB-safe form).
#
# Candidate pairs come from LSH *bands* of the 8-bit hyperplane
# signature (2 bands x 4 bits, MinHash-band style): two vectors pair
# only when they share a label AND at least one full band — never a raw
# per-label all-pairs, so one hot label can no longer own the job.
# Band width matters: 2-bit bands (round 2) kept 68% of within-label
# pairs as candidates — barely pruning; 4-bit bands keep ~29% of
# borderline pairs (p_bit=0.63 at cosine 0.35: 1-(1-.63^4)^2) but >=95%
# of true near-dups (p_bit>=0.94 at cosine>=0.9, the operator's design
# point) — the standard S-curve trade, and 3x fewer exact-cosine
# verifications. Exact cosine then verifies candidates (threshold 0.35
# because the synthetic embeddings are near-orthogonal — max
# within-label cosine ~0.47 — so a threshold that can actually fire).
@q(
    "dedup_embedding_neardup",
    f"""
    WITH sig AS (
      SELECT vec_id, label, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ), keys AS (
      SELECT vec_id, label, g AS band, (bucket >> (4 * g)) & 15 AS bv
      FROM sig, LATERAL (SELECT UNNEST([0, 1]) AS g) s
    ), cand AS (
      SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
      FROM keys x
      JOIN keys y ON x.label = y.label AND x.band = y.band
                 AND x.bv = y.bv AND x.vec_id < y.vec_id
    )
    SELECT c.a, c.b,
           ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 6)
             AS cosine
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.a
    JOIN embeddings eb ON eb.vec_id = c.b
    WHERE ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                       CAST(eb.embedding AS DOUBLE[])), 6) > 0.35
    """,
)
def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = with_norm(tables.load(spark, sf_dir, "embeddings"))
    # One projection computes the 8-bit signature; bands are cheap bit
    # slices of it (no recompute per band — catalyst would inline a
    # per-band lambda otherwise).
    sig = emb.select(
        "vec_id", "label", bucket_expr("embedding", _ANN_PLANES).alias("bucket")
    )
    keys = sig.select(
        "vec_id",
        "label",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(g).alias("band"),
                        F.shiftright(F.col("bucket"), 4 * g)
                        .bitwiseAND(F.lit(15))
                        .alias("bv"),
                    )
                    for g in range(2)
                ]
            )
        ).alias("k"),
    ).select("vec_id", "label", F.col("k.band").alias("band"), F.col("k.bv").alias("bv"))
    x = keys.select(
        F.col("vec_id").alias("a"), "label", "band", "bv"
    )
    y = keys.select(
        F.col("vec_id").alias("b"), "label", "band", "bv"
    )
    cand = (
        x.join(y, ["label", "band", "bv"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    ea = emb.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("va"),
        F.col("norm").alias("na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("vb"),
        F.col("norm").alias("nb"),
    )
    pairs = cand.join(ea, "a").join(eb, "b")
    cos = F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return pairs.select("a", "b", cos.alias("cosine")).filter(F.col("cosine") > 0.35)


@q(
    "ann_lsh_signatures",
    f"SELECT vec_id, {_bucket_sql('embedding')} AS bucket FROM embeddings",
)
def ann_lsh_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    return signatures(emb, _ANN_PLANES)


@q(
    "ann_lsh_topk",
    f"""
    WITH sig AS (
      SELECT vec_id, {_bucket_sql('embedding')} AS bucket FROM embeddings
    ), q AS (
      SELECT e.embedding AS qv, s.bucket AS qb
      FROM embeddings e JOIN sig s USING (vec_id) WHERE e.vec_id = 0
    )
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.qv AS DOUBLE[])), 6) AS sim
    FROM embeddings e JOIN sig s USING (vec_id), q
    WHERE s.bucket = q.qb
    ORDER BY sim DESC, e.vec_id
    LIMIT 10
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return ann_topk(emb, list(qv), _ANN_PLANES, k=10)


# Per-label embedding centroids (IVF coarse-index builder / drift stats)
@q(
    "sim_label_centroids",
    """
    WITH per_dim AS (
      SELECT label, dim, ROUND(AVG(val), 6) AS centroid_val
      FROM (
        SELECT label,
               UNNEST(CAST(embedding AS DOUBLE[])) AS val,
               UNNEST(generate_series(1, len(embedding))) AS dim
      FROM embeddings
      )
      GROUP BY label, dim
    ), cnt AS (
      SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY label
    )
    SELECT p.label, n.n_vectors, CAST(p.dim AS BIGINT) AS dim, p.centroid_val
    FROM per_dim p JOIN cnt n USING (label)
    """,
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Registry projection explodes the centroid to (label, dim, value)
    # rows: the driver's canonicalizer can't hash array cells
    # (CORRECTNESS_r04), and the exploded form hash-checks every
    # coordinate anyway. label_centroids() itself still returns the
    # assembled array<double> centroid.
    emb = tables.load(spark, sf_dir, "embeddings")
    cent = label_centroids(emb)
    return cent.select(
        "label",
        "n_vectors",
        F.posexplode("centroid").alias("dim0", "centroid_val"),
    ).select(
        "label",
        "n_vectors",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        "centroid_val",
    )


# Per-vector symmetric int8 quantization (ANN index compression). The
# quantized vector is emitted space-joined (driver hasher takes scalar
# columns only); production callers use similarity.quantize_int8 and
# keep the int array.
@q(
    "sim_quantize_int8",
    """
    WITH s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS sc
      FROM embeddings
    )
    SELECT vec_id, ROUND(sc, 6) AS scale,
           array_to_string(list_transform(embedding,
             x -> CAST(CASE WHEN sc > 0
                            THEN CAST(ROUND(127.0 * CAST(x AS DOUBLE) / sc, 0)
                                      AS INTEGER)
                            ELSE 0 END AS VARCHAR)), ' ') AS q_str
    FROM s
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    q8 = quantize_int8(emb)
    return q8.select(
        "vec_id",
        "scale",
        F.concat_ws(
            " ", F.transform(F.col("q_vec"), lambda x: x.cast("string"))
        ).alias("q_str"),
    )


# ANN quality eval: recall@10 of the hyperplane-LSH index vs exact
# brute-force, over a 5-query probe set. Subsumes the single-query
# ann_lsh_topk shape (same signatures + bucket equi-join + top-k
# window, batched) and adds the honest ANN quality metric. Ties break
# on rounded sim then vec_id in BOTH engines so rank-10 boundaries are
# engine-stable.
@q(
    "ann_recall_eval",
    f"""
    WITH sig AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS q_id, embedding AS q_vec, bucket AS qb
      FROM sig WHERE vec_id IN (0, 1, 2, 3, 4)
    ),
    lsh_pairs AS (
      SELECT q.q_id, s.vec_id,
             ROUND(list_cosine_similarity(CAST(s.embedding AS DOUBLE[]),
                                          CAST(q.q_vec AS DOUBLE[])), 6) AS sim
      FROM sig s JOIN q ON s.bucket = q.qb
    ),
    lsh AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, vec_id) AS rank
        FROM lsh_pairs
      ) WHERE rank <= 10
    ),
    exact_pairs AS (
      SELECT q.q_id, s.vec_id,
             ROUND(list_cosine_similarity(CAST(s.embedding AS DOUBLE[]),
                                          CAST(q.q_vec AS DOUBLE[])), 6) AS sim
      FROM sig s, q
    ),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, vec_id) AS rank
        FROM exact_pairs
      ) WHERE rank <= 10
    ),
    hits AS (
      SELECT l.q_id, COUNT(*) AS n
      FROM lsh l JOIN exact x ON x.q_id = l.q_id AND x.vec_id = l.vec_id
      GROUP BY l.q_id
    )
    SELECT e.q_id, COALESCE(h.n, 0) AS n_hits,
           ROUND(COALESCE(h.n, 0) / 10.0, 6) AS recall
    FROM (SELECT DISTINCT q_id FROM exact) e
    LEFT JOIN hits h USING (q_id)
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2, 3, 4]))
    lsh = ann_topk_batch(emb, queries, _ANN_PLANES, k=10)
    exact = brute_topk_batch(emb, queries, k=10)
    return recall_at_k(lsh, exact, k=10)


# Matryoshka-style embedding truncation + L2 renormalize (MRL prefix
# retrieval). The registry row projects SCALARS (first component +
# sequential-fold checksum) because the driver hasher cannot take
# arrays (learned in r04); the operator itself returns the full
# truncated vector. sqrt and divide are IEEE-correctly-rounded in both
# engines, so ROUND(,6) agrees.
@q(
    "sim_truncate_renorm",
    """
    WITH p AS (
      SELECT vec_id, embedding[1:16] AS pre FROM embeddings
    ),
    n AS (
      SELECT vec_id, pre,
             sqrt(list_sum(list_transform(
               pre, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM p
    ),
    r AS (
      SELECT vec_id, nrm,
             CASE WHEN nrm > 0
                  THEN list_transform(pre, x -> ROUND(CAST(x AS DOUBLE) / nrm, 6))
                  ELSE list_transform(pre, x -> 0.0) END AS vt
      FROM n
    )
    SELECT vec_id,
           ROUND(nrm, 6) AS prefix_norm,
           vt[1] AS c0,
           ROUND(list_sum(vt), 6) AS checksum
    FROM r
    """,
)
def sim_truncate_renorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "embeddings")
    t = truncate_renorm(e, dims=16)
    return t.select(
        "vec_id",
        "prefix_norm",
        F.element_at("vec_trunc", 1).alias("c0"),
        F.round(
            F.aggregate(
                "vec_trunc", F.lit(0.0), lambda acc, x: acc + x
            ),
            6,
        ).alias("checksum"),
    )


# Deterministic distributed k-means (Lloyd, 2 iterations) — the
# SemDeDup-style semantic-clustering / IVF-index-build step. The oracle
# replays the exact recurrence with the iterations unrolled as CTEs:
# integer-quantized vectors (all cross-row sums exact), ROUND(6)
# centroids, ROUND(4) distances, lowest-cluster tie-break — the
# float-determinism discipline that makes an iterative clustering
# hash-comparable across engines at all. The CTE chain is shared with
# the dedup_semantic_flags oracle below (one recurrence, no hand copy).

# Second Lloyd iteration on top of the shared 1-iteration prefix.
@q(
    "sim_kmeans_clusters",
    f"""
    WITH {_KMEANS_CTE}
    SELECT vec_id, cluster, dist AS dist_sq FROM asg
    """,
)
def sim_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "embeddings")
    return kmeans_assign(e, k=4, iters=2)


# SemDeDup-style semantic dedup: kmeans cluster (map-side centroid
# literals) scopes the hyperplane-band candidate join; exact cosine
# verifies; a row is a duplicate iff a lower-id near-dup exists in its
# (cluster, band) bucket. Never per-cluster all-pairs. ONE Lloyd
# iteration: the clustering is a candidate-scoping device here, and
# each extra iteration costs a full corpus aggregation pass —
# refinement buys recall the band join already provides. The
# bucket_cap=200 hot-bucket guard (same pattern and default as
# lsh_candidate_pairs) is mirrored by the QUALIFY in the keys CTE, so
# the oracle agrees at any scale where a bucket exceeds the cap.
@q(
    "dedup_semantic_flags",
    f"""
    WITH {_KMEANS_CTE_1},
    sig AS (
      SELECT e.vec_id, a.cluster, {_bucket_sql('e.embedding')} AS bucket
      FROM embeddings e JOIN a1 a USING (vec_id)
    ),
    keys AS (
      SELECT vec_id, cluster, g AS band, (bucket >> (4 * g)) & 15 AS bv
      FROM sig, LATERAL (SELECT UNNEST([0, 1]) AS g) s
      QUALIFY COUNT(*) OVER (PARTITION BY cluster, band, bv) <= 200
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
      FROM keys x
      JOIN keys y ON x.cluster = y.cluster AND x.band = y.band
                 AND x.bv = y.bv AND x.vec_id < y.vec_id
    ),
    dups AS (
      SELECT DISTINCT c.b AS vec_id
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.a
      JOIN embeddings eb ON eb.vec_id = c.b
      WHERE ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                         CAST(eb.embedding AS DOUBLE[])), 6)
            > 0.35
    )
    SELECT a.vec_id, a.cluster,
           (d.vec_id IS NOT NULL) AS is_semantic_dup
    FROM a1 a LEFT JOIN dups d USING (vec_id)
    """,
)
def dedup_semantic_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "embeddings")
    return semantic_dup_flags(
        e, _ANN_PLANES, k=4, iters=1, threshold=0.35, bucket_cap=200
    )


# MMR diversity re-rank (round 10): greedy maximal marginal relevance
# over the cosine top-12 candidates (query = vec 0), lam=0.7, k=3
# picks. The oracle unrolls the 3 greedy steps as chained CTEs — the
# same unrolled-recurrence pattern as the k-means oracle. All weights
# are built as identical double expressions in both engines.
@q(
    "sim_mmr_rerank",
    """
    WITH c AS (
      SELECT e.vec_id, e.embedding,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(q.embedding AS DOUBLE[])),
                   6) AS rel
      FROM embeddings e,
           (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      ORDER BY rel DESC, e.vec_id LIMIT 12
    ),
    p1 AS (SELECT vec_id, embedding, rel AS mmr FROM c
           ORDER BY rel DESC, vec_id LIMIT 1),
    m2 AS (
      SELECT c.vec_id, c.embedding,
             ROUND(CAST(0.7 AS DOUBLE) * c.rel
                   - (CAST(1 AS DOUBLE) - CAST(0.7 AS DOUBLE))
                     * ROUND(list_cosine_similarity(
                         CAST(c.embedding AS DOUBLE[]),
                         CAST(p1.embedding AS DOUBLE[])), 6),
                   6) AS mmr
      FROM c, p1 WHERE c.vec_id <> p1.vec_id
    ),
    p2 AS (SELECT vec_id, embedding, mmr FROM m2
           ORDER BY mmr DESC, vec_id LIMIT 1),
    m3 AS (
      SELECT c.vec_id,
             ROUND(CAST(0.7 AS DOUBLE) * c.rel
                   - (CAST(1 AS DOUBLE) - CAST(0.7 AS DOUBLE))
                     * GREATEST(
                         ROUND(list_cosine_similarity(
                             CAST(c.embedding AS DOUBLE[]),
                             CAST(p1.embedding AS DOUBLE[])), 6),
                         ROUND(list_cosine_similarity(
                             CAST(c.embedding AS DOUBLE[]),
                             CAST(p2.embedding AS DOUBLE[])), 6)),
                   6) AS mmr
      FROM c, p1, p2 WHERE c.vec_id NOT IN (p1.vec_id, p2.vec_id)
    ),
    p3 AS (SELECT vec_id, mmr FROM m3 ORDER BY mmr DESC, vec_id LIMIT 1)
    SELECT vec_id, CAST(1 AS BIGINT) AS pick_idx, mmr FROM p1
    UNION ALL
    SELECT vec_id, CAST(2 AS BIGINT), mmr FROM p2
    UNION ALL
    SELECT vec_id, CAST(3 AS BIGINT), mmr FROM p3
    """,
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return mmr_rerank(
        emb, list(qv), n_candidates=12, k=3, lam=0.7
    )


def _pq_fixture_codebooks(
    m: int = 8, sub_d: int = 8, k: int = 4, spread: int = 250
) -> list[list[list[int]]]:
    """Deterministic integer codebook fixture for the oracle entry:
    centroid values ((7c + 3j + m) mod 9 - 4) * spread ∈ [-1000, 1000]
    at the quant=1000 scale — data-independent so the oracle can
    interpolate the SAME literals (training drift is exercised by
    train_pq_codebooks' own tests, not the cross-engine hash gate)."""
    return [
        [
            [((7 * c + 3 * j + mi) % 9 - 4) * spread for j in range(sub_d)]
            for c in range(k)
        ]
        for mi in range(m)
    ]


_PQ_QUERY_VEC = [((i * 5) % 11 - 5) / 10.0 for i in range(64)]


def _pq_adc_oracle(
    books: list[list[list[int]]],
    query_vec: list[float],
    *,
    quant: int = 1000,
    topk: int = 10,
) -> str:
    """Oracle for pq_adc_topk: re-derives codes and ADC sums with the
    same exact-integer arithmetic (corpus quantization via the proven
    round(x*quant) idiom; encoded argmin dist*k+code; LUT entries
    computed here in Python — identical literals on both sides)."""
    sub_d = len(books[0][0])
    k = len(books[0])
    qq = [int(round(x * quant)) for x in query_vec]
    code_exprs = []
    adc_terms = []
    for mi, book in enumerate(books):
        off = mi * sub_d
        encs = []
        for ci, cent in enumerate(book):
            terms = " + ".join(
                f"(q[{off + j + 1}] - ({cv})) * (q[{off + j + 1}] - ({cv}))"
                for j, cv in enumerate(cent)
            )
            encs.append(f"({terms}) * {k} + {ci}")
        code_exprs.append(
            f"least({', '.join(encs)}) % {k} AS code_{mi}"
        )
        lut = [
            sum((qq[off + j] - cv) ** 2 for j, cv in enumerate(cent))
            for cent in book
        ]
        lut_sql = "[" + ", ".join(str(v) for v in lut) + "]"
        adc_terms.append(f"{lut_sql}[CAST(code_{mi} AS INT) + 1]")
    codes = ",\n             ".join(code_exprs)
    adc = "\n             + ".join(adc_terms)
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {quant}, 0) AS BIGINT)) AS q
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    codes AS (
      SELECT vec_id,
             {codes}
      FROM qv
    )
    SELECT vec_id,
           CAST({adc} AS BIGINT) AS adc_dist
    FROM codes
    ORDER BY adc_dist, vec_id
    LIMIT {topk}
    """


# IVF-PQ asymmetric-distance search (round 11; VERDICT r10 item 5):
# product-quantization encode (8 subspaces x 4 centroids over the
# 64-dim embeddings) + ADC top-10 from a driver-side integer lookup
# table. int8 (sim_quantize_int8 family) is the entry-level
# compression; PQ is the standard 100 TB-embedding memory story
# (codes are m*log2(k) bits/vector). The codebook here is the
# deterministic fixture so scores are bit-exact cross-engine; codebook
# TRAINING (per-subspace k-means, kmeans_centroids reuse) ships as
# train_pq_codebooks with its own recall tests.
@q("sim_ivf_pq_adc", _pq_adc_oracle(_pq_fixture_codebooks(), _PQ_QUERY_VEC))
def sim_ivf_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb, _PQ_QUERY_VEC, _pq_fixture_codebooks(), topk=10
    )


def _ivf_fixture_cells(n_cells: int = 4, dim: int = 64, spread: int = 200):
    """Deterministic integer coarse centroids at the quant=1000 scale."""
    return [
        [((5 * ci + j) % 9 - 4) * spread for j in range(dim)]
        for ci in range(n_cells)
    ]


def _ivfpq_oracle(
    coarse: list[list[int]],
    books: list[list[list[int]]],
    query_vec: list[float],
    *,
    nprobe: int = 2,
    quant: int = 1000,
    topk: int = 10,
) -> str:
    """Oracle for ivfpq_topk: the same integer arithmetic with the
    residual folded into the codebook constants — (r[i] − cent)² =
    (q[i] − (cc[i] + cent))², so each probed cell's code expressions
    shift the codebook by its centroid and the per-cell LUT is
    computed here in Python (identical literals on both sides)."""
    sub_d = len(books[0][0])
    k = len(books[0])
    ncell = len(coarse)
    qq = [int(round(x * quant)) for x in query_vec]
    cell_d = [
        (sum((qq[j] - cv) ** 2 for j, cv in enumerate(cc)), ci)
        for ci, cc in enumerate(coarse)
    ]
    probed = [ci for _, ci in sorted(cell_d)[:nprobe]]
    cell_encs = []
    for ci, cc in enumerate(coarse):
        terms = " + ".join(
            f"(q[{j + 1}] - ({cv})) * (q[{j + 1}] - ({cv}))"
            for j, cv in enumerate(cc)
        )
        cell_encs.append(f"({terms}) * {ncell} + {ci}")
    cell_expr = f"least({', '.join(cell_encs)}) % {ncell}"
    arms = []
    for ci in probed:
        cc = coarse[ci]
        rq = [qq[j] - cc[j] for j in range(len(cc))]
        code_exprs = []
        adc_terms = []
        for mi, book in enumerate(books):
            off = mi * sub_d
            encs = []
            for cj, cent in enumerate(book):
                terms = " + ".join(
                    f"(q[{off + j + 1}] - ({cc[off + j] + cv}))"
                    f" * (q[{off + j + 1}] - ({cc[off + j] + cv}))"
                    for j, cv in enumerate(cent)
                )
                encs.append(f"({terms}) * {k} + {cj}")
            code_exprs.append(f"least({', '.join(encs)}) % {k} AS code_{mi}")
            lut = [
                sum((rq[off + j] - cv) ** 2 for j, cv in enumerate(cent))
                for cent in book
            ]
            lut_sql = "[" + ", ".join(str(v) for v in lut) + "]"
            adc_terms.append(f"{lut_sql}[CAST(code_{mi} AS INT) + 1]")
        codes = ",\n               ".join(code_exprs)
        adc = "\n               + ".join(adc_terms)
        arms.append(f"""SELECT vec_id, {ci} AS cell,
               CAST({adc} AS BIGINT) AS adc_dist
        FROM (
          SELECT vec_id,
               {codes}
          FROM qv WHERE cell = {ci}
        )""")
    arm_sql = "\n        UNION ALL\n        ".join(arms)
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {quant}, 0) AS BIGINT)) AS q
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    qc AS (SELECT vec_id, q, {cell_expr} AS cell FROM qv)
    SELECT vec_id, CAST(cell AS INT) AS cell, adc_dist FROM (
        {arm_sql.replace("FROM qv WHERE", "FROM qc WHERE")}
    )
    ORDER BY adc_dist, vec_id
    LIMIT {topk}
    """


# Composed IVF-PQ search (round 11): the
# full coarse-prune + per-cell residual-ADC pipeline over the fixture
# models. The Spark plan is the 100 TB partition-pruning story (probe
# nprobe of n_cells partitions, read codes not vectors); the oracle
# folds each cell's centroid into the codebook constants so both
# engines compute identical integer scores.
@q(
    "sim_ivfpq_search",
    _ivfpq_oracle(
        _ivf_fixture_cells(), _pq_fixture_codebooks(), _PQ_QUERY_VEC
    ),
)
def sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb,
        _PQ_QUERY_VEC,
        _ivf_fixture_cells(),
        _pq_fixture_codebooks(),
        nprobe=2,
        topk=10,
    )


def _km_fixture_cents(k: int = 4, dim: int = 64) -> list[list[float]]:
    """Deterministic float centroids on exact-binary /8 fractions so
    both engines compute identical distance doubles."""
    return [
        [((5 * ci + j) % 9 - 4) / 8.0 for j in range(dim)]
        for ci in range(k)
    ]


def _km_cents_values_sql(cents: list[list[float]]) -> str:
    rows = ", ".join(
        f"({ci}, [{', '.join(repr(v) for v in c)}])"
        for ci, c in enumerate(cents)
    )
    return f"(VALUES {rows}) c(cluster, carr)"


# Incremental k-means via mergeable sufficient statistics (round 12):
# the mini-batch primitive of the incremental-maintenance family applied
# to clustering — per-slice (cluster, dim, s_q, n_points) stats under
# fixture centroids, FOLDED across two corpus halves, must equal the
# whole-corpus stats (exact integer sums). The oracle computes the
# whole-corpus side; the Spark side goes through the fold, so a fold bug
# (double-count, dropped slice, wrong key) hash-mismatches.
@q(
    "sim_kmeans_incremental",
    f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000000, 0) AS BIGINT))
               AS qv
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    cents AS (SELECT * FROM {_km_cents_values_sql(_km_fixture_cents())}),
    d AS (
      SELECT q.vec_id, q.qv, c.cluster,
             round(list_sum(list_transform(q.qv,
               (v, i) -> (v / 1000000.0 - c.carr[i])
                         * (v / 1000000.0 - c.carr[i]))), 4) AS dist
      FROM q CROSS JOIN cents c
    ),
    a AS (
      SELECT vec_id, qv, cluster FROM d
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY dist, cluster) = 1
    )
    SELECT a.cluster, CAST(t.i AS INT) AS dim,
           CAST(SUM(a.qv[t.i]) AS BIGINT) AS s_q,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM a CROSS JOIN range(1, 65) AS t(i)
    GROUP BY 1, 2
    """,
)
def sim_kmeans_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    cents = _km_fixture_cents()
    halves = [
        kmeans_suffstats(emb.filter(F.col("vec_id") % 2 == m), cents)
        for m in (0, 1)
    ]
    return kmeans_fold_suffstats(*halves)


def _mmr_chain_sql(qid: int) -> str:
    """Unrolled 3-step greedy MMR CTE chain for query vector ``qid``
    (the sim_mmr_rerank oracle pattern, suffixed for composition into
    the batch arm's UNION)."""
    s = f"_{qid}"
    return f"""
    c{s} AS (
      SELECT e.vec_id, e.embedding,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(q.embedding AS DOUBLE[])),
                   6) AS rel
      FROM embeddings e,
           (SELECT embedding FROM embeddings WHERE vec_id = {qid}) q
      ORDER BY rel DESC, e.vec_id LIMIT 12
    ),
    p1{s} AS (SELECT vec_id, embedding, rel AS mmr FROM c{s}
           ORDER BY rel DESC, vec_id LIMIT 1),
    m2{s} AS (
      SELECT c.vec_id, c.embedding,
             ROUND(CAST(0.7 AS DOUBLE) * c.rel
                   - (CAST(1 AS DOUBLE) - CAST(0.7 AS DOUBLE))
                     * ROUND(list_cosine_similarity(
                         CAST(c.embedding AS DOUBLE[]),
                         CAST(p1.embedding AS DOUBLE[])), 6),
                   6) AS mmr
      FROM c{s} c, p1{s} p1 WHERE c.vec_id <> p1.vec_id
    ),
    p2{s} AS (SELECT vec_id, embedding, mmr FROM m2{s}
           ORDER BY mmr DESC, vec_id LIMIT 1),
    m3{s} AS (
      SELECT c.vec_id,
             ROUND(CAST(0.7 AS DOUBLE) * c.rel
                   - (CAST(1 AS DOUBLE) - CAST(0.7 AS DOUBLE))
                     * GREATEST(
                         ROUND(list_cosine_similarity(
                             CAST(c.embedding AS DOUBLE[]),
                             CAST(p1.embedding AS DOUBLE[])), 6),
                         ROUND(list_cosine_similarity(
                             CAST(c.embedding AS DOUBLE[]),
                             CAST(p2.embedding AS DOUBLE[])), 6)),
                   6) AS mmr
      FROM c{s} c, p1{s} p1, p2{s} p2
      WHERE c.vec_id NOT IN (p1.vec_id, p2.vec_id)
    ),
    p3{s} AS (SELECT vec_id, mmr FROM m3{s} ORDER BY mmr DESC, vec_id
              LIMIT 1)"""


def _mmr_union_sql(qid: int) -> str:
    s = f"_{qid}"
    return f"""
    SELECT CAST({qid} AS BIGINT) AS query_id, vec_id,
           CAST(1 AS BIGINT) AS pick_idx, mmr FROM p1{s}
    UNION ALL
    SELECT CAST({qid} AS BIGINT), vec_id, CAST(2 AS BIGINT), mmr
    FROM p2{s}
    UNION ALL
    SELECT CAST({qid} AS BIGINT), vec_id, CAST(3 AS BIGINT), mmr
    FROM p3{s}"""


_MMR_BATCH_QIDS = (0, 1, 7)


# BATCH MMR (VERDICT r12 item 6): the composition-safe arm of
# sim_mmr_rerank — all query groups re-ranked in ONE plan (candidate
# window + one applyInPandas), zero driver round trips. The oracle is
# the serving oracle's unrolled greedy chain instantiated per query
# and UNIONed, so this entry ALSO pins batch == serving cross-engine
# (the serving entry keeps the single-query chain).
@q(
    "sim_mmr_rerank_batch",
    "WITH "
    + ",".join(_mmr_chain_sql(i) for i in _MMR_BATCH_QIDS)
    + " ".join(
        (" " if n == 0 else " UNION ALL ") + _mmr_union_sql(i)
        for n, i in enumerate(_MMR_BATCH_QIDS)
    ),
)
def sim_mmr_rerank_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(
        F.col("vec_id").isin(*_MMR_BATCH_QIDS)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return mmr_rerank_batch(
        emb, queries, n_candidates=12, k=3, lam=0.7
    )


# Multiprobe LSH recall curve (round 13): measured recall@10 AND
# candidate volume per probe radius (0 = exact bucket, 1 = +8
# Hamming-1 rings, 2 = +28 Hamming-2) — the eval that prices each
# extra ring before a deployment pays for it. One corpus scan serves
# all radii: the query side explodes into its radius-2 probe
# neighborhood with each probe carrying its mask popcount (a pair
# reached via mask m sits at Hamming distance exactly popcount(m)),
# so per-radius membership is a filter over one equi-join's output.
# Eval-family sibling of ann_recall_eval / dedup_lsh_recall_eval.
_MP_MASKS_SQL = ", ".join(f"({m}, {pc})" for m, pc in probe_masks(8, 2))


@q(
    "ann_multiprobe_recall",
    f"""
    WITH sig AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS q_id, embedding AS q_vec, bucket AS qb
      FROM sig WHERE vec_id % 83 = 0
    ),
    mk AS (SELECT * FROM (VALUES {_MP_MASKS_SQL}) AS t(m, pc)),
    probes AS (SELECT q_id, q_vec, xor(qb, m) AS pb, pc FROM q, mk),
    pairs AS (
      SELECT p.q_id, s.vec_id,
             ROUND(list_cosine_similarity(CAST(s.embedding AS DOUBLE[]),
                                          CAST(p.q_vec AS DOUBLE[])), 6)
               AS sim,
             p.pc
      FROM sig s JOIN probes p ON s.bucket = p.pb
    ),
    exact_pairs AS (
      SELECT q.q_id, s.vec_id,
             ROUND(list_cosine_similarity(CAST(s.embedding AS DOUBLE[]),
                                          CAST(q.q_vec AS DOUBLE[])), 6)
               AS sim
      FROM sig s, q
    ),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, vec_id) AS rank
        FROM exact_pairs
      ) WHERE rank <= 10
    ),
    radii AS (SELECT unnest([0, 1, 2]) AS radius),
    lsh AS (
      SELECT radius, q_id, vec_id FROM (
        SELECT r.radius, p.q_id, p.vec_id,
               ROW_NUMBER() OVER (PARTITION BY r.radius, p.q_id
                                  ORDER BY p.sim DESC, p.vec_id) AS rank
        FROM radii r JOIN pairs p ON p.pc <= r.radius
      ) WHERE rank <= 10
    ),
    cand AS (
      SELECT r.radius, COUNT(*) AS c
      FROM radii r JOIN pairs p ON p.pc <= r.radius GROUP BY 1
    ),
    hits AS (
      SELECT l.radius, COUNT(*) AS h
      FROM lsh l JOIN exact x
        ON x.q_id = l.q_id AND x.vec_id = l.vec_id
      GROUP BY 1
    ),
    nq AS (SELECT COUNT(*) AS n FROM q)
    SELECT r.radius AS radius, nq.n AS n_queries,
           COALESCE(c.c, 0) AS cand_pairs,
           CAST(1000 * COALESCE(h.h, 0) // (10 * nq.n) AS BIGINT)
             AS recall_permille
    FROM radii r
    CROSS JOIN nq
    LEFT JOIN cand c ON c.radius = r.radius
    LEFT JOIN hits h ON h.radius = r.radius
    """,
)
def ann_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 83 == 0)
    return multiprobe_recall(
        emb, queries, _ANN_PLANES, k=10, radii=(0, 1, 2)
    )
