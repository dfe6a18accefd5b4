"""Search entries: the inverted, trigram and BM25 indexes, their
incremental merges (batch and streamed), and rank fusion.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..pipelines.search import (
    bm25_index,
    bm25_index_merge,
    bm25_topk,
    build_inverted_index,
    build_trigram_index,
    rrf_fuse,
    search_by_index,
    search_substring,
    update_inverted_index,
    with_rank,
)
from ..pipelines.similarity import brute_force_topk
from ..session import free_local_checkpoint
from . import q
from .shared import _TOKS_CTE


# X21 v2 — inverted-index search (same results as the v1 scan)
@q(
    "x21_inverted_index_search",
    tables.oracle_with_domain("""
    , idx AS (
      SELECT DISTINCT author, permlink,
             unnest(list_filter(regexp_split_to_array(lower(body), '[^a-z0-9]+'),
                    x -> x <> '')) AS token
      FROM posts
    ), m1 AS (SELECT author, permlink FROM idx WHERE token = 'hello'),
      m2 AS (SELECT author, permlink FROM idx WHERE token = 'bye')
    SELECT p.author, p.permlink, p.created_at
    FROM posts p
    JOIN (SELECT DISTINCT m1.author, m1.permlink
          FROM m1 JOIN m2 USING (author, permlink)) m
      USING (author, permlink)
    ORDER BY p.created_at DESC, p.permlink
    """),
)
def x21_inverted_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    idx = build_inverted_index(posts, "body", ["author", "permlink"])
    return (
        search_by_index(idx, posts, ["hello", "bye"], ["author", "permlink"])
        .select("author", "permlink", "created_at")
        .orderBy(F.desc("created_at"), F.asc("permlink"))
    )


# ---------------------------------------------------------------------------
# X21 + F12/T6: incremental inverted-index maintenance must equal a full
# rebuild. The query stales 1/10 of the corpus (wrong text in the
# initial index), deletes another 1/10 (changed row with empty text),
# applies update_inverted_index, and returns the resulting postings.
# The oracle rebuilds from scratch on the true corpus minus deletions —
# a hash-match proves the O(changed-docs) anti-join+append path
# converges to the O(corpus) rebuild. (reference analog: Mongo text
# index upkeep on edit, services/db.ts:61-63 + core.ts update paths)
# ---------------------------------------------------------------------------
@q(
    "x21_index_incremental_update",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents WHERE doc_id % 10 <> 5
    )
    SELECT DISTINCT unnest(toks) AS token, doc_id FROM toks
    """,
)
def x21_index_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    is_stale = F.col("doc_id") % 10 == 0
    is_deleted = F.col("doc_id") % 10 == 5
    stale_corpus = d.select(
        "doc_id",
        F.when(
            is_stale, F.concat(F.lit("stale placeholder "), F.col("doc_id"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    index0 = build_inverted_index(stale_corpus, "text", ["doc_id"])
    changed = d.filter(is_stale | is_deleted).select(
        "doc_id",
        F.when(is_deleted, F.lit("")).otherwise(F.col("text")).alias("text"),
    )
    updated = update_inverted_index(index0, changed, "text", ["doc_id"])
    return updated.select("token", "doc_id")


# Substring (pg_trgm-style) search: trigram posting-table candidate
# intersection + contains() verify. The oracle is the ground-truth
# full-scan contains(), so a candidate-pruning bug that drops a real
# match (the dangerous direction) is a row-count mismatch.
@q(
    "search_substring_trigram",
    """
    SELECT doc_id FROM documents WHERE contains(lower(text), 'alue s')
    """,
)
def search_substring_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    idx = build_trigram_index(d, "text", ["doc_id"])
    return search_substring(idx, d, "alue s", "text", ["doc_id"]).select(
        "doc_id"
    )


# BM25 ranked retrieval (round 10): Okapi scoring over the tf posting
# table, quantized arm — every quantity exact integer arithmetic (the
# tf-normalization cleared to a rational by scaling num/den with
# 10000*total_dl; idf = the BM25 odds ratio floored at 1e4; the
# idf*num product in decimal128/HUGEINT). Both engines floor-divide
# positives, so score_q is bit-identical. See pipelines/search.py
# bm25_topk for the ln-idf production arm and the trade.
@q(
    "search_bm25_topk",
    f"""
    WITH {_TOKS_CTE.strip()},
    nn AS (SELECT doc_id, toks FROM toks WHERE len(toks) >= 1),
    dl AS (SELECT doc_id, len(toks) AS dl FROM nn),
    u AS (SELECT doc_id, unnest(toks) AS token FROM nn),
    p AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM u
      WHERE token IN ('dup', 'spark', 'vector')
      GROUP BY doc_id, token
    ),
    s AS (SELECT COUNT(*) AS n, SUM(dl) AS total_dl FROM dl),
    tdf AS (SELECT token, COUNT(*) AS df FROM p GROUP BY token),
    sc AS (
      SELECT p.doc_id,
             (CAST((10000 * (2 * (s.n - tdf.df) + 1)) // (2 * tdf.df + 1)
                   AS HUGEINT)
              * (100 * CAST(s.total_dl AS HUGEINT) * p.tf * (100 + 120)))
             // (10000 * CAST(s.total_dl AS HUGEINT) * p.tf
                 + 120 * (100 - 75) * CAST(s.total_dl AS HUGEINT)
                 + 120 * 75 * CAST(s.n AS HUGEINT) * dl.dl) AS ts
      FROM p JOIN dl USING (doc_id) JOIN tdf USING (token), s
    )
    SELECT doc_id, CAST(SUM(ts) AS BIGINT) AS score_q
    FROM sc GROUP BY doc_id
    ORDER BY score_q DESC, doc_id
    LIMIT 15
    """,
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    postings, doclens = bm25_index(d, "text", "doc_id")
    return bm25_topk(
        postings, doclens, "doc_id", ["dup", "spark", "vector"], k=15
    )


# Hybrid retrieval via reciprocal-rank fusion (round 10): the BM25
# lexical top-50 and the embedding-cosine top-50 (query = vec 0,
# doc_id==vec_id by fixture construction) fused as
# sum(floor(1e9 // (60 + rank))) — integer contributions, so the
# fused ordering is bit-exact cross-engine for any system count.
@q(
    "search_rrf_fusion",
    f"""
    WITH {_TOKS_CTE.strip()},
    nn AS (SELECT doc_id, toks FROM toks WHERE len(toks) >= 1),
    dl AS (SELECT doc_id, len(toks) AS dl FROM nn),
    u AS (SELECT doc_id, unnest(toks) AS token FROM nn),
    p AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM u
      WHERE token IN ('dup', 'spark', 'vector')
      GROUP BY doc_id, token
    ),
    s AS (SELECT COUNT(*) AS n, SUM(dl) AS total_dl FROM dl),
    tdf AS (SELECT token, COUNT(*) AS df FROM p GROUP BY token),
    sc AS (
      SELECT p.doc_id,
             (CAST((10000 * (2 * (s.n - tdf.df) + 1)) // (2 * tdf.df + 1)
                   AS HUGEINT)
              * (100 * CAST(s.total_dl AS HUGEINT) * p.tf * (100 + 120)))
             // (10000 * CAST(s.total_dl AS HUGEINT) * p.tf
                 + 120 * (100 - 75) * CAST(s.total_dl AS HUGEINT)
                 + 120 * 75 * CAST(s.n AS HUGEINT) * dl.dl) AS ts
      FROM p JOIN dl USING (doc_id) JOIN tdf USING (token), s
    ),
    b50 AS (
      SELECT doc_id, SUM(ts) AS score_q FROM sc GROUP BY doc_id
      ORDER BY score_q DESC, doc_id LIMIT 50
    ),
    br AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS rank
      FROM b50
    ),
    c50 AS (
      SELECT e.vec_id AS doc_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(q.embedding AS DOUBLE[])),
                   6) AS sim
      FROM embeddings e,
           (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      ORDER BY sim DESC, doc_id LIMIT 50
    ),
    cr AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rank
      FROM c50
    ),
    contrib AS (
      SELECT doc_id, 1000000000 // (60 + rank) AS c FROM br
      UNION ALL
      SELECT doc_id, 1000000000 // (60 + rank) AS c FROM cr
    )
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_q,
           CAST(COUNT(*) AS BIGINT) AS n_systems
    FROM contrib GROUP BY doc_id
    ORDER BY rrf_q DESC, doc_id
    LIMIT 15
    """,
)
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    postings, doclens = bm25_index(d, "text", "doc_id")
    lex = bm25_topk(
        postings, doclens, "doc_id", ["dup", "spark", "vector"], k=50
    )
    emb = tables.load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    sem = brute_force_topk(emb, list(qv), k=50).withColumnRenamed(
        "vec_id", "doc_id"
    )
    return rrf_fuse(
        [
            with_rank(lex, "score_q", "doc_id"),
            with_rank(sem, "sim", "doc_id"),
        ],
        "doc_id",
        k0=60,
        k=15,
    )


# Incremental BM25 index maintenance (round 11): the
# update_minhash_index anti-join-and-append pattern on the posting
# table. The fixture re-ingests 1/3 of the corpus: the base index is
# built with STALE text for those docs (an appended marker), then
# bm25_index_merge folds the current versions in. The oracle derives
# per-doc stats DIRECTLY from the current corpus — the merge must equal
# a fresh rebuild, stale rows gone, no doc dropped.
@q(
    "search_bm25_index_incremental",
    f"""
    WITH {_TOKS_CTE.strip()},
    nn AS (SELECT doc_id, toks FROM toks WHERE len(toks) >= 1),
    u AS (SELECT doc_id, unnest(toks) AS token FROM nn),
    p AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM u GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST((SELECT len(toks) FROM nn WHERE nn.doc_id = p.doc_id)
                AS BIGINT) AS dl,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(MAX(tf) AS BIGINT) AS max_tf
    FROM p GROUP BY doc_id
    """,
)
def search_bm25_index_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    reingest = F.col("doc_id") % 3 == 0
    stale = d.select(
        "doc_id",
        F.when(
            reingest, F.concat(F.col("text"), F.lit(" stale marker row"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    postings, doclens = bm25_index(stale, "text", "doc_id")
    delta = d.filter(reingest).select("doc_id", "text")
    postings, doclens = bm25_index_merge(
        postings, doclens, delta, "text", "doc_id"
    )
    stats = postings.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.max("tf").cast("long").alias("max_tf"),
    )
    return doclens.join(stats, "doc_id").select(
        "doc_id", F.col("dl").cast("long").alias("dl"), "n_terms", "max_tf"
    )


# T-layer incremental BM25 index, STREAMED (round 11): the
# bm25_index_merge deployment shape — micro-batches fold into lifetime
# (postings, doclens) state inside foreachBatch with the passage-counts
# checkpoint-release discipline. The fixture re-ingests 1/4 of docs in a
# second arbitrary batch with IDENTICAL text, so the result is
# micro-batch-ORDER independent while a stale-row leak (merge failing to
# anti-join the old rows out) doubles tf/n_terms and hash-mismatches.
# Oracle = per-doc stats of a fresh batch build over the distinct
# corpus.
@q(
    "stream_bm25_index_incremental",
    f"""
    WITH {_TOKS_CTE.strip()},
    nn AS (SELECT doc_id, toks FROM toks WHERE len(toks) >= 1),
    u AS (SELECT doc_id, unnest(toks) AS token FROM nn),
    p AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM u GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST((SELECT len(toks) FROM nn WHERE nn.doc_id = p.doc_id)
                AS BIGINT) AS dl,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(MAX(tf) AS BIGINT) AS max_tf
    FROM p GROUP BY doc_id
    """,
)
def stream_bm25_index_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    reingested = d.filter(F.col("doc_id") % 4 == 0)
    src = tempfile.mkdtemp(prefix="stream_bm25_idx_src_")
    try:
        d.unionByName(reingested).repartition(4).write.mode(
            "overwrite"
        ).parquet(src)
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        state = {
            "postings": spark.createDataFrame(
                [], "doc_id long, token string, tf long"
            ),
            "doclens": spark.createDataFrame([], "doc_id long, dl int"),
        }

        def fold(batch_df, batch_id):
            # one row per id per delta (the bm25_index_merge contract);
            # re-ingested twins are byte-identical so any survivor is
            # the same version
            delta = batch_df.dropDuplicates(["doc_id"])
            superseded = state.get("_ckpted")
            p, dl = bm25_index_merge(
                state["postings"], state["doclens"], delta, "text", "doc_id"
            )
            state["postings"] = p.localCheckpoint()
            state["doclens"] = dl.localCheckpoint()
            state["_ckpted"] = (state["postings"], state["doclens"])
            if superseded is not None:
                for f in superseded:
                    free_local_checkpoint(f)

        qname = f"stream_bm25_idx_{uuid.uuid4().hex[:8]}"
        query = (
            stream.writeStream.foreachBatch(fold)
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        stats = state["postings"].groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.max("tf").cast("long").alias("max_tf"),
        )
        return state["doclens"].join(stats, "doc_id").select(
            "doc_id",
            F.col("dl").cast("long").alias("dl"),
            "n_terms",
            "max_tf",
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
