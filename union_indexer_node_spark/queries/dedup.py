"""Deduplication entries: exact, MinHash/LSH, SimHash and n-gram
near-dup detection, passage and span removal, containment and fuzzy
matching, and the incremental index maintenance behind them.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..pipelines.dedup import (
    containment_probe,
    cross_source_passage_overlap,
    exact_dedup,
    fuzzy_blocking_frontier,
    fuzzy_edit_match,
    jaccard_pairs,
    keep_best_per_cluster,
    lsh_candidate_pairs,
    lsh_recall_eval,
    merge_passage_counts,
    minhash_signature,
    passage_counts,
    prefix_filter_join,
    remove_duplicate_spans,
    remove_duplicate_spans_maximal,
    remove_repeated_passages,
    shared_passage_stats,
    simhash,
    token_count,
    tokens,
    update_minhash_index,
)
from ..pipelines.graph import connected_components
from ..session import free_local_checkpoint
from . import q
from .shared import _SHINGLE_SIG_CTE, _SIG_CTE, _TOKS_CTE


def _passage_oracle(w: int, s: int) -> str:
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             md5(array_to_string(array_slice(toks, s, s + {w - 1}), ' '))
               AS h
      FROM t, LATERAL (SELECT UNNEST(generate_series(
                 1, len(toks) - {w - 1}, {s})) AS s) g
      WHERE len(toks) >= {w}
    ),
    sh AS (SELECT h, MIN(doc_id) <> MAX(doc_id) AS shared
           FROM w GROUP BY h),
    per AS (
      SELECT w.doc_id, COUNT(*) AS n_windows,
             SUM(CASE WHEN sh.shared THEN 1 ELSE 0 END) AS n_shared
      FROM w JOIN sh USING (h) GROUP BY w.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(per.n_shared, 0) AS BIGINT) AS n_shared_windows,
           COALESCE(per.n_shared, 0) > 0 AS has_shared_passage
    FROM documents d LEFT JOIN per USING (doc_id)
    """


_DISC = (
    "this content is provided as is without warranty of any kind"
    " whatsoever"
)


# Shared tokenizer contract: the Spark side (pipelines.dedup.tokens) and
# every oracle use lower + split-on-[^a-z0-9]+ with empties removed.
@q(
    "dedup_exact",
    """
    WITH hashed AS (SELECT doc_id, md5(text) AS text_hash FROM documents),
    groups AS (
      SELECT text_hash, COUNT(*) AS dup_count, MIN(doc_id) AS canonical_id
      FROM hashed GROUP BY text_hash
    )
    SELECT h.doc_id, h.text_hash, g.dup_count,
           h.doc_id = g.canonical_id AS is_canonical
    FROM hashed h JOIN groups g USING (text_hash)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id")


@q(
    "dedup_minhash_signature",
    f"WITH {_SIG_CTE.strip()} SELECT * FROM sig",
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return minhash_signature(d, "text", "doc_id", k=8, shingle_n=3)


@q(
    "dedup_lsh_candidates",
    f"WITH {_SHINGLE_SIG_CTE.strip()} SELECT a, b FROM cand",
)
def dedup_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return lsh_candidate_pairs(d, "text", "doc_id", k=8, bands=4, shingle_n=3)


@q(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLE_SIG_CTE.strip()},
    shset AS (
      SELECT doc_id, list_distinct(
        list_transform(generate_series(1, len(toks) - 2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ) AS sh
      FROM toks
    )
    SELECT c.a, c.b,
           ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                 / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))),
                 6) AS jaccard
    FROM cand c
    JOIN shset sa ON sa.doc_id = c.a
    JOIN shset sb ON sb.doc_id = c.b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    # materialize the (small) pair set once; verification then shingles
    # only candidate docs, not the corpus (prune=True)
    pairs = lsh_candidate_pairs(
        d, "text", "doc_id", k=8, bands=4, shingle_n=3
    ).localCheckpoint()
    return jaccard_pairs(d, d, pairs, "text", "doc_id", shingle_n=3, prune=True)


@q(
    "dedup_simhash",
    f"""
    WITH {_TOKS_CTE.strip()},
    tok AS (SELECT doc_id, unnest(toks) AS t FROM toks),
    th AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS th
      FROM tok
    ),
    contrib AS (
      SELECT doc_id, b.bit,
             CASE WHEN (th >> bit) & 1 = 1 THEN 1 ELSE -1 END AS c
      FROM th, (SELECT unnest(generate_series(0, 15)) AS bit) b
    ),
    bits AS (SELECT doc_id, bit, SUM(c) AS s FROM contrib GROUP BY doc_id, bit)
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return simhash(d, "text", "doc_id", bits=16)


# Dedup APPLICATION: the surviving corpus after (a) exact-dup removal
# (keep min doc_id) and (b) near-dup removal — of every LSH candidate
# pair with shingle-Jaccard >= 0.7, the higher doc_id is dropped.
@q(
    "dedup_apply_keep_canonical",
    f"""
    WITH {_SHINGLE_SIG_CTE.strip()},
    shset AS (
      SELECT doc_id, list_distinct(
        list_transform(generate_series(1, len(toks) - 2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ) AS sh
      FROM toks
    ),
    near AS (
      SELECT c.a, c.b
      FROM cand c JOIN shset sa ON sa.doc_id = c.a
                  JOIN shset sb ON sb.doc_id = c.b
      WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
            >= 0.7
    ),
    exact_drop AS (
      SELECT doc_id FROM (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon
        FROM documents
      ) WHERE doc_id <> canon
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT b FROM near)
      AND d.doc_id NOT IN (SELECT doc_id FROM exact_drop)
    """,
)
def dedup_apply_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    exact = exact_dedup(d, "text", "doc_id")
    cand = lsh_candidate_pairs(
        d, "text", "doc_id", k=8, bands=4, shingle_n=3
    ).localCheckpoint()
    near = jaccard_pairs(
        d, d, cand, "text", "doc_id", shingle_n=3, prune=True
    ).filter(F.col("jaccard") >= 0.7)
    keep_exact = exact.filter(F.col("is_canonical")).select("doc_id")
    return keep_exact.join(
        near.select(F.col("b").alias("doc_id")), "doc_id", "left_anti"
    )


# ---------------------------------------------------------------------------
# T-layer incremental passage-frequency maintenance: the corpus arrives
# as micro-batches (file source, 1 file per trigger); each batch's
# passage counts fold into the lifetime table via merge_passage_counts
# inside foreachBatch (localCheckpoint per fold bounds lineage — the
# same discipline as the iterative algorithms). The oracle is the
# one-shot batch count over the whole corpus: any double-count across
# a batch boundary, lost fold, or non-deterministic batch split
# hash-mismatches. This is the index remove_repeated_passages(counts=)
# applies — built HERE the way a deployment actually builds it.
# ---------------------------------------------------------------------------
@q(
    "stream_passage_counts_incremental",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    segs AS (
      SELECT doc_id, g.i AS seg_idx,
             array_to_string(
               array_slice(toks, g.i * 8 + 1, g.i * 8 + 8), ' ') AS passage
      FROM t, LATERAL (SELECT UNNEST(generate_series(
                 0, CAST(ceil(len(toks) / 8.0) AS BIGINT) - 1)) AS i) g
      WHERE len(toks) > 0
    )
    SELECT passage, COUNT(*) AS cnt FROM segs GROUP BY passage
    """,
)
def stream_passage_counts_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="stream_passage_counts_src_")
    try:
        # 4 part files -> 4 micro-batches at maxFilesPerTrigger=1
        d.repartition(4).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        state = {
            "counts": spark.createDataFrame(
                [], "passage string, _cnt long"
            )
        }

        def fold(batch_df, batch_id):
            # Release the superseded fold's checkpoint storage once the
            # new checkpoint has materialized (localCheckpoint is
            # eager) — without this the fold accumulates one
            # checkpointed counts copy PER MICRO-BATCH, the exact
            # storage-accumulation pattern free_local_checkpoint was
            # built to prevent (ADVICE r9). Only checkpointed
            # predecessors are freed: the seed frame is a plain
            # LocalRelation.
            superseded = state.get("_ckpted")
            state["counts"] = merge_passage_counts(
                state["counts"],
                passage_counts(batch_df, "text", words_per_passage=8),
            ).localCheckpoint()
            state["_ckpted"] = state["counts"]
            if superseded is not None:
                free_local_checkpoint(superseded)

        qname = f"stream_passage_counts_{uuid.uuid4().hex[:8]}"
        query = (
            stream.writeStream.foreachBatch(fold)
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        return state["counts"].select(
            "passage", F.col("_cnt").alias("cnt")
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)


# Near-dup cluster resolution: LSH candidate pairs -> connected
# components (iterative min-label propagation) -> every doc mapped to
# its cluster representative via its exact-dup canonical. The oracle
# walks the same graph with a recursive CTE (min reachable id).
@q(
    "dedup_cc_clusters",
    f"""
    WITH RECURSIVE {_SHINGLE_SIG_CTE.strip()},
    und AS (
      SELECT a AS s, b AS d FROM cand UNION SELECT b, a FROM cand
    ),
    reach(s, d) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM und)
      UNION
      SELECT r.s, u.d FROM reach r JOIN und u ON u.s = r.d
    ),
    lab AS (SELECT s AS node, MIN(d) AS cluster_id FROM reach GROUP BY s),
    cmap AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
      FROM documents
    )
    SELECT c.doc_id, COALESCE(l.cluster_id, c.canonical_id) AS cluster_id
    FROM cmap c LEFT JOIN lab l ON l.node = c.canonical_id
    """,
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        d, "text", "doc_id", k=8, bands=4, shingle_n=3
    ).localCheckpoint()
    cc = connected_components(pairs, "a", "b")
    # (doc_id, digest) materialized ONCE: the canonical aggregate and
    # the per-doc map below consume DIFFERENT subtrees of the same
    # scan+md5 pass (groupBy vs select), so no stage reuse can merge
    # them — the checkpoint halves the corpus scans and md5 work for
    # the price of one narrow (~48 B/row) materialization (guide §3.3;
    # r15 A/B at sf0.1: the resolution tail 0.36 -> 0.31 s median).
    dm = d.select("doc_id", F.md5("text").alias("_h")).localCheckpoint()
    canon = dm.groupBy("_h").agg(F.min("doc_id").alias("canonical_id"))
    cmap = dm.join(canon, "_h")
    return cmap.join(cc, cmap.canonical_id == cc.node, "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("canonical_id")).alias("cluster_id"),
    )


# Quality-aware canonical selection (round 10): per near-dup cluster
# keep the LONGEST doc (token_count proxy; ties -> lowest id) instead
# of the lowest id — the keep-the-best-version curation policy. Same
# cluster construction and recursive-CTE oracle as dedup_cc_clusters,
# plus one cluster-keyed window.
@q(
    "dedup_keep_best_quality",
    f"""
    WITH RECURSIVE {_SHINGLE_SIG_CTE.strip()},
    und AS (
      SELECT a AS s, b AS d FROM cand UNION SELECT b, a FROM cand
    ),
    reach(s, d) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM und)
      UNION
      SELECT r.s, u.d FROM reach r JOIN und u ON u.s = r.d
    ),
    lab AS (SELECT s AS node, MIN(d) AS cluster_id FROM reach GROUP BY s),
    cmap AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
      FROM documents
    ),
    cl AS (
      SELECT c.doc_id, COALESCE(l.cluster_id, c.canonical_id) AS cluster_id
      FROM cmap c LEFT JOIN lab l ON l.node = c.canonical_id
    ),
    sc AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                  AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT cl.doc_id, cl.cluster_id, sc.n_tokens,
           ROW_NUMBER() OVER (
             PARTITION BY cl.cluster_id
             ORDER BY sc.n_tokens DESC, cl.doc_id
           ) = 1 AS keep
    FROM cl JOIN sc USING (doc_id)
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        d, "text", "doc_id", k=8, bands=4, shingle_n=3
    ).localCheckpoint()
    cc = connected_components(pairs, "a", "b")
    # shared (doc_id, digest) checkpoint — see dedup_cc_clusters
    dm = d.select("doc_id", F.md5("text").alias("_h")).localCheckpoint()
    canon = dm.groupBy("_h").agg(F.min("doc_id").alias("canonical_id"))
    cmap = dm.join(canon, "_h")
    clusters = cmap.join(cc, cmap.canonical_id == cc.node, "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("canonical_id")).alias("cluster_id"),
    )
    scores = d.select(
        "doc_id",
        F.coalesce(token_count(F.col("text")), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    return keep_best_per_cluster(
        clusters, scores, "doc_id",
        cluster_col="cluster_id", score_col="n_tokens",
    )


# Passage-level duplication (the quoted-boilerplate signal doc-level
# MinHash misses): sliding token-window hashes, one digest groupBy, no
# pair generation — a million-doc shared passage costs one counter row.
# Small window/stride here so the synthetic corpus actually collides;
# production defaults are 50/25 (Lee et al. passage granularity).
@q(
    "dedup_shared_passages",
    _passage_oracle(8, 4),
)
def dedup_shared_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return shared_passage_stats(
        d, "text", "doc_id", window_tokens=8, stride=4
    )


# Repeated-passage REMOVAL (round 9; round 10: byte-preserving): the
# transform counterpart of the stats entry above — passages occurring
# >2 times corpus-wide are scrubbed from every document and the
# remainder reassembled in order FROM THE ORIGINAL BYTES (the oracle's
# chr(1)-sentinel split mirrors token_pieces: kept segments slice the
# raw text, a removed segment takes its trailing separator, and the
# leading separator always survives — an untouched document
# round-trips byte-identically). Narrow segmentation, one
# map-side-combining count shuffle, a co-partitioned LEFT join back
# (absent-from-counts = frequency 0 = kept), one groupBy(id)
# reassembly; the hot-key analysis is in the operator docstring.
@q(
    "dedup_remove_repeated_passages",
    r"""
    WITH b AS (
      SELECT doc_id,
             string_split(regexp_replace(text, '([a-zA-Z0-9]+)',
                          chr(1) || '\1' || chr(1), 'g'), chr(1)) AS pc,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    base AS (
      SELECT doc_id, pc, toks,
             CASE WHEN len(toks) = 0 THEN 0
                  ELSE CAST(ceil(len(toks) / 8.0) AS BIGINT)
             END AS nseg
      FROM b
    ),
    segs AS (
      SELECT doc_id, g.i AS seg_idx,
             array_to_string(
               array_slice(toks, g.i * 8 + 1, g.i * 8 + 8), ' ') AS passage,
             array_to_string(
               array_slice(pc, 2 * (g.i * 8) + 2,
                 2 * (LEAST((g.i + 1) * 8, len(toks)) - 1) + 3),
               '') AS seg_bytes
      FROM base, LATERAL (SELECT UNNEST(generate_series(
                 0, nseg - 1)) AS i) g
      WHERE nseg > 0
    ),
    c AS (SELECT passage, COUNT(*) AS cnt FROM segs GROUP BY passage),
    kept AS (SELECT segs.* FROM segs LEFT JOIN c USING (passage)
             WHERE COALESCE(c.cnt, 0) <= 2),
    re AS (SELECT doc_id,
                  string_agg(seg_bytes, '' ORDER BY seg_idx) AS kept_bytes,
                  COUNT(*) AS n_kept
           FROM kept GROUP BY doc_id)
    SELECT base.doc_id,
           base.pc[1] || COALESCE(re.kept_bytes, '') AS cleaned_text,
           CAST(base.nseg AS BIGINT) AS n_segments,
           CAST(base.nseg - COALESCE(re.n_kept, 0) AS BIGINT)
             AS n_removed
    FROM base LEFT JOIN re USING (doc_id)
    """,
)
def dedup_remove_repeated_passages(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return remove_repeated_passages(
        d, "text", "doc_id", words_per_passage=8, max_occurrences=2
    )


# Alignment-robust duplicate-SPAN removal (round 10): the corpus is
# augmented with a 12-token disclaimer whose token OFFSET varies per
# document (doc_id%3 pad tokens in front) — boilerplate that fixed
# 8-token segmentation provably misses (the shifted copies land in
# differently-aligned segments, so no segment string repeats; the
# unit test pins that remove_repeated_passages removes 0 tokens here)
# while stride-1 sliding windows flag every interior 8-token run of
# it regardless of offset. Overlapping flagged windows coalesce via
# the covered-token set, kept text is sliced from ORIGINAL bytes, and
# only affected documents are rebuilt (anti-join fast path).
@q(
    "dedup_remove_duplicate_spans",
    r"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN
               text || ' ' || repeat('pad ', CAST(doc_id % 3 AS INT)) ||
               'this content is provided as is without warranty of any"""
    r""" kind whatsoever'
             ELSE text END AS text
      FROM documents
    ),
    p AS (
      SELECT doc_id, text,
             string_split(regexp_replace(text, '([a-zA-Z0-9]+)',
                          chr(1) || '\1' || chr(1), 'g'), chr(1)) AS pc,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM aug
    ),
    w AS (
      SELECT doc_id, g.s AS s,
             array_to_string(array_slice(toks, g.s + 1, g.s + 8), ' ') AS k
      FROM p, LATERAL (SELECT UNNEST(generate_series(0, len(toks) - 8))
                       AS s) g
      WHERE len(toks) >= 8
    ),
    c AS (SELECT k, COUNT(*) AS cnt FROM w GROUP BY k),
    fl AS (SELECT w.doc_id, w.s FROM w JOIN c USING (k) WHERE c.cnt > 2),
    cov AS (SELECT DISTINCT fl.doc_id, g.t
            FROM fl, LATERAL (SELECT UNNEST(generate_series(s, s + 7))
                              AS t) g),
    affected AS (SELECT DISTINCT doc_id FROM fl),
    tok AS (
      SELECT p.doc_id, g.t,
             pc[2 * g.t + 2] || pc[2 * g.t + 3] AS tok_bytes
      FROM p JOIN affected USING (doc_id),
           LATERAL (SELECT UNNEST(generate_series(0, len(toks) - 1))
                    AS t) g
      WHERE len(toks) > 0
    ),
    re AS (
      SELECT tok.doc_id,
             string_agg(tok.tok_bytes, '' ORDER BY tok.t) AS kept_bytes,
             COUNT(*) AS n_kept
      FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.t = cov.t
      WHERE cov.t IS NULL
      GROUP BY tok.doc_id
    )
    SELECT p.doc_id,
           CASE WHEN a.doc_id IS NULL THEN p.text
                ELSE p.pc[1] || COALESCE(re.kept_bytes, '') END
             AS cleaned_text,
           CAST(len(p.toks) AS BIGINT) AS n_tokens,
           CAST(CASE WHEN a.doc_id IS NULL THEN 0
                     ELSE len(p.toks) - COALESCE(re.n_kept, 0) END
                AS BIGINT) AS n_removed_tokens
    FROM p LEFT JOIN affected a USING (doc_id)
    LEFT JOIN re USING (doc_id)
    """,
)
def dedup_remove_duplicate_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.repeat(
                    F.lit("pad "), (F.col("doc_id") % 3).cast("int")
                ),
                F.lit(_DISC),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return remove_duplicate_spans(
        aug, "text", "doc_id", window_tokens=8, stride=1, max_occurrences=2
    )


# Cross-source passage-overlap matrix (round 9): for every source pair,
# the count of distinct 8-token passages both contain — the
# contamination/provenance audit run before choosing mixing weights.
# No doc-pair generation: per-passage source SETS (bounded by source
# count), then a bounded pair explode.
@q(
    "dedup_cross_source_overlap",
    """
    WITH t AS (
      SELECT source,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    segs AS (
      SELECT DISTINCT source,
             array_to_string(
               array_slice(toks, g.i * 8 + 1, g.i * 8 + 8), ' ') AS passage
      FROM t, LATERAL (SELECT UNNEST(generate_series(
                 0, CAST(ceil(len(toks) / 8.0) AS BIGINT) - 1)) AS i) g
      WHERE len(toks) > 0
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared_passages
    FROM segs a JOIN segs b
      ON a.passage = b.passage AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def dedup_cross_source_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return cross_source_passage_overlap(
        d, "text", "source", words_per_passage=8
    )


# Incremental MinHash index maintenance == full rebuild (the X21-v2
# incremental-equivalence hard signal applied to the dedup layer):
# edits get fresh signatures, deletions (empty text) leave the index,
# untouched docs keep their old rows — and the whole result must
# hash-match a from-scratch signature build over the merged corpus.
@q(
    "dedup_lsh_incremental",
    """
    WITH newdocs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN ''
                  WHEN doc_id % 7 = 0
                  THEN text || ' incremental update marker tokens'
                  ELSE text END AS text
      FROM documents
    ),
    toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM newdocs
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(generate_series(1, len(toks) - 2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      )) AS s
      FROM toks
    ),
    hashed AS (
      SELECT doc_id, md5(s) || md5(s || '#') AS hx FROM sh
    )
    SELECT doc_id,
      min(substr(hx,  1, 8)) h0, min(substr(hx,  9, 8)) h1,
      min(substr(hx, 17, 8)) h2, min(substr(hx, 25, 8)) h3,
      min(substr(hx, 33, 8)) h4, min(substr(hx, 41, 8)) h5,
      min(substr(hx, 49, 8)) h6, min(substr(hx, 57, 8)) h7
    FROM hashed GROUP BY doc_id
    """,
)
def dedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    index = minhash_signature(d, "text", "doc_id")
    changed = d.filter((did % 7 == 0) | (did % 13 == 0)).select(
        "doc_id",
        F.when(did % 13 == 0, F.lit(""))
        .otherwise(
            F.concat(F.col("text"), F.lit(" incremental update marker tokens"))
        )
        .alias("text"),
    )
    return update_minhash_index(index, changed, "text", "doc_id")


# Span-VERIFIED duplicate removal (round 11; VERDICT r10 item 7): the
# maximal-repeat precision arm of the span-dedup family. Same fixture
# as dedup_remove_duplicate_spans (disclaimer injected into doc_id%5==0
# docs, offset by 0-2 pad tokens so extents vary); the verified arm
# coalesces flagged windows into candidate spans (gaps-and-islands),
# re-verifies each span's FULL token string corpus-wide at equal
# extent, and removes only verified spans — whole, with exact
# boundaries and a per-doc span count. Duplicates LONGER than
# window_tokens come out as ONE span (pinned by the long-repeat unit
# test); chained-but-never-co-occurring window repeats are KEPT.
@q(
    "dedup_remove_duplicate_spans_maximal",
    r"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN
               text || ' ' || repeat('pad ', CAST(doc_id % 3 AS INT)) ||
               'this content is provided as is without warranty of any"""
    r""" kind whatsoever'
             ELSE text END AS text
      FROM documents
    ),
    p AS (
      SELECT doc_id, text,
             string_split(regexp_replace(text, '([a-zA-Z0-9]+)',
                          chr(1) || '\1' || chr(1), 'g'), chr(1)) AS pc,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM aug
    ),
    w AS (
      SELECT doc_id, g.s AS s,
             array_to_string(array_slice(toks, g.s + 1, g.s + 8), ' ') AS k
      FROM p, LATERAL (SELECT UNNEST(generate_series(0, len(toks) - 8))
                       AS s) g
      WHERE len(toks) >= 8
    ),
    c AS (SELECT k, COUNT(*) AS cnt FROM w GROUP BY k),
    fl AS (SELECT w.doc_id, w.s FROM w JOIN c USING (k) WHERE c.cnt > 2),
    cov AS (SELECT DISTINCT fl.doc_id, g.t
            FROM fl, LATERAL (SELECT UNNEST(generate_series(s, s + 7))
                              AS t) g),
    isl AS (
      SELECT doc_id, t,
             t - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY t) AS grp
      FROM cov
    ),
    spans AS (
      SELECT doc_id, MIN(t) AS t0, MAX(t) AS t1
      FROM isl GROUP BY doc_id, grp
    ),
    skey AS (
      SELECT s.doc_id, s.t0, s.t1,
             array_to_string(array_slice(p.toks, s.t0 + 1, s.t1 + 1), ' ')
               AS sk
      FROM spans s JOIN p USING (doc_id)
    ),
    vk AS (
      SELECT sk FROM (SELECT sk, COUNT(*) AS c FROM skey GROUP BY sk)
      WHERE c > 2
    ),
    vspan AS (
      SELECT skey.doc_id, skey.t0, skey.t1 FROM skey JOIN vk USING (sk)
    ),
    vcov AS (SELECT DISTINCT doc_id, g.t
             FROM vspan, LATERAL (SELECT UNNEST(generate_series(t0, t1))
                                  AS t) g),
    nsp AS (SELECT doc_id, COUNT(*) AS n_spans FROM vspan GROUP BY doc_id),
    affected AS (SELECT DISTINCT doc_id FROM vspan),
    tok AS (
      SELECT p.doc_id, g.t,
             pc[2 * g.t + 2] || pc[2 * g.t + 3] AS tok_bytes
      FROM p JOIN affected USING (doc_id),
           LATERAL (SELECT UNNEST(generate_series(0, len(toks) - 1))
                    AS t) g
      WHERE len(toks) > 0
    ),
    re AS (
      SELECT tok.doc_id,
             string_agg(tok.tok_bytes, '' ORDER BY tok.t) AS kept_bytes,
             COUNT(*) AS n_kept
      FROM tok LEFT JOIN vcov ON tok.doc_id = vcov.doc_id AND tok.t = vcov.t
      WHERE vcov.t IS NULL
      GROUP BY tok.doc_id
    )
    SELECT p.doc_id,
           CASE WHEN a.doc_id IS NULL THEN p.text
                ELSE p.pc[1] || COALESCE(re.kept_bytes, '') END
             AS cleaned_text,
           CAST(len(p.toks) AS BIGINT) AS n_tokens,
           CAST(CASE WHEN a.doc_id IS NULL THEN 0
                     ELSE len(p.toks) - COALESCE(re.n_kept, 0) END
                AS BIGINT) AS n_removed_tokens,
           CAST(COALESCE(nsp.n_spans, 0) AS BIGINT) AS n_spans_removed
    FROM p LEFT JOIN affected a USING (doc_id)
    LEFT JOIN re USING (doc_id)
    LEFT JOIN nsp USING (doc_id)
    """,
)
def dedup_remove_duplicate_spans_maximal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.repeat(
                    F.lit("pad "), (F.col("doc_id") % 3).cast("int")
                ),
                F.lit(_DISC),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return remove_duplicate_spans_maximal(
        aug, "text", "doc_id", window_tokens=8, stride=1, max_occurrences=2
    )


# LSH recall evaluation (round 13): the dedup-family sibling of
# ann_recall_eval — MEASURED banding recall vs exact shingle Jaccard
# by similarity band, on a deterministic 1/3 document sample (the
# banding S-curve was previously only unit-tested against its closed
# form). Ground truth enumerates shared-shingle pairs via equi-join
# (a no-shared-shingle pair has Jaccard 0 — never an all-pairs cross
# join); both populations are digest-canonicalized identically. The
# oracle replays the whole protocol: the sample, the md5 minhash
# windows, the 4-band keys, the 200-cap bucket window and the exact
# integer Jaccard bands.
@q(
    "dedup_lsh_recall_eval",
    """
    WITH sdoc AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    ),
    canon AS (
      SELECT MIN(doc_id) AS doc_id FROM sdoc GROUP BY md5(text)
    ),
    toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM sdoc WHERE doc_id IN (SELECT doc_id FROM canon)
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(generate_series(1, len(toks) - 2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      )) AS s
      FROM toks
    ),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    truth AS (
      SELECT i.a, i.b,
             (1000 * i.i) // (sa.n + sb.n - i.i) AS jp
      FROM inter i
      JOIN sz sa ON sa.doc_id = i.a
      JOIN sz sb ON sb.doc_id = i.b
    ),
    hashed AS (
      SELECT doc_id, md5(s) || md5(s || '#') AS hx FROM sh
    ),
    sig AS (
      SELECT doc_id,
        min(substr(hx,  1, 8)) h0, min(substr(hx,  9, 8)) h1,
        min(substr(hx, 17, 8)) h2, min(substr(hx, 25, 8)) h3,
        min(substr(hx, 33, 8)) h4, min(substr(hx, 41, 8)) h5,
        min(substr(hx, 49, 8)) h6, min(substr(hx, 57, 8)) h7
      FROM hashed GROUP BY doc_id
    ),
    bands_all AS (
      SELECT doc_id, 0 AS band_idx, md5(h0 || '|' || h1) AS band_key FROM sig
      UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
      UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
      UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig
    ),
    bands AS (
      SELECT doc_id, band_idx, band_key FROM (
        SELECT doc_id, band_idx, band_key,
               COUNT(*) OVER (PARTITION BY band_idx, band_key) AS m
        FROM bands_all
      ) WHERE m <= 200
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_key = y.band_key
       AND x.doc_id < y.doc_id
    )
    SELECT CAST(band_lo AS BIGINT) AS band_lo,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           CAST((1000 * SUM(caught)) // COUNT(*) AS BIGINT)
             AS recall_permille
    FROM (
      SELECT CASE WHEN t.jp >= 900 THEN 900
                  WHEN t.jp >= 700 THEN 700
                  WHEN t.jp >= 500 THEN 500
                  WHEN t.jp >= 300 THEN 300
                  ELSE 0 END AS band_lo,
             CASE WHEN c.a IS NOT NULL THEN 1 ELSE 0 END AS caught
      FROM truth t
      LEFT JOIN cand c ON c.a = t.a AND c.b = t.b
    )
    GROUP BY band_lo
    """,
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return lsh_recall_eval(
        d, "text", "doc_id", k=8, bands=4, shingle_n=3, sample_mod=3
    )


# Directed containment probe (round 13): the asymmetric relation
# symmetric Jaccard misses — a 12-token excerpt of a 400-token page
# has Jaccard ~0.03 but containment 1.0. Scale shape is the directed
# probe (new ingests vs corpus), not all-pairs: probe shingles
# equi-join the hot-capped corpus postings and |sh(A) ∩ sh(B)| falls
# straight out of the join as a count — exact by construction, no
# verify pass. Fixture plants 12-token excerpts of every 5th doc
# under new ids; each must surface its source at 1000 permille.
@q(
    "dedup_containment_probe",
    """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    probe AS (
      SELECT doc_id + 1000000 AS probe_id, toks[1:12] AS ptoks
      FROM base WHERE doc_id % 5 = 0 AND len(toks) >= 12
    ),
    shp AS (
      SELECT DISTINCT probe_id,
             ptoks[i] || ' ' || ptoks[i+1] || ' ' || ptoks[i+2] AS sh
      FROM probe, LATERAL (SELECT unnest(generate_series(1,
                             len(ptoks) - 2)) AS i) s
    ),
    sizes AS (
      SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS n_probe_shingles
      FROM shp GROUP BY 1
    ),
    shc AS (
      SELECT DISTINCT doc_id AS corpus_id,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      FROM base, LATERAL (SELECT unnest(generate_series(1,
                            len(toks) - 2)) AS i) s
      WHERE len(toks) >= 3
    ),
    cold AS (
      SELECT corpus_id, sh FROM (
        SELECT corpus_id, sh,
               COUNT(*) OVER (PARTITION BY sh) AS df
        FROM shc
      ) WHERE df <= 200
    ),
    shared AS (
      SELECT p.probe_id, c.corpus_id,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM shp p JOIN cold c ON c.sh = p.sh
      WHERE p.probe_id <> c.corpus_id
      GROUP BY 1, 2
    )
    SELECT s.probe_id, s.corpus_id, s.n_shared, z.n_probe_shingles,
           CAST((1000 * s.n_shared) // z.n_probe_shingles AS BIGINT)
             AS containment_permille
    FROM shared s JOIN sizes z USING (probe_id)
    WHERE (1000 * s.n_shared) // z.n_probe_shingles >= 600
    """,
)
def dedup_containment_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = tables.load(spark, sf_dir, "documents")
    t = base.select("doc_id", tokens(F.col("text")).alias("_toks"))
    probe = (
        t.filter((F.col("doc_id") % 5 == 0) & (F.size("_toks") >= 12))
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.array_join(F.slice("_toks", 1, 12), " ").alias("text"),
        )
    )
    return containment_probe(
        probe,
        base,
        "text",
        "doc_id",
        shingle_n=3,
        min_containment_permille=600,
        hot_cap=200,
    )


# Exact set-similarity join via prefix filtering (round 13): AllPairs
# /PPJoin — every pair with shingle Jaccard >= 0.5, NO recall loss
# (the guarantee LSH banding trades for speed; dedup_lsh_recall_eval
# MEASURES that loss, this operator eliminates it). Candidates come
# from an equi-join of global-rarity-ordered PREFIX shingles only —
# complete by the pigeonhole bound, fanning out on rare (low-df)
# keys by construction. The oracle is INDEPENDENT: it computes
# all-pairs Jaccard with no prefix machinery, so an unsound prefix
# bound (a missed pair) can never cancel out of the comparison.
# Fixture: half the corpus plus planted 80%-truncations (J ~ 0.8).
@q(
    "dedup_prefix_filter_join",
    """
    WITH td AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents WHERE doc_id % 2 = 0
    ),
    all_docs AS (
      SELECT doc_id, toks FROM td
      UNION ALL
      SELECT doc_id + 2000000, toks[1:(4 * len(toks)) // 5] FROM td
      WHERE doc_id % 6 = 0 AND (4 * len(toks)) // 5 >= 3
    ),
    shset AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               AS sh
      FROM all_docs WHERE len(toks) >= 3
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh)
                    - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM shset a JOIN shset b ON a.doc_id < b.doc_id
    -- UNROUNDED threshold, matching the engine: the prefix bound is
    -- complete for true J >= t; a rounded filter would demand pairs
    -- at J in [t - 5e-7, t) the generator may legitimately miss
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / (len(a.sh) + len(b.sh)
             - len(list_intersect(a.sh, b.sh))) >= 0.5
    """,
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = tables.load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    t = base.select("doc_id", tokens(F.col("text")).alias("_toks"))
    planted = (
        t.filter(
            (F.col("doc_id") % 6 == 0)
            & (F.expr("(4 * size(_toks)) div 5") >= 3)
        )
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.array_join(
                F.slice(
                    "_toks", 1, F.expr("(4 * size(_toks)) div 5")
                ),
                " ",
            ).alias("text"),
        )
    )
    corpus = base.select("doc_id", "text").unionByName(planted)
    return prefix_filter_join(
        corpus, "text", "doc_id", threshold_permille=500, shingle_n=3
    )


# Character-level fuzzy matching (round 13): the entity-resolution
# member of the dedup family — shingle similarity can't see one-char
# typos or clipped prefixes. Blocking key = word tokens 2..5 (chosen
# to survive the planted mutation: dropping the first CHARACTER
# mutates only token 1, appending ' zz' only adds a token); verify =
# thresholded Levenshtein (banded O(n*k), -1 beyond the bound) after
# the |len| - |len| <= k lower-bound prune. Fixture plants mutants of
# every 9th doc: first char dropped + ' zz' appended (distance <= 4).
@q(
    "dedup_fuzzy_edit_match",
    """
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    all_docs AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT doc_id + 3000000, substr(text, 2) || ' zz' FROM base
      WHERE doc_id % 9 = 0 AND length(text) > 40
    ),
    keyed AS (
      SELECT doc_id, text, length(text) AS len,
             array_to_string(list_filter(string_split_regex(lower(text),
               '[^a-z0-9]+'), x -> x <> '')[2:5], ' ') AS blk
      FROM all_docs
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance
    FROM keyed a JOIN keyed b
      ON a.blk = b.blk AND a.doc_id < b.doc_id
     AND abs(a.len - b.len) <= 4
    WHERE levenshtein(a.text, b.text) <= 4
    """,
)
def dedup_fuzzy_edit_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = tables.load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    mutants = base.filter(
        (F.col("doc_id") % 9 == 0) & (F.length("text") > 40)
    ).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.expr("substr(text, 2)"), F.lit(" zz")).alias("text"),
    )
    corpus = base.select("doc_id", "text").unionByName(mutants)
    blk = F.array_join(
        F.slice(tokens(F.col("text")), 2, 4), " "
    ).alias("blk")
    return fuzzy_edit_match(
        corpus.select("doc_id", "text", blk),
        "text",
        "doc_id",
        ["blk"],
        max_edits=4,
    )


# Fuzzy-match blocking-key recall eval (round 14, VERDICT r13 item 6;
# widened to the WIDTH FRONTIER in round 15 per VERDICT r14 item 6):
# dedup_fuzzy_edit_match is EXACT within blocks, but its recall IS the
# blocking key — this entry measures that trade the way
# ann_multiprobe_recall prices LSH probe rings: one row per
# (strategy, width) for width 2..8, both strategies priced from a
# single corpus scan each (token-window candidates NEST decreasing in
# width, SNM candidates cumulate increasing — see
# fuzzy_blocking_frontier's monotonicity argument). The fixture
# plants two mutant classes on a deterministic 1/7 document sample:
# HEAD mutants (first char deleted — outside the token window, so the
# token-window key survives; teleports the record in sort order, so
# sorted-neighborhood misses) and IN-WINDOW mutants (one substitution
# at char 11 — usually inside tokens 2..5, so narrow token-window
# keys break; the 10-char sort prefix survives, so sorted-
# neighborhood catches). Ground truth is brute-force within the
# sample, distributed over bucket-pair equi keys (never a Cartesian
# plan). The oracle is an INDEPENDENT all-pairs-per-width
# formulation: DuckDB native levenshtein truth, per-width list-slice
# equality for the token arm, a rank-distance join for the SNM arm —
# it never replays the maxw/explode protocol, so a monotonicity bug
# in the single-scan trick cannot cancel.
@q(
    "fuzzy_blocking_recall_eval",
    """
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
    ),
    sample AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT doc_id + 3000000, substr(text, 2)
      FROM base WHERE doc_id % 14 = 0 AND length(text) > 40
      UNION ALL
      SELECT doc_id + 6000000,
             substr(text, 1, 10) || 'q' || substr(text, 12)
      FROM base WHERE doc_id % 14 = 7 AND length(text) > 40
    ),
    keyed AS (
      SELECT doc_id, text, length(text) AS len,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM sample
    ),
    truth AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM keyed a JOIN keyed b
        ON a.doc_id < b.doc_id AND abs(a.len - b.len) <= 4
      WHERE levenshtein(a.text, b.text) <= 4
    ),
    widths AS (
      SELECT CAST(range AS INTEGER) AS width FROM range(2, 9)
    ),
    tw AS (
      SELECT w.width, a.doc_id AS a, b.doc_id AS b
      FROM keyed a JOIN keyed b ON a.doc_id < b.doc_id
      CROSS JOIN widths w
      WHERE list_slice(a.toks, 2, w.width + 1)
              = list_slice(b.toks, 2, w.width + 1)
    ),
    ranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY array_to_string(toks, ' '), doc_id) AS rk
      FROM keyed
    ),
    snm AS (
      SELECT w.width,
             LEAST(a.doc_id, b.doc_id) AS a,
             GREATEST(a.doc_id, b.doc_id) AS b
      FROM ranked a JOIN ranked b
        ON b.rk > a.rk AND b.rk - a.rk <= 7
      CROSS JOIN widths w
      WHERE b.rk - a.rk <= w.width - 1
    ),
    nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM keyed),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth),
    anchor AS (
      SELECT 'brute_truth' AS strategy, CAST(0 AS INTEGER) AS width
      UNION ALL
      SELECT s.strategy, w.width
      FROM (VALUES ('token_window'), ('sorted_neighborhood'))
           s(strategy)
      CROSS JOIN widths w
    ),
    cand AS (
      SELECT 'brute_truth' AS strategy, CAST(0 AS INTEGER) AS width,
             CAST(n * (n - 1) // 2 AS BIGINT) AS n_candidates FROM nk
      UNION ALL
      SELECT 'token_window', width, CAST(COUNT(*) AS BIGINT)
      FROM tw GROUP BY width
      UNION ALL
      SELECT 'sorted_neighborhood', width, CAST(COUNT(*) AS BIGINT)
      FROM snm GROUP BY width
    ),
    mt AS (
      SELECT 'brute_truth' AS strategy, CAST(0 AS INTEGER) AS width,
             CAST(COUNT(*) AS BIGINT) AS n_matched FROM truth
      UNION ALL
      SELECT 'token_window', width, CAST(COUNT(*) AS BIGINT)
      FROM tw WHERE EXISTS (SELECT 1 FROM truth t
                            WHERE t.a = tw.a AND t.b = tw.b)
      GROUP BY width
      UNION ALL
      SELECT 'sorted_neighborhood', width, CAST(COUNT(*) AS BIGINT)
      FROM snm WHERE EXISTS (SELECT 1 FROM truth t
                             WHERE t.a = snm.a AND t.b = snm.b)
      GROUP BY width
    )
    SELECT an.strategy, an.width, nt.n_true,
           CAST(COALESCE(c.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
           CASE WHEN nt.n_true > 0
                THEN CAST(1000 * COALESCE(m.n_matched, 0) // nt.n_true
                          AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS recall_permille
    FROM anchor an
    LEFT JOIN cand c
      ON an.strategy = c.strategy AND an.width = c.width
    LEFT JOIN mt m
      ON an.strategy = m.strategy AND an.width = m.width, nt
    """,
)
def fuzzy_blocking_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = tables.load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 7 == 0
    )
    long_enough = F.length("text") > 40
    head_mut = base.filter((F.col("doc_id") % 14 == 0) & long_enough).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.expr("substr(text, 2)").alias("text"),
    )
    win_mut = base.filter((F.col("doc_id") % 14 == 7) & long_enough).select(
        (F.col("doc_id") + 6000000).alias("doc_id"),
        F.concat(
            F.expr("substr(text, 1, 10)"),
            F.lit("q"),
            F.expr("substr(text, 12)"),
        ).alias("text"),
    )
    sample = (
        base.select("doc_id", "text")
        .unionByName(head_mut)
        .unionByName(win_mut)
    )
    return fuzzy_blocking_frontier(
        sample, "text", "doc_id", max_edits=4, min_width=2, max_width=8
    )
