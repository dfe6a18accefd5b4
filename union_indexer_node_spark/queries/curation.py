"""Curation entries: line- and URL-level cleanup, PII scrub, keyword
tags, domain mixes, quality gates, audits, the corpus diff and the
diff-driven index chains, and the end-to-end curation pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..pipelines.curation import (
    adaptive_quality_gate,
    column_profile,
    corpus_diff,
    dedup_lines_within_doc,
    domain_mixture_weights,
    keyword_tag,
    ngram_novelty,
    referential_audit,
    remove_frequent_lines,
    repetition_stats,
    scrub_pii,
    source_scorecard,
    stratified_sample,
    url_dedup,
)
from ..pipelines.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signature,
    token_count,
    update_minhash_index,
)
from ..pipelines.search import bm25_index, bm25_index_merge
from . import q
from .shared import _SHINGLE_SIG_CTE, _TOKS_CTE


# The curation pipeline in ONE plan: language gate + quality gate +
# near-dup removal -> per-source corpus stats. This is the shape a
# pre-training data job takes at 100 TB: all gates are map-side
# expressions over one scan; the only shuffles are the LSH bucket join
# and the final per-source aggregate.
@q(
    "pipeline_corpus_curation",
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
      SELECT c.b
      FROM cand c JOIN shset sa ON sa.doc_id = c.a
                  JOIN shset sb ON sb.doc_id = c.b
      WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
            >= 0.7
    ),
    gated AS (
      SELECT d.doc_id, d.source, len(t.toks) AS n_tokens
      FROM documents d JOIN toks t USING (doc_id)
      WHERE len(t.toks) >= 20
        AND d.doc_id NOT IN (SELECT b FROM near)
    )
    SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_tokens), 4) AS avg_tokens
    FROM gated GROUP BY source ORDER BY source
    """,
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(
        d, "text", "doc_id", k=8, bands=4, shingle_n=3
    ).localCheckpoint()
    near = jaccard_pairs(
        d, d, cand, "text", "doc_id", shingle_n=3, prune=True
    ).filter(F.col("jaccard") >= 0.7)
    gated = (
        d.select("doc_id", "source", token_count(F.col("text")).alias("n_tokens"))
        .filter(F.col("n_tokens") >= 20)
        .join(near.select(F.col("b").alias("doc_id")), "doc_id", "left_anti")
    )
    return (
        gated.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
        .orderBy("source")
    )


# Gopher-style repetition/boilerplate signals
@q(
    "text_repetition_stats",
    f"""
    WITH {_TOKS_CTE.strip()},
    base AS (
      SELECT doc_id, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct
      FROM toks
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS g
      FROM toks
    ),
    counts AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
    top AS (
      SELECT doc_id, MAX(c) AS top_cnt, SUM(c) AS total_g
      FROM counts GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           ROUND(CASE WHEN b.n_tokens > 0
                 THEN 1 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens
                 ELSE 0 END, 6) AS dup_token_ratio,
           ROUND(COALESCE(CAST(t.top_cnt AS DOUBLE) / t.total_g, 0), 6)
             AS top_bigram_ratio
    FROM base b LEFT JOIN top t USING (doc_id)
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return repetition_stats(d, "text", "doc_id")


# PII scrub over deterministically injected PII (the synthetic corpus
# carries none; the injection is part of the QUERY, the scrub operator
# itself is generic — pipelines/curation.py:scrub_pii)
@q(
    "text_pii_scrub",
    """
    WITH with_pii AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 5 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567' ELSE '' END
               AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS n_emails,
           len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
           md5(regexp_replace(
                 regexp_replace(text,
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                 '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_hash
    FROM with_pii
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" call 555-123-4567")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return scrub_pii(injected, "text", "doc_id").select(
        "doc_id", "n_emails", "n_phones", "scrubbed_hash"
    )


# Domain-mixture weights (temperature-style, alpha=0.5)
@q(
    "pipeline_domain_mix",
    """
    WITH per AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')))
               AS BIGINT) AS total_tokens
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, total_tokens,
           ROUND(POWER(CAST(total_tokens AS DOUBLE), 0.5)
                 / SUM(POWER(CAST(total_tokens AS DOUBLE), 0.5)) OVER (), 6)
             AS mix_weight
    FROM per ORDER BY source
    """,
)
def pipeline_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return domain_mixture_weights(d, "source", "text", alpha=0.5)


# Deterministic stratified sampling (md5-order draw, 20 per source)
@q(
    "sample_stratified",
    """
    SELECT doc_id, source, draw_rank FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS draw_rank
      FROM documents
    ) WHERE draw_rank <= 20
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return stratified_sample(d, "source", "doc_id", per_stratum=20)


# Per-source adaptive quality gate: the FineWeb-style per-domain
# threshold rule — gate each doc against its OWN source's p25 token
# count, not a global cutoff.
@q(
    "pipeline_adaptive_quality_gate",
    f"""
    WITH {_TOKS_CTE.strip()},
    n AS (
      SELECT t.doc_id, d.source,
             CAST(COALESCE(len(t.toks), 0) AS BIGINT) AS n_tokens
      FROM toks t JOIN documents d USING (doc_id)
    ),
    thr AS (
      SELECT source,
             ROUND(quantile_cont(CAST(n_tokens AS DOUBLE), 0.25), 4) AS thr
      FROM n GROUP BY source
    )
    SELECT n.doc_id, n.source, n.n_tokens, thr.thr,
           CAST(n.n_tokens AS DOUBLE) >= thr.thr AS kept
    FROM n JOIN thr USING (source)
    """,
)
def pipeline_adaptive_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return adaptive_quality_gate(d, "text", "doc_id", "source", p=0.25)


# Deequ-style column profile: one aggregate pass + stack unpivot.
@q(
    "pipeline_column_profile",
    """
    SELECT 'event_type' AS column_name, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
           COUNT(DISTINCT event_type) AS n_distinct
    FROM events
    UNION ALL
    SELECT 'user_id', COUNT(*),
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT user_id)
    FROM events
    UNION ALL
    SELECT 'value', COUNT(*),
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT value)
    FROM events
    UNION ALL
    SELECT 'props', COUNT(*),
           CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT props)
    FROM events
    """,
)
def pipeline_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    return column_profile(e, ["event_type", "user_id", "value", "props"])


# §2.7 set-operation completion: INTERSECT / EXCEPT over two curation
# gates (U covered union; these are the other two members). doc_id is
# unique, so INTERSECT == INTERSECT ALL and the result is a partition
# of the union into both/only_a/only_b.
@q(
    "setop_intersect_except",
    """
    WITH a AS (
      SELECT doc_id FROM documents
      WHERE len(list_filter(regexp_split_to_array(lower(text),
                '[^a-z0-9]+'), x -> x <> '')) >= 50
    ),
    b AS (SELECT doc_id FROM documents WHERE lang = 'en')
    SELECT doc_id, 'both' AS membership FROM (
      SELECT doc_id FROM a INTERSECT SELECT doc_id FROM b)
    UNION ALL
    SELECT doc_id, 'only_a' FROM (
      SELECT doc_id FROM a EXCEPT SELECT doc_id FROM b)
    UNION ALL
    SELECT doc_id, 'only_b' FROM (
      SELECT doc_id FROM b EXCEPT SELECT doc_id FROM a)
    """,
)
def setop_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    a = d.filter(token_count(F.col("text")) >= 50).select("doc_id")
    b = d.filter(F.col("lang") == "en").select("doc_id")
    return (
        a.intersect(b).withColumn("membership", F.lit("both"))
        .unionByName(a.exceptAll(b).withColumn("membership", F.lit("only_a")))
        .unionByName(b.exceptAll(a).withColumn("membership", F.lit("only_b")))
    )


# Corpus snapshot diff (round 11): the
# per-ingest-cycle audit that produces the delta the incremental
# index-maintenance family consumes. Fixture: old = docs with 1/3
# carrying stale text and 1/7 missing; new = current docs with 1/5
# extra ids — every status arm populated.
@q(
    "pipeline_corpus_diff",
    """
    WITH old AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 3 = 0
                 THEN text || ' stale' ELSE text END) AS old_hash
      FROM documents WHERE doc_id % 7 <> 0
    ),
    new AS (
      SELECT doc_id, md5(text) AS new_hash FROM documents
      UNION ALL
      SELECT doc_id + 1000000, md5(text || ' v2') FROM documents
      WHERE doc_id % 5 = 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.old_hash = n.new_hash THEN 'unchanged'
                ELSE 'changed' END AS status,
           o.old_hash, n.new_hash
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    """,
)
def pipeline_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" stale"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    new = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" v2")).alias("text"),
        )
    )
    return corpus_diff(old, new, "doc_id", "text")


# Intra-document repeated-line removal (round 11): the C4 within-page
# boilerplate cut, complementing the corpus-level passage/span family.
# Fixture injects duplicated lines (nav-row style) around the original
# text for 1/6 of docs.
@q(
    "curation_dedup_lines_within_doc",
    """
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 6 = 0 THEN
               'nav row' || chr(10) || text || chr(10) || 'nav row'
               || chr(10) || '  nav row ' || chr(10) || text
             ELSE text END AS text
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             string_split(text, chr(10)) AS ls,
             list_transform(string_split(text, chr(10)),
                            x -> trim(x)) AS norm
      FROM aug
    ),
    k AS (
      SELECT doc_id, ls, norm,
             list_filter(ls, (x, i) ->
               list_position(norm, norm[i]) = i) AS kept
      FROM s
    )
    SELECT doc_id,
           array_to_string(kept, chr(10)) AS cleaned_text,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(ls) - len(kept) AS BIGINT) AS n_removed_lines
    FROM k
    """,
)
def curation_dedup_lines_within_doc(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(
                F.lit("nav row\n"), F.col("text"), F.lit("\nnav row"),
                F.lit("\n  nav row \n"), F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dedup_lines_within_doc(aug, "text", "doc_id")


# Diff-driven index chains: ``corpus_diff`` computes the delta between
# two corpus versions, the delta feeds the index maintainer, and the
# chained result must hash-match a from-scratch build over the evolved
# corpus, so an ingest cycle does O(changed docs) index work. Shared
# fixture (every diff status populated):
# - old = documents with 1/3 carrying ' stale' text (-> changed) plus
#   1/11 extra legacy ids (doc_id + 2000000, -> removed);
# - new = current documents plus 1/5 extra v2 ids (doc_id + 1000000,
#   -> added); the rest unchanged.
# The delta the chain feeds is new text for changed/added ids and empty
# text for removed ids (the deletion encoding of update_minhash_index
# and the zero-token drop of bm25_index).
#
# The evolved corpus, as each engine sees it. 1000000/2000000 offsets
# keep synthetic ids disjoint from real doc_ids at any test SF.
_NEWC_CTE = """
newc AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' v2' AS text
  FROM documents WHERE doc_id % 5 = 0
)
"""


def _old_new(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    did = F.col("doc_id")
    old = d.select(
        "doc_id",
        F.when(did % 3 == 0, F.concat(F.col("text"), F.lit(" stale")))
        .otherwise(F.col("text"))
        .alias("text"),
    ).unionByName(
        d.filter(did % 11 == 0).select(
            (did + 2000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" legacy")).alias("text"),
        )
    )
    new = d.select("doc_id", "text").unionByName(
        d.filter(did % 5 == 0).select(
            (did + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" v2")).alias("text"),
        )
    )
    return old, new


def _diff_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """corpus_diff -> the delta frame the index maintainers consume:
    (id, new text) for changed/added, (id, '') for removed. The diff
    is the ONLY driver — nothing downstream re-reads the old corpus."""
    # The full-outer digest diff is corpus-wide; its filtered residue is
    # delta-sized. WITHOUT materialization every downstream consumer
    # (upserts semi-join, removed arm, the merge's anti-join id probe)
    # re-derives the whole diff tree — the r15 before-plan of
    # pipeline_diff_bm25_chain carried SIX copies of the FullOuter
    # SortMergeJoin. One localCheckpoint runs the diff once (guide
    # §2.4: remove shuffles outright / §3.3: materialize shared
    # intermediates to truncate duplicated subtrees).
    diff = (
        corpus_diff(old, new, "doc_id", "text")
        .filter(F.col("status") != "unchanged")
        .localCheckpoint()
    )
    # delta-sized by construction (changed+added ids) — broadcast so
    # the corpus side never shuffles for the semi-join
    upserts = new.join(
        F.broadcast(
            diff.filter(F.col("status").isin("changed", "added")).select(
                "doc_id"
            )
        ),
        "doc_id",
        "left_semi",
    )
    removed = (
        diff.filter(F.col("status") == "removed")
        .select("doc_id")
        .withColumn("text", F.lit(""))
    )
    # delta-sized too; both index-merge chains consume it twice (the
    # fresh tokenize pass AND the anti-join id probe), so materialize
    # once — otherwise the `new` corpus scan behind `upserts` runs per
    # consumer.
    return upserts.unionByName(removed).localCheckpoint()


# corpus_diff -> bm25_index_merge, end-to-end: build the index over the
# OLD corpus, fold only the diff-derived delta, and the maintained
# (postings, doclens) must equal a fresh bm25_index over the NEW corpus
# — stale rows gone (changed docs), legacy ids gone (removed docs), v2
# ids present (added docs). Oracle = per-doc stats of the fresh build.
@q(
    "pipeline_diff_bm25_chain",
    f"""
    WITH {_NEWC_CTE.strip()},
    toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM newc
    ),
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
def pipeline_diff_bm25_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    old, new = _old_new(d)
    postings, doclens = bm25_index(old, "text", "doc_id")
    delta = _diff_delta(old, new)
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


# corpus_diff -> update_minhash_index, end-to-end: same chain for the
# dedup layer's signature table — the maintained index must hash-match
# minhash_signature over the NEW corpus row-for-row (k=8 hash windows).
@q(
    "pipeline_diff_minhash_chain",
    f"""
    WITH {_NEWC_CTE.strip()},
    toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM newc
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
def pipeline_diff_minhash_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    old, new = _old_new(d)
    index = minhash_signature(old, "text", "doc_id")
    delta = _diff_delta(old, new)
    return update_minhash_index(index, delta, "text", "doc_id")


# Corpus-wide frequent-line removal (round 12): the RefinedWeb/CCNet
# boilerplate cut. Fixture injects a banner line into half the corpus
# (removed everywhere, incl. from docs where it IS half the content) and
# a rare disclaimer into 1/97 (below min_docs -> kept); the synthetic
# corpus's own cross-doc repeated lines flag organically and the oracle
# mirrors them.
@q(
    "curation_remove_frequent_lines",
    """
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN 'join our newsletter today' || chr(10) || text
                  ELSE text END AS t0
      FROM documents
    ),
    aug2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 97 = 0
                  THEN t0 || chr(10) || 'rare disclaimer line'
                  ELSE t0 END AS text
      FROM aug
    ),
    s AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug2),
    l0 AS (
      SELECT doc_id, unnest(ls) AS line,
             unnest(generate_series(1, len(ls))) AS i
      FROM s
    ),
    l AS (SELECT doc_id, line, i, trim(line) AS norm FROM l0),
    flagged AS (
      SELECT norm
      FROM (SELECT DISTINCT norm, doc_id FROM l WHERE norm <> '')
      GROUP BY norm HAVING COUNT(*) >= 10
    ),
    kept AS (
      SELECT * FROM l WHERE norm NOT IN (SELECT norm FROM flagged)
    ),
    reb AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY i) AS cleaned_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(r.cleaned_text, '') AS cleaned_text,
           CAST(t.n_lines AS BIGINT) AS n_lines,
           CAST(t.n_lines - COALESCE(r.n_kept, 0) AS BIGINT)
             AS n_removed_lines
    FROM tot t LEFT JOIN reb r USING (doc_id)
    """,
)
def curation_remove_frequent_lines(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t0 = F.when(
        did % 2 == 0,
        F.concat(F.lit("join our newsletter today\n"), F.col("text")),
    ).otherwise(F.col("text"))
    t1 = F.when(
        did % 97 == 0, F.concat(t0, F.lit("\nrare disclaimer line"))
    ).otherwise(t0)
    aug = d.select("doc_id", t1.alias("text"))
    return remove_frequent_lines(aug, "text", "doc_id", min_docs=10)


# Dictionary phrase tagging (round 13): FlashText/Aho–Corasick
# semantics — every occurrence of every dictionary phrase
# (word-boundary exact, case-folded, overlapping counted) — as
# per-length gram enumeration + ONE broadcast equi-join, never a
# contains-BNLJ. The fixture dictionary mixes single words, two
# bigrams, a trigram (exercising three distinct gram passes) and a
# never-matching phrase (absence must agree cross-engine).
_KW_DICT = (
    ("engine", "spark"),
    ("engine", "vector"),
    ("join_algo", "hash join"),
    ("join_algo", "sort merge join"),
    ("scan_op", "table scan"),
    ("absent", "quantum flux"),
)


_KW_DICT_VALUES = ", ".join(f"('{t}', '{p}')" for t, p in _KW_DICT)


_ORACLE_TOKS = (
    "list_filter(string_split_regex(lower(coalesce({col}, '')),"
    " '[^a-z0-9]+'), x -> x <> '')"
)


@q(
    "curation_keyword_tag",
    f"""
    WITH dict(tag, phrase) AS (VALUES {_KW_DICT_VALUES}),
    dn AS (
      SELECT tag,
             array_to_string({_ORACLE_TOKS.format(col="phrase")}, ' ')
               AS pnorm,
             len({_ORACLE_TOKS.format(col="phrase")}) AS plen
      FROM dict
    ),
    t AS (
      SELECT doc_id, {_ORACLE_TOKS.format(col="text")} AS toks
      FROM documents
    ),
    m AS (
      -- match positions as a per-(doc, phrase) lambda filter: DuckDB's
      -- binder can't resolve a LATERAL (or an unnest projection)
      -- correlated to TWO from-items, but a list lambda binds both
      SELECT t.doc_id, d.tag,
             list_filter(generate_series(1, len(t.toks) - d.plen + 1),
               i -> array_to_string(t.toks[i : i + d.plen - 1], ' ')
                      = d.pnorm) AS ps
      FROM t, dn d
    )
    SELECT doc_id, tag, CAST(SUM(len(ps)) AS BIGINT) AS n_matches,
           CAST(MIN(ps[1]) AS BIGINT) AS first_pos
    FROM m WHERE len(ps) > 0
    GROUP BY doc_id, tag
    """,
)
def curation_keyword_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    dictionary = spark.createDataFrame(
        list(_KW_DICT), "tag string, phrase string"
    )
    return keyword_tag(d, dictionary, "text", "doc_id")


# First-occurrence n-gram novelty (round 13): per-document fraction of
# distinct bigrams unseen in any smaller-id document — the continuous
# "how much of this page is new text" curation signal (contamination
# measures overlap vs a benchmark; this is overlap vs the corpus's own
# past). Integer permille so both engines agree bit-for-bit.
@q(
    "curation_ngram_novelty",
    f"""
    WITH t AS (
      SELECT doc_id, {_ORACLE_TOKS.format(col="text")} AS toks
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i + 1])) AS gram
        FROM t WHERE len(toks) >= 2)
    ),
    f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
    SELECT g.doc_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST((1000 * SUM(CASE WHEN f.first_doc = g.doc_id
                                 THEN 1 ELSE 0 END)) // COUNT(*)
                AS BIGINT) AS novelty_permille
    FROM g JOIN f USING (gram)
    GROUP BY g.doc_id
    """,
)
def curation_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return ngram_novelty(d, "text", "doc_id", n=2)


# URL canonicalization + exact URL dedup (round 13): the CommonCrawl-
# frontier identity operator — scheme/host case folding, www. strip,
# default-port drop, trailing-slash strip, tracking-param removal
# (order-preserving), fragment drop. The fixture builds messy URLs
# from doc_id arithmetic (mixed-case scheme/host, www variants,
# matching default ports, trailing slashes, utm_/fbclid noise,
# fragments); the oracle is INDEPENDENT — it derives each URL's
# canonical form from the same arithmetic directly instead of
# replaying the regex pipeline, so a canonicalizer bug cannot cancel
# itself out of the comparison.
@q(
    "curation_url_dedup",
    """
    SELECT 'http' || CASE WHEN doc_id % 2 = 0 THEN 's' ELSE '' END
             || '://example.com/Page/' || CAST(doc_id % 101 AS VARCHAR)
             || '?q=spark' AS canonical_url,
           MIN(doc_id) AS keeper_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def curation_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    scheme = F.when(did % 2 == 0, "https").otherwise("HTTP")
    www = (
        F.when(did % 4 == 0, "WWW.").when(did % 4 == 1, "www.").otherwise("")
    )
    port = F.when(
        did % 5 == 0, F.when(did % 2 == 0, ":443").otherwise(":80")
    ).otherwise("")
    trail = F.when(did % 7 == 0, "/").otherwise("")
    frag = F.when(did % 6 == 0, "#ref").otherwise("")
    messy = F.concat(
        scheme,
        F.lit("://"),
        www,
        F.lit("Example.COM"),
        port,
        F.lit("/Page/"),
        (did % 101).cast("string"),
        trail,
        F.lit("?utm_source=feed&q=spark&fbclid="),
        did.cast("string"),
        frag,
    )
    return url_dedup(d.select("doc_id", messy.alias("url")), "url", "doc_id")


# Referential-integrity audit (round 13): column_profile's relational
# sibling — per (child.fk -> parent.pk) relation: row count, NULL fks,
# and ORPHANS via a NULL-salted LEFT join against the DISTINCT parent
# keys with a hit indicator feeding one aggregate (the distinct
# pre-pass is what stops duplicated parent keys double-counting
# children; ADVICE r13 fixed the stale 'left_anti' wording here). The
# fixture plants orphans by shrinking the parent side (customers with
# c_custkey % 7 = 0 "lost"), alongside the intact lineitem -> orders
# relation as the healthy control.
@q(
    "quality_referential_audit",
    """
    WITH parent AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_custkey % 7 <> 0
    ),
    r1 AS (
      SELECT 'orders.custkey->customer' AS relation,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_null_fk,
             CAST(SUM(CASE WHEN o_custkey IS NOT NULL
                            AND o_custkey NOT IN (SELECT c_custkey
                                                  FROM parent)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
      FROM orders
    ),
    op AS (SELECT DISTINCT o_orderkey FROM orders),
    r2 AS (
      SELECT 'lineitem.orderkey->orders' AS relation,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_null_fk,
             CAST(SUM(CASE WHEN l_orderkey IS NOT NULL
                            AND l_orderkey NOT IN (SELECT o_orderkey
                                                   FROM op)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
      FROM lineitem
    )
    SELECT * FROM r1 UNION ALL SELECT * FROM r2
    """,
)
def quality_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tables.load(spark, sf_dir, "orders")
    cust = tables.load(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 7 != 0
    )
    li = tables.load(spark, sf_dir, "lineitem")
    return referential_audit(
        [
            ("orders.custkey->customer", orders, "o_custkey", cust,
             "c_custkey"),
            ("lineitem.orderkey->orders", li, "l_orderkey", orders,
             "o_orderkey"),
        ]
    )


# Per-source scorecard (round 13): the composition capstone — the
# one-page report an ingest gate reads per crawl slice, every column
# integer permille/count so it reproduces on any engine and any
# partitioning: doc count, exact-dup rate (planted: every 4th doc
# re-ingested under a new id), mean token entropy, short-doc rate,
# mean length. Composes token_entropy + the exact_dedup digest
# identity; report frame is |sources| rows.
@q(
    "pipeline_source_scorecard",
    """
    WITH all_docs AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text, source FROM documents
      WHERE doc_id % 4 = 0
    ),
    t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM all_docs
    ),
    c AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t WHERE len(toks) >= 1)
      GROUP BY 1, 2
    ),
    per AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(c * log2(c) * 10000, 0) AS BIGINT))
                  AS BIGINT) AS tsum
      FROM c GROUP BY 1
    ),
    e AS (
      SELECT doc_id,
             CAST((1000 * (CAST(ROUND(n * log2(n) * 10000, 0) AS BIGINT)
                           - tsum)) // (n * 10000) AS BIGINT) AS ep
      FROM per
    ),
    es AS (
      SELECT d.source, CAST(SUM(e.ep) AS BIGINT) AS se,
             CAST(COUNT(*) AS BIGINT) AS ne
      FROM e JOIN all_docs d USING (doc_id) GROUP BY 1
    ),
    bs AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS nd,
             CAST(SUM(CASE WHEN length(text) < 100 THEN 1 ELSE 0 END)
                  AS BIGINT) AS shorts,
             CAST(SUM(length(text)) AS BIGINT) AS chars
      FROM all_docs GROUP BY 1
    )
    SELECT bs.source, bs.n_docs,
           CAST((1000 * (bs.n_docs - bs.nd)) // bs.n_docs AS BIGINT)
             AS dup_permille,
           CAST(COALESCE(es.se // es.ne, 0) AS BIGINT)
             AS mean_entropy_permille,
           CAST((1000 * bs.shorts) // bs.n_docs AS BIGINT)
             AS short_permille,
           CAST(bs.chars // bs.n_docs AS BIGINT) AS mean_chars
    FROM bs LEFT JOIN es ON es.source = bs.source
    """,
)
def pipeline_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = tables.load(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    dups = base.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "source"
    )
    return source_scorecard(
        base.unionByName(dups), "text", "doc_id", "source"
    )
