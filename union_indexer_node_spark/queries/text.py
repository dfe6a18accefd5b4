"""Text-statistics entries: quality features and classifiers,
language id, char-LM scoring, BPE and unigram tokenizers, TF-IDF and
token entropy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..pipelines.dedup import (
    pieces_tokens,
    pre_scrub,
    token_count,
    token_pieces,
    tokens,
)
from ..pipelines.textstats import (
    bpe_encode,
    bpe_pair_counts,
    bpe_train_merges,
    ccnet_buckets,
    char_lm_quality,
    detect_language,
    detect_language_ngram,
    fingerprint,
    gopher_quality_gate,
    hashed_ngram_weights,
    language_consistency,
    length_percentiles,
    quality_classifier_score,
    quality_features,
    tfidf_topk,
    token_entropy,
    unigram_encode,
    unigram_lm_train,
    vocabulary_topk,
)
from . import q, registry
from .shared import _TOKS_CTE


_BPE_RE = r"'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+"


def _bpe_train_oracle(k: int) -> str:
    """Unrolled k-iteration BPE-training recurrence (the
    sim_kmeans_clusters oracle pattern): v_{i+1} applies the top pair
    of v_i via the same word-boundary-anchored regexp merge the engine
    uses; the result is the merge table itself, so a wrong count, a
    broken tiebreak, or a divergent merge in ANY iteration mismatches."""
    parts = [
        """
    WITH v0 AS (
      SELECT array_to_string(regexp_extract_all(w, '.'), ' ') AS ws, wf
      FROM (SELECT w, COUNT(*) AS wf
            FROM (SELECT unnest(list_filter(
                     regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '')) AS w
                  FROM documents)
            GROUP BY w)
    )"""
    ]
    for i in range(k):
        parts.append(
            f""",
    p{i} AS (
      SELECT s[j] AS a, s[j + 1] AS b, SUM(wf) AS c
      FROM (SELECT string_split(ws, ' ') AS s, wf FROM v{i}),
           LATERAL (SELECT UNNEST(generate_series(1, len(s) - 1)) AS j) g
      WHERE len(s) >= 2
      GROUP BY 1, 2
    ),
    t{i} AS (SELECT a, b, c FROM p{i} ORDER BY c DESC, a, b LIMIT 1)"""
        )
        if i < k - 1:
            parts.append(
                f""",
    v{i + 1} AS (
      SELECT regexp_replace(ws, '\\b' || t.a || ' ' || t.b || '\\b',
                            t.a || t.b, 'g') AS ws, wf
      FROM v{i}, t{i} t
    )"""
            )
    selects = [
        f"""SELECT {i} AS merge_idx, a AS pair_left, b AS pair_right,
           a || b AS merged, CAST(c AS BIGINT) AS pair_count FROM t{i}"""
        for i in range(k)
    ]
    return "".join(parts) + "\n    " + "\n    UNION ALL\n    ".join(selects)


def _bpe_encode_oracle(k: int) -> str:
    """Train-then-ENCODE recurrence: the same unrolled k-iteration
    trainer as _bpe_train_oracle but with the word carried through
    every vocab CTE, finishing with the (word → post-merge symbol
    count) join that prices each document in learned-BPE tokens."""
    parts = [
        """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    wordocc AS (
      SELECT doc_id, unnest(toks) AS w FROM t
    ),
    v0 AS (
      SELECT w, array_to_string(regexp_extract_all(w, '.'), ' ') AS ws, wf
      FROM (SELECT w, COUNT(*) AS wf FROM wordocc GROUP BY w)
    )"""
    ]
    for i in range(k):
        parts.append(
            f""",
    p{i} AS (
      SELECT s[j] AS a, s[j + 1] AS b, SUM(wf) AS c
      FROM (SELECT string_split(ws, ' ') AS s, wf FROM v{i}),
           LATERAL (SELECT UNNEST(generate_series(1, len(s) - 1)) AS j) g
      WHERE len(s) >= 2
      GROUP BY 1, 2
    ),
    t{i} AS (SELECT a, b, c FROM p{i} ORDER BY c DESC, a, b LIMIT 1),
    v{i + 1} AS (
      SELECT w, regexp_replace(ws, '\\b' || tt.a || ' ' || tt.b || '\\b',
                               tt.a || tt.b, 'g') AS ws, wf
      FROM v{i}, t{i} tt
    )"""
        )
    parts.append(
        f""",
    enc AS (SELECT w, len(string_split(ws, ' ')) AS n_syms FROM v{k}),
    occ AS (SELECT doc_id, w, COUNT(*) AS c FROM wordocc GROUP BY 1, 2),
    per AS (
      SELECT occ.doc_id, SUM(occ.c) AS n_words,
             SUM(occ.c * enc.n_syms) AS n_bpe
      FROM occ JOIN enc USING (w) GROUP BY occ.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(per.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
    FROM documents d LEFT JOIN per USING (doc_id)"""
    )
    return "".join(parts)


# --- text analysis ----------------------------------------------------------
@q(
    "text_quality_features",
    f"""
    WITH {_TOKS_CTE.strip()}
    SELECT d.doc_id,
           len(t.toks) AS n_tokens,
           length(d.text) AS n_chars,
           ROUND(CASE WHEN len(t.toks) > 0
                 THEN CAST(list_sum(list_transform(t.toks, x -> length(x))) AS DOUBLE)
                      / len(t.toks) ELSE 0.0 END, 6) AS avg_token_len,
           ROUND(CASE WHEN len(t.toks) > 0
                 THEN CAST(len(list_intersect(list_distinct(t.toks),
                      ['the','and','of','to','a','in','is'])) AS DOUBLE)
                      / len(t.toks) ELSE 0.0 END, 6) AS stopword_ratio,
           ROUND(CASE WHEN length(d.text) > 0
                 THEN CAST(length(d.text)
                      - length(regexp_replace(d.text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                      / length(d.text) ELSE 0.0 END, 6) AS punct_ratio,
           ROUND(LEAST(CAST(len(t.toks) AS DOUBLE) / 100, 1.0) * 0.5
                 + (CASE WHEN len(t.toks) > 0
                    THEN CAST(len(list_intersect(list_distinct(t.toks),
                         ['the','and','of','to','a','in','is'])) AS DOUBLE)
                         / len(t.toks) ELSE 0.0 END) * 0.3
                 + (1 - (CASE WHEN length(d.text) > 0
                    THEN CAST(length(d.text)
                         - length(regexp_replace(d.text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                         / length(d.text) ELSE 0.0 END)) * 0.2, 6) AS quality_score
    FROM documents d JOIN toks t USING (doc_id)
    """,
)
def text_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return quality_features(d, "text", "doc_id")


@q(
    "text_language_id",
    f"""
    WITH {_TOKS_CTE.strip()},
    scored AS (
      SELECT doc_id,
             len(list_intersect(list_distinct(toks),
                 ['the','and','of','to','a','in','is'])) AS score_en,
             len(list_intersect(list_distinct(toks),
                 ['el','la','de','que','y','en','un'])) AS score_es,
             len(list_intersect(list_distinct(toks),
                 ['le','la','de','et','un','une','dans'])) AS score_fr
      FROM toks
    )
    SELECT doc_id,
           CASE WHEN GREATEST(score_en, score_es, score_fr) = 0 THEN 'und'
                WHEN score_en = GREATEST(score_en, score_es, score_fr) THEN 'en'
                WHEN score_es = GREATEST(score_en, score_es, score_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred,
           score_en, score_es, score_fr
    FROM scored
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return detect_language(d, "text", "doc_id")


@q(
    "text_fingerprint",
    f"""
    WITH {_TOKS_CTE.strip()},
    sh AS (
      SELECT doc_id, list_distinct(
        list_transform(generate_series(1, len(toks) - 3),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
      ) AS sh
      FROM toks
    )
    SELECT d.doc_id, md5(d.text) AS content_hash,
           list_min(list_transform(s.sh, x -> md5(x))) AS min_shingle_hash
    FROM documents d JOIN sh s USING (doc_id)
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return fingerprint(d, "text", "doc_id", shingle_n=4)


# BPE-ish pre-tokenizer count (RE2-safe alternation — no lookaheads, so
# Java regex and DuckDB RE2 find identical non-overlapping matches).
@q(
    "text_bpe_token_count",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_RE.replace(chr(39), chr(39) * 2)}')) AS bpe_tokens,
           len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS ws_tokens
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0)).alias(
            "bpe_tokens"
        ),
        token_count(F.col("text")).alias("ws_tokens"),
    )


# Char-n-gram language ID (the classic n-gram-profile heuristic;
# complements the stopword variant in text_language_id)
@q(
    "text_language_id_ngram",
    """
    WITH tris AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(length(lower(text)) - 2, 0)),
               i -> substring(lower(text), i, 3))) AS t
      FROM documents
    ), scored AS (
      SELECT doc_id,
        len(list_intersect(t, ['the','he ',' th','ing','and','ion'])) AS score_en,
        len(list_intersect(t, ['de ',' de','os ','la ','ión','ent'])) AS score_es,
        len(list_intersect(t, ['es ',' de','de ','ent','le ','ion'])) AS score_fr
      FROM tris
    )
    SELECT doc_id,
           CASE WHEN GREATEST(score_en, score_es, score_fr) = 0 THEN 'und'
                WHEN score_en = GREATEST(score_en, score_es, score_fr) THEN 'en'
                WHEN score_es = GREATEST(score_en, score_es, score_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred,
           score_en, score_es, score_fr
    FROM scored
    """,
)
def text_language_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return detect_language_ngram(d, "text", "doc_id")


# Vocabulary head per source (tokenizer-training / stopword discovery)
@q(
    "text_vocab_topk_per_source",
    f"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                x -> x <> '')) AS token
      FROM documents
    ), counts AS (
      SELECT source, token, COUNT(*) AS n FROM tok GROUP BY source, token
    )
    SELECT source, rank, token, n FROM (
      SELECT source, token, n,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n DESC, token) AS rank
      FROM counts
    ) WHERE rank <= 10
    """,
)
def text_vocab_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return vocabulary_topk(d, "text", "source", k=10)


# Exact token-length percentiles per source (Spark percentile ==
# DuckDB quantile_cont, both linear interpolation) — the corpus audit
# that sizes chunking/packing budgets.
@q(
    "text_length_percentiles",
    f"""
    WITH {_TOKS_CTE.strip()}
    SELECT d.source, COUNT(*) AS n_docs,
           ROUND(quantile_cont(len(t.toks), 0.25), 4) AS p25,
           ROUND(quantile_cont(len(t.toks), 0.5), 4) AS p50,
           ROUND(quantile_cont(len(t.toks), 0.75), 4) AS p75,
           ROUND(quantile_cont(len(t.toks), 0.95), 4) AS p95
    FROM toks t JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
)
def text_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return length_percentiles(d, "text", "source")


# LM-based quality scoring: corpus-trained char-trigram model, add-k
# smoothed, scored in EXACT integer arithmetic (quantized probability
# q = scale*(C3+1) DIV (Cctx+k)) — no libm log, no float summation
# order, so the scores are bit-identical across engines. The model is
# |charset|^3 rows -> both count tables broadcast.
@q(
    "text_lm_quality_score",
    """
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, GREATEST(length(lower(text)) - 2, 0)),
               i -> substring(lower(text), i, 3))) AS gram
      FROM documents
    ),
    mn AS (SELECT gram, COUNT(*) AS cn FROM g GROUP BY gram),
    mc AS (SELECT substring(gram, 1, 2) AS ctx, COUNT(*) AS cctx
           FROM g GROUP BY ctx),
    scored AS (
      SELECT d.doc_id, COUNT(*) AS n_grams,
             CAST(SUM((1000000 * (mn.cn + 1)) // (mc.cctx + 1000))
                  AS BIGINT) AS score_sum
      FROM g d
      JOIN mn ON d.gram = mn.gram
      JOIN mc ON substring(d.gram, 1, 2) = mc.ctx
      GROUP BY d.doc_id
    )
    SELECT doc.doc_id,
           CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(s.score_sum, 0) AS BIGINT) AS score_sum,
           CAST(COALESCE(s.score_sum, 0) // GREATEST(COALESCE(s.n_grams, 0), 1)
                AS BIGINT) AS avg_q
    FROM documents doc LEFT JOIN scored s USING (doc_id)
    """,
)
def text_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return char_lm_quality(d, "text", "doc_id", n=3)


# Sampled-model arm: the LM trains on a deterministic md5 half-sample
# of the corpus (a quality SIGNAL doesn't need exact corpus counts),
# shrinking the model-pass explode — the dominant cost — by the rate.
# Grams unseen by the sampled model score with zero counts under the
# same add-k smoothing (left joins), so the oracle replays the exact
# same recurrence. The exact arm above stays the reference path.
@q(
    "text_lm_quality_sampled",
    """
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, GREATEST(length(lower(text)) - 2, 0)),
               i -> substring(lower(text), i, 3))) AS gram
      FROM documents
    ),
    samp AS (
      SELECT doc_id FROM documents
      WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                 AS BIGINT) / 4294967296.0 < 0.5
    ),
    mg AS (SELECT g.* FROM g JOIN samp USING (doc_id)),
    mn AS (SELECT gram, COUNT(*) AS cn FROM mg GROUP BY gram),
    mc AS (SELECT substring(gram, 1, 2) AS ctx, COUNT(*) AS cctx
           FROM mg GROUP BY ctx),
    -- per-gram q folded MODEL-side (mn JOIN mc), mirroring the
    -- engine's model_q: an unseen GRAM always takes the whole-q
    -- zero-count constant 1000000 // 1000, even when its CONTEXT was
    -- sampled — independent mn/mc left joins would score such grams
    -- 1000000 // (cctx + 1000) and diverge from the engine (ADVICE r7;
    -- masked at sf0.1 where the half-sample covered every doc trigram)
    q AS (
      SELECT mn.gram,
             (1000000 * (mn.cn + 1)) // (mc.cctx + 1000) AS q
      FROM mn JOIN mc ON substring(mn.gram, 1, 2) = mc.ctx
    ),
    scored AS (
      SELECT d.doc_id, COUNT(*) AS n_grams,
             CAST(SUM(COALESCE(q.q, 1000000 // 1000))
                  AS BIGINT) AS score_sum
      FROM g d
      LEFT JOIN q ON d.gram = q.gram
      GROUP BY d.doc_id
    )
    SELECT doc.doc_id,
           CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(s.score_sum, 0) AS BIGINT) AS score_sum,
           CAST(COALESCE(s.score_sum, 0) // GREATEST(COALESCE(s.n_grams, 0), 1)
                AS BIGINT) AS avg_q
    FROM documents doc LEFT JOIN scored s USING (doc_id)
    """,
)
def text_lm_quality_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return char_lm_quality(d, "text", "doc_id", n=3, model_sample_rate=0.5)


# Mixed-language detection: language-ID every non-overlapping 10-token
# chunk, report the majority language + the fraction of chunks that
# agree — code-switched documents score low where a whole-doc langid
# still produces one confident label. Tie rules mirrored exactly:
# per chunk the earlier profile wins, per doc higher count then
# lexicographically smaller language.
@q(
    "text_language_consistency",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    ch AS (
      SELECT doc_id,
             list_distinct(array_slice(toks, s, s + 9)) AS ctoks
      FROM t, LATERAL (SELECT UNNEST(generate_series(1, len(toks), 10))
                       AS s) g
      WHERE len(toks) >= 1
    ),
    sc AS (
      SELECT doc_id,
             len(list_intersect(ctoks,
                 ['the','and','of','to','a','in','is'])) AS s_en,
             len(list_intersect(ctoks,
                 ['el','la','de','que','y','en','un'])) AS s_es,
             len(list_intersect(ctoks,
                 ['le','la','de','et','un','une','dans'])) AS s_fr
      FROM ch
    ),
    lang AS (
      SELECT doc_id,
             CASE WHEN GREATEST(s_en, s_es, s_fr) = 0 THEN 'und'
                  WHEN s_en = GREATEST(s_en, s_es, s_fr) THEN 'en'
                  WHEN s_es = GREATEST(s_en, s_es, s_fr) THEN 'es'
                  ELSE 'fr' END AS lang
      FROM sc
    ),
    cnt AS (SELECT doc_id, lang, COUNT(*) AS c FROM lang GROUP BY 1, 2),
    tot AS (SELECT doc_id, SUM(c) AS n FROM cnt GROUP BY 1),
    maj AS (
      SELECT doc_id, lang AS majority_lang, c FROM cnt
      QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY c DESC, lang ASC) = 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(tot.n, 0) AS BIGINT) AS n_chunks,
           COALESCE(maj.majority_lang, 'und') AS majority_lang,
           ROUND(COALESCE(maj.c / CAST(tot.n AS DOUBLE), 0), 6)
             AS consistency
    FROM documents d
    LEFT JOIN tot ON d.doc_id = tot.doc_id
    LEFT JOIN maj ON d.doc_id = maj.doc_id
    """,
)
def text_language_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return language_consistency(d, "text", "doc_id", chunk_tokens=10)


# ===========================================================================
# Round-8 tokenizer/IR statistics: the two corpus-statistics operators a
# tokenizer-training / retrieval-weighting pipeline runs that were still
# missing — BPE merge-pair counting and per-document TF-IDF heads. Both
# integer-exact (the char_lm no-float contract), both shaped for 100 TB
# (vocab-sized intermediates, single corpus explode each).
# ===========================================================================

# BPE trainer statistic (merge iteration 0): adjacent char-pair counts
# weighted by word frequency, computed on the DISTINCT-WORD vocab so the
# quadratic-ish pair explode never touches corpus-sized data.
@q(
    "text_bpe_pair_counts",
    """
    WITH vocab AS (
      SELECT w, COUNT(*) AS wf
      FROM (SELECT unnest(list_filter(
                     regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '')) AS w
            FROM documents)
      GROUP BY w
    ),
    pairs AS (
      SELECT substr(w, CAST(i AS INTEGER), 1) AS a,
             substr(w, CAST(i AS INTEGER) + 1, 1) AS b,
             wf
      FROM vocab,
           LATERAL (SELECT UNNEST(generate_series(1, len(w) - 1)) AS i) g
      WHERE len(w) >= 2
    )
    SELECT a, b, CAST(SUM(wf) AS BIGINT) AS pair_count
    FROM pairs
    GROUP BY a, b
    ORDER BY pair_count DESC, a, b
    LIMIT 50
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return bpe_pair_counts(d, "text", k=50)


# Iterative BPE TRAINING (round 10): the k-merge loop around the
# pair-count statistic above — top pair per iteration (count DESC,
# pair ASC), merged into the vocabulary via a \\b-anchored
# regexp_replace, recounted. Per-iteration data is vocab-sized; the
# only driver transfer is the 1-row top pair (k-means discipline).
@q(
    "text_bpe_train_merges",
    _bpe_train_oracle(3),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return bpe_train_merges(d, "text", n_merges=3)


# BPE ENCODE (round 10):
# the apply half of the tokenizer loop — train 3 merges on the corpus,
# then price every document in post-merge BPE symbols via the
# (word → symbol count) vocab join. Composes the trainer's bounded
# k-row collect with one corpus explode + one word-keyed join.
@q(
    "text_bpe_encode",
    _bpe_encode_oracle(3),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    merges = [
        (r["pair_left"], r["pair_right"])
        for r in bpe_train_merges(d, "text", n_merges=3)
        .orderBy("merge_idx")
        .collect()
    ]
    return bpe_encode(d, "text", "doc_id", merges)


# Learned quality gate (round 10): fastText-style hashed-ngram linear
# classifier applied as a BROADCAST model join — unigram+bigram
# features hash into 4096 buckets, integer-quantized bucket weights
# sum to an integer logit, keep = logit > 0. The weight fixture is
# md5-derived (standing in for an exported trained model) so the whole
# scoring path is bit-exact in both engines; the oracle inlines the
# same weight formula instead of joining.
@q(
    "text_quality_classifier",
    """
    WITH feats AS (
      SELECT doc_id, unnest(toks) AS g
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text),
                               '[^a-z0-9]+'), x -> x <> '') AS toks
            FROM documents)
      UNION ALL
      SELECT doc_id, toks[j] || '_' || toks[j + 1] AS g
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text),
                               '[^a-z0-9]+'), x -> x <> '') AS toks
            FROM documents),
           LATERAL (SELECT UNNEST(generate_series(1, len(toks) - 1))
                    AS j) g2
      WHERE len(toks) >= 2
    ),
    bucketed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 4096
               AS bucket
      FROM feats
    ),
    scored AS (
      SELECT doc_id,
             SUM(CAST(('0x' || substr(md5('qc1:' || CAST(bucket AS VARCHAR)),
                       1, 8)) AS BIGINT) % 2001 - 1000) AS score
      FROM bucketed GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.score, 0) AS BIGINT) AS score,
           COALESCE(s.score, 0) > 0 AS keep
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    w = hashed_ngram_weights(spark, n_buckets=4096, seed="qc1")
    return quality_classifier_score(
        d, "text", "doc_id", w, n_buckets=4096, bias=0
    )


# Per-document TF-IDF head terms, integer-quantized raw-ratio idf
# (scale*(N+1) DIV (df+1)) — bit-identical across engines, no libm log.
@q(
    "text_tfidf_topk",
    """
    WITH tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id,
                   unnest(list_filter(
                     regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '')) AS term
            FROM documents)
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, rank, term, tf, df_t, tfidf_q FROM (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_t,
             tf.tf * ((CAST(1000000 AS BIGINT) * (n.n_docs + 1))
                      // (dfreq.df_t + 1)) AS tfidf_q,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ((CAST(1000000 AS BIGINT) * (n.n_docs + 1))
                                 // (dfreq.df_t + 1)) DESC,
                        tf.term ASC) AS rank
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ) WHERE rank <= 5
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return tfidf_topk(d, "text", "doc_id", k=5)


def _unigram_oracle(
    n_iters: int = 2,
    L: int = 3,
    W: int = 8,
    scale: int = 100,
    topk: int = 30,
    encode: bool = False,
) -> str:
    """Generate the unrolled hard-EM unigram-trainer oracle: for each
    EM iteration, the per-position Viterbi DP (positions 1..W) and the
    backtrace (≤ W steps) become chained CTEs — the same
    unrolled-recurrence pattern as the k-means and BPE-trainer
    oracles, generated by loop because the chain is 2*(2W+4) stages.

    Chain CTEs are MATERIALIZED: each references its predecessor
    twice (the DP step joins the cumulative table AND unions into the
    next cumulative table), so DuckDB's default CTE inlining expands
    the chain exponentially — a 3-row fixture took minutes un-hinted,
    milliseconds materialized.
    """
    p = []
    p.append(f"""allw AS (SELECT unnest(toks) AS w FROM toks),
    words AS (
      SELECT w, COUNT(*) AS wf FROM allw WHERE length(w) <= {W} GROUP BY w
    ),
    seed AS (
      SELECT substr(w, s, l) AS piece, SUM(wf) AS cnt
      FROM words, range(1, {W + 1}) rs(s), range(1, {L + 1}) rl(l)
      WHERE s <= length(w) AND s + l - 1 <= length(w)
      GROUP BY 1
    ),
    singles AS (SELECT piece FROM seed WHERE length(piece) = 1),
    state0 AS MATERIALIZED (SELECT piece, cnt FROM seed)""")
    for it in range(n_iters):
        p.append(f"""total{it} AS (SELECT SUM(cnt) AS t FROM state{it}),
    cost{it} AS (
      SELECT piece, ({scale} * t) // cnt AS cost_q FROM state{it}, total{it}
    ),
    cand{it} AS MATERIALIZED (
      SELECT w.w, w.wf, rs.s - 1 AS s, rl.l AS plen, c.cost_q
      FROM words w, range(1, {W + 1}) rs(s), range(1, {L + 1}) rl(l)
      JOIN cost{it} c ON c.piece = substr(w.w, rs.s, rl.l)
      WHERE rs.s + rl.l - 1 <= length(w.w)
    ),
    dpall{it}_0 AS MATERIALIZED (
      SELECT w, 0 AS i, CAST(0 AS BIGINT) AS enc FROM words
    )""")
        for k in range(1, W + 1):
            p.append(f"""dp{it}_{k} AS (
      SELECT c.w, {k} AS i, MIN((d.enc // 32 + c.cost_q) * 32 + c.s) AS enc
      FROM cand{it} c JOIN dpall{it}_{k - 1} d ON d.w = c.w AND d.i = c.s
      WHERE c.s + c.plen = {k}
      GROUP BY c.w
    ),
    dpall{it}_{k} AS MATERIALIZED (
      SELECT * FROM dpall{it}_{k - 1} UNION ALL SELECT * FROM dp{it}_{k}
    )""")
        p.append(f"""bt{it}_0 AS MATERIALIZED (
      SELECT w, wf, length(w) AS pos, CAST(NULL AS VARCHAR) AS piece
      FROM words
    )""")
        for k in range(1, W + 1):
            p.append(f"""bt{it}_{k} AS MATERIALIZED (
      SELECT b.w, b.wf, CAST(d.enc % 32 AS INT) AS pos,
             substr(b.w, CAST(d.enc % 32 AS INT) + 1,
                    b.pos - CAST(d.enc % 32 AS INT)) AS piece
      FROM bt{it}_{k - 1} b JOIN dpall{it}_{W} d ON d.w = b.w AND d.i = b.pos
      WHERE b.pos > 0
    )""")
        union = "\n        UNION ALL ".join(
            f"SELECT wf, piece FROM bt{it}_{k}" for k in range(1, W + 1)
        )
        p.append(f"""used{it} AS (
      SELECT piece, SUM(wf) AS cnt FROM (
        {union}
      ) WHERE piece IS NOT NULL GROUP BY piece
    ),
    state{it + 1} AS MATERIALIZED (
      SELECT piece, cnt FROM used{it} WHERE length(piece) > 1
      UNION ALL
      SELECT s.piece, COALESCE(u.cnt, 0) + 1 AS cnt
      FROM singles s LEFT JOIN used{it} u ON u.piece = s.piece
    )""")
    if encode:
        n = n_iters
        p.append(f"""totalE AS (SELECT SUM(cnt) AS t FROM state{n}),
    costE AS (
      SELECT piece, ({scale} * t) // cnt AS cost_q FROM state{n}, totalE
    ),
    wordsE AS (SELECT DISTINCT unnest(toks) AS w FROM toks),
    candE AS MATERIALIZED (
      SELECT w.w, rs.s - 1 AS s, rl.l AS plen, c.cost_q
      FROM wordsE w, range(1, {W + 1}) rs(s), range(1, {L + 1}) rl(l)
      JOIN costE c ON c.piece = substr(w.w, rs.s, rl.l)
      WHERE rs.s + rl.l - 1 <= length(w.w) AND length(w.w) <= {W}
    ),
    dpallE_0 AS MATERIALIZED (
      SELECT w, 0 AS i, CAST(0 AS BIGINT) AS enc FROM wordsE
      WHERE length(w) <= {W}
    )""")
        for k in range(1, W + 1):
            p.append(f"""dpE_{k} AS (
      SELECT c.w, {k} AS i, MIN((d.enc // 32 + c.cost_q) * 32 + c.s) AS enc
      FROM candE c JOIN dpallE_{k - 1} d ON d.w = c.w AND d.i = c.s
      WHERE c.s + c.plen = {k}
      GROUP BY c.w
    ),
    dpallE_{k} AS MATERIALIZED (
      SELECT * FROM dpallE_{k - 1} UNION ALL SELECT * FROM dpE_{k}
    )""")
        p.append(f"""btE_0 AS MATERIALIZED (
      SELECT w, length(w) AS pos, CAST(NULL AS VARCHAR) AS piece
      FROM wordsE WHERE length(w) <= {W}
    )""")
        for k in range(1, W + 1):
            p.append(f"""btE_{k} AS MATERIALIZED (
      SELECT b.w, CAST(d.enc % 32 AS INT) AS pos,
             substr(b.w, CAST(d.enc % 32 AS INT) + 1,
                    b.pos - CAST(d.enc % 32 AS INT)) AS piece
      FROM btE_{k - 1} b JOIN dpallE_{W} d ON d.w = b.w AND d.i = b.pos
      WHERE b.pos > 0
    )""")
        unionE = "\n        UNION ALL ".join(
            f"SELECT w, piece FROM btE_{k}" for k in range(1, W + 1)
        )
        p.append(f"""npw AS (
      SELECT w, COUNT(*) AS np FROM (
        {unionE}
      ) WHERE piece IS NOT NULL GROUP BY w
    ),
    encmap AS (
      SELECT w.w,
             CASE WHEN n.np IS NOT NULL AND n.np > 0 THEN n.np
                  ELSE length(w.w) END AS np
      FROM wordsE w LEFT JOIN npw n USING (w)
    ),
    occ AS (
      SELECT doc_id, w, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(toks) AS w FROM toks)
      GROUP BY doc_id, w
    ),
    perdoc AS (
      SELECT doc_id, SUM(c) AS n_words, SUM(c * np) AS n_unigram_pieces
      FROM occ JOIN encmap USING (w) GROUP BY doc_id
    )""")
        body = ",\n    ".join(p)
        return f"""
    WITH {_TOKS_CTE.strip()},
    {body}
    SELECT d.doc_id,
           CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(p.n_unigram_pieces, 0) AS BIGINT)
             AS n_unigram_pieces
    FROM documents d LEFT JOIN perdoc p USING (doc_id)
    """
    body = ",\n    ".join(p)
    return f"""
    WITH {_TOKS_CTE.strip()},
    {body}
    SELECT piece, CAST(length(piece) AS INT) AS piece_len,
           CAST(cnt AS BIGINT) AS cnt
    FROM state{n_iters}
    ORDER BY cnt DESC, piece
    LIMIT {topk}
    """


# Unigram-LM tokenizer trainer (round 11; VERDICT r10 item 4): the
# pruning half of real tokenizer training, sibling of
# text_bpe_train_merges. Hard-EM (Viterbi E-step) with exact-integer
# reciprocal-likelihood costs — every DP cell is cost*32+start in
# BIGINT, so both engines pick identical segmentations and the final
# vocabulary hash-matches. Two EM iterations unrolled in the oracle.
@q("text_unigram_lm_train", _unigram_oracle())
def text_unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return unigram_lm_train(
        d, "text", n_iters=2, max_piece_len=3, max_word_len=8, topk=30
    )


# Unigram ENCODE arm (round 11): train the 2-iteration
# unigram vocabulary on the corpus, then Viterbi-price every document
# in pieces via the (word -> piece-count) join. Long words and
# vocab-unseen characters take the single-char coverage fallback.
@q("text_unigram_encode", _unigram_oracle(encode=True))
def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    vocab = unigram_lm_train(
        d, "text", n_iters=2, max_piece_len=3, max_word_len=8
    )
    return unigram_encode(
        d, "text", "doc_id", vocab, max_piece_len=3, max_word_len=8
    )


# Unicode tokenization pre-scrub (round 11): the corpus-ingest operator
# that DISCHARGES the documented token_pieces/tokens divergence (ADVICE
# r10) and the \x01-sentinel caveat, instead of just documenting them.
# The fixture injects the divergent codepoints (U+212A KELVIN, U+0130
# dotted I) and C0 controls into 1/7 of docs; the entry
# asserts-by-construction that the two tokenizations AGREE on the
# scrubbed text (the tokenizations_agree column must be uniformly true —
# a regression in either tokenizer shows as a hash mismatch).
@q(
    "text_unicode_scrub",
    r"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN
               text || ' mar' || chr(8490) || 'ed ' || chr(304)
                    || 'stanbul' || chr(1) || 'ctl' || chr(7) || 'x'
             ELSE text END AS text
      FROM documents
    ),
    sc AS (
      SELECT doc_id, text,
             regexp_replace(
               translate(text, chr(8490) || chr(304), 'KI'),
               '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g') AS cleaned
      FROM aug
    ),
    tk AS (
      SELECT doc_id, text, cleaned,
             list_filter(regexp_split_to_array(lower(cleaned),
                                               '[^a-z0-9]+'),
                         x -> x <> '') AS toks,
             list_transform(
               list_filter(
                 string_split(regexp_replace(cleaned, '([a-zA-Z0-9]+)',
                              chr(1) || '\1' || chr(1), 'g'), chr(1)),
                 x -> x ~ '^[a-zA-Z0-9]+$'),
               x -> lower(x)) AS ptoks
      FROM sc
    )
    SELECT doc_id,
           (text <> cleaned) AS changed,
           md5(cleaned) AS cleaned_hash,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           (toks = ptoks) AS tokenizations_agree
    FROM tk
    """,
)
def text_unicode_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    exotic = " marKed İstanbul\x01ctl\x07x"
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(exotic))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    cleaned = pre_scrub(F.col("text"))
    base = aug.select("doc_id", "text", cleaned.alias("cleaned")).select(
        "doc_id",
        "text",
        "cleaned",
        tokens(F.col("cleaned")).alias("_t1"),
        pieces_tokens(token_pieces(F.col("cleaned"))).alias("_t2"),
    )
    return base.select(
        "doc_id",
        (~(F.col("text") == F.col("cleaned"))).alias("changed"),
        F.md5("cleaned").alias("cleaned_hash"),
        F.size("_t1").cast("long").alias("n_tokens"),
        (F.col("_t1") == F.col("_t2")).alias("tokenizations_agree"),
    )


# Gopher quality-filter rules (round 11):
# the Rae et al. §A1.1 rule set with integer-quantized ratios, the
# published starting point of MassiveText-style curation. The fixture
# injects rule-triggering content (bullet lines, ellipsis line-ends,
# '#'/'...' symbols) into 1/11 of docs so every rule's bit actually
# fires; output carries each measurement + fail_mask for audit.
@q(
    "text_gopher_quality_gate",
    r"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN
               '- bullet one' || chr(10) || '- bullet two' || chr(10)
               || 'trailing thought...' || chr(10) || text || ' ###...'
             ELSE text END AS text
      FROM documents
    ),
    w AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '\s+'),
                         x -> x <> '') AS words,
             list_filter(string_split(text, chr(10)),
                         x -> ltrim(x) <> '') AS lines
      FROM aug
    ),
    m AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CASE WHEN len(words) > 0 THEN
               (list_sum(list_transform(words, x -> length(x))) * 100)
                 // len(words) ELSE 0 END AS mean_word_len_x100,
             CASE WHEN len(words) > 0 THEN
               (((length(text) - length(replace(text, '#', '')))
                 + (length(text) - length(replace(text, '...', ''))) // 3)
                * 1000) // len(words) ELSE 0 END AS symbol_to_word_x1000,
             CASE WHEN len(words) > 0 THEN
               (len(list_filter(words,
                                x -> regexp_matches(x, '[A-Za-z]')))
                * 1000) // len(words) ELSE 0 END AS alpha_word_x1000,
             CAST(len(list_intersect(
               list_distinct(list_transform(words, x -> lower(x))),
               ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
               AS BIGINT) AS n_stop_hits,
             CASE WHEN len(lines) > 0 THEN
               (len(list_filter(lines,
                   x -> regexp_matches(ltrim(x), '^[-*•]'))) * 1000)
                 // len(lines) ELSE 0 END AS bullet_line_x1000,
             CASE WHEN len(lines) > 0 THEN
               (len(list_filter(lines,
                   x -> regexp_matches(x, '\.\.\.\s*$'))) * 1000)
                 // len(lines) ELSE 0 END AS ellipsis_line_x1000
      FROM w
    ),
    f AS (
      SELECT *,
             (CASE WHEN n_words < 50 OR n_words > 100000 THEN 1 ELSE 0 END
              + CASE WHEN mean_word_len_x100 < 300
                       OR mean_word_len_x100 > 1000 THEN 2 ELSE 0 END
              + CASE WHEN symbol_to_word_x1000 > 100 THEN 4 ELSE 0 END
              + CASE WHEN alpha_word_x1000 < 800 THEN 8 ELSE 0 END
              + CASE WHEN n_stop_hits < 2 THEN 16 ELSE 0 END
              + CASE WHEN bullet_line_x1000 > 900 THEN 32 ELSE 0 END
              + CASE WHEN ellipsis_line_x1000 > 300 THEN 64 ELSE 0 END
             ) AS fm
      FROM m
    )
    SELECT doc_id, n_words,
           CAST(mean_word_len_x100 AS BIGINT) AS mean_word_len_x100,
           CAST(symbol_to_word_x1000 AS BIGINT) AS symbol_to_word_x1000,
           CAST(alpha_word_x1000 AS BIGINT) AS alpha_word_x1000,
           n_stop_hits,
           CAST(bullet_line_x1000 AS BIGINT) AS bullet_line_x1000,
           CAST(ellipsis_line_x1000 AS BIGINT) AS ellipsis_line_x1000,
           CAST(fm AS BIGINT) AS fail_mask,
           (fm = 0) AS passes
    FROM f
    """,
)
def text_gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    inject = (
        "- bullet one\n- bullet two\ntrailing thought...\n"
    )
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit(inject), F.col("text"), F.lit(" ###...")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return gopher_quality_gate(aug, "text", "doc_id")


# CCNet perplexity bucketing (round 11):
# head/middle/tail at exact 30/35/35 score quantiles of the integer
# char-LM score — the Wenzek et al. conditioning signal. The oracle
# WRAPS the existing text_lm_quality_score oracle verbatim (read
# from the registry) and applies the same ROUND(4) quantile_cont
# thresholds, so the two entries can never drift apart.
def _ccnet_oracle() -> str:
    lm = registry()["text_lm_quality_score"].oracle
    return f"""
    WITH base AS (SELECT * FROM ({lm}) q),
    thr AS (
      SELECT ROUND(quantile_cont(CAST(avg_q AS DOUBLE), 0.70), 4)
               AS thr_head,
             ROUND(quantile_cont(CAST(avg_q AS DOUBLE), 0.35), 4)
               AS thr_mid
      FROM base
    )
    SELECT b.doc_id, b.n_grams, b.avg_q, thr.thr_head, thr.thr_mid,
           CASE WHEN CAST(b.avg_q AS DOUBLE) >= thr.thr_head THEN 'head'
                WHEN CAST(b.avg_q AS DOUBLE) >= thr.thr_mid THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM base b, thr
    """


@q("pipeline_ccnet_buckets", _ccnet_oracle())
def pipeline_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return ccnet_buckets(d, "text", "doc_id")


# Token-entropy quality signal (round 13): the distribution-shape
# member of the text-quality family (quality_features measures
# ratios, repetition_stats measures adjacency, entropy measures the
# whole histogram). Per-term rounding to integer 1e-4 units BEFORE
# the sum makes the float fold associative — Spark partial aggregates
# and DuckDB's single pass land on the identical integer, and the
# permille projection is integer division in both engines.
@q(
    "text_token_entropy",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t WHERE len(toks) >= 1)
      GROUP BY 1, 2
    ),
    per AS (
      -- CAST the SUMs here: DuckDB SUM(BIGINT) is HUGEINT, which
      -- pandas renders as float64 — the r12 dtype-parity lesson
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(c * log2(c) * 10000, 0) AS BIGINT))
                  AS BIGINT) AS tsum
      FROM c GROUP BY 1
    )
    SELECT doc_id, n AS n_tokens,
           CAST((1000 * (CAST(ROUND(n * log2(n) * 10000, 0) AS BIGINT)
                         - tsum)) // (n * 10000) AS BIGINT)
             AS entropy_permille
    FROM per
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return token_entropy(d, "text", "doc_id")
