"""Oracle SQL for every registry entry in ``queries.py`` (VERDICT
r10 item 9: the oracle strings were ~half of that file's 6,400 lines
and the merge-conflict magnet). The expressions here are MOVED
VERBATIM from the @q call sites (parenthesized — several are
multi-line implicit string concatenations); ``queries.py`` now passes
``_ORACLES[name]`` instead. Shared SQL fragments/builders live in
``oracle_common.py``. Round-11+ entries keep their oracles next to
their registrations in per-round modules (queries_r11.py etc.) — this
module only holds the r1-r10 surface. This dict's insertion order
mirrors the @q registration order for readability.
"""

from __future__ import annotations

from . import tables
from .functions.text import MENTION_RE as _MENTION_RE_SQL
from .oracle_common import (
    _BPE_RE,
    _CENTS,
    _DISC,
    _DISC_PCT,
    _FEED_COLS_SQL,
    _KMEANS_CTE,
    _KMEANS_CTE_1,
    _SHINGLE_SIG_CTE,
    _SIG_CTE,
    _TOKS_CTE,
    _bpe_encode_oracle,
    _bpe_train_oracle,
    _bucket_sql,
    _passage_oracle,
)

ORACLES: dict[str, str | None] = {}

ORACLES["social_feed_by_app"] = (
tables.oracle_with_domain(f"""
    SELECT {_FEED_COLS_SQL}
    FROM posts
    WHERE app_name = '3speak'
      AND NOT list_contains(COALESCE(flags, []), 'comment')
      AND ("TYPE" IS NULL OR "TYPE" <> 'CERAMIC')
    ORDER BY created_at DESC, permlink
    LIMIT 20
    """)
)

ORACLES["f2_f3_f5_filter_combo"] = (
tables.oracle_with_domain(f"""
    SELECT {_FEED_COLS_SQL}
    FROM posts
    WHERE NOT list_contains(COALESCE(flags, []), 'comment')
      AND ("TYPE" IS NULL OR "TYPE" <> 'CERAMIC')
      AND num_votes >= 50 AND num_votes < 150
      AND app_name IN ('3speak', 'dbuzz')
      AND (author = 'u3' OR lang = 'es')
    ORDER BY created_at DESC, permlink
    LIMIT 50
    """)
)

ORACLES["f1_tag_membership"] = (
tables.oracle_with_domain("""
    SELECT author, permlink, created_at
    FROM posts
    WHERE list_contains(COALESCE(tags, []), 't3')
      AND NOT list_contains(COALESCE(flags, []), 'comment')
      AND ("TYPE" IS NULL OR "TYPE" <> 'CERAMIC')
    ORDER BY created_at DESC, permlink
    LIMIT 100
    """)
)

ORACLES["a1_trending_tags"] = (
tables.oracle_with_domain("""
    , anchor AS (SELECT max(created_at) AS a FROM posts)
    SELECT tag, COUNT(*) AS score
    FROM (SELECT UNNEST(tags) AS tag, created_at FROM posts) t, anchor
    WHERE created_at > a - INTERVAL 14 DAY
    GROUP BY tag
    ORDER BY score DESC, tag
    LIMIT 5
    """)
)

ORACLES["w2_lww_latest_event"] = (
"""
    SELECT user_id, event_type, event_id, ts, value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
      ) AS rn
      FROM events
    ) WHERE rn = 1
    """
)

ORACLES["w3_first_event_per_user"] = (
"""
    SELECT user_id, event_id, ts
    FROM (
      SELECT user_id, event_id, ts, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts, event_id
      ) AS rn
      FROM events WHERE event_type = 'purchase'
    ) WHERE rn = 1
    """
)

ORACLES["w1_leaderboard_rank"] = (
"""
    SELECT user_id, ROUND(score, 2) AS score,
           ROW_NUMBER() OVER (ORDER BY ROUND(score, 2) DESC, user_id) AS rank
    FROM (SELECT user_id, SUM(value) AS score FROM events GROUP BY user_id)
    WHERE score > 0
    """
)

ORACLES["w4_feed_pagination"] = (
tables.oracle_with_domain(f"""
    SELECT {_FEED_COLS_SQL}
    FROM posts
    WHERE NOT list_contains(COALESCE(flags, []), 'comment')
      AND ("TYPE" IS NULL OR "TYPE" <> 'CERAMIC')
    ORDER BY created_at DESC, permlink
    LIMIT 25 OFFSET 50
    """)
)

ORACLES["j3_num_comments_per_post"] = (
tables.oracle_with_domain("""
    SELECT p.author, p.permlink, COALESCE(c.n, 0) AS num_comments
    FROM posts p
    LEFT JOIN (
      SELECT parent_author, parent_permlink, COUNT(*) AS n
      FROM posts WHERE parent_author <> ''
      GROUP BY parent_author, parent_permlink
    ) c ON p.author = c.parent_author AND p.permlink = c.parent_permlink
    WHERE p.parent_author = ''
    """)
)

ORACLES["j4_follower_feed"] = (
tables.oracle_with_domain("""
    SELECT p.author, p.permlink, p.created_at
    FROM posts p
    WHERE p.author IN (SELECT following FROM follows WHERE follower = 'u7')
      AND NOT list_contains(COALESCE(p.flags, []), 'comment')
      AND (p."TYPE" IS NULL OR p."TYPE" <> 'CERAMIC')
    ORDER BY p.created_at DESC, p.permlink
    LIMIT 100
    """)
)

ORACLES["j4_follower_feed_did"] = (
tables.oracle_with_domain("""
    SELECT p.author, p.permlink, p.created_at
    FROM posts p
    WHERE p.author IN (SELECT following FROM social_connections
                       WHERE follower = 'did:key:zu6')
      AND NOT list_contains(COALESCE(p.flags, []), 'comment')
      AND (p."TYPE" IS NULL OR p."TYPE" <> 'CERAMIC')
    ORDER BY p.created_at DESC, p.permlink
    LIMIT 100
    """)
)

ORACLES["j1_children_join"] = (
tables.oracle_with_domain("""
    SELECT p.author AS parent_author, p.permlink AS parent_permlink,
           c.author AS child_author, c.permlink AS child_permlink
    FROM posts p
    JOIN posts c ON c.parent_author = p.author AND c.parent_permlink = p.permlink
    WHERE p.parent_author = ''
    """)
)

ORACLES["j9_reply_closure"] = (
tables.oracle_with_domain("""
    , allowed AS (
      SELECT permlink FROM posts
      WHERE parent_author = '' AND app_name IN ('3speak', 'dbuzz')
      UNION
      SELECT p.permlink FROM posts p
      JOIN allowed a ON p.parent_permlink = a.permlink
      WHERE p.parent_author <> ''
    )
    SELECT permlink FROM allowed
    """, recursive=True)
)

ORACLES["a9_mention_notifications"] = (
tables.oracle_with_domain("""
    SELECT DISTINCT
      'hive/' || author || '/' || permlink AS ref,
      CASE WHEN m LIKE 'did:%' THEN m ELSE lower(m) END AS target,
      CASE WHEN m LIKE 'did:%' THEN 'did' ELSE 'hive' END AS type,
      'mention' AS notification_type,
      author AS "from",
      created_at AS mentioned_at
    FROM (
      SELECT author, permlink, created_at,
             UNNEST(regexp_extract_all(body,
               '"""
    + _MENTION_RE_SQL
    + """', 3)) AS m
      FROM posts
    )
    """)
)

ORACLES["x18_hex_to_long"] = (
"""
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS block_height
    FROM documents
    """
)

ORACLES["dedup_exact"] = (
"""
    WITH hashed AS (SELECT doc_id, md5(text) AS text_hash FROM documents),
    groups AS (
      SELECT text_hash, COUNT(*) AS dup_count, MIN(doc_id) AS canonical_id
      FROM hashed GROUP BY text_hash
    )
    SELECT h.doc_id, h.text_hash, g.dup_count,
           h.doc_id = g.canonical_id AS is_canonical
    FROM hashed h JOIN groups g USING (text_hash)
    """
)

ORACLES["dedup_minhash_signature"] = (
f"WITH {_SIG_CTE.strip()} SELECT * FROM sig"
)

ORACLES["dedup_lsh_candidates"] = (
f"WITH {_SHINGLE_SIG_CTE.strip()} SELECT a, b FROM cand"
)

ORACLES["dedup_ngram_jaccard"] = (
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
    """
)

ORACLES["dedup_simhash"] = (
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
    """
)

ORACLES["sim_cosine_topk"] = (
"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])), 6) AS sim
    FROM embeddings e, q
    ORDER BY sim DESC, e.vec_id
    LIMIT 20
    """
)

ORACLES["sim_ivf_topk_label"] = (
"""
    WITH q AS (SELECT embedding, label FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])), 6) AS sim
    FROM embeddings e, q
    WHERE e.label = q.label
    ORDER BY sim DESC, e.vec_id
    LIMIT 20
    """
)

ORACLES["sim_pairwise_cosine"] = (
"""
    SELECT a.vec_id AS a, b.vec_id AS b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    """
)

ORACLES["text_quality_features"] = (
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
    """
)

ORACLES["text_language_id"] = (
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
    """
)

ORACLES["text_fingerprint"] = (
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
    """
)

ORACLES["tpch_q1_pricing_summary"] = (
"""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """
)

ORACLES["o2_a8_trending_feed_payout"] = (
tables.oracle_with_domain("""
    , filtered AS (
      SELECT * FROM posts
      WHERE NOT list_contains(COALESCE(flags, []), 'comment')
        AND ("TYPE" IS NULL OR "TYPE" <> 'CERAMIC')
    ), anchor AS (SELECT max(created_at) AS a FROM filtered)
    SELECT author, permlink, ROUND(payout, 6) AS payout, created_at
    FROM filtered, anchor
    WHERE created_at > a - INTERVAL 3 DAY
    ORDER BY payout DESC, permlink
    LIMIT 100
    """)
)

ORACLES["o2_trending_feed_comments"] = (
tables.oracle_with_domain("""
    , counts AS (
      SELECT parent_author, parent_permlink, COUNT(*) AS n
      FROM posts WHERE parent_author <> ''
      GROUP BY parent_author, parent_permlink
    ), enriched AS (
      SELECT p.*, COALESCE(c.n, 0) AS num_comments
      FROM posts p
      LEFT JOIN counts c
        ON p.author = c.parent_author AND p.permlink = c.parent_permlink
    ), filtered AS (
      SELECT * FROM enriched
      WHERE NOT list_contains(COALESCE(flags, []), 'comment')
        AND ("TYPE" IS NULL OR "TYPE" <> 'CERAMIC')
    ), anchor AS (SELECT max(created_at) AS a FROM filtered)
    SELECT author, permlink, num_comments, created_at
    FROM filtered, anchor
    WHERE created_at > a - INTERVAL 3 DAY
    ORDER BY num_comments DESC, permlink
    LIMIT 100
    """)
)

ORACLES["o5_children_topk_per_parent"] = (
tables.oracle_with_domain("""
    SELECT parent_author, parent_permlink, permlink, created_at
    FROM (
      SELECT parent_author, parent_permlink, permlink, created_at,
             ROW_NUMBER() OVER (
               PARTITION BY parent_author, parent_permlink
               ORDER BY created_at, permlink
             ) AS rn
      FROM posts WHERE parent_author <> ''
    ) WHERE rn <= 2
    """)
)

ORACLES["o6_related_feed_sample"] = (
tables.oracle_with_domain("""
    , anchor AS (
      SELECT tags AS a_tags, parent_permlink AS a_comm, parent_author AS a_pa,
             author AS a_author, permlink AS a_permlink
      FROM posts WHERE permlink = 'p0'
    )
    SELECT p.author, p.permlink
    FROM posts p, anchor
    WHERE (len(list_intersect(COALESCE(p.tags, []), a_tags)) > 0
           OR (a_pa = '' AND a_comm LIKE 'hive-%' AND p.parent_permlink = a_comm))
      AND NOT (p.author = a_author AND p.permlink = a_permlink)
    ORDER BY md5(p.permlink)
    LIMIT 25
    """)
)

ORACLES["x21_search_feed"] = (
tables.oracle_with_domain("""
    SELECT author, permlink, created_at
    FROM posts
    WHERE list_contains(list_filter(regexp_split_to_array(lower(body), '[^a-z0-9]+'), x -> x <> ''), 'plain')
      AND list_contains(list_filter(regexp_split_to_array(lower(body), '[^a-z0-9]+'), x -> x <> ''), 'body')
      AND NOT list_contains(COALESCE(flags, []), 'comment')
      AND ("TYPE" IS NULL OR "TYPE" <> 'CERAMIC')
    ORDER BY created_at DESC, permlink
    LIMIT 100
    """)
)

ORACLES["f4_regex_filter"] = (
tables.oracle_with_domain("""
    SELECT author, permlink, app
    FROM posts
    WHERE regexp_matches(app, '^3speak/')
      AND NOT list_contains(COALESCE(flags, []), 'comment')
      AND ("TYPE" IS NULL OR "TYPE" <> 'CERAMIC')
    ORDER BY permlink
    """)
)

ORACLES["f9_missing_field"] = (
tables.oracle_with_domain("""
    SELECT author, permlink FROM posts WHERE lang IS NULL ORDER BY permlink
    """)
)

ORACLES["f10_point_lookup"] = (
tables.oracle_with_domain("""
    SELECT author, permlink, title, created_at FROM posts WHERE permlink = 'p42' LIMIT 1
    """)
)

ORACLES["a2_distinct_authors_of_app"] = (
tables.oracle_with_domain(
        "SELECT DISTINCT author FROM posts WHERE app_name = '3speak'"
    )
)

ORACLES["a3_distinct_authors"] = (
tables.oracle_with_domain("SELECT DISTINCT author FROM posts")
)

ORACLES["a5_creator_score"] = (
tables.oracle_with_domain("""
    , threespeak AS (
      SELECT author, permlink, num_votes FROM posts WHERE app_name = '3speak'
    ), child_counts AS (
      SELECT parent_author, parent_permlink, COUNT(*) AS n
      FROM posts WHERE parent_author <> ''
      GROUP BY parent_author, parent_permlink
    )
    SELECT t.author,
           ROUND(3 * SUM(COALESCE(c.n, 0)) + 0.1 * SUM(t.num_votes), 2) AS score
    FROM threespeak t
    LEFT JOIN child_counts c
      ON c.parent_author = t.author AND c.parent_permlink = t.permlink
    GROUP BY t.author
    """)
)

ORACLES["a5_score_zeroing"] = (
tables.oracle_with_domain("""
    , threespeak AS (
      SELECT author, permlink, num_votes FROM posts WHERE app_name = '3speak'
    ), child_counts AS (
      SELECT parent_author, parent_permlink, COUNT(*) AS n
      FROM posts WHERE parent_author <> ''
      GROUP BY parent_author, parent_permlink
    ), scores AS (
      SELECT t.author,
             ROUND(3 * SUM(COALESCE(c.n, 0)) + 0.1 * SUM(t.num_votes), 2) AS score
      FROM threespeak t
      LEFT JOIN child_counts c
        ON c.parent_author = t.author AND c.parent_permlink = t.permlink
      GROUP BY t.author
    )
    SELECT u.username, COALESCE(s.score, 0.0) AS score
    FROM (SELECT DISTINCT author AS username FROM posts) u
    LEFT JOIN scores s ON s.author = u.username
    """)
)

ORACLES["a6_sign_counts_higher_order"] = (
"""
    SELECT vec_id,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           len(list_filter(embedding, x -> x < 0)) AS n_neg
    FROM embeddings
    """
)

ORACLES["a7_total_active_creators"] = (
"""
    SELECT COUNT(*) AS total_active FROM (
      SELECT user_id, SUM(value) AS score FROM events GROUP BY user_id
    ) WHERE score > 0
    """
)

ORACLES["x1_json_props_extract"] = (
"""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """
)

ORACLES["x16_asset_parse"] = (
"""
    SELECT event_id,
           CAST(string_split(CAST(value AS VARCHAR) || ' HBD', ' ')[1] AS DOUBLE)
             AS amount
    FROM events
    """
)

ORACLES["x2_detect_post_type"] = (
tables.oracle_with_domain("""
    SELECT author, permlink,
           CASE string_split(app, '/')[1]
                WHEN '3speak' THEN '3speak'
                WHEN 'dBuzz' THEN 'dbuzz'
                WHEN 'dbuzz' THEN 'dbuzz'
                WHEN 'steemit' THEN 'steemit'
                ELSE 'unknown' END AS post_type
    FROM posts
    """)
)

ORACLES["x21_inverted_index_search"] = (
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
    """)
)

ORACLES["j2_parent_post_join"] = (
tables.oracle_with_domain("""
    SELECT c.author, c.permlink, p.author AS parent_found_author,
           p.title AS parent_title
    FROM posts c
    LEFT JOIN posts p
      ON c.parent_author = p.author AND c.parent_permlink = p.permlink
    WHERE c.parent_author <> ''
    """)
)

ORACLES["j7_follows_overview"] = (
tables.oracle_with_domain("""
    SELECT
      (SELECT COUNT(*) FROM follows WHERE follower = 'u10') AS following_count,
      (SELECT COUNT(*) FROM follows WHERE following = 'u10') AS follower_count
    """)
)

ORACLES["j11_chain_state_enrichment"] = (
tables.oracle_with_domain("""
    , chain_state AS (
      SELECT 'u' || CAST(user_id AS VARCHAR) AS author,
             'p' || CAST(event_id AS VARCHAR) AS permlink,
             CAST(value AS VARCHAR) || ' HBD' AS pending_payout_value,
             CAST(value / 2 AS VARCHAR) || ' HBD' AS total_payout_value,
             CAST(value / 4 AS VARCHAR) || ' HBD' AS curator_payout_value,
             CASE WHEN event_id % 3 = 0 THEN TIMESTAMP '1970-01-01 00:00:00'
                  ELSE ts END AS last_payout
      FROM events
    )
    SELECT p.author, p.permlink,
           ROUND(CASE WHEN cs.last_payout <= TIMESTAMP '1970-01-01 00:00:00'
                 THEN CAST(string_split(cs.pending_payout_value, ' ')[1] AS DOUBLE)
                 ELSE CAST(string_split(cs.total_payout_value, ' ')[1] AS DOUBLE)
                      + CAST(string_split(cs.curator_payout_value, ' ')[1] AS DOUBLE)
                 END, 6) AS payout
    FROM posts p
    JOIN chain_state cs ON p.author = cs.author AND p.permlink = cs.permlink
    """)
)

ORACLES["setop_union_sources"] = (
tables.oracle_with_domain("""
    SELECT author, permlink, src FROM (
      SELECT author, permlink, 'hive' AS src FROM posts
      WHERE "TYPE" = 'HIVE'
      UNION ALL
      SELECT author, permlink, 'ceramic' AS src FROM posts
      WHERE "TYPE" = 'CERAMIC'
    )
    """)
)

ORACLES["a_approx_distinct_users"] = (
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
    """
)

ORACLES["training_negative_sample"] = (
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
    """
)

ORACLES["a_approx_distinct_kmv"] = (
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
    """
)

ORACLES["skew_salted_comment_counts"] = (
tables.oracle_with_domain("""
    SELECT parent_author, parent_permlink, COUNT(*) AS num_comments,
           CAST(MAX(num_votes) AS INTEGER) AS max_votes
    FROM posts WHERE parent_author <> ''
    GROUP BY parent_author, parent_permlink
    """)
)

ORACLES["skew_salted_distinct_count"] = (
"""
    SELECT event_type, COUNT(DISTINCT user_id) AS distinct_count
    FROM events GROUP BY event_type
    """
)

ORACLES["dedup_apply_keep_canonical"] = (
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
    """
)

ORACLES["pipeline_corpus_curation"] = (
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
    """
)

ORACLES["tpch_q3_shipping_priority"] = (
"""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """
)

ORACLES["tpch_q5_local_supplier_volume"] = (
"""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """
)

ORACLES["tpch_q4_order_priority"] = (
"""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """
)

ORACLES["tpch_q13_custdist"] = (
"""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderstatus <> 'F'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """
)

ORACLES["tpch_q17_small_quantity"] = (
"""
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """
)

ORACLES["text_bpe_token_count"] = (
f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_RE.replace(chr(39), chr(39) * 2)}')) AS bpe_tokens,
           len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS ws_tokens
    FROM documents
    """
)

ORACLES["dedup_embedding_neardup"] = (
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
    """
)

ORACLES["ann_lsh_signatures"] = (
f"SELECT vec_id, {_bucket_sql('embedding')} AS bucket FROM embeddings"
)

ORACLES["ann_lsh_topk"] = (
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
    """
)

ORACLES["text_language_id_ngram"] = (
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
    """
)

ORACLES["text_repetition_stats"] = (
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
    """
)

ORACLES["text_pii_scrub"] = (
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
    """
)

ORACLES["pipeline_domain_mix"] = (
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
    """
)

ORACLES["temporal_asof_join"] = (
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
    """
)

ORACLES["temporal_sessionize"] = (
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
    """
)

ORACLES["temporal_range_join"] = (
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
    """
)

ORACLES["temporal_time_rollup"] = (
"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value,
           CAST(GROUPING(strftime(date_trunc('day', ts), '%Y-%m-%d')) * 2
                + GROUPING(event_type) AS BIGINT) AS grouping_level
    FROM events
    GROUP BY ROLLUP (strftime(date_trunc('day', ts), '%Y-%m-%d'), event_type)
    """
)

ORACLES["text_hashtag_url_extract"] = (
tables.oracle_with_domain("""
    , marked AS (
      SELECT author, permlink,
             body || CASE WHEN event_id % 3 = 0
               THEN ' #Tag' || CAST(event_id % 7 AS VARCHAR)
                    || ' see https://example.com/p/' || CAST(event_id AS VARCHAR)
               ELSE '' END AS body
      FROM posts
    )
    SELECT author, permlink,
           COALESCE(array_to_string(
             list_transform(regexp_extract_all(body, '#([a-zA-Z0-9_]+)', 1),
                            t -> lower(t)), ' '), '') AS hashtags,
           COALESCE(array_to_string(
             regexp_extract_all(body, 'https?://[a-zA-Z0-9./_%\\-?=&#]+'),
             ' '), '') AS urls
    FROM marked
    """)
)

ORACLES["sim_label_centroids"] = (
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
    """
)

ORACLES["text_vocab_topk_per_source"] = (
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
    """
)

ORACLES["sample_stratified"] = (
"""
    SELECT doc_id, source, draw_rank FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS draw_rank
      FROM documents
    ) WHERE draw_rank <= 20
    """
)

ORACLES["x21_index_incremental_update"] = (
"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents WHERE doc_id % 10 <> 5
    )
    SELECT DISTINCT unnest(toks) AS token, doc_id FROM toks
    """
)

ORACLES["stream_passage_counts_incremental"] = (
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
    """
)

ORACLES["stream_dedup_batch_equivalence"] = (
"SELECT DISTINCT md5(text) AS text_hash FROM documents"
)

ORACLES["training_decontaminate"] = (
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
    """
)

ORACLES["training_bloom_decontaminate"] = (
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
    """
)

ORACLES["layout_zorder_key"] = (
"""
    SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber,
           CAST((SELECT SUM(
                    (((l_partkey & 65535) >> i) & 1) * (1::BIGINT << (2*i))
                  + (((l_suppkey & 65535) >> i) & 1) * (1::BIGINT << (2*i+1))
                 ) FROM generate_series(0, 15) AS t(i)) AS BIGINT) AS zval
    FROM lineitem
    """
)

ORACLES["training_dsir_resample"] = (
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
    """
)

ORACLES["training_chunk_sliding"] = (
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
    """
)

ORACLES["training_cdc_chunks"] = (
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
    """
)

ORACLES["dedup_cc_clusters"] = (
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
    """
)

ORACLES["dedup_keep_best_quality"] = (
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
    """
)

ORACLES["training_pack_next_fit"] = (
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
    """
)

ORACLES["sample_weighted_bernoulli"] = (
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
    """
)

ORACLES["text_length_percentiles"] = (
f"""
    WITH {_TOKS_CTE.strip()}
    SELECT d.source, COUNT(*) AS n_docs,
           ROUND(quantile_cont(len(t.toks), 0.25), 4) AS p25,
           ROUND(quantile_cont(len(t.toks), 0.5), 4) AS p50,
           ROUND(quantile_cont(len(t.toks), 0.75), 4) AS p75,
           ROUND(quantile_cont(len(t.toks), 0.95), 4) AS p95
    FROM toks t JOIN documents d USING (doc_id)
    GROUP BY d.source
    """
)

ORACLES["sim_quantize_int8"] = (
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
    """
)

ORACLES["training_epoch_interleave"] = (
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
    """
)

ORACLES["ann_recall_eval"] = (
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
    """
)

ORACLES["tpch_q18_large_volume"] = (
"""
    WITH q AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM q)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """
)

ORACLES["tpch_q10_returned_items"] = (
"""
    SELECT c_custkey, c_name,
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                     * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)))
                 / 10000.0, 4) AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """
)

ORACLES["stream_windowed_counts_batch_equivalence"] = (
"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
             AS window_end,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """
)

ORACLES["pipeline_training_prep"] = (
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
    """
)

ORACLES["tpch_q6_forecast_revenue"] = (
f"""
    SELECT ROUND(SUM({_CENTS} * {_DISC_PCT}) / 10000.0, 4) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """
)

ORACLES["tpch_q7_volume_shipping"] = (
f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           ROUND(SUM({_CENTS.replace('l_extendedprice', 'l.l_extendedprice')}
                     * (100 - {_DISC_PCT.replace('l_discount', 'l.l_discount')}))
                 / 10000.0, 4) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """
)

ORACLES["tpch_q8_market_share"] = (
f"""
    WITH vol AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             {_CENTS.replace('l_extendedprice', 'l.l_extendedprice')}
               * (100 - {_DISC_PCT.replace('l_discount', 'l.l_discount')})
               AS volume,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
        AND o.o_orderdate >= TIMESTAMP '1995-01-01'
        AND o.o_orderdate < TIMESTAMP '1997-01-01'
    )
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_4' THEN volume ELSE 0 END)
                 * 1000000 / SUM(volume), 0) AS share_ppm,
           ROUND(SUM(volume) / 10000.0, 4) AS total_revenue
    FROM vol GROUP BY o_year ORDER BY o_year
    """
)

ORACLES["tpch_q14_promo_effect"] = (
f"""
    SELECT ROUND(SUM(CASE WHEN p.p_type = 'PROMO'
                          THEN {_CENTS.replace('l_extendedprice', 'l.l_extendedprice')}
                               * (100 - {_DISC_PCT.replace('l_discount', 'l.l_discount')})
                          ELSE 0 END)
                 * 1000000 / SUM({_CENTS.replace('l_extendedprice', 'l.l_extendedprice')}
                                 * (100 - {_DISC_PCT.replace('l_discount', 'l.l_discount')})),
                 0) AS promo_ppm,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """
)

ORACLES["tpch_q15_top_supplier"] = (
f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             SUM({_CENTS} * (100 - {_DISC_PCT})) AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           ROUND(r.total_cents / 10000.0, 4) AS total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_cents = (SELECT MAX(total_cents) FROM rev)
    ORDER BY s.s_suppkey
    """
)

ORACLES["tpch_q19_disjunctive_revenue"] = (
f"""
    SELECT ROUND(SUM({_CENTS.replace('l_extendedprice', 'l.l_extendedprice')}
                     * (100 - {_DISC_PCT.replace('l_discount', 'l.l_discount')}))
                 / 10000.0, 4) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """
)

ORACLES["stream_stream_join_attribution"] = (
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
    """
)

ORACLES["offchain_id_refresh"] = (
tables.oracle_with_domain("""
    , flagged AS (
      SELECT author, permlink, "TYPE",
             event_id % 6 = 0 AS needs_stream_id,
             CASE WHEN event_id % 12 = 1
                  THEN 'ceramic://pre-' || CAST(event_id AS VARCHAR)
             END AS offchain_id
      FROM posts
    )
    SELECT author, permlink,
           COALESCE(offchain_id,
                    CASE WHEN needs_stream_id AND offchain_id IS NULL
                              AND "TYPE" = 'HIVE'
                         THEN 'ceramic://' || md5(author || '/' || permlink)
                    END) AS offchain_id,
           CASE WHEN needs_stream_id AND offchain_id IS NULL
                     AND "TYPE" = 'HIVE'
                THEN FALSE ELSE needs_stream_id END AS needs_stream_id
    FROM flagged
    """)
)

ORACLES["stream_ssj_watermark_eviction"] = (
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
    """
)

ORACLES["tpch_q22_global_sales_opportunity"] = (
"""
    WITH bal AS (
      SELECT SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS tot,
             COUNT(*) AS cnt
      FROM customer WHERE c_acctbal > 0
    )
    SELECT n.n_name AS cntry,
           COUNT(*) AS numcust,
           ROUND(SUM(CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT)) / 100.0, 2)
             AS totacctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey, bal
    WHERE CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT) * bal.cnt > bal.tot
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY n.n_name
    ORDER BY cntry
    """
)

ORACLES["w5_scd2_history"] = (
"""
    SELECT event_id, user_id, ROUND(value, 2) AS value,
           ts AS valid_from,
           COALESCE(LEAD(ts) OVER w, TIMESTAMP '2200-01-01 00:00:00')
             AS valid_to,
           LEAD(ts) OVER w IS NULL AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """
)

ORACLES["text_lm_quality_score"] = (
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
    """
)

ORACLES["text_lm_quality_sampled"] = (
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
    """
)

ORACLES["training_hash_split"] = (
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
    """
)

ORACLES["training_temperature_resample"] = (
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
    """
)

ORACLES["sim_truncate_renorm"] = (
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
    """
)

ORACLES["sim_kmeans_clusters"] = (
f"""
    WITH {_KMEANS_CTE}
    SELECT vec_id, cluster, dist AS dist_sq FROM asg
    """
)

ORACLES["dedup_semantic_flags"] = (
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
    """
)

ORACLES["training_token_budget"] = (
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
    """
)

ORACLES["community_updateprops_merge"] = (
"""
    WITH au AS (
      SELECT 'hive-' || CAST(user_id % 7 AS VARCHAR) AS account,
             'img' || CAST(event_id AS VARCHAR) AS avatar,
             ts, event_id AS h
      FROM events WHERE event_id % 3 = 0
    ),
    au_latest AS (
      SELECT * FROM au
      QUALIFY ROW_NUMBER() OVER (PARTITION BY account ORDER BY h DESC) = 1
    ),
    up AS (
      SELECT 'hive-' || CAST(user_id % 7 AS VARCHAR) AS account,
             't' || CAST(event_id AS VARCHAR) AS title,
             'b' || CAST(event_id AS VARCHAR) AS about,
             ts, event_id AS h
      FROM events WHERE event_id % 3 = 1
    ),
    up_latest AS (
      SELECT * FROM up
      QUALIFY ROW_NUMBER() OVER (PARTITION BY account ORDER BY h DESC) = 1
    ),
    ev AS (
      SELECT account, ts, h FROM au
      UNION ALL
      SELECT account, ts, h FROM up
    ),
    latest AS (
      SELECT account, ts AS updated_at FROM ev
      QUALIFY ROW_NUMBER() OVER (PARTITION BY account ORDER BY h DESC) = 1
    )
    SELECT 'hive/' || l.account AS _id, l.account AS name,
           u.title, u.about,
           a.avatar, CAST(NULL AS VARCHAR) AS cover,
           l.updated_at
    FROM latest l
    LEFT JOIN up_latest u USING (account)
    LEFT JOIN au_latest a USING (account)
    """
)

ORACLES["dedup_shared_passages"] = (
_passage_oracle(8, 4)
)

ORACLES["dedup_remove_repeated_passages"] = (
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
    """
)

ORACLES["dedup_remove_duplicate_spans"] = (
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
    """
)

ORACLES["dedup_cross_source_overlap"] = (
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
    """
)

ORACLES["text_language_consistency"] = (
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
    """
)

ORACLES["multimodal_png_probe"] = (
"""
    SELECT event_id AS id,
           CAST(16 + event_id % 512 AS INTEGER) AS width,
           CAST(16 + event_id % 256 AS INTEGER) AS height,
           1 AS n_frames,
           24 AS n_bytes
    FROM events
    """
)

# Q21 faithful (r14): the spec's late test (receipt > commit) over the
# derived lineitem_ext relation; nation pin is the fixture parameter.
ORACLES["tpch_q21_waiting_supplier"] = (
f"""
    WITH {tables.LINEITEM_EXT_CTE.strip()}
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem_ext l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_receiptdate > l1.l_commitdate
      AND n.n_name = 'NATION_3'
      AND EXISTS (SELECT 1 FROM lineitem_ext l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem_ext l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_receiptdate > l3.l_commitdate)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """
)

ORACLES["ingest_follows_families"] = (
"""
    WITH raw AS (
      SELECT event_id AS h, ts,
             user_id % 20 AS a, (user_id * 7 + 3) % 20 AS b,
             user_id % 5 AS c, event_id % 5 AS fam, event_id % 2 AS alt
      FROM events
    ),
    edges AS (
      SELECT
        CASE WHEN fam IN (0, 1)
             THEN 'hive-u' || CAST(a AS VARCHAR) || '-u' || CAST(b AS VARCHAR)
             WHEN fam = 3
             THEN 'hive/u' || CAST(a AS VARCHAR)
                  || '/did:key:zu' || CAST(b AS VARCHAR)
             ELSE 'hive-u' || CAST(a AS VARCHAR)
                  || '-hive-' || CAST(c AS VARCHAR)
        END AS _id,
        'u' || CAST(a AS VARCHAR) AS follower,
        CASE WHEN fam = 3 THEN 'did:key:zu' || CAST(b AS VARCHAR)
             WHEN fam = 4 THEN 'hive-' || CAST(c AS VARCHAR)
             ELSE 'u' || CAST(b AS VARCHAR) END AS following,
        CASE WHEN fam = 4 THEN 'community'
             WHEN fam = 1 THEN ''
             ELSE 'blog' END AS what,
        (fam = 1 OR (fam = 3 AND alt = 1) OR (fam = 4 AND alt = 1))
          AS is_unfollow,
        ts AS followed_at, h
      FROM raw
      WHERE fam <> 2  -- the spoof guard: signer != claimed follower
    )
    SELECT _id, follower, following, what, followed_at
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY _id ORDER BY h DESC)
                    AS rn
          FROM edges)
    WHERE rn = 1 AND NOT is_unfollow
    """
)

ORACLES["text_bpe_pair_counts"] = (
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
    """
)

ORACLES["text_bpe_train_merges"] = (
_bpe_train_oracle(3)
)

ORACLES["text_bpe_encode"] = (
_bpe_encode_oracle(3)
)

ORACLES["text_quality_classifier"] = (
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
    """
)

ORACLES["text_tfidf_topk"] = (
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
    """
)

ORACLES["pipeline_adaptive_quality_gate"] = (
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
    """
)

ORACLES["training_budget_select"] = (
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
    """
)

ORACLES["temporal_funnel_stages"] = (
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
    """
)

ORACLES["search_substring_trigram"] = (
"""
    SELECT doc_id FROM documents WHERE contains(lower(text), 'alue s')
    """
)

ORACLES["search_bm25_topk"] = (
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
    """
)

ORACLES["search_rrf_fusion"] = (
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
    """
)

ORACLES["sim_mmr_rerank"] = (
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
    """
)

ORACLES["temporal_cohort_retention"] = (
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
    """
)

ORACLES["events_pivot_type_counts"] = (
"""
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error
    FROM events
    GROUP BY user_id
    """
)

ORACLES["temporal_moving_window_agg"] = (
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
    """
)

ORACLES["pipeline_column_profile"] = (
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
    """
)

ORACLES["dedup_lsh_incremental"] = (
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
    """
)

ORACLES["setop_intersect_except"] = (
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
    """
)

ORACLES["lineitem_unpivot_measures"] = (
"""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
           ROUND(l_quantity, 2) AS val
    FROM lineitem WHERE l_orderkey % 50 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', ROUND(l_extendedprice, 2)
    FROM lineitem WHERE l_orderkey % 50 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', ROUND(l_discount, 2)
    FROM lineitem WHERE l_orderkey % 50 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', ROUND(l_tax, 2)
    FROM lineitem WHERE l_orderkey % 50 = 0
    """
)

