"""GraphQL-surface entries: socialFeed arms and filters, point lookups,
aggregates, joins, windows, scalar functions, and the ingest dispatch
(posts, follows, communities, stream ids) they read from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..functions.scalars import (
    asset_to_float,
    block_height_from_id,
    detect_post_type,
    payout_value,
)
from ..functions.text import (
    MENTION_RE as _MENTION_RE_SQL,
    extract_hashtags,
    extract_urls,
    mention_notifications,
)
from ..ingest.posts import apply_bridge_id_flags, build_follows, follows_op_audit
from ..ingest.profiles import attach_creator_scores, build_communities
from ..operators import api, feeds
from ..operators.feeds import FeedSpec, decayed_trending
from ..operators.skew import salted_agg, salted_distinct_count
from ..operators.wherefield import compile_wherefield
from ..operators.windows import first_per_group, lww_latest, ranked, scd2_history
from ..sources.ceramic import assign_stream_ids, flagged_for_stream_id
from . import q


_FEED_COLS_SQL = "author, permlink, title, created_at, app_name, num_votes"


_FEED_COLS = ["author", "permlink", "title", "created_at", "app_name", "num_votes"]


# ---------------------------------------------------------------------------
# Flagship: socialFeed(byApp: {_eq:"3speak"}, limit:20)  (SURVEY Phase 0)
# Exercises F1 equality, F6 comment-default, F7 ceramic-null default, O1
# sort+limit (TakeOrderedAndProject).
# ---------------------------------------------------------------------------
@q(
    "social_feed_by_app",
    tables.oracle_with_domain(f"""
    SELECT {_FEED_COLS_SQL}
    FROM posts
    WHERE app_name = '3speak'
      AND NOT list_contains(COALESCE(flags, []), 'comment')
      AND ("TYPE" IS NULL OR "TYPE" <> 'CERAMIC')
    ORDER BY created_at DESC, permlink
    LIMIT 20
    """),
)
def social_feed_by_app(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    spec = FeedSpec(where={"byApp": {"_eq": "3speak"}}, limit=20)
    return feeds.social_feed(posts, spec).select(*_FEED_COLS)


# F2 range + F3 set-membership + F5 $or over mapped fields
@q(
    "f2_f3_f5_filter_combo",
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
    """),
)
def f2_f3_f5_filter_combo(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    spec = FeedSpec(
        where={
            "byApp": {"_in": ["3speak", "dbuzz"]},
        },
        or_where={"byCreator": {"_eq": "u3"}, "byLang": {"_eq": "es"}},
        limit=50,
    )
    posts = posts.filter((F.col("num_votes") >= 50) & (F.col("num_votes") < 150))
    return feeds.social_feed(posts, spec).select(*_FEED_COLS)


# F1-array membership (_eq on tags ⇒ array_contains) + F7 null TYPE pass
@q(
    "f1_tag_membership",
    tables.oracle_with_domain("""
    SELECT author, permlink, created_at
    FROM posts
    WHERE list_contains(COALESCE(tags, []), 't3')
      AND NOT list_contains(COALESCE(flags, []), 'comment')
      AND ("TYPE" IS NULL OR "TYPE" <> 'CERAMIC')
    ORDER BY created_at DESC, permlink
    LIMIT 100
    """),
)
def f1_tag_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    spec = FeedSpec(where={"byTag": {"_eq": "t3"}}, limit=100)
    return feeds.social_feed(posts, spec).select("author", "permlink", "created_at")


# A1 trendingTags: window filter -> explode -> count -> top-k
@q(
    "a1_trending_tags",
    tables.oracle_with_domain("""
    , anchor AS (SELECT max(created_at) AS a FROM posts)
    SELECT tag, COUNT(*) AS score
    FROM (SELECT UNNEST(tags) AS tag, created_at FROM posts) t, anchor
    WHERE created_at > a - INTERVAL 14 DAY
    GROUP BY tag
    ORDER BY score DESC, tag
    LIMIT 5
    """),
)
def a1_trending_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return feeds.trending_tags(tables.posts(spark, sf_dir), limit=5, window_days=14)


# ---------------------------------------------------------------------------
# Windows in disguise (SURVEY §2.5)
# ---------------------------------------------------------------------------
@q(
    "w2_lww_latest_event",
    """
    SELECT user_id, event_type, event_id, ts, value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
      ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def w2_lww_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    return lww_latest(
        e, ["user_id", "event_type"], [F.col("ts"), F.col("event_id")]
    ).select("user_id", "event_type", "event_id", "ts", "value")


@q(
    "w3_first_event_per_user",
    """
    SELECT user_id, event_id, ts
    FROM (
      SELECT user_id, event_id, ts, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts, event_id
      ) AS rn
      FROM events WHERE event_type = 'purchase'
    ) WHERE rn = 1
    """,
)
def w3_first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return first_per_group(e, ["user_id"], [F.col("ts"), F.col("event_id")]).select(
        "user_id", "event_id", "ts"
    )


# W1 — leaderboard rank over an aggregated (small) frame
@q(
    "w1_leaderboard_rank",
    """
    SELECT user_id, ROUND(score, 2) AS score,
           ROW_NUMBER() OVER (ORDER BY ROUND(score, 2) DESC, user_id) AS rank
    FROM (SELECT user_id, SUM(value) AS score FROM events GROUP BY user_id)
    WHERE score > 0
    """,
)
def w1_leaderboard_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    # Filter on the UNROUNDED sum (matching the oracle's WHERE score > 0
    # over the raw SUM); round only in the projection — a score in
    # (0, 0.005) must survive the filter in both engines.
    scores = (
        e.groupBy("user_id")
        .agg(F.sum("value").alias("_raw_score"))
        .filter(F.col("_raw_score") > 0)
        .select("user_id", F.round(F.col("_raw_score"), 2).alias("score"))
    )
    return ranked(scores, [F.desc("score"), F.asc("user_id")])


# W4/O1 — pagination: page 3 of the recency feed
@q(
    "w4_feed_pagination",
    tables.oracle_with_domain(f"""
    SELECT {_FEED_COLS_SQL}
    FROM posts
    WHERE NOT list_contains(COALESCE(flags, []), 'comment')
      AND ("TYPE" IS NULL OR "TYPE" <> 'CERAMIC')
    ORDER BY created_at DESC, permlink
    LIMIT 25 OFFSET 50
    """),
)
def w4_feed_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    spec = FeedSpec(limit=25, skip=50)
    return feeds.social_feed(posts, spec).select(*_FEED_COLS)


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------
# J3 — num_comments per post: aggregate-then-join (replaces the
# reference's N+1 countDocuments, core.ts:106-109)
@q(
    "j3_num_comments_per_post",
    tables.oracle_with_domain("""
    SELECT p.author, p.permlink, COALESCE(c.n, 0) AS num_comments
    FROM posts p
    LEFT JOIN (
      SELECT parent_author, parent_permlink, COUNT(*) AS n
      FROM posts WHERE parent_author <> ''
      GROUP BY parent_author, parent_permlink
    ) c ON p.author = c.parent_author AND p.permlink = c.parent_permlink
    WHERE p.parent_author = ''
    """),
)
def j3_num_comments_per_post(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    counts = (
        posts.filter(F.col("parent_author") != "")
        .groupBy(
            F.col("parent_author").alias("author"),
            F.col("parent_permlink").alias("permlink"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        posts.filter(F.col("parent_author") == "")
        .join(counts, ["author", "permlink"], "left")
        .select(
            "author",
            "permlink",
            F.coalesce(F.col("n"), F.lit(0)).alias("num_comments"),
        )
    )


# J4 — follower feed: broadcast left-semi join (reference inlines the
# following list as $in, resolvers/index.ts:126-146)
@q(
    "j4_follower_feed",
    tables.oracle_with_domain("""
    SELECT p.author, p.permlink, p.created_at
    FROM posts p
    WHERE p.author IN (SELECT following FROM follows WHERE follower = 'u7')
      AND NOT list_contains(COALESCE(p.flags, []), 'comment')
      AND (p."TYPE" IS NULL OR p."TYPE" <> 'CERAMIC')
    ORDER BY p.created_at DESC, p.permlink
    LIMIT 100
    """),
)
def j4_follower_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    fol = tables.follows(spark, sf_dir)
    spec = FeedSpec(follower="u7", limit=100)
    return feeds.social_feed(posts, spec, follows=fol).select(
        "author", "permlink", "created_at"
    )


# J4b — DID follower feed: byFollower starting with 'did:' routes to the
# offchain social_connections graph (resolvers/index.ts:126-146) instead
# of follows; same broadcast semi-join shape.
@q(
    "j4_follower_feed_did",
    tables.oracle_with_domain("""
    SELECT p.author, p.permlink, p.created_at
    FROM posts p
    WHERE p.author IN (SELECT following FROM social_connections
                       WHERE follower = 'did:key:zu6')
      AND NOT list_contains(COALESCE(p.flags, []), 'comment')
      AND (p."TYPE" IS NULL OR p."TYPE" <> 'CERAMIC')
    ORDER BY p.created_at DESC, p.permlink
    LIMIT 100
    """),
)
def j4_follower_feed_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    sc = tables.social_connections(spark, sf_dir)
    spec = FeedSpec(follower="did:key:zu6", limit=100)
    return feeds.social_feed(posts, spec, social_connections=sc).select(
        "author", "permlink", "created_at"
    )


# J1/J2 — children/parent self-join on the composite post key
@q(
    "j1_children_join",
    tables.oracle_with_domain("""
    SELECT p.author AS parent_author, p.permlink AS parent_permlink,
           c.author AS child_author, c.permlink AS child_permlink
    FROM posts p
    JOIN posts c ON c.parent_author = p.author AND c.parent_permlink = p.permlink
    WHERE p.parent_author = ''
    """),
)
def j1_children_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    p = posts.filter(F.col("parent_author") == "").select(
        F.col("author").alias("p_author"), F.col("permlink").alias("p_permlink")
    )
    c = posts.select(
        F.col("author").alias("child_author"),
        F.col("permlink").alias("child_permlink"),
        "parent_author",
        "parent_permlink",
    )
    return c.join(
        p,
        (c.parent_author == p.p_author) & (c.parent_permlink == p.p_permlink),
    ).select(
        F.col("p_author").alias("parent_author"),
        F.col("p_permlink").alias("parent_permlink"),
        "child_author",
        "child_permlink",
    )


# J9 — parent-allowlist closure (iterative semi-join fixpoint; oracle is
# a recursive CTE). Depth >1 chains are covered by tests/test_ingest.py.
@q(
    "j9_reply_closure",
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
    """, recursive=True),
)
def j9_reply_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    roots = posts.filter(
        (F.col("parent_author") == "") & F.col("app_name").isin("3speak", "dbuzz")
    ).select("permlink")
    # The per-level frame is persisted and each level is localCheckpoint'd
    # (lineage truncation): without it, iteration N re-executes all N-1
    # prior joins for every isEmpty()/anti-join action — quadratic
    # recompute at depth. With it, each pass is one bounded job and the
    # accumulated frame is a flat union of in-memory level RDDs.
    comments = (
        posts.filter(F.col("parent_author") != "")
        .select("permlink", "parent_permlink")
        .persist()
    )
    allowed = roots.localCheckpoint()
    frontier = allowed
    for _ in range(16):
        newly = (
            comments.join(
                frontier.withColumnRenamed("permlink", "parent_permlink").hint(
                    "broadcast"
                ),
                "parent_permlink",
                "left_semi",
            )
            .select("permlink")
            .join(allowed, "permlink", "left_anti")
            .localCheckpoint()
        )
        if newly.isEmpty():
            break
        allowed = allowed.unionByName(newly)
        frontier = newly
    comments.unpersist()
    return allowed


# ---------------------------------------------------------------------------
# Mentions / notifications (SURVEY A9 + X14)
# ---------------------------------------------------------------------------
@q(
    "a9_mention_notifications",
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
    """),
)
def a9_mention_notifications(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    return mention_notifications(posts).select(
        "ref", "target", "type", "notification_type", "from", "mentioned_at"
    )


# X18 — hex -> long conversion (block height decode, utils.ts:19)
@q(
    "x18_hex_to_long",
    """
    SELECT doc_id,
           CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS block_height
    FROM documents
    """,
)
def x18_hex_to_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", block_height_from_id(F.md5(F.col("text"))).alias("block_height")
    )


# O2+A8 — trendingFeed: max-created_at anchor, 3-day window, payout sort
@q(
    "o2_a8_trending_feed_payout",
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
    """),
)
def o2_a8_trending_feed_payout(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    spec = FeedSpec(limit=100)
    return feeds.trending_feed(posts, spec, trending_by="payout", window_days=3).select(
        "author", "permlink", F.round(F.col("payout"), 6).alias("payout"), "created_at"
    )


# O2b — trendingFeed with trendingBy: COMMENTS (schema.ts:252-255):
# num_comments is derived in-plan (aggregate-then-join on the reply key,
# feeds.py) because the serving table is unenriched here.
@q(
    "o2_trending_feed_comments",
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
    """),
)
def o2_trending_feed_comments(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    spec = FeedSpec(limit=100)
    return feeds.trending_feed(
        posts, spec, trending_by="comments", window_days=3
    ).select("author", "permlink", "num_comments", "created_at")


# O5 — children top-k per parent (resolvers/posts.ts:224-227, batched)
@q(
    "o5_children_topk_per_parent",
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
    """),
)
def o5_children_topk_per_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    w = Window.partitionBy("parent_author", "parent_permlink").orderBy(
        "created_at", "permlink"
    )
    return (
        posts.filter(F.col("parent_author") != "")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("parent_author", "parent_permlink", "permlink", "created_at")
    )


# O6 — relatedFeed deterministic sample (same tags OR same community)
@q(
    "o6_related_feed_sample",
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
    """),
)
def o6_related_feed_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    row = posts.filter(F.col("permlink") == "p0").select("author").head()
    return feeds.related_feed(
        posts, row[0], "p0", limit=25, hash_sample=True
    ).select("author", "permlink")


# X21 — searchFeed: token-AND match, recency sort
@q(
    "x21_search_feed",
    tables.oracle_with_domain("""
    SELECT author, permlink, created_at
    FROM posts
    WHERE list_contains(list_filter(regexp_split_to_array(lower(body), '[^a-z0-9]+'), x -> x <> ''), 'plain')
      AND list_contains(list_filter(regexp_split_to_array(lower(body), '[^a-z0-9]+'), x -> x <> ''), 'body')
      AND NOT list_contains(COALESCE(flags, []), 'comment')
      AND ("TYPE" IS NULL OR "TYPE" <> 'CERAMIC')
    ORDER BY created_at DESC, permlink
    LIMIT 100
    """),
)
def x21_search_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    return feeds.search_feed(posts, "plain body", FeedSpec(limit=100)).select(
        "author", "permlink", "created_at"
    )


# F4 — regex predicate
@q(
    "f4_regex_filter",
    tables.oracle_with_domain("""
    SELECT author, permlink, app
    FROM posts
    WHERE regexp_matches(app, '^3speak/')
      AND NOT list_contains(COALESCE(flags, []), 'comment')
      AND ("TYPE" IS NULL OR "TYPE" <> 'CERAMIC')
    ORDER BY permlink
    """),
)
def f4_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    pred = compile_wherefield(F.col("app"), {"_regex": "^3speak/"})
    base = feeds.compile_feed_filter(FeedSpec())
    return posts.filter(pred & base).select("author", "permlink", "app").orderBy("permlink")


# F9 — existence predicate: absent ≡ NULL (Mongo $exists:false)
@q(
    "f9_missing_field",
    tables.oracle_with_domain("""
    SELECT author, permlink FROM posts WHERE lang IS NULL ORDER BY permlink
    """),
)
def f9_missing_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    pred = compile_wherefield(F.col("lang"), {"_eq": None})
    return posts.filter(pred).select("author", "permlink").orderBy("permlink")


# F10 — point lookup on the composite post key
@q(
    "f10_point_lookup",
    tables.oracle_with_domain("""
    SELECT author, permlink, title, created_at FROM posts WHERE permlink = 'p42' LIMIT 1
    """),
)
def f10_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One job: filter + limit in a single plan (permlink is the unique
    # half of the composite key in this derivation, so no author
    # pre-resolution pass is needed).
    posts = tables.posts(spark, sf_dir)
    return (
        posts.filter(F.col("permlink") == "p42")
        .select("author", "permlink", "title", "created_at")
        .limit(1)
    )


# A2/A3 — distinct authors (of an app / overall)
@q(
    "a2_distinct_authors_of_app",
    tables.oracle_with_domain(
            "SELECT DISTINCT author FROM posts WHERE app_name = '3speak'"
        ),
)
def a2_distinct_authors_of_app(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    return posts.filter(F.col("app_name") == "3speak").select("author").distinct()


@q(
    "a3_distinct_authors",
    tables.oracle_with_domain("SELECT DISTINCT author FROM posts"),
)
def a3_distinct_authors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.posts(spark, sf_dir).select("author").distinct()


# A5 — creator score: 3*Σcomments + 0.1*Σvotes over 3speak posts
# (core.ts:285-383); aggregate-then-join replaces the reference's
# per-author RPC loop.
@q(
    "a5_creator_score",
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
    """),
)
def a5_creator_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documented divergence: the reference's JS accumulator reads
    ``totalVotes = totalVotes + vid.stats?.num_votes || 0``
    (core.ts:356) — ``+`` binds before ``||``, so ONE video with
    missing stats turns the running total NaN and the ``|| 0`` resets
    it, silently discarding every vote counted before that video in
    Mongo natural cursor order. That behavior is nondeterministic even
    for the reference (cursor order is storage order); this engine
    uses the per-row missing-as-0 semantics the code plainly intends
    (SUM over COALESCE), which is also the only reproducible reading."""
    posts = tables.posts(spark, sf_dir)
    threespeak = posts.filter(F.col("app_name") == "3speak").select(
        "author", "permlink", "num_votes"
    )
    child_counts = (
        posts.filter(F.col("parent_author") != "")
        .groupBy(
            F.col("parent_author").alias("author"),
            F.col("parent_permlink").alias("permlink"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        threespeak.join(child_counts, ["author", "permlink"], "left")
        .groupBy("author")
        .agg(
            F.round(
                3 * F.sum(F.coalesce(F.col("n"), F.lit(0)))
                + 0.1 * F.sum("num_votes"),
                2,
            ).alias("score")
        )
    )


# A5b — score ZEROING arm: the reference's second updateMany pass sets
# score=0 for every profile not in the active set (core.ts:374-382).
# Full-profile score table: active creators keep their score, everyone
# else is exactly 0 — exercises attach_creator_scores end-to-end.
@q(
    "a5_score_zeroing",
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
    """),
)
def a5_score_zeroing(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    profiles = posts.select(F.col("author").alias("username")).distinct()
    scores = a5_creator_score(spark, sf_dir)
    return attach_creator_scores(profiles, scores).select("username", "score")


# A6 — sign-partitioned counts via higher-order filter (no explode, no
# shuffle; core.ts:118-119 pattern applied to a numeric array column)
@q(
    "a6_sign_counts_higher_order",
    """
    SELECT vec_id,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           len(list_filter(embedding, x -> x < 0)) AS n_neg
    FROM embeddings
    """,
)
def a6_sign_counts_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_pos"),
        F.size(F.filter(F.col("embedding"), lambda x: x < 0)).alias("n_neg"),
    )


# A7 — scalar count (total active creators, resolvers/index.ts:473)
@q(
    "a7_total_active_creators",
    """
    SELECT COUNT(*) AS total_active FROM (
      SELECT user_id, SUM(value) AS score FROM events GROUP BY user_id
    ) WHERE score > 0
    """,
)
def a7_total_active_creators(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.sum("value").alias("score"))
        .filter(F.col("score") > 0)
        .agg(F.count(F.lit(1)).alias("total_active"))
    )


# X1 — schema-on-read JSON access (json_metadata pattern over events.props)
@q(
    "x1_json_props_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def x1_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
    )


# X16 — asset-string parsing round trip ('1.234 HBD' -> 1.234)
@q(
    "x16_asset_parse",
    """
    SELECT event_id,
           CAST(string_split(CAST(value AS VARCHAR) || ' HBD', ' ')[1] AS DOUBLE)
             AS amount
    FROM events
    """,
)
def x16_asset_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    asset = F.concat(F.col("value").cast("string"), F.lit(" HBD"))
    return e.select("event_id", asset_to_float(asset).alias("amount"))


# X2 — detectPostType app-prefix classification
@q(
    "x2_detect_post_type",
    tables.oracle_with_domain("""
    SELECT author, permlink,
           CASE string_split(app, '/')[1]
                WHEN '3speak' THEN '3speak'
                WHEN 'dBuzz' THEN 'dbuzz'
                WHEN 'dbuzz' THEN 'dbuzz'
                WHEN 'steemit' THEN 'steemit'
                ELSE 'unknown' END AS post_type
    FROM posts
    """),
)
def x2_detect_post_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    return posts.select(
        "author", "permlink", detect_post_type(F.col("app")).alias("post_type")
    )


# J2 — reply -> parent (left outer; missing parents stay NULL)
@q(
    "j2_parent_post_join",
    tables.oracle_with_domain("""
    SELECT c.author, c.permlink, p.author AS parent_found_author,
           p.title AS parent_title
    FROM posts c
    LEFT JOIN posts p
      ON c.parent_author = p.author AND c.parent_permlink = p.permlink
    WHERE c.parent_author <> ''
    """),
)
def j2_parent_post_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    c = posts.filter(F.col("parent_author") != "").select(
        "author", "permlink", "parent_author", "parent_permlink"
    )
    p = posts.select(
        F.col("author").alias("p_author"),
        F.col("permlink").alias("p_permlink"),
        F.col("title").alias("parent_title"),
    )
    return c.join(
        p,
        (c.parent_author == p.p_author) & (c.parent_permlink == p.p_permlink),
        "left",
    ).select(
        "author",
        "permlink",
        F.col("p_author").alias("parent_found_author"),
        "parent_title",
    )


# J7 — follows overview: both directions + counts (resolvers/index.ts:322-351)
@q(
    "j7_follows_overview",
    tables.oracle_with_domain("""
    SELECT
      (SELECT COUNT(*) FROM follows WHERE follower = 'u10') AS following_count,
      (SELECT COUNT(*) FROM follows WHERE following = 'u10') AS follower_count
    """),
)
def j7_follows_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the serving operator's counts; column pruning drops its lists
    return api.follows_overview(tables.follows(spark, sf_dir), {"id": "u10"}).select(
        F.col("followings_count").alias("following_count"),
        F.col("followers_count").alias("follower_count"),
    )


# J11 — external chain-state enrichment join + X16 payout choice
# (core.ts:96-139: per-post RPC becomes a snapshot-table join)
@q(
    "j11_chain_state_enrichment",
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
    """),
)
def j11_chain_state_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    chain_state = e.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("author"),
        F.concat(F.lit("p"), F.col("event_id").cast("string")).alias("permlink"),
        F.concat(F.col("value").cast("string"), F.lit(" HBD")).alias(
            "pending_payout_value"
        ),
        F.concat((F.col("value") / 2).cast("string"), F.lit(" HBD")).alias(
            "total_payout_value"
        ),
        F.concat((F.col("value") / 4).cast("string"), F.lit(" HBD")).alias(
            "curator_payout_value"
        ),
        F.when(
            F.col("event_id") % 3 == 0,
            F.lit("1970-01-01 00:00:00").cast("timestamp"),
        )
        .otherwise(F.col("ts"))
        .alias("last_payout"),
    )
    posts = tables.posts(spark, sf_dir)
    joined = posts.join(chain_state, ["author", "permlink"])
    return joined.select(
        "author",
        "permlink",
        F.round(
            payout_value(
                F.col("pending_payout_value"),
                F.col("total_payout_value"),
                F.col("curator_payout_value"),
                F.col("last_payout"),
            ),
            6,
        ).alias("payout"),
    )


# §2.7 — union of two post sources with discriminators (Hive + Ceramic)
@q(
    "setop_union_sources",
    tables.oracle_with_domain("""
    SELECT author, permlink, src FROM (
      SELECT author, permlink, 'hive' AS src FROM posts
      WHERE "TYPE" = 'HIVE'
      UNION ALL
      SELECT author, permlink, 'ceramic' AS src FROM posts
      WHERE "TYPE" = 'CERAMIC'
    )
    """),
)
def setop_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir)
    hive = posts.filter(F.col("TYPE") == "HIVE").select(
        "author", "permlink", F.lit("hive").alias("src")
    )
    ceramic = posts.filter(F.col("TYPE") == "CERAMIC").select(
        "author", "permlink", F.lit("ceramic").alias("src")
    )
    return hive.unionByName(ceramic)


# Salted two-phase aggregation: same answer as the direct groupBy (the
# oracle is identical to j3's count essence), hot keys spread over 16
# reducers — the skew path for viral posts / hot communities.
@q(
    "skew_salted_comment_counts",
    tables.oracle_with_domain("""
    SELECT parent_author, parent_permlink, COUNT(*) AS num_comments,
           CAST(MAX(num_votes) AS INTEGER) AS max_votes
    FROM posts WHERE parent_author <> ''
    GROUP BY parent_author, parent_permlink
    """),
)
def skew_salted_comment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    posts = tables.posts(spark, sf_dir).filter(F.col("parent_author") != "")
    return salted_agg(
        posts,
        ["parent_author", "parent_permlink"],
        {"num_comments": ("", "count"), "max_votes": ("num_votes", "max")},
        buckets=16,
    )


# Exact distinct count per group via value-salted two-phase
@q(
    "skew_salted_distinct_count",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS distinct_count
    FROM events GROUP BY event_type
    """,
)
def skew_salted_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    return salted_distinct_count(e, ["event_type"], "user_id", buckets=16)


# Hashtag/URL extraction (SURVEY §7 Phase 5: the mention extractor
# generalized). The derived bodies carry no #tags/URLs, so the query
# injects them deterministically — the extractors themselves are
# generic (functions/text.py).
@q(
    "text_hashtag_url_extract",
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
    """),
)
def text_hashtag_url_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE: the registry projection space-joins the arrays because the
    # driver's canonicalizer hashes scalar columns only (array cells are
    # unhashable in its pandas sort path — observed in CORRECTNESS_r04).
    # The production extractors (functions/text.py) still return arrays.
    posts = tables.posts(spark, sf_dir)
    marked = posts.select(
        "author",
        "permlink",
        F.concat(
            F.col("body"),
            F.when(
                F.col("event_id") % 3 == 0,
                F.concat(
                    F.lit(" #Tag"),
                    (F.col("event_id") % 7).cast("string"),
                    F.lit(" see https://example.com/p/"),
                    F.col("event_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("body"),
    )
    return marked.select(
        "author",
        "permlink",
        F.concat_ws(" ", extract_hashtags(F.col("body"))).alias("hashtags"),
        F.concat_ws(" ", extract_urls(F.col("body"))).alias("urls"),
    )


# Batch analog of the reference's offchainIdRefresh job
# (workers/background-proc/core.ts:44-70) + create_stream_id endpoint
# (modules/api/controller.ts:6-40): flagged HIVE posts with no
# offchain_id get one from an assignment snapshot (the external Ceramic
# create modeled as a table, like S4/J11 model RPC state); the merge
# clears needs_stream_id only where an id was actually assigned, and a
# pre-existing offchain_id always wins. Since round 8 the flag itself
# is INGEST-DERIVED, not fixture-injected: synthetic spk.bridge_id ops
# (one per event_id%6==0 naming that post's own key, plus a miss arm at
# %6==3 naming a nonexistent permlink) run through the real
# apply_bridge_id_flags semi-join (hive-stream.ts:264-281), so the
# oracle's `event_id % 6 = 0` is what the flag-setter must REPRODUCE —
# the miss arm proves nonexistent keys stay unflagged. The pre-id
# derivation stays pure modulo arithmetic so DuckDB reproduces the
# whole job.
@q(
    "offchain_id_refresh",
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
    """),
)
def offchain_id_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = tables.posts(spark, sf_dir).select(
        "author",
        "permlink",
        "TYPE",
        F.when(
            F.col("event_id") % 12 == 1,
            F.concat(F.lit("ceramic://pre-"), F.col("event_id").cast("string")),
        ).alias("offchain_id"),
    )
    # Synthetic spk.bridge_id ops: the %6==0 arm names a post that
    # exists (its own key), the %6==3 arm names a permlink that never
    # does — the findOne-miss path of the flag-setter.
    eid = F.col("event_id")
    bridge_ops = tables.load(spark, sf_dir, "events").filter(
        (eid % 6 == 0) | (eid % 6 == 3)
    ).select(
        F.lit("custom_json").alias("op_type"),
        F.lit("spk.bridge_id").alias("custom_json_id"),
        F.concat(
            F.lit('{"author":"u'),
            F.col("user_id").cast("string"),
            F.lit('","permlink":"'),
            F.when(eid % 6 == 0, F.concat(F.lit("p"), eid.cast("string")))
            .otherwise(F.concat(F.lit("missing"), eid.cast("string"))),
            F.lit('"}'),
        ).alias("custom_json"),
    )
    p = apply_bridge_id_flags(p, bridge_ops)
    # The external create: one stream id per flagged key. Deterministic
    # md5 stand-in for the Ceramic-generated id (production swaps this
    # frame for the service's snapshot table).
    assignments = flagged_for_stream_id(p).select(
        "author",
        "permlink",
        F.concat(
            F.lit("ceramic://"),
            F.md5(F.concat(F.col("author"), F.lit("/"), F.col("permlink"))),
        ).alias("stream_id"),
    )
    return assign_stream_ids(p, assignments).select(
        "author", "permlink", "offchain_id", "needs_stream_id"
    )


# W5 (extension): SCD2 history — every version of a key becomes a
# validity interval; the complement of W2 LWW (which keeps only the
# winner). Window bounded by per-key version count; pairs with
# temporal.asof_join for point-in-time reads. The open interval's NULL
# valid_to is coalesced to a far-future sentinel (2200, inside pandas ns range) FOR THE ORACLE ROW
# ONLY (NaT-vs-NaT equality and NULL sort placement differ across
# engines/hashers; is_current carries the open-endedness signal).
@q(
    "w5_scd2_history",
    """
    SELECT event_id, user_id, ROUND(value, 2) AS value,
           ts AS valid_from,
           COALESCE(LEAD(ts) OVER w, TIMESTAMP '2200-01-01 00:00:00')
             AS valid_to,
           LEAD(ts) OVER w IS NULL AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w5_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round("value", 2).alias("value"), "ts"
    )
    return scd2_history(e, ["user_id"], "ts", order=[F.col("event_id")]).select(
        "event_id",
        "user_id",
        "value",
        "valid_from",
        F.coalesce(
            F.col("valid_to"), F.lit("2200-01-01 00:00:00").cast("timestamp")
        ).alias("valid_to"),
        "is_current",
    )


# ===========================================================================
# Round 8: the community updateProps dispatch arm (hive-stream.ts:311-322)
# run through the REAL build_communities field-wise merge on synthetic
# raw ops — account_update2 rows at event_id%3==0 (images/topics ONLY:
# the reference's hive-* $set — hive-stream.ts:458-468 — never writes
# title/about from this family), updateProps custom_json at %3==1
# (title/about, the EXCLUSIVE writer — :311-322). Per field the latest
# op OF ITS OWNING FAMILY wins, and either family alone still creates
# the community row (upsert), leaving the other family's fields NULL.
# ===========================================================================
@q(
    "community_updateprops_merge",
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
    """,
)
def community_updateprops_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    eid = F.col("event_id")
    acct = F.concat(F.lit("hive-"), (F.col("user_id") % 7).cast("string"))
    common = [
        F.col("ts").alias("block_timestamp"),
        eid.alias("block_height"),
        F.lit(0).alias("tx_idx"),
        F.lit(0).alias("op_idx"),
    ]
    au = e.filter(eid % 3 == 0).select(
        F.lit("account_update2").alias("op_type"),
        acct.alias("account"),
        F.concat(
            F.lit('{"profile":{"name":"n'), eid.cast("string"),
            F.lit('","about":"a'), eid.cast("string"),
            F.lit('","profile_image":"img'), eid.cast("string"),
            F.lit('"}}'),
        ).alias("posting_json_metadata"),
        F.lit(None).cast("string").alias("custom_json_id"),
        F.lit(None).cast("string").alias("custom_json"),
        F.array().cast("array<string>").alias("required_posting_auths"),
        *common,
    )
    up = e.filter(eid % 3 == 1).select(
        F.lit("custom_json").alias("op_type"),
        F.lit(None).cast("string").alias("account"),
        F.lit(None).cast("string").alias("posting_json_metadata"),
        F.lit("community").alias("custom_json_id"),
        F.concat(
            F.lit('{"action":"updateProps","title":"t'), eid.cast("string"),
            F.lit('","about":"b'), eid.cast("string"), F.lit('"}'),
        ).alias("custom_json"),
        F.array(acct).alias("required_posting_auths"),
        *common,
    )
    return build_communities(au.unionByName(up)).select(
        "_id",
        "name",
        "title",
        "about",
        F.col("images.avatar").alias("avatar"),
        F.col("images.cover").alias("cover"),
        "updated_at",
    )


# The ENTIRE followsDb dispatch (hive-stream.ts:282-397) through the
# real build_follows on synthetic ops — all three custom_json families,
# the legacy spoof guard (fam 2's signer differs from the claimed
# follower: dropped), spk follow/unfollow DID edges keyed on the
# SIGNER, community subscribe/unsubscribe, per-edge-key LWW and
# unfollow tombstones. Until r8 this pipeline had pytest coverage only;
# the oracle replays the dispatch rules in SQL.
@q(
    "ingest_follows_families",
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
    """,
)
def ingest_follows_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    a = (uid % 20).cast("string")
    b = ((uid * 7 + 3) % 20).cast("string")
    c = (uid % 5).cast("string")
    fam = eid % 5
    alt = eid % 2
    signer = F.concat(F.lit("u"), a)
    # fam 2: signed by a DIFFERENT account than the claimed follower
    spoof_signer = F.concat(F.lit("u"), ((uid % 20 + 1) % 20).cast("string"))
    legacy = F.concat(
        F.lit('{"follower":"u'), a, F.lit('","following":"u'), b,
        F.when(fam == 1, F.lit('","what":[]}'))
        .otherwise(F.lit('","what":["blog"]}')),
    )
    spk = F.concat(
        F.lit('{"did":"did:key:zu'), b, F.lit('","what":["blog"]}')
    )
    comm = F.concat(
        F.lit('{"action":"'),
        F.when(alt == 0, F.lit("subscribe")).otherwise(F.lit("unsubscribe")),
        F.lit('","community":"hive-'), c, F.lit('"}'),
    )
    ops = e.select(
        F.lit("custom_json").alias("op_type"),
        F.when(fam <= 2, F.lit("follow"))
        .when(
            fam == 3,
            F.when(alt == 0, F.lit("spk.follow")).otherwise(
                F.lit("spk.unfollow")
            ),
        )
        .otherwise(F.lit("community"))
        .alias("custom_json_id"),
        F.when(fam <= 2, legacy).when(fam == 3, spk).otherwise(comm).alias(
            "custom_json"
        ),
        F.array(
            F.when(fam == 2, spoof_signer).otherwise(signer)
        ).alias("required_posting_auths"),
        F.col("ts").alias("block_timestamp"),
        eid.alias("block_height"),
        F.lit(0).alias("tx_idx"),
        F.lit(0).alias("op_idx"),
    )
    # `what` flattens to a comma-join: the driver's canonicalizer sorts
    # columns with pandas, which cannot hash array cells (the r4
    # lesson pinned by test_registry_outputs_are_driver_hashable).
    return build_follows(ops).select(
        "_id",
        "follower",
        "following",
        F.array_join("what", ",").alias("what"),
        "followed_at",
    )


# Spark-native pivot (groupBy().pivot().count() with an EXPLICIT value
# list so no extra distinct-discovery job runs) — per-user event-type
# count matrix; the oracle states the equivalent conditional counts.
@q(
    "events_pivot_type_counts",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error
    FROM events
    GROUP BY user_id
    """,
)
def events_pivot_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    types = ["view", "click", "purchase", "signup", "error"]
    return (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


# Half-life-decayed trending (round 11):
# the cliff-free sibling of the max-anchored trendingFeed window —
# per event-type engagement decays by 2^-(age/half_life) from the
# corpus max timestamp, all integer (cents-quantized values, shifted
# contributions), so ranks are bit-exact cross-engine.
@q(
    "feeds_decayed_trending",
    """
    WITH a AS (SELECT MAX(ts) AS mx FROM events),
    c AS (
      SELECT event_type,
             (CAST(ROUND(value * 100, 0) AS BIGINT) * 1000000)
               >> LEAST(CAST(FLOOR(date_diff('day', CAST(ts AS DATE),
                                             CAST(a.mx AS DATE)) / 7.0)
                             AS INT), 62) AS cq
      FROM events, a
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cq) AS BIGINT) AS score_q
    FROM c GROUP BY event_type
    """,
)
def feeds_decayed_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    return decayed_trending(
        e, "ts", "event_type", value_col="value", half_life_days=7
    )


# Ingest dispatch AUDIT (round 12): the
# dead-letter view of build_follows — every drop class the dispatch
# performs silently (each matching a reference behavior or documented
# divergence) becomes a labeled row. Fixture arms one op per reason
# from event arithmetic; the oracle re-derives the labels from the
# same arithmetic, so a dispatch-predicate drift (e.g. the NULL-action
# corner) hash-mismatches here even though build_follows' own entry
# only sees the surviving edges.
@q(
    "ingest_follows_audit",
    """
    SELECT event_id AS block_height,
           CAST(0 AS INT) AS tx_idx, CAST(1 AS INT) AS op_idx,
           CASE WHEN event_id % 7 IN (0, 1, 5) THEN 'follow'
                WHEN event_id % 7 IN (2, 6) THEN 'community'
                ELSE 'spk.follow' END AS family,
           CASE WHEN event_id % 7 IN (0, 6) THEN 'applied'
                ELSE 'dropped' END AS status,
           CASE event_id % 7
                WHEN 1 THEN 'spoofed_or_missing_follower'
                WHEN 2 THEN 'non_follow_action'
                WHEN 3 THEN 'missing_signer'
                WHEN 4 THEN 'missing_following'
                WHEN 5 THEN 'malformed_json'
           END AS reason
    FROM events
    """,
)
def ingest_follows_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    fam = eid % 7
    s = lambda c: c.cast("string")  # noqa: E731
    ua = F.concat(F.lit("u"), s(uid % 20))
    ub = F.concat(F.lit("u"), s((uid * 7 + 3) % 20))
    cj = (
        F.when(
            fam == 0,
            F.concat(
                F.lit('{"follower":"'), ua, F.lit('","following":"'),
                ub, F.lit('","what":["blog"]}'),
            ),
        )
        .when(
            fam == 1,  # spoof: claimed follower is NOT the signer
            F.concat(
                F.lit('{"follower":"'), ub, F.lit('","following":"'),
                ua, F.lit('","what":["blog"]}'),
            ),
        )
        .when(fam == 2, F.lit('{"action":"updateProps","community":"hive-1"}'))
        .when(fam == 3, F.lit('{"did":"did:key:z7"}'))  # authless below
        .when(fam == 4, F.concat(F.lit('{"following":"'), ub, F.lit('"}')))
        .when(fam == 5, F.lit("{not json"))
        .otherwise(F.lit('{"action":"subscribe","community":"hive-2"}'))
    )
    cj_id = (
        F.when(fam.isin(0, 1, 5), F.lit("follow"))
        .when(fam.isin(2, 6), F.lit("community"))
        .otherwise(F.lit("spk.follow"))
    )
    auths = F.when(
        fam == 3, F.array().cast("array<string>")
    ).otherwise(F.array(ua))
    ops = e.select(
        eid.alias("block_height"),
        F.lit(0).cast("int").alias("tx_idx"),
        F.lit(1).cast("int").alias("op_idx"),
        F.lit("custom_json").alias("op_type"),
        cj_id.alias("custom_json_id"),
        cj.alias("custom_json"),
        auths.alias("required_posting_auths"),
    )
    return follows_op_audit(ops)
