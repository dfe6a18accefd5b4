"""S9/§3.1 — the serving facade: GraphQL-shaped argument objects
compiled to DataFrame plans.

The reference's GraphQL root fields (schema.ts:308-328) each compile
their args into a Mongo filter via TransformFeedArgs
(resolvers/index.ts:58-149). This module is that compiler, targeting
FeedSpec/DataFrame instead: a thin serving layer (or notebook user)
passes the same argument dicts a GraphQL resolver would receive and
gets a DataFrame back. Nested-field enrichment (author profile,
children, community — the reference's N+1 getters) are explicit joins
here, requested via `include`.
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import feeds
from .feeds import NAME_MAP, FeedSpec


def compile_args(args: Mapping[str, Any]) -> FeedSpec:
    """GraphQL feed args -> FeedSpec (TransformFeedArgs parity).

    Limit parity: the reference reads ``pagination?.limit || 100``
    (resolvers/index.ts:178,209,253) — JS ``||`` sends every FALSY
    limit (0, null, undefined) to the default, so ``limit: 0`` means
    "default page", not "no rows"."""
    where = {k: v for k, v in args.items() if k in NAME_MAP}
    # keyset cursor (round 12, opt-in): {"created_at": iso-or-datetime,
    # "permlink": str} -> FeedSpec.after; absent = reference behavior
    after = None
    cur = args.get("after")
    if cur:
        import datetime as _dt

        # CursorInput declares all fields nullable in SDL; a partial
        # cursor is caller error and must be a clean validation error,
        # not a KeyError (ADVICE r12)
        if cur.get("created_at") is None or cur.get("permlink") is None:
            raise ValueError(
                "after cursor requires both created_at and permlink"
            )
        ts = cur["created_at"]
        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        if cur.get("score") is not None:
            # round-13 BM25 cursor: a score component makes the 3-part
            # keyset the score-ranked search arm consumes
            after = (float(cur["score"]), ts, cur["permlink"])
        else:
            after = (ts, cur["permlink"])
    spec = FeedSpec(
        where=where,
        or_where=args.get("or", {}),
        include_comments=bool(args.get("includeComments", False)),
        include_ceramic=bool(args.get("includeCeramic", False)),
        limit=int(args.get("limit") or 100),
        skip=int(args.get("skip") or 0),
        follower=args.get("byFollower"),
        after=after,
    )
    return spec


def spkvideo_filters(args: Mapping[str, Any]):
    """F8 — spkvideo flag filters (resolvers/index.ts:61-71) against
    the silver posts schema (first_upload / app_types / is_short)."""
    preds = []
    sv = args.get("spkvideo") or {}
    if sv.get("firstUpload"):
        preds.append(F.col("first_upload"))
    if sv.get("only"):
        preds.append(
            F.array_contains(
                F.coalesce(F.col("app_types"), F.array().cast("array<string>")),
                "spkvideo",
            )
        )
    if sv.get("isShort"):
        preds.append(F.col("is_short"))
    return preds


def _with_spkvideo(posts: DataFrame, args: Mapping[str, Any]) -> DataFrame:
    """TransformFeedArgs injects the spkvideo predicates into EVERY
    feed's query (resolvers/index.ts:61-71), not just socialFeed."""
    for p in spkvideo_filters(args):
        posts = posts.filter(p)
    return posts


def social_feed(
    posts: DataFrame,
    args: Mapping[str, Any],
    follows: DataFrame | None = None,
    social_connections: DataFrame | None = None,
) -> DataFrame:
    spec = compile_args(args)
    return feeds.social_feed(
        _with_spkvideo(posts, args),
        spec,
        follows=follows,
        social_connections=social_connections,
    )


def search_feed(posts: DataFrame, args: Mapping[str, Any]) -> DataFrame:
    # rankBy (round 11, opt-in): ONLY the literal 'BM25' selects BM25
    # ranking; anything else (including omitted — the reference's only
    # behavior, resolvers/index.ts:210-213) keeps the recency sort.
    rank = "bm25" if str(args.get("rankBy", "")).upper() == "BM25" else "recency"
    return feeds.search_feed(
        _with_spkvideo(posts, args),
        args["term"],
        compile_args(args),
        rank_by=rank,
        # BM25 pages carry their score so the caller can build the
        # r13 (score, created_at, permlink) cursor; Post.score is a
        # nullable SDL field, so recency-arm responses are unchanged
        with_score=(rank == "bm25"),
    )


def trending_feed(posts: DataFrame, args: Mapping[str, Any]) -> DataFrame:
    # Reference parity (resolvers/index.ts:236-241): ONLY the literal
    # 'PAYOUT' selects the payout metric; an omitted or other value
    # sorts by comment count — there is no schema default.
    by = "payout" if str(args.get("trendingBy", "")).upper() == "PAYOUT" else "comments"
    # rankBy (round 12, opt-in): ONLY the literal 'DECAYED' selects the
    # half-life-decayed ranking; anything else (including omitted — the
    # reference's only behavior) keeps the hard anchor-window sort.
    rank = (
        "decayed"
        if str(args.get("rankBy", "")).upper() == "DECAYED"
        else "window"
    )
    return feeds.trending_feed(
        _with_spkvideo(posts, args),
        compile_args(args),
        trending_by=by,
        rank_by=rank,
    )


def related_feed(posts: DataFrame, args: Mapping[str, Any]) -> DataFrame:
    # `|| 25` falsy-default parity (resolvers/index.ts:300)
    return feeds.related_feed(
        _with_spkvideo(posts, args),
        args["author"],
        args["permlink"],
        limit=int(args.get("limit") or 25),
    )


def trending_tags(posts: DataFrame, args: Mapping[str, Any]) -> DataFrame:
    # `$limit: args.limit || 5` falsy-default parity (resolvers/index.ts:390)
    return feeds.trending_tags(posts, limit=int(args.get("limit") or 5))


def social_post(posts: DataFrame, args: Mapping[str, Any]) -> DataFrame:
    """F10 point lookup (socialPost root field)."""
    return posts.filter(
        (F.col("author") == args["author"]) & (F.col("permlink") == args["permlink"])
    ).limit(1)


def with_author_profile(posts: DataFrame, profiles: DataFrame) -> DataFrame:
    """J5 — the author.profile nested field as one broadcast join
    instead of a per-row findOne (resolvers/posts.ts:140-155)."""
    pr = profiles.select(
        F.col("username").alias("author"),
        F.struct("displayName", "about", "images").alias("author_profile"),
    )
    return posts.join(F.broadcast(pr), "author", "left")


def with_community(posts: DataFrame, communities: DataFrame) -> DataFrame:
    """J6 — community nested field: join on the computed 'hive/<permlink>'
    key only when parent_permlink names a community
    (resolvers/posts.ts:245-260)."""
    key = F.when(
        F.col("parent_permlink").startswith("hive-"),
        F.concat_ws("/", F.lit("hive"), F.col("parent_permlink")),
    )
    cm = communities.select(
        F.col("_id").alias("_community_id"),
        F.struct("title", "about").alias("community"),
    )
    return posts.withColumn("_community_id", key).join(
        F.broadcast(cm), "_community_id", "left"
    ).drop("_community_id")


def with_children(posts: DataFrame, *, limit: int = 100) -> DataFrame:
    """J1 as a nested field — the reference's per-post children find()
    (resolvers/posts.ts:224-227) batched: top-`limit` replies per post
    (created_at asc, the O5 window) collected into one array<struct>
    column. One shuffle on the reply key; posts without replies carry
    an empty array."""
    from pyspark.sql import Window

    w = Window.partitionBy("parent_author", "parent_permlink").orderBy(
        "created_at", "permlink"
    )
    kids = (
        posts.filter(F.col("parent_author") != "")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= limit)
        .groupBy(
            F.col("parent_author").alias("author"),
            F.col("parent_permlink").alias("permlink"),
        )
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("_rn").alias("rank"),
                        F.col("author").alias("child_author"),
                        F.col("permlink").alias("child_permlink"),
                        F.col("created_at").alias("child_created_at"),
                    )
                )
            ).alias("children")
        )
    )
    empty = F.array().cast(
        "array<struct<rank:int,child_author:string,"
        "child_permlink:string,child_created_at:timestamp>>"
    )
    return posts.join(kids, ["author", "permlink"], "left").withColumn(
        "children", F.coalesce(F.col("children"), empty)
    )


def profile(profiles: DataFrame, args: Mapping[str, Any]) -> DataFrame:
    """profile(id) root field (resolvers/index.ts:308-321): a
    did-prefixed id resolves against the DID column (the reference
    routes to the Ceramic profile store), anything else by username.
    The prefix check is `startsWith('did')` WITHOUT the colon — exact
    reference parity, which means a Hive username that happens to start
    with 'did' (e.g. 'didier') routes to the DID store and misses, just
    like the reference."""
    ident = args.get("id") or args.get("username")
    if ident is None:
        return profiles.limit(0)
    if str(ident).startswith("did"):
        pred = F.col("did") == ident
    else:
        pred = F.col("username") == ident
    return profiles.filter(pred).limit(1)


def community(communities: DataFrame, args: Mapping[str, Any]) -> DataFrame:
    """community(id) root field (resolvers/index.ts:406-410): the
    reference does ``findOne({_id: `hive/${args.id}`})`` — it ALWAYS
    prepends 'hive/', so only the community NAME form resolves and a
    full '_id' input ('hive/hive-xxx') becomes 'hive/hive/hive-xxx'
    and misses, exactly as here. The nested latestFeed/trendingFeed
    close over socialFeed with byCommunity injected — the DataFrame
    analog is community_feed()."""
    ident = args["id"]
    return communities.filter(F.col("_id") == f"hive/{ident}").limit(1)


def community_feed(
    posts: DataFrame, args: Mapping[str, Any], *, trending: bool = False
) -> DataFrame:
    """The community root field's nested latestFeed/trendingFeed
    (resolvers/index.ts:425-452): socialFeed/trendingFeed with
    byCommunity {_eq: id} injected into the args. The id may arrive as
    the community name ('hive-xxx') or the full _id ('hive/hive-xxx' —
    the form community() itself accepts); posts store the NAME in
    parent_permlink, so the _id form is normalized to its last
    segment."""
    merged = dict(args)
    merged["byCommunity"] = {"_eq": str(args["id"]).rsplit("/", 1)[-1]}
    if trending:
        return trending_feed(posts, merged)
    # Route through the module-level social_feed so the spkvideo
    # predicates reach this path too — the reference's
    # Community.latestFeed delegates to Resolvers.socialFeed
    # (resolvers/index.ts:425-437), which applies them to every feed.
    return social_feed(posts, merged)


def follows_overview(follows: DataFrame, args: Mapping[str, Any]) -> DataFrame:
    """follows(id) root field (resolvers/index.ts:322-351): both edge
    directions with their counts — the reference's two find() + two
    countDocuments() collapse into one filtered scan with conditional
    aggregates. A global aggregate always yields one row, so an unknown
    id gets counts 0 and empty lists."""
    ident = args["id"]
    out_edge = F.col("follower") == ident
    in_edge = F.col("following") == ident
    return follows.filter(out_edge | in_edge).agg(
        F.count(F.when(out_edge, 1)).alias("followings_count"),
        F.sort_array(F.collect_list(F.when(out_edge, F.col("following")))).alias(
            "followings"
        ),
        F.count(F.when(in_edge, 1)).alias("followers_count"),
        F.sort_array(F.collect_list(F.when(in_edge, F.col("follower")))).alias(
            "followers"
        ),
    )


def leaderboard(
    profiles: DataFrame,
    args: Mapping[str, Any],
    follows: DataFrame | None = None,
) -> DataFrame:
    """leaderBoard root field (resolvers/index.ts:455-475). rankBy
    (round 12, opt-in): ONLY the literal 'PAGERANK' ranks by follow-
    graph centrality; anything else keeps the reference's creator-score
    ranking."""
    if str(args.get("rankBy", "")).upper() == "PAGERANK":
        return feeds.leaderboard(
            profiles, follows=follows, rank_by="pagerank"
        )
    return feeds.leaderboard(profiles)


def sync_state(state: DataFrame, args: Mapping[str, Any]) -> DataFrame:
    """syncState root field (resolvers/index.ts:352-362): the reference
    reads a single stats doc {blockLag, syncEtaSeconds, blockLagDiff}.
    Here the analog is the ingest watermark table: one row per derived
    table with its high watermark; the lag columns are computed against
    the newest source watermark seen (see ingest/incremental.py)."""
    return state.select(
        "table_name",
        "watermark",
        "source_watermark",
        (F.col("source_watermark") - F.col("watermark")).alias("block_lag"),
    )


ROOT_FIELDS = {
    "socialFeed": social_feed,
    "searchFeed": search_feed,
    "trendingFeed": trending_feed,
    "relatedFeed": related_feed,
    "trendingTags": trending_tags,
    "socialPost": social_post,
    "profile": profile,
    "community": community,
    "follows": follows_overview,
    "leaderBoard": leaderboard,
    "syncState": sync_state,
}

# root fields that resolve against a table other than posts
_FIELD_TABLE = {
    "profile": "profiles",
    "community": "communities",
    "follows": "follows",
    "leaderBoard": "profiles",
    "syncState": "state",
}


def execute(root_field: str, posts: DataFrame, args: Mapping[str, Any], **tables) -> DataFrame:
    """Dispatch a root field like the GraphQL schema does
    (schema.ts:308-328). ``posts`` backs the feed/post fields; profile,
    community, follows, leaderBoard and syncState resolve against the
    matching keyword table."""
    fn = ROOT_FIELDS[root_field]
    if root_field == "socialFeed":
        return fn(
            posts,
            args,
            follows=tables.get("follows"),
            social_connections=tables.get("social_connections"),
        )
    if root_field == "leaderBoard":
        # follows rides along for the opt-in rankBy=PAGERANK arm
        return fn(
            tables[_FIELD_TABLE[root_field]],
            args,
            follows=tables.get("follows"),
        )
    if root_field in _FIELD_TABLE:
        return fn(tables[_FIELD_TABLE[root_field]], args)
    return fn(posts, args)
