"""S9 — the GraphQL serving slice: the reference's primary user entry
point (graphql-yoga at ``/api/v2/graphql``, modules/api/index.ts:54-75)
re-expressed as a read-only graphql-core executor over published
DataFrames.

The schema mirrors the reference's Query root and input types
(graphql-v2/schema.ts:255-328) — WhereField / SpkVideoQuery /
PaginationOptions / FeedOptions arguments flatten into the same
argument dicts ``operators/api.py`` compiles (its TransformFeedArgs
parity layer, resolvers/index.ts:58-149), so the HTTP surface and the
notebook surface execute the SAME DataFrame plans. Output types are
the engine's silver columns rather than the reference's nested Mongo
documents (enrichment joins are explicit — operators/api.py J5/J6).

Serving model: feeds are limit-bounded (100 default), so each request
collects a bounded row set — the executor is a thin driver-side facade
and the heavy lifting stays in Spark. A production deployment would put
this behind any HTTP framework; the executor itself is framework-free
(graphql-core only) to stay inside the public-dependency envelope.
"""

from __future__ import annotations

import datetime as dt
from functools import partial
from typing import Any, Mapping

from graphql import GraphQLError, build_schema, graphql_sync
from pyspark.sql import DataFrame

from ..operators import api as _api


# Query root parity: graphql-v2/schema.ts:308-328. Input types:
# schema.ts:255-306.
SDL = """
input WhereField {
  _regex: String
  _eq: String
  _ne: String
  _lt: Int
  _gt: Int
  _lte: Int
  _gte: Int
  _in: [String!]
  _nin: [String!]
}

input SpkVideoQuery {
  firstUpload: Boolean
  only: Boolean
  isShort: Boolean
}

input PaginationOptions {
  limit: Int
  skip: Int
}

input CursorInput {
  created_at: String
  permlink: String
  score: Float
}

input FeedOptionsOR {
  byTag: WhereField
  byCreator: WhereField
  byPermlink: WhereField
  byCommunity: WhereField
  byApp: WhereField
  byType: WhereField
  byLang: WhereField
}

input FeedOptions {
  _or: FeedOptionsOR
  includeComments: Boolean
  includeCeramic: Boolean
  byFollower: String
  byTag: WhereField
  byCreator: WhereField
  byPermlink: WhereField
  byCommunity: WhereField
  byApp: WhereField
  byType: WhereField
  byLang: WhereField
}

enum TrendingByType {
  COMMENTS
  PAYOUT
}

type Post {
  author: String
  permlink: String
  parent_author: String
  parent_permlink: String
  title: String
  body: String
  tags: [String]
  status: String
  TYPE: String
  app: String
  app_name: String
  lang: String
  num_votes: Int
  payout: Float
  created_at: String
  score: Float
}

type FeedOutput {
  items: [Post]
}

type TagScore {
  tag: String
  score: Int
}

type TrendingTags {
  tags: [TagScore]
}

type Profile {
  username: String
  did: String
  displayName: String
  about: String
  score: Float
}

type Community {
  _id: String
  name: String
  title: String
  about: String
  latestFeed(spkvideo: SpkVideoQuery, pagination: PaginationOptions,
             feedOptions: FeedOptions): FeedOutput
  trendingFeed(spkvideo: SpkVideoQuery, pagination: PaginationOptions,
               feedOptions: FeedOptions,
               trendingBy: TrendingByType, rankBy: String): FeedOutput
}

type FollowOverview {
  followings_count: Int
  followings: [String]
  followers_count: Int
  followers: [String]
}

type LeaderBoardEntry {
  username: String
  score: Float
  rank: Int
}

type LeaderBoard {
  items: [LeaderBoardEntry]
}

type SyncRow {
  table_name: String
  watermark: Float
  source_watermark: Float
  block_lag: Float
}

type SyncState {
  items: [SyncRow]
}

type Query {
  socialPost(author: String, permlink: String): Post
  socialFeed(spkvideo: SpkVideoQuery, pagination: PaginationOptions,
             feedOptions: FeedOptions, after: CursorInput): FeedOutput
  trendingFeed(spkvideo: SpkVideoQuery, pagination: PaginationOptions,
               feedOptions: FeedOptions,
               trendingBy: TrendingByType, rankBy: String): FeedOutput
  relatedFeed(author: String, permlink: String,
              pagination: PaginationOptions): FeedOutput
  searchFeed(searchTerm: String, pagination: PaginationOptions,
             feedOptions: FeedOptions, rankBy: String,
             after: CursorInput): FeedOutput
  profile(id: String): Profile
  syncState: SyncState
  trendingTags(limit: Int): TrendingTags
  community(id: String): Community
  follows(id: String): FollowOverview
  leaderBoard(rankBy: String): LeaderBoard
}
"""


def _flatten_feed_args(args: Mapping[str, Any]) -> dict:
    """GraphQL argument shape -> the flat dict operators/api.py compiles
    (mirrors how TransformFeedArgs reads args.feedOptions/.pagination/
    .spkvideo, resolvers/index.ts:58-149)."""
    out: dict[str, Any] = {}
    fo = args.get("feedOptions") or {}
    for k, v in fo.items():
        if v is None:
            continue
        if k == "_or":
            out["or"] = {kk: vv for kk, vv in v.items() if vv is not None}
        else:
            out[k] = v
    pg = args.get("pagination") or {}
    if pg.get("limit") is not None:
        out["limit"] = pg["limit"]
    if pg.get("skip") is not None:
        out["skip"] = pg["skip"]
    if args.get("spkvideo"):
        out["spkvideo"] = args["spkvideo"]
    if args.get("searchTerm") is not None:
        out["term"] = args["searchTerm"]
    if args.get("rankBy") is not None:
        # round-11 opt-in BM25 ranking arm; absent = reference recency
        out["rankBy"] = args["rankBy"]
    if args.get("after") is not None:
        # round-12 opt-in keyset cursor; absent = reference skip/limit
        out["after"] = args["after"]
    if args.get("trendingBy") is not None:
        out["trendingBy"] = args["trendingBy"].lower()
    for k in ("author", "permlink", "limit", "id"):
        if args.get(k) is not None:
            out[k] = args[k]
    return out


def _rows(df: DataFrame) -> list[dict]:
    """Collect a bounded result as JSON-shaped dicts (timestamps to ISO
    strings — GraphQL has no timestamp scalar in this schema)."""
    out = []
    for row in df.collect():
        d = row.asDict(recursive=True)
        for k, v in d.items():
            if isinstance(v, dt.datetime):
                d[k] = v.isoformat(sep=" ")
        out.append(d)
    return out


# root fields whose SDL type is one object, not a list wrapper
_SINGLE_ROW = {"socialPost", "profile", "community", "follows"}


class GraphQLService:
    """Read-only executor for the 11 root fields over published tables.

    ``tables`` supplies the backing DataFrames: ``posts`` (required for
    feed fields), plus ``profiles``/``communities``/``follows``/
    ``social_connections``/``state`` as needed by the field (same table
    routing as operators/api.py:execute).
    """

    def __init__(self, **tables: DataFrame) -> None:
        self._tables = tables
        self._schema = build_schema(SDL)

    def _resolve(self, field: str, info: Any, **args: Any) -> Any:
        """One root field: flatten the GraphQL args, dispatch, and shape
        the rows as the SDL's output type."""
        rows = _rows(self._dispatch(field, _flatten_feed_args(args)))
        if field in _SINGLE_ROW:
            return rows[0] if rows else None
        return {"tags" if field == "trendingTags" else "items": rows}

    def _dispatch(self, field: str, flat: Mapping[str, Any]) -> DataFrame:
        """Route through operators/api.execute; a missing required
        argument surfaces as a clear GraphQL error rather than an
        opaque KeyError. (The reference SDL declares these args
        nullable — schema.ts:309-314 — so schema validation can't
        enforce them; its resolvers crash on undefined instead. We keep
        SDL parity and make the failure legible.)"""
        try:
            return _api.execute(
                field,
                self._tables.get("posts"),
                flat,
                **{k: v for k, v in self._tables.items() if k != "posts"},
            )
        except KeyError as exc:
            raise GraphQLError(
                f"{field}: missing required argument {exc}"
            ) from exc

    def _community(self, info: Any, **args: Any) -> dict | None:
        """community root field with the reference's nested closures
        (resolvers/index.ts:406-454): latestFeed/trendingFeed re-enter
        socialFeed/trendingFeed with byCommunity {_eq: id} injected
        into feedOptions."""
        row = self._resolve("community", info, **args)
        if row is None:
            return None
        cid = args.get("id")

        # Delegate to operators/api.community_feed — the one place that
        # owns the byCommunity injection — so the HTTP surface can't
        # drift from the operator facade.
        def feed(trending: bool):
            def resolve(info, **a):
                flat = _flatten_feed_args(a)
                flat["id"] = cid
                df = _api.community_feed(
                    self._tables["posts"], flat, trending=trending
                )
                return {"items": _rows(df)}

            return resolve

        row["latestFeed"] = feed(False)
        row["trendingFeed"] = feed(True)
        return row

    def root_value(self) -> dict:
        # graphql-core's default resolver calls root_value[field](info,
        # **args)
        out = {f: partial(self._resolve, f) for f in _api.ROOT_FIELDS}
        out["community"] = self._community
        return out

    def create_stream_id(self, author: str, permlink: str) -> dict:
        """REST ``POST /api/v1/create_stream_id`` parity
        (modules/api/controller.ts:6-40):
        - unknown post -> {"stream_id": null};
        - post already carrying offchain_id -> that id;
        - else the reference CREATES a Ceramic stream (external write)
          and persists it. The engine models external Ceramic state as
          the ``stream_assignments`` snapshot table (the S4/S10 idiom,
          sources/ceramic.py:assign_stream_ids): an assignment row
          yields {"stream_id", "trx_id"}; no assignment yields
          {"stream_id": null} — the id appears once the batch refresh
          lands, the serving layer itself stays read-only."""
        posts = self._tables.get("posts")
        from pyspark.sql import functions as F

        key = (F.col("author") == author) & (F.col("permlink") == permlink)
        cols = set(posts.columns)
        row = posts.filter(key).limit(1).collect()
        if not row:
            return {"stream_id": None}
        if "offchain_id" in cols and row[0]["offchain_id"]:
            return {"stream_id": row[0]["offchain_id"]}
        asn = self._tables.get("stream_assignments")
        if asn is not None:
            arow = asn.filter(key).limit(1).collect()
            if arow and arow[0]["stream_id"]:
                out = {"stream_id": arow[0]["stream_id"]}
                if "trx_id" in asn.columns:
                    out["trx_id"] = arow[0]["trx_id"]
                return out
        return {"stream_id": None}

    def execute(self, query: str, variables: dict | None = None) -> dict:
        """Run one GraphQL query; returns {"data": ..., "errors": [...]}
        like an HTTP GraphQL response body."""
        result = graphql_sync(
            self._schema,
            query,
            root_value=self.root_value(),
            variable_values=variables,
        )
        body: dict[str, Any] = {"data": result.data}
        if result.errors:
            body["errors"] = [e.formatted for e in result.errors]
        return body
