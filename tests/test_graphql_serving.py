"""e2e: the GraphQL serving slice executes the same DataFrame plans as
the operator layer (S9 end-to-end parity — reference entry point is
graphql-yoga at /api/v2/graphql, modules/api/index.ts:54-75)."""

from __future__ import annotations

import pytest

from conftest import SF_DIR

pytest.importorskip("graphql")


@pytest.fixture(scope="module")
def service(spark):
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.serving import GraphQLService

    posts = tables.posts(spark, SF_DIR)
    follows = tables.follows(spark, SF_DIR)
    profiles = spark.createDataFrame(
        [
            ("u1", "did:key:u1", "User One", "bio one", 12.0),
            ("u2", "did:key:u2", "User Two", "bio two", 5.0),
            ("u3", None, "User Three", None, 0.0),
        ],
        "username string, did string, displayName string, about string, score double",
    )
    state = spark.createDataFrame(
        [("posts", 900.0, 1000.0)],
        "table_name string, watermark double, source_watermark double",
    )
    communities = spark.createDataFrame(
        [("hive/hive-3", "hive-3", "Community Three", "about three")],
        "_id string, name string, title string, about string",
    )
    return GraphQLService(
        posts=posts,
        follows=follows,
        profiles=profiles,
        state=state,
        communities=communities,
    )


def test_social_feed_query_matches_operator_layer(spark, service):
    """POST-shaped socialFeed query == feeds.social_feed rows."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators import feeds

    body = service.execute(
        """
        query {
          socialFeed(feedOptions: {byApp: {_eq: "3speak"}},
                     pagination: {limit: 20}) {
            items { author permlink title created_at app_name }
          }
        }
        """
    )
    assert "errors" not in body, body
    items = body["data"]["socialFeed"]["items"]
    assert len(items) == 20

    posts = tables.posts(spark, SF_DIR)
    spec = feeds.FeedSpec(where={"byApp": {"_eq": "3speak"}}, limit=20)
    expected = [
        (r.author, r.permlink, r.title, r.created_at.isoformat(sep=" "))
        for r in feeds.social_feed(posts, spec)
        .select("author", "permlink", "title", "created_at")
        .collect()
    ]
    got = [
        (i["author"], i["permlink"], i["title"], i["created_at"])
        for i in items
    ]
    assert got == expected
    assert all(i["app_name"] == "3speak" for i in items)


def test_social_feed_or_and_follower_args(service):
    """FeedOptions _or + byFollower compile through the same paths as
    the operator layer (J4 semi-join, F5 $or)."""
    body = service.execute(
        """
        query {
          socialFeed(feedOptions: {
            _or: {byCreator: {_eq: "u3"}, byLang: {_eq: "es"}}
          }, pagination: {limit: 10}) {
            items { author lang }
          }
        }
        """
    )
    assert "errors" not in body, body
    for i in body["data"]["socialFeed"]["items"]:
        assert i["author"] == "u3" or i["lang"] == "es"

    body2 = service.execute(
        """
        query {
          socialFeed(feedOptions: {byFollower: "u7"},
                     pagination: {limit: 5}) {
            items { author }
          }
        }
        """
    )
    assert "errors" not in body2, body2


def test_point_and_aggregate_root_fields(service):
    """socialPost / trendingTags / leaderBoard / follows / syncState /
    profile all dispatch and return their declared shapes."""
    body = service.execute(
        """
        query {
          trendingTags(limit: 3) { tags { tag score } }
          leaderBoard { items { username score rank } }
          follows(id: "u7") { followings_count followers_count }
          syncState { items { table_name block_lag } }
          profile(id: "did:key:u2") { username displayName }
        }
        """
    )
    assert "errors" not in body, body
    d = body["data"]
    assert len(d["trendingTags"]["tags"]) == 3
    assert all(t["score"] > 0 for t in d["trendingTags"]["tags"])
    lb = d["leaderBoard"]["items"]
    assert [e["rank"] for e in lb] == list(range(1, len(lb) + 1))
    assert d["follows"]["followings_count"] >= 0
    assert d["syncState"]["items"][0]["block_lag"] == 100.0
    assert d["profile"]["username"] == "u2"


def test_community_nested_feed_injects_by_community(service):
    """community.latestFeed closes over the community id like the
    reference's nested resolver (resolvers/index.ts:426-437): every
    returned post belongs to the community."""
    body = service.execute(
        """
        query {
          community(id: "hive-3") {
            title
            latestFeed(pagination: {limit: 8}) {
              items { author permlink parent_permlink }
            }
          }
        }
        """
    )
    assert "errors" not in body, body
    c = body["data"]["community"]
    assert c["title"] == "Community Three"
    items = c["latestFeed"]["items"]
    assert len(items) > 0
    assert all(i["parent_permlink"] == "hive-3" for i in items)


def test_unknown_field_is_a_graphql_error(service):
    body = service.execute("query { nope { x } }")
    assert body.get("errors")


def test_bm25_search_builds_lazily_and_holds_no_state(spark, service, monkeypatch):
    """A rankBy: BM25 searchFeed request starts no Spark job while its
    DataFrame is constructed, and repeated requests leave no persistent
    RDD behind (no per-request checkpointed index)."""
    from union_indexer_node_spark.serving import graphql_api

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def last_job():
        return max(tracker.getJobIdsForGroup(None) or [-1])

    at_collect = []
    real_rows = graphql_api._rows

    def rows(df):
        at_collect.append(last_job())
        return real_rows(df)

    monkeypatch.setattr(graphql_api, "_rows", rows)
    query = (
        'query { searchFeed(searchTerm: "hello", rankBy: "BM25",'
        " pagination: {limit: 5}) { items { permlink score } } }"
    )
    persistent = sc._jsc.sc().getPersistentRDDs().size()
    for _ in range(3):
        before = last_job()
        body = service.execute(query)
        assert "errors" not in body, body
        assert body["data"]["searchFeed"]["items"]
        assert at_collect[-1] == before, "construction started a job"
    assert sc._jsc.sc().getPersistentRDDs().size() == persistent
