"""S9 serving facade + S3 Ceramic source + X10/X12 getters."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from conftest import SF_DIR


def test_api_root_field_dispatch(spark):
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators import api

    posts = tables.posts(spark, SF_DIR)
    follows = tables.follows(spark, SF_DIR)

    feed = api.execute(
        "socialFeed", posts, {"byApp": {"_eq": "3speak"}, "limit": 10}
    ).collect()
    assert 0 < len(feed) <= 10
    assert all(r.app_name == "3speak" for r in feed)

    follower_feed = api.execute(
        "socialFeed", posts, {"byFollower": "u7", "limit": 10}, follows=follows
    )
    following = {
        r.following for r in follows.filter(F.col("follower") == "u7").collect()
    }
    assert all(r.author in following for r in follower_feed.collect())

    one = api.execute(
        "socialPost", posts, {"author": feed[0].author, "permlink": feed[0].permlink}
    ).collect()
    assert len(one) == 1 and one[0].permlink == feed[0].permlink

    tags = api.execute("trendingTags", posts, {"limit": 3}).collect()
    assert len(tags) == 3 and tags[0].score >= tags[1].score

    search = api.execute("searchFeed", posts, {"term": "plain body", "limit": 5})
    assert search.count() == 5


def test_api_root_field_dispatch_complete(spark):
    """Every root field of the reference schema (schema.ts:308-328) has a
    dispatch entry with a working plan behind it."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.ingest.incremental import watermark_state
    from union_indexer_node_spark.operators import api

    assert set(api.ROOT_FIELDS) == {
        "socialFeed", "searchFeed", "trendingFeed", "relatedFeed",
        "trendingTags", "socialPost", "profile", "community", "follows",
        "leaderBoard", "syncState",
    }

    posts = tables.posts(spark, SF_DIR)
    follows = tables.follows(spark, SF_DIR)
    profiles = spark.createDataFrame(
        [("u1", "did:key:zu1", 12.5), ("u2", None, 0.0), ("u3", None, 3.0)],
        "username string, did string, score double",
    )
    communities = spark.createDataFrame(
        [("hive/hive-1", "hive-1", "Community One")],
        "_id string, name string, title string",
    )

    trending = api.execute("trendingFeed", posts, {"limit": 5}).collect()
    assert 0 < len(trending) <= 5

    related_anchor = posts.filter(F.col("permlink") == "p0").select("author").head()
    related = api.execute(
        "relatedFeed", posts,
        {"author": related_anchor[0], "permlink": "p0", "limit": 5},
    )
    assert related.count() <= 5

    by_name = api.execute("profile", posts, {"id": "u1"}, profiles=profiles).collect()
    assert len(by_name) == 1 and by_name[0].username == "u1"
    by_did = api.execute(
        "profile", posts, {"id": "did:key:zu1"}, profiles=profiles
    ).collect()
    assert len(by_did) == 1 and by_did[0].username == "u1"

    comm = api.execute(
        "community", posts, {"id": "hive-1"}, communities=communities
    ).collect()
    assert len(comm) == 1 and comm[0]._id == "hive/hive-1"
    cfeed = api.community_feed(posts, {"id": "hive-1", "limit": 5}).collect()
    assert all(r.parent_permlink == "hive-1" for r in cfeed)

    ov = api.execute("follows", posts, {"id": "u10"}, follows=follows).collect()[0]
    assert ov.followings_count == len(ov.followings)
    assert ov.followers_count == len(ov.followers)

    lb = api.execute("leaderBoard", posts, {}, profiles=profiles).collect()
    assert [r.username for r in lb] == ["u1", "u3"]
    assert [r.rank for r in lb] == [1, 2]

    state = watermark_state(spark, {"posts": (95, 100), "profiles": (100, 100)})
    sync = api.execute("syncState", posts, {}, state=state).collect()
    lag = {r.table_name: r.block_lag for r in sync}
    assert lag == {"posts": 5, "profiles": 0}


def test_watermark_state_rows_from_literals(spark):
    """syncState's table is built from literals: the same rows and
    types as before, none for no entries, and no Python-side RDD in the
    plan (serving it starts no Python worker)."""
    from union_indexer_node_spark.ingest.incremental import watermark_state

    state = watermark_state(spark, {"posts": (95, 100), "big": (2**40, 2**40 + 1)})
    assert state.dtypes == [
        ("table_name", "string"), ("watermark", "bigint"),
        ("source_watermark", "bigint"),
    ]
    assert sorted(map(tuple, state.collect())) == [
        ("big", 2**40, 2**40 + 1), ("posts", 95, 100),
    ]
    assert watermark_state(spark, {}).count() == 0
    plan = state._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan


def test_follows_overview_both_directions_and_unknown_id(spark):
    """One filtered scan serves both directions: an id on both sides of
    edges gets both lists (a self-follow counts in each), and an id on
    no edge still gets one row with zero counts and empty lists."""
    from union_indexer_node_spark.operators import api

    follows = spark.createDataFrame(
        [("a", "b"), ("c", "a"), ("a", "d"), ("e", "a"), ("a", "a"), ("x", "y")],
        "follower string, following string",
    )
    got = api.follows_overview(follows, {"id": "a"}).collect()
    assert [r.asDict() for r in got] == [
        {
            "followings_count": 3,
            "followings": ["a", "b", "d"],
            "followers_count": 3,
            "followers": ["a", "c", "e"],
        }
    ]
    got = api.follows_overview(follows, {"id": "nobody"}).collect()
    assert [r.asDict() for r in got] == [
        {
            "followings_count": 0,
            "followings": [],
            "followers_count": 0,
            "followers": [],
        }
    ]


def test_api_nested_enrichment_joins(spark):
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators import api

    posts = tables.posts(spark, SF_DIR).limit(50)
    profiles = spark.createDataFrame(
        [("u1", "User One", "bio", ("a.png", "c.png"))],
        "username string, displayName string, about string, "
        "images struct<avatar:string,cover:string>",
    )
    enriched = api.with_author_profile(posts, profiles)
    u1 = enriched.filter(F.col("author") == "u1").collect()
    assert all(r.author_profile.displayName == "User One" for r in u1)
    others = enriched.filter(F.col("author") == "u2").collect()
    assert all(r.author_profile is None for r in others)

    communities = spark.createDataFrame(
        [("hive/hive-1", "Community One", "about")],
        "_id string, title string, about string",
    )
    withc = api.with_community(posts, communities)
    hive1 = withc.filter(F.col("parent_permlink") == "hive-1").collect()
    assert all(r.community.title == "Community One" for r in hive1)
    blog = withc.filter(F.col("parent_permlink") == "blog").collect()
    assert all(r.community is None for r in blog)


def test_api_children_nested_field(spark):
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators import api

    posts = tables.posts(spark, SF_DIR)
    enriched = api.with_children(posts, limit=2)
    rows = enriched.filter(F.size("children") > 0).limit(20).collect()
    assert rows, "some posts must have replies in the fixture data"
    child_keys = {
        (c.parent_author, c.parent_permlink)
        for c in posts.filter(F.col("parent_author") != "").collect()
    }
    for r in rows:
        assert (r.author, r.permlink) in child_keys
        assert len(r.children) <= 2
        assert [c.rank for c in r.children] == sorted(c.rank for c in r.children)
    no_kids = enriched.filter(F.size("children") == 0).limit(5).collect()
    assert all(r.children == [] for r in no_kids)


def test_ceramic_source_union(spark):
    from union_indexer_node_spark.sources.ceramic import (
        CERAMIC_DOCS_SCHEMA,
        ceramic_posts,
        union_post_sources,
    )
    from union_indexer_node_spark import tables

    t = dt.datetime(2024, 2, 1)
    docs = spark.createDataFrame(
        [
            ("k2t6stream1", "v1", "did:key:z6Alice", None, None, "Offchain post",
             "body text", ["tag1"], "{}", t, t, t, False, None),
            ("k2t6stream2", "v1", "did:key:z6Bob", None, None, "Deleted one",
             "x", [], "{}", t, t, t, True, None),
            # pin-only heartbeat (change touched last_pinged only) —
            # reference's change-stream handler skips these
            ("k2t6stream3", "v2", "did:key:z6Eve", None, None, "Heartbeat",
             "y", [], "{}", t, t, t, False, ["last_pinged"]),
            # real edit event: changed body + last_pinged -> passes
            ("k2t6stream4", "v3", "did:key:z6Dan", None, None, "Edited",
             "z", [], "{}", t, t, t, False, ["body", "last_pinged"]),
        ],
        CERAMIC_DOCS_SCHEMA,
    )
    cer = ceramic_posts(docs)
    rows = cer.collect()
    assert len(rows) == 2  # deleted doc + pin heartbeat dropped
    assert {r.permlink for r in rows} == {"k2t6stream1", "k2t6stream4"}
    cer = cer.filter(F.col("permlink") == "k2t6stream1")
    rows = cer.collect()
    assert rows[0].author == "did:key:z6Alice"
    assert rows[0].permlink == "k2t6stream1"
    assert rows[0].TYPE == "CERAMIC" and rows[0].off_chain_id == "k2t6stream1"

    hive = tables.posts(spark, SF_DIR).filter(
        F.col("TYPE").isNull() | (F.col("TYPE") != "CERAMIC")
    ).limit(20)
    unioned = union_post_sources(hive, cer)
    assert unioned.count() == 21
    # F7 default excludes the ceramic row; includeCeramic admits it
    from union_indexer_node_spark.operators import feeds

    default = feeds.social_feed(unioned, feeds.FeedSpec(limit=100))
    assert default.filter(F.col("TYPE") == "CERAMIC").count() == 0
    opted = feeds.social_feed(
        unioned, feeds.FeedSpec(limit=100, include_ceramic=True)
    )
    assert opted.filter(F.col("TYPE") == "CERAMIC").count() == 1


def test_spkvideo_getter_and_resolution(spark):
    from union_indexer_node_spark.functions.scalars import (
        parse_resolution,
        spkvideo_view,
    )

    df = spark.createDataFrame(
        [
            (
                300.0,
                ["i1.png", "i2.png"],
                [("video", "https://cdn/x/master.m3u8", "m3u8")],
                "intro---\n\nshort desc here",
                "alice", "vid1",
                "#EXTM3U\n#EXT-X-STREAM-INF:RESOLUTION=1920x1080\n",
            ),
            (
                None, None, None, "no video", "bob", "post1",
                "no resolution line",
            ),
        ],
        "duration double, images array<string>, "
        "sm array<struct<type:string,url:string,format:string>>, "
        "body string, author string, permlink string, manifest string",
    )
    out = df.select(
        spkvideo_view(
            F.col("duration"), F.col("images"), F.col("sm"), F.col("body"),
            F.col("author"), F.col("permlink"),
        ).alias("sv"),
        parse_resolution(F.col("manifest")).alias("res"),
    ).collect()
    sv = out[0].sv
    assert sv.duration == 300.0
    assert sv.play_url == "https://cdn/x/master.m3u8"
    assert sv.thumbnail_url == "i2.png"  # last image wins (images.pop())
    assert sv.short_description == "short desc here"
    assert out[0].res.width == 1920 and out[0].res.height == 1080
    assert out[1].sv is None  # no duration => no spkvideo struct
    assert out[1].res is None


def _stream_id_posts(spark):
    return spark.createDataFrame(
        [
            # eligible: flagged, no id, HIVE
            ("u1", "p1", "HIVE", True, None),
            # flagged but already has an id -> pre-existing id wins
            ("u2", "p2", "HIVE", True, "ceramic://pre-2"),
            # flagged but CERAMIC type -> not eligible
            ("u3", "p3", "CERAMIC", True, None),
            # unflagged -> untouched
            ("u4", "p4", "HIVE", False, None),
            # eligible but the service returned nothing for it
            ("u5", "p5", "HIVE", True, None),
        ],
        "author string, permlink string, TYPE string, "
        "needs_stream_id boolean, offchain_id string",
    )


def test_assign_stream_ids_merge_semantics(spark):
    """offchainIdRefresh merge (background-proc/core.ts:44-70): only
    flagged HIVE posts without an id get one; pre-existing ids win
    (controller.ts:20-23); unmatched flagged rows stay flagged."""
    from union_indexer_node_spark.sources.ceramic import (
        assign_stream_ids,
        flagged_for_stream_id,
    )

    posts = _stream_id_posts(spark)
    flagged = {
        (r.author, r.permlink) for r in flagged_for_stream_id(posts).collect()
    }
    assert flagged == {("u1", "p1"), ("u5", "p5")}

    assignments = spark.createDataFrame(
        [("u1", "p1", "ceramic://new-1"), ("u3", "p3", "ceramic://wrong-3")],
        "author string, permlink string, stream_id string",
    )
    out = {
        r.author: (r.offchain_id, r.needs_stream_id)
        for r in assign_stream_ids(posts, assignments).collect()
    }
    assert out["u1"] == ("ceramic://new-1", False)  # assigned + flag cleared
    assert out["u2"] == ("ceramic://pre-2", True)  # pre-existing id wins
    assert out["u3"] == (None, True)  # CERAMIC never assigned
    assert out["u4"] == (None, False)  # unflagged untouched
    assert out["u5"] == (None, True)  # no assignment -> still flagged


def test_assign_stream_ids_idempotent(spark):
    """Re-running the job with the same assignment snapshot is a no-op:
    the first pass cleared the flags, so nothing is eligible."""
    from union_indexer_node_spark.sources.ceramic import (
        assign_stream_ids,
        flagged_for_stream_id,
    )

    posts = _stream_id_posts(spark)
    assignments = spark.createDataFrame(
        [("u1", "p1", "ceramic://new-1")],
        "author string, permlink string, stream_id string",
    )
    once = assign_stream_ids(posts, assignments)
    assert flagged_for_stream_id(once).count() == 1  # only u5 remains
    twice = assign_stream_ids(once, assignments)
    assert sorted(once.collect()) == sorted(twice.collect())


def test_assign_stream_ids_dedups_duplicate_assignments(spark):
    """A retried refresh can snapshot duplicate rows for one key; the
    merge must not fan out the posts table (min stream_id wins)."""
    from union_indexer_node_spark.sources.ceramic import assign_stream_ids

    posts = _stream_id_posts(spark)
    dup = spark.createDataFrame(
        [("u1", "p1", "ceramic://bbb"), ("u1", "p1", "ceramic://aaa")],
        "author string, permlink string, stream_id string",
    )
    out = assign_stream_ids(posts, dup).collect()
    assert len(out) == len(posts.collect())  # no key fan-out
    u1 = [r for r in out if r.author == "u1"][0]
    assert u1.offchain_id == "ceramic://aaa"  # deterministic winner
