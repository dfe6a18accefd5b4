"""Ingest pipeline semantics (SURVEY W2/W3/J9/X2/X8/X13).

Fixture follows FIXTURES.md raw_ops requirements: (a) out-of-order edit
for LWW, (b) 3-deep reply chain under an allowed root + a chain under a
disallowed root, (c) deleted tag, (d) all four app strings, (e)
follow/unfollow pairs.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from union_indexer_node_spark.ingest.posts import build_follows, build_posts

T0 = dt.datetime(2024, 1, 1)


def _jm(app, tags=None, flags=None):
    return json.dumps({"app": app, "tags": tags or [], "flags": flags or []})


def comment(h, author, permlink, body, app="3speak/1.0", parent=("", ""),
            tags=None, flags=None, tx=0, op=0):
    return dict(
        block_height=h, block_timestamp=T0 + dt.timedelta(minutes=h),
        tx_idx=tx, trx_id=f"tx{h}-{tx}", op_idx=op, op_type="comment",
        author=author, permlink=permlink, parent_author=parent[0],
        parent_permlink=parent[1], title=f"t-{permlink}",
        body=body, json_metadata=_jm(app, tags, flags),
        custom_json_id=None, custom_json=None, required_posting_auths=[],
        voter=None, posting_json_metadata=None, account=None, extensions=None,
    )


def vote(h, author, permlink, voter, tx=0):
    return dict(
        block_height=h, block_timestamp=T0 + dt.timedelta(minutes=h),
        tx_idx=tx, trx_id=f"v{h}-{tx}", op_idx=0, op_type="vote",
        author=author, permlink=permlink, parent_author=None,
        parent_permlink=None, title=None, body=None, json_metadata=None,
        custom_json_id=None, custom_json=None, required_posting_auths=[],
        voter=voter, posting_json_metadata=None, account=None, extensions=None,
    )


def follow_op(h, cid, follower, following, what):
    return dict(
        block_height=h, block_timestamp=T0 + dt.timedelta(minutes=h),
        tx_idx=0, trx_id=f"f{h}", op_idx=0, op_type="custom_json",
        author=None, permlink=None, parent_author=None, parent_permlink=None,
        title=None, body=None, json_metadata=None,
        custom_json_id=cid,
        custom_json=json.dumps(
            {"follower": follower, "following": following, "what": what}
        ),
        required_posting_auths=[follower],
        voter=None, posting_json_metadata=None, account=None, extensions=None,
    )


def spoofed_follow(h, *, signer, claimed, following):
    op = follow_op(h, "follow", claimed, following, ["blog"])
    op["required_posting_auths"] = [signer]
    op["trx_id"] = f"spoof{h}"
    return op


def followerless_follow(h, signer, following):
    """Legacy 'follow' whose payload has no follower field — the
    reference's guard (account !== json[1].follower with follower
    undefined) drops it."""
    op = follow_op(h, "follow", None, following, ["blog"])
    op["custom_json"] = json.dumps({"following": following, "what": ["blog"]})
    op["required_posting_auths"] = [signer]
    op["trx_id"] = f"nofo{h}"
    return op


def spk_did_follow(h, signer, did, *, claimed_follower=None):
    """spk.follow shaped like the reference payload: {did, what}; an
    optional spoofed 'follower' field must be ignored (hive-stream.ts
    :325-344 always uses required_posting_auths[0])."""
    payload = {"did": did, "what": ["blog"]}
    if claimed_follower is not None:
        payload["follower"] = claimed_follower
    op = follow_op(h, "spk.follow", signer, did, ["blog"])
    op["custom_json"] = json.dumps(payload)
    op["required_posting_auths"] = [signer]
    op["trx_id"] = f"spkdid{h}"
    return op


def community_op(h, account, community, action):
    return dict(
        block_height=h, block_timestamp=T0 + dt.timedelta(minutes=h),
        tx_idx=0, trx_id=f"c{h}", op_idx=0, op_type="custom_json",
        author=None, permlink=None, parent_author=None, parent_permlink=None,
        title=None, body=None, json_metadata=None,
        custom_json_id="community",
        custom_json=json.dumps({"action": action, "community": community}),
        required_posting_auths=[account],
        voter=None, posting_json_metadata=None, account=None, extensions=None,
    )


OPS_SCHEMA = """
    block_height long, block_timestamp timestamp, tx_idx int, trx_id string,
    op_idx int, op_type string, author string, permlink string,
    parent_author string, parent_permlink string, title string, body string,
    json_metadata string, custom_json_id string, custom_json string,
    required_posting_auths array<string>, voter string,
    posting_json_metadata string, account string, extensions string
"""


def _ops_rows():
    return [
        # (a) LWW: edits at h=10, h=30; stale duplicate at h=20 arrives
        # "after" (row order shuffled) — final title must be h=30's
        comment(10, "alice", "post1", "v1 body"),
        comment(30, "alice", "post1", "v3 body final"),
        comment(20, "alice", "post1", "v2 body stale"),
        # (b) reply chain 3 deep under allowed root
        comment(11, "bob", "reply1", "r1", parent=("alice", "post1")),
        comment(12, "carol", "reply2", "r2", parent=("bob", "reply1")),
        comment(13, "dave", "reply3", "r3", parent=("carol", "reply2")),
        # chain under DISALLOWED root (steemit app)
        comment(14, "eve", "badroot", "x", app="steemit/0.1"),
        comment(15, "frank", "badreply", "y", parent=("eve", "badroot")),
        # (c) deleted tag
        comment(16, "gina", "gone", "dead", tags=["deleted"]),
        # (d) app variety + first_upload ordering for alice
        comment(40, "alice", "post2", "second", app="3speak/2.0"),
        comment(17, "henry", "buzz", "b", app="dbuzz/2"),
        # henry's FIRST 3speak post comes after his dbuzz post: the W3
        # window ranks 3speak posts only, so this must flag first_upload
        comment(45, "henry", "vid1", "v", app="3speak/1.0"),
        comment(18, "iris", "other", "o", app="other/1"),
        # votes
        vote(50, "alice", "post1", "v_a"),
        vote(51, "alice", "post1", "v_b"),
        # (e) follow then unfollow; follow that stays
        follow_op(60, "follow", "zoe", "alice", ["blog"]),
        follow_op(61, "follow", "zoe", "alice", []),  # empty what = unfollow
        # spk.follow carries its target as json.did ONLY
        # (hive-stream.ts:334-336); a did-less {follower, following}
        # payload (72) is the junk-key case -> dropped
        spk_did_follow(62, "yan", "alice"),
        follow_op(72, "spk.follow", "yan", "bob", ["blog"]),
        # spoofed follow: signed by mallory but claiming zoe -> dropped
        # (hive-stream.ts:366-368)
        spoofed_follow(63, signer="mallory", claimed="zoe", following="henry"),
        # community subscribe / unsubscribe lifecycle
        community_op(64, "walt", "hive-123", "subscribe"),
        community_op(65, "walt", "hive-999", "subscribe"),
        community_op(66, "walt", "hive-999", "unsubscribe"),
        # follower-less legacy follow: reference guard drops it
        followerless_follow(67, "quinn", "alice"),
        # community updateProps: routes to communities, NEVER a follow
        # edge (hive-stream.ts:311-322 touches communityDb only)
        community_op(69, "hive-123", "hive-123", "updateProps"),
        # spk.follow with reference payload shape {did, what} + a
        # spoofed follower field: edge belongs to the SIGNER
        spk_did_follow(68, "rex", "did:key:z6abc", claimed_follower="zoe"),
    ]


@pytest.fixture(scope="module")
def ops(spark):
    return spark.createDataFrame(_ops_rows(), schema=OPS_SCHEMA)


def test_ingest_permutation_invariance(spark, ops):
    """SURVEY §5.4: every table is a deterministic function of the op
    SET — replaying the ops in any order (row order AND partitioning)
    must yield identical posts/follows tables. This is the guarantee
    the LWW windows + explicit event ordering provide and the reference
    only approximates with buffered height ordering."""
    import random

    from union_indexer_node_spark.ingest.posts import build_follows

    def canon(df):
        return sorted(map(tuple, df.fillna("").collect()))

    base_posts = canon(build_posts(ops).drop("beneficiaries"))
    base_follows = canon(build_follows(ops))
    rows = _ops_rows()
    for seed in (1, 7, 42):
        shuffled = rows[:]
        random.Random(seed).shuffle(shuffled)
        odf = spark.createDataFrame(shuffled, schema=OPS_SCHEMA).repartition(
            5, "block_height"
        )
        assert canon(build_posts(odf).drop("beneficiaries")) == base_posts, seed
        assert canon(build_follows(odf)) == base_follows, seed


def test_lww_and_editfold(spark, ops):
    posts = build_posts(ops)
    p1 = posts.filter((F.col("author") == "alice") & (F.col("permlink") == "post1")).collect()[0]
    assert p1.title == "t-post1"
    assert p1.block_height == 30  # W2: height 30 wins despite row order
    # X13: none of the later bodies is a patch, so each replaces the
    # body verbatim and the last one wins
    assert p1.body == "v3 body final"
    assert p1.created_at == T0 + dt.timedelta(minutes=10)
    assert p1.updated_at == T0 + dt.timedelta(minutes=30)
    assert p1.num_votes == 2


def test_allowlist_fixpoint(spark, ops):
    posts = build_posts(ops)
    rows = {r.permlink: r for r in posts.collect()}
    # chain under allowed root: every level allowed
    for p in ("post1", "reply1", "reply2", "reply3"):
        assert rows[p].allowed_by_parent, p
    # disallowed root and its reply: not allowed
    assert not rows["badroot"].allowed_by_parent
    assert not rows["badreply"].allowed_by_parent
    # type allowlist (X2)
    assert rows["post1"].allowed_by_type
    assert rows["buzz"].allowed_by_type
    assert not rows["other"].allowed_by_type


def test_deleted_and_flags(spark, ops):
    posts = build_posts(ops)
    rows = {r.permlink: r for r in posts.collect()}
    assert rows["gone"].status == "deleted"  # X8
    assert rows["post1"].status == "published"
    assert rows["reply1"].flags == ["comment"]  # F6 source
    assert rows["post1"].flags == []


def test_first_upload_window(spark, ops):
    posts = build_posts(ops)
    rows = {(r.author, r.permlink): r for r in posts.collect()}
    assert rows[("alice", "post1")].first_upload  # W3: earliest 3speak post
    assert not rows[("alice", "post2")].first_upload
    assert not rows[("iris", "other")].first_upload  # not a 3speak post
    # the window ranks 3SPEAK posts, not all posts: henry's first post
    # overall was dbuzz, but vid1 is his first 3speak -> flagged
    assert rows[("henry", "vid1")].first_upload
    assert not rows[("henry", "buzz")].first_upload


def test_follows_tombstone(spark, ops):
    f = build_follows(ops)
    rows = {(r.follower, r.following): r for r in f.collect()}
    edges = set(rows)
    assert ("zoe", "alice") not in edges  # unfollow tombstone wins (S8)
    assert ("yan", "alice") in edges
    # spoofed follow (signed by mallory, claiming zoe) is dropped
    assert ("zoe", "henry") not in edges
    assert ("mallory", "henry") not in edges
    # community subscribe survives; unsubscribe tombstones
    assert rows[("walt", "hive-123")].what == ["community"]
    assert rows[("walt", "hive-123")]._id == "hive-walt-hive-123"
    assert ("walt", "hive-999") not in edges
    # spk edges keep the reference's slash keyspace
    assert rows[("yan", "alice")]._id == "hive/yan/alice"
    # did-less spk.follow payload: NULL target dropped (reference
    # would key hive/yan/undefined — the documented junk-key family)
    assert ("yan", "bob") not in edges
    # follower-less legacy follow dropped (reference guard: account !==
    # undefined -> continue)
    assert ("quinn", "alice") not in edges
    # spk.follow {did, follower: spoofed}: the edge belongs to the
    # SIGNER and follows the payload's did — the spoofed follower field
    # never creates an edge for zoe
    assert ("rex", "did:key:z6abc") in edges
    assert rows[("rex", "did:key:z6abc")]._id == "hive/rex/did:key:z6abc"
    assert ("zoe", "did:key:z6abc") not in edges
    # updateProps never creates a follow edge
    assert ("hive-123", "hive-123") not in edges
