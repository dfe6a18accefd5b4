"""Scalar expression library unit tests (SURVEY §2.8) + delegated
authority + ingest permutation invariance (test strategy §5.4)."""

from __future__ import annotations

import json
import random

from pyspark.sql import functions as F

from test_ingest import OPS_SCHEMA, comment, follow_op, vote


def test_scalar_functions(spark):
    from union_indexer_node_spark.functions.scalars import (
        asset_to_float,
        block_height_from_id,
        community_ref,
        deleted_status,
        detect_post_type,
        hive_id,
        is_short,
        payout_value,
        post_refs,
        pullout_ipfs_links,
        roles_structs,
        storage_type,
        vote_sign_counts,
    )

    schema = """
        app string, asset string, block_id string, pp string,
        tags array<string>, flags array<string>, duration double,
        h double, w double,
        source_map array<struct<type:string,url:string,format:string>>,
        roles array<array<string>>,
        voters array<struct<voter:string,rshares:double,percent:int,weight:double>>
    """
    df = spark.createDataFrame(
        [
            {
                "app": "3speak/1.0.2",
                "asset": "1.234 HBD",
                "block_id": "01312d00ff",
                "pp": "hive-123",
                "tags": ["x", "deleted"],
                "flags": [],
                "duration": 120.0,
                "h": 1920.0,
                "w": 1080.0,
                "source_map": [
                    {"type": "video", "url": "https://ipfs.io/ipfs/QmV1", "format": "m3u8"},
                    {"type": "thumbnail", "url": "https://img.host/QmT1", "format": "png"},
                ],
                "roles": [["alice", "admin", "boss"]],
                "voters": [
                    {"voter": "a", "rshares": 10.0, "percent": 100, "weight": 1.0},
                    {"voter": "b", "rshares": -5.0, "percent": -100, "weight": 1.0},
                    {"voter": "c", "rshares": 3.0, "percent": 50, "weight": 1.0},
                ],
            }
        ],
        schema=schema,
    )
    up, down = vote_sign_counts(F.col("voters"))
    row = df.select(
        detect_post_type(F.col("app")).alias("ptype"),
        asset_to_float(F.col("asset")).alias("amount"),
        block_height_from_id(F.col("block_id")).alias("height"),
        community_ref(F.col("pp")).alias("cref"),
        deleted_status(F.col("flags"), F.col("tags")).alias("status"),
        is_short(F.col("duration"), F.col("h"), F.col("w")).alias("short"),
        pullout_ipfs_links(F.col("source_map")).alias("links"),
        storage_type(F.col("source_map")).alias("stype"),
        roles_structs(F.col("roles")).alias("roles"),
        hive_id(F.lit("a"), F.lit("b")).alias("hid"),
        post_refs(F.lit("auth"), F.lit("perm")).alias("refs"),
        up.alias("up"),
        down.alias("down"),
        payout_value(
            F.lit("0.5 HBD"), F.lit("1.0 HBD"), F.lit("0.25 HBD"),
            F.lit("1970-01-01 00:00:00").cast("timestamp"),
        ).alias("pending_payout"),
        payout_value(
            F.lit("0.5 HBD"), F.lit("1.0 HBD"), F.lit("0.25 HBD"),
            F.lit("2024-05-05 00:00:00").cast("timestamp"),
        ).alias("paid_payout"),
    ).collect()[0]

    assert row.ptype == "3speak"  # X2
    assert row.amount == 1.234  # X16
    assert row.height == 20000000  # X18 (0x01312d00)
    assert row.cref == "hive-123"  # X11
    assert row.status == "deleted"  # X8
    assert row.short is True  # X12: 120s portrait
    assert [l.cid for l in row.links] == ["ipfs.io", "img.host"]  # X3
    assert row.stype == "ipfs"  # X4: video entry present
    assert row.roles[0].username == "alice" and row.roles[0].role == "admin"  # X20
    assert row.hid == "hive-a-b"  # X19
    assert row.refs == ["hive:auth:perm"]  # X11
    assert (row.up, row.down) == (2, 1)  # A6
    assert row.pending_payout == 0.5  # X16 epoch -> pending
    assert row.paid_payout == 1.25  # X16 paid -> total+curator


def test_storage_type_fallbacks(spark):
    from union_indexer_node_spark.functions.scalars import storage_type

    df = spark.createDataFrame(
        [
            (1, [{"type": "thumbnail", "url": "u", "format": "png"}]),
            (2, []),
            (3, None),
        ],
        "id int, sm array<struct<type:string,url:string,format:string>>",
    )
    got = {r.id: r.st for r in df.select("id", storage_type(F.col("sm")).alias("st")).collect()}
    assert got == {1: "thumbnail_ipfs", 2: "legacy", 3: "legacy"}


def test_mentions_did_and_case(spark):
    from union_indexer_node_spark.functions.text import extract_mentions

    df = spark.createDataFrame(
        [("hi @Alice and @did:key:z6MkXYZ and @bob-1",)], "body string"
    )
    got = df.select(extract_mentions(F.col("body")).alias("m")).collect()[0].m
    assert got == ["alice", "did:key:z6MkXYZ", "bob-1"]  # X14: hive lowered, DID kept

    # reference-regex boundary rules (notifications.ts:5): an email-like
    # '@' preceded by a name character is NOT a mention; the name
    # charset has no dot, so '@threespeak.beta' captures 'threespeak'
    edge = spark.createDataFrame(
        [("mail me at foo@bar.com, ping @threespeak.beta and @_under",)],
        "body string",
    )
    got2 = edge.select(extract_mentions(F.col("body")).alias("m")).collect()[0].m
    assert got2 == ["threespeak", "_under"]


def test_delegated_authority(spark):
    from union_indexer_node_spark.ingest.profiles import build_delegated_authority

    def au(h, account, payload):
        return dict(
            block_height=h, block_timestamp=None, tx_idx=0, trx_id=f"t{h}",
            op_idx=0, op_type="account_update", author=None, permlink=None,
            parent_author=None, parent_permlink=None, title=None, body=None,
            json_metadata=None, custom_json_id=None,
            custom_json=json.dumps(payload), required_posting_auths=[],
            voter=None, posting_json_metadata=None, account=account,
            extensions=None,
        )

    ops = spark.createDataFrame(
        [
            au(1, "alice", {"posting": {"account_auths": [["appx", "1"]]},
                            "active": {"account_auths": []}}),
            # later update REVOKES appx, grants appy + threespeak
            au(5, "alice", {"posting": {"account_auths": [["appy", "1"],
                                                          ["threespeak", "1"]]},
                            "active": {"account_auths": [["vault", "1"]]}}),
        ],
        schema=OPS_SCHEMA,
    )
    # wildcard arm: every grant of the LATEST update survives
    edges = {
        (r.type, r["from"], r.to)
        for r in build_delegated_authority(ops, allowed_accounts=None).collect()
    }
    assert edges == {
        ("posting", "alice", "appy"),
        ("posting", "alice", "threespeak"),
        ("active", "alice", "vault"),
    }
    # reference default: only CONFIG.delegated_posting_accounts grantees
    # are recorded (config.ts:5-9, checked at hive-stream.ts:408,425)
    filtered = {
        (r.type, r["from"], r.to)
        for r in build_delegated_authority(ops).collect()
    }
    assert filtered == {("posting", "alice", "threespeak")}


def test_ingest_permutation_invariance(spark):
    """Shuffling op arrival order must not change the built table
    (SURVEY §5.4) — the guarantee the reference only approximates via
    time-ordered processing."""
    from union_indexer_node_spark.ingest.posts import build_posts

    rows = [
        comment(10, "a", "p1", "v1"),
        comment(30, "a", "p1", "v3"),
        comment(20, "a", "p1", "v2"),
        comment(11, "b", "r1", "r", parent=("a", "p1")),
        vote(40, "a", "p1", "z"),
        comment(12, "c", "other", "x", app="other/1"),
    ]
    rng = random.Random(7)
    results = []
    for _ in range(3):
        rng.shuffle(rows)
        df = build_posts(spark.createDataFrame(rows, schema=OPS_SCHEMA))
        got = sorted(
            (r.author, r.permlink, r.body, r.block_height, r.num_votes,
             r.allowed_by_parent)
            for r in df.collect()
        )
        results.append(got)
    assert results[0] == results[1] == results[2]


def test_editfold_dmp_patch_applier(spark):
    """X13 — the exact-offset dmp patch applier: well-formed patches
    apply exactly; malformed or mismatching patches fall back to
    replacement (the reference's own failure path,
    hive-stream.ts:540-548)."""
    from union_indexer_node_spark.ingest.editfold import apply_patch

    base = "hello world, this is the body"
    # (patch, expected): the first is dmp patch text replacing 'world'
    # with 'there' (context-bearing)
    bad = "@@ -1,16 +1,16 @@\n goodbye \n-world\n+there\n , this\n"
    cases = [
        ("@@ -1,16 +1,16 @@\n hello \n-world\n+there\n , this is\n",
         "hello there, this is the body"),
        # insertion at the end
        ("@@ -25,5 +25,9 @@\n  body\n+ now\n",
         "hello world, this is the body now"),
        # context mismatch -> verbatim fallback
        (bad, bad),
        # non-patch body -> verbatim (the common full-body case)
        ("just a new body", "just a new body"),
        # %-encoded payloads (dmp encodes specials)
        ("@@ -1,5 +1,5 @@\n-hello\n+h%C3%A9llo\n",
         "héllo world, this is the body"),
    ]
    df = spark.createDataFrame(
        [(i, base, p) for i, (p, _) in enumerate(cases)],
        "i int, base string, patch string",
    )
    got = dict(
        df.select("i", apply_patch(F.col("base"), F.col("patch"))).collect()
    )
    assert [got[i] for i in range(len(cases))] == [e for _, e in cases]


def test_ann_lsh_multiprobe_widens(spark):
    """Hyperplane-LSH: probing Hamming-1 buckets supersets the probe-0
    candidate set and can only improve recall; signatures land every
    vector in exactly one bucket."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.ann_lsh import (
        ann_topk,
        hyperplanes,
        signatures,
    )
    from conftest import SF_DIR

    planes = hyperplanes(dim=64, n_bits=8)
    emb = tables.load(spark, SF_DIR, "embeddings")
    sig = signatures(emb, planes)
    assert sig.count() == emb.count()
    assert sig.filter((F.col("bucket") < 0) | (F.col("bucket") > 255)).count() == 0

    qv = list(emb.filter(F.col("vec_id") == 0).select("embedding").head()[0])
    r0 = {r.vec_id for r in ann_topk(emb, qv, planes, k=50, hamming_probe=0).collect()}
    r1 = {r.vec_id for r in ann_topk(emb, qv, planes, k=50, hamming_probe=1).collect()}
    # probe-1 candidates superset probe-0's top-k pool at same k
    assert len(r1) >= len(r0)
    assert 0 in r0  # the query vector itself is in its own bucket


def test_paginate_keyset_cursor_walk_matches_one_shot(spark):
    """windows.paginate: walking pages by a 3-key cursor over mixed
    asc/desc keys (ties on the leading key, and on the first two)
    reproduces the one-shot order exactly; ``skip`` is ignored once a
    cursor is set and applies as an offset otherwise."""
    from union_indexer_node_spark.operators.windows import paginate

    rng = random.Random(7)
    rows = {(rng.randint(0, 3), rng.choice("xyz"), rng.randint(0, 50))
            for _ in range(80)}
    df = spark.createDataFrame(sorted(rows), "a int, b string, c int")
    order = [("a", True), ("b", False), ("c", True)]

    def keys(frame):
        return [tuple(r) for r in frame.collect()]

    full = keys(paginate(df, order, limit=len(rows)))
    assert full == sorted(rows, key=lambda r: (-r[0], r[1], -r[2]))
    walked, cursor = [], None
    while True:
        page = keys(paginate(df, order, limit=7, after=cursor))
        if not page:
            break
        walked += page
        cursor = page[-1]
    assert walked == full
    cursor = full[10]
    assert keys(paginate(df, order, skip=5, limit=7, after=cursor)) == full[11:18]
    assert keys(paginate(df, order, skip=5, limit=7)) == full[5:12]
