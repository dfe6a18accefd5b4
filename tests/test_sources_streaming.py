"""Sources, sinks, profiles, intra-tx enrichment, streaming, multimodal
(SURVEY S1/S6-S8, X5/X6/X22, T1-T7, multimodal plumbing)."""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from test_ingest import OPS_SCHEMA, T0, comment, follow_op  # reuse fixture helpers

T1 = dt.datetime(2024, 1, 1, 1, 0)


# --- S1: block explosion ----------------------------------------------------
def test_explode_blocks(spark):
    from union_indexer_node_spark.sources.blocks import BLOCKS_SCHEMA, explode_blocks

    blocks = spark.createDataFrame(
        [
            {
                # height 0x01312d00 = 20000000
                "block_id": "01312d00deadbeef",
                "timestamp": T1,
                "transactions": [
                    {
                        "transaction_id": "tx-a",
                        "operations": [
                            {"op_type": "comment", "payload": "{}"},
                            {"op_type": "vote", "payload": "{}"},
                        ],
                    },
                    {
                        "transaction_id": "tx-b",
                        "operations": [{"op_type": "custom_json", "payload": "{}"}],
                    },
                ],
            }
        ],
        schema=BLOCKS_SCHEMA,
    )
    ops = explode_blocks(blocks).collect()
    assert len(ops) == 3
    by_pos = {(r.tx_idx, r.op_idx): r for r in ops}
    assert by_pos[(0, 0)].op_type == "comment"
    assert by_pos[(0, 1)].op_type == "vote"
    assert by_pos[(1, 0)].trx_id == "tx-b"
    assert all(r.block_height == 20000000 for r in ops)


# --- S6/S7/S8: sinks --------------------------------------------------------
def test_upsert_and_deletes(spark):
    from union_indexer_node_spark.sources.sinks import apply_deletes, upsert

    cur = spark.createDataFrame(
        [("a", 1, "old"), ("b", 1, "keep")], "k string, v long, s string"
    )
    inc = spark.createDataFrame(
        [("a", 2, "new"), ("c", 1, "ins")], "k string, v long, s string"
    )
    merged = upsert(cur, inc, ["k"], [F.col("v")])
    rows = {r.k: r.s for r in merged.collect()}
    assert rows == {"a": "new", "b": "keep", "c": "ins"}

    tomb = spark.createDataFrame([("b",)], "k string")
    after = apply_deletes(merged, tomb, ["k"])
    assert {r.k for r in after.collect()} == {"a", "c"}


# --- X22: profiles / communities routing ------------------------------------
def _account_update(h, account, profile, did=None):
    return dict(
        block_height=h, block_timestamp=T0 + dt.timedelta(minutes=h),
        tx_idx=0, trx_id=f"a{h}", op_idx=0, op_type="account_update2",
        author=None, permlink=None, parent_author=None, parent_permlink=None,
        title=None, body=None, json_metadata=None, custom_json_id=None,
        custom_json=None, required_posting_auths=[], voter=None,
        posting_json_metadata=json.dumps({"profile": profile, "did": did}),
        account=account, extensions=None,
    )


def _update_props(h, account, title, about):
    return dict(
        block_height=h, block_timestamp=T0 + dt.timedelta(minutes=h),
        tx_idx=0, trx_id=f"up{h}", op_idx=0, op_type="custom_json",
        author=None, permlink=None, parent_author=None, parent_permlink=None,
        title=None, body=None, json_metadata=None,
        custom_json_id="community",
        custom_json=json.dumps(
            {"action": "updateProps", "title": title, "about": about}
        ),
        required_posting_auths=[account], voter=None,
        posting_json_metadata=None, account=None, extensions=None,
    )


def test_profiles_and_communities(spark):
    from union_indexer_node_spark.ingest.profiles import (
        build_communities,
        build_profiles,
    )

    ops = spark.createDataFrame(
        [
            _account_update(1, "alice", {"name": "Alice One", "about": "v1"}),
            _account_update(5, "alice", {"name": "Alice Two", "about": "v2"},
                            did="did:key:z6Alice"),
            _account_update(2, "hive-135485", {"name": "My Community",
                                               "about": "c",
                                               "profile_image": "av.png"}),
        ],
        schema=OPS_SCHEMA,
    )
    profs = {r.username: r for r in build_profiles(ops).collect()}
    assert set(profs) == {"alice"}  # hive-* routed away
    assert profs["alice"].displayName == "Alice Two"  # LWW
    assert profs["alice"].did == "did:key:z6Alice"
    assert profs["alice"]._id == "hive/alice"

    comms = {r.name: r for r in build_communities(ops).collect()}
    assert set(comms) == {"hive-135485"}
    # account_update2 sets images only — NEVER title/about (those are
    # updateProps-exclusive, hive-stream.ts:458-468 vs :311-322)
    assert comms["hive-135485"].title is None
    assert comms["hive-135485"].images.avatar == "av.png"
    assert comms["hive-135485"]._id == "hive/hive-135485"


def test_profileless_update_never_wipes(spark):
    """hive-stream.ts:453-455: an account_update2 with NO profile
    object is skipped before the upsert — a later profile-less update
    must not become the LWW winner and wipe displayName/about."""
    from union_indexer_node_spark.ingest.profiles import build_profiles

    no_profile = _account_update(9, "alice", None)
    no_profile["posting_json_metadata"] = json.dumps({"did": "did:key:zX"})
    ops = spark.createDataFrame(
        [
            _account_update(1, "alice", {"name": "Alice One", "about": "v1"}),
            no_profile,  # LATER, but profile-less: skipped entirely
        ],
        schema=OPS_SCHEMA,
    )
    profs = {r.username: r for r in build_profiles(ops).collect()}
    assert profs["alice"].displayName == "Alice One"
    assert profs["alice"].about == "v1"
    # the skipped op's did is NOT merged either — the reference never
    # reaches the upsert for it
    assert profs["alice"].did is None


def test_community_updateprops_merge(spark):
    """hive-stream.ts:311-322 — a community's updateProps custom_json
    is the EXCLUSIVE writer of title/about; the account_update2 hive-*
    branch (:458-468) $sets only username/TYPE/images/topics. A later
    account_update2 must therefore never clobber updateProps-set
    title/about (r8 ADVICE item, profiles.py:130)."""
    from union_indexer_node_spark.ingest.profiles import build_communities

    ops = spark.createDataFrame(
        [
            # props BEFORE the au: the au updates images but must NOT
            # touch the props-set title/about
            _update_props(1, "hive-135485", "Early Title", "early"),
            _account_update(2, "hive-135485", {"name": "AU Title",
                                               "about": "au about",
                                               "profile_image": "av.png",
                                               "cover_image": "cov.png"}),
            _update_props(10, "hive-135485", "Props Title", "props about"),
            # au LATER than the props: title/about still come from the
            # props family (reference parity — au never writes them)
            _update_props(3, "hive-77", "Old Props", "old"),
            _account_update(8, "hive-77", {"name": "AU Loses", "about": "x"}),
            # updateProps-only community: the upsert creates the row
            _update_props(4, "hive-new", "Fresh", "created by props"),
            # au-only community: row exists, title/about NULL
            _account_update(5, "hive-solo", {"name": "ignored",
                                             "profile_image": "solo.png"}),
        ],
        schema=OPS_SCHEMA,
    )
    comms = {r.name: r for r in build_communities(ops).collect()}
    assert set(comms) == {"hive-135485", "hive-77", "hive-new", "hive-solo"}
    c = comms["hive-135485"]
    assert c.title == "Props Title" and c.about == "props about"
    assert c.images.avatar == "av.png" and c.images.cover == "cov.png"
    assert c.updated_at == T0 + dt.timedelta(minutes=10)
    assert c.topics == []  # au present, no topcs key -> [] (:464)
    w = comms["hive-77"]
    assert w.title == "Old Props" and w.about == "old"
    n = comms["hive-new"]
    assert n.title == "Fresh" and n._id == "hive/hive-new"
    assert n.images.avatar is None and n.images.cover is None
    assert n.topics is None  # no au ever ran -> field absent (NULL)
    s = comms["hive-solo"]
    assert s.title is None and s.about is None
    assert s.images.avatar == "solo.png"


# --- X5/X6: intra-transaction adjacency -------------------------------------
def test_intra_tx_beneficiaries_and_authority(spark):
    from union_indexer_node_spark.ingest.posts import build_posts

    base = comment(7, "vid", "v1", "video post")
    co = dict(base, op_idx=1, op_type="comment_options", author=None,
              permlink=None, title=None, body=None, json_metadata=None,
              extensions=json.dumps(
                  [["comment_payout_beneficiaries",
                    {"beneficiaries": [{"account": "spk.beneficiary",
                                        "weight": 900}]}]]))
    cj = dict(base, op_idx=2, op_type="custom_json", author=None,
              permlink=None, title=None, body=None, json_metadata=None,
              custom_json_id="3speak-publish", custom_json="{}",
              required_posting_auths=["threespeak"])
    # a SECOND comment_options in the same tx: must not fan out the
    # comment row (which would duplicate _events and double-apply edit
    # patches); the later op wins
    co2 = dict(co, op_idx=3,
               extensions=json.dumps(
                   [["comment_payout_beneficiaries",
                     {"beneficiaries": [{"account": "spk.second",
                                         "weight": 100}]}]]))
    plain = comment(9, "txt", "t1", "no extras")
    ops = spark.createDataFrame([base, co, co2, cj, plain], schema=OPS_SCHEMA)
    out = build_posts(ops).collect()
    assert len([r for r in out if r.permlink == "v1"]) == 1, "benef fan-out"
    rows = {r.permlink: r for r in out}
    assert rows["v1"].beneficiaries == [("spk.second", 100)]  # last op wins
    assert rows["v1"].authority_signed is True
    assert rows["t1"].beneficiaries is None
    assert rows["t1"].authority_signed is False


# --- T1-T7: streaming foreachBatch ------------------------------------------
def test_streaming_posts_incremental(spark, tmp_path):
    from union_indexer_node_spark.streaming.stream import (
        ops_file_stream,
        start_posts_stream,
    )

    ops_dir = str(tmp_path / "ops")
    state_dir = str(tmp_path / "posts_state")
    ckpt = str(tmp_path / "ckpt")

    # micro-batch 1: initial post; micro-batch 2: edit at higher height
    b1 = spark.createDataFrame([comment(10, "s", "p", "v1")], schema=OPS_SCHEMA)
    b2 = spark.createDataFrame([comment(20, "s", "p", "v2")], schema=OPS_SCHEMA)
    b1.write.parquet(ops_dir + "/f1.parquet")
    b2.write.parquet(ops_dir + "/f2.parquet")

    stream = ops_file_stream(spark, ops_dir, OPS_SCHEMA, max_files_per_trigger=1)
    sq = start_posts_stream(spark, stream, state_dir, ckpt)
    sq.awaitTermination(120)

    final = spark.read.parquet(state_dir)
    rows = final.filter((F.col("author") == "s") & (F.col("permlink") == "p")).collect()
    assert len(rows) == 1
    assert rows[0].body == "v2"  # LWW across micro-batches
    assert rows[0].block_height == 20


def test_streaming_rewrite_is_partition_bounded(spark, tmp_path):
    """A micro-batch must rewrite only the created_date partitions it
    touches: data files of untouched partitions keep their exact paths
    and mtimes across a batch that lands in a different date."""
    import os

    from union_indexer_node_spark.streaming.stream import (
        ops_file_stream,
        start_posts_stream,
    )

    ops_dir = str(tmp_path / "ops")
    state_dir = str(tmp_path / "posts_state")
    ckpt = str(tmp_path / "ckpt")

    def snapshot_files(part: str) -> dict[str, float]:
        d = os.path.join(state_dir, part)
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    # batch 1: post on 2024-01-01 (comment(h) stamps T0 + h minutes)
    b1 = spark.createDataFrame([comment(10, "a", "p1", "day one")], schema=OPS_SCHEMA)
    b1.write.parquet(ops_dir + "/f1.parquet")
    sq = start_posts_stream(
        spark, ops_file_stream(spark, ops_dir, OPS_SCHEMA), state_dir, ckpt
    )
    sq.awaitTermination(120)
    day1 = "created_date=2024-01-01"
    before = snapshot_files(day1)
    assert before, "day-1 partition must exist after batch 1"

    # batch 2: different key, lands on 2024-01-02 (h=2000 min > 1 day)
    b2 = spark.createDataFrame([comment(2000, "b", "p2", "day two")], schema=OPS_SCHEMA)
    b2.write.parquet(ops_dir + "/f2.parquet")
    sq = start_posts_stream(
        spark, ops_file_stream(spark, ops_dir, OPS_SCHEMA), state_dir, ckpt
    )
    sq.awaitTermination(120)

    assert snapshot_files(day1) == before, (
        "untouched day-1 partition was rewritten"
    )
    assert os.path.isdir(os.path.join(state_dir, "created_date=2024-01-02"))
    got = {r.permlink: r.body for r in spark.read.parquet(state_dir).collect()}
    assert got == {"p1": "day one", "p2": "day two"}


def test_streaming_edit_keeps_created_at_and_backfill_migrates(spark, tmp_path):
    """Batch-rebuild equivalence for the cross-event timestamps: a
    LATER edit wins the LWW but must NOT move created_at (first-seen
    time is min over ALL events, like the batch pipeline computes); a
    BACKFILLED earlier event pulls created_at backward, migrating the
    row's date partition and removing the emptied one."""
    import os

    from union_indexer_node_spark.streaming.stream import (
        ops_file_stream,
        start_posts_stream,
    )

    ops_dir = str(tmp_path / "ops")
    state_dir = str(tmp_path / "posts_state")
    ckpt = str(tmp_path / "ckpt")

    def run(batch_rows, fname):
        spark.createDataFrame(batch_rows, schema=OPS_SCHEMA).write.parquet(
            ops_dir + f"/{fname}.parquet"
        )
        sq = start_posts_stream(
            spark, ops_file_stream(spark, ops_dir, OPS_SCHEMA), state_dir, ckpt
        )
        sq.awaitTermination(120)

    run([comment(2000, "a", "p1", "v1")], "f1")
    d1 = spark.read.parquet(state_dir).collect()[0].created_date

    # later edit: LWW winner's body, but created_at must NOT move
    run([comment(3000, "a", "p1", "v2")], "f2")
    rows = spark.read.parquet(state_dir).collect()
    assert len(rows) == 1 and rows[0].body == "v2"
    assert rows[0].created_date == d1, "later edit must not reset created_at"

    # backfilled EARLIER event: body keeps the LWW winner (h=3000), but
    # created_at pulls back to the backfill date; the emptied later
    # partition is removed
    run([comment(10, "a", "p1", "v0")], "f3")
    rows = spark.read.parquet(state_dir).collect()
    assert len(rows) == 1 and rows[0].body == "v2"
    assert rows[0].created_date < d1, "backfill must pull created_at back"
    assert not os.path.isdir(
        os.path.join(state_dir, f"created_date={d1}")
    ), "emptied partition must be removed, not left with the stale row"


# --- snapshot layout: one data file per partition directory -----------------
@contextlib.contextmanager
def _session_conf(spark, conf):
    """Set SQL confs on the test session for the block only."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# With coalescing off, every shuffled frame keeps spark.sql.shuffle.partitions
# partitions, so a write that did not cluster by the partition columns would
# leave one file per (task, partition value).
_NO_COALESCE = {"spark.sql.adaptive.coalescePartitions.enabled": "false"}


def _files_per_dir(root, prefix):
    return {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(root, d)))
        for d in os.listdir(root)
        if d.startswith(prefix)
    }


def test_write_snapshot_one_file_per_partition(spark, tmp_path):
    from union_indexer_node_spark.sources.sinks import write_snapshot

    path = str(tmp_path / "snap")
    df = spark.range(300).withColumn(
        "created_date", F.expr("date_add(DATE'2024-01-01', CAST(id % 3 AS INT))")
    )
    write_snapshot(df.repartition(4), path, partition_by=["created_date"])
    assert _files_per_dir(path, "created_date=") == {
        f"created_date=2024-01-0{d}": 1 for d in (1, 2, 3)
    }
    ids = [r.id for r in spark.read.parquet(path).select("id").collect()]
    assert sorted(ids) == list(range(300))


def test_write_snapshot_splits_oversized_partition(spark, tmp_path):
    """A date larger than the advisory partition size is written by
    several tasks, one file each, and no row is lost."""
    from union_indexer_node_spark.sources.sinks import write_snapshot

    path = str(tmp_path / "snap")
    # 20,000 rows on 2024-01-01, 10 on 2024-01-02
    df = spark.range(20_010).withColumn(
        "created_date",
        F.when(F.col("id") < 20_000, F.lit(dt.date(2024, 1, 1))).otherwise(
            F.lit(dt.date(2024, 1, 2))
        ),
    )
    with _session_conf(
        spark, {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k"}
    ):
        write_snapshot(df.repartition(4), path, partition_by=["created_date"])
    files = _files_per_dir(path, "created_date=")
    assert files["created_date=2024-01-01"] > 1
    assert files["created_date=2024-01-02"] == 1
    ids = [r.id for r in spark.read.parquet(path).select("id").collect()]
    assert sorted(ids) == list(range(20_010))


def test_streaming_posts_one_file_per_touched_date(spark, tmp_path):
    """Posts first load and a later micro-batch whose merged frame has
    several partitions both leave one file in each date directory."""
    from union_indexer_node_spark.streaming.stream import (
        ops_file_stream,
        start_posts_stream,
    )

    ops_dir = str(tmp_path / "ops")
    state_dir = str(tmp_path / "posts_state")
    ckpt = str(tmp_path / "ckpt")
    days = [10, 1500, 3000]  # comment(h) stamps T0 + h minutes: 3 dates

    def run(batch_rows, fname):
        spark.createDataFrame(batch_rows, schema=OPS_SCHEMA).write.parquet(
            ops_dir + f"/{fname}.parquet"
        )
        with _session_conf(spark, _NO_COALESCE):
            sq = start_posts_stream(
                spark, ops_file_stream(spark, ops_dir, OPS_SCHEMA), state_dir, ckpt
            )
            sq.awaitTermination(120)

    run([comment(days[i % 3] + i, f"a{i}", "p", "v1") for i in range(12)], "f1")
    want = {f"created_date=2024-01-0{d}": 1 for d in (1, 2, 3)}
    assert _files_per_dir(state_dir, "created_date=") == want

    # edits of day-1 and day-2 authors plus a new day-2 post
    run(
        [
            comment(4000, "a0", "p", "v2"),
            comment(4001, "a1", "p", "v2"),
            comment(1600, "b", "p", "v1"),
        ],
        "f2",
    )
    assert _files_per_dir(state_dir, "created_date=") == want
    got = {r.author: r.body for r in spark.read.parquet(state_dir).collect()}
    assert len(got) == 13
    assert got["a0"] == got["a1"] == "v2" and got["a2"] == "v1"


def test_streaming_follows_one_file_per_touched_bucket(spark, tmp_path):
    from union_indexer_node_spark.streaming.stream import (
        follows_view,
        ops_file_stream,
        start_follows_stream,
    )

    ops_dir = str(tmp_path / "ops")
    state_dir = str(tmp_path / "follows_state")

    def run(batch_rows, fname):
        spark.createDataFrame(batch_rows, schema=OPS_SCHEMA).write.parquet(
            ops_dir + f"/{fname}.parquet"
        )
        with _session_conf(spark, _NO_COALESCE):
            sq = start_follows_stream(
                spark,
                ops_file_stream(spark, ops_dir, OPS_SCHEMA),
                state_dir,
                str(tmp_path / "ckpt"),
                n_buckets=4,
            )
            sq.awaitTermination(120)

    run([follow_op(10 + i, "follow", f"u{i}", f"v{i}", ["blog"]) for i in range(16)], "f1")
    files = _files_per_dir(state_dir, "_bucket=")
    assert files and set(files.values()) == {1}

    run(
        [follow_op(100 + i, "follow", f"w{i}", f"v{i}", ["blog"]) for i in range(6)]
        + [follow_op(200, "follow", "u0", "v0", [])],
        "f2",
    )
    files = _files_per_dir(state_dir, "_bucket=")
    assert files and set(files.values()) == {1}
    live = follows_view(spark.read.parquet(state_dir)).collect()
    assert len(live) == 16 + 6 - 1


# --- multimodal plumbing ----------------------------------------------------
def test_multimodal_probe_and_frame_plan(spark):
    from union_indexer_node_spark.pipelines.multimodal import (
        frame_sample_plan,
        probe_media,
    )

    media = spark.createDataFrame(
        [
            (1, bytearray(b"\x10fakepng\x20"), "image/png"),
            (2, bytearray(b""), "video/mp4"),
        ],
        "id long, content binary, mime string",
    )
    out = {r.id: r for r in probe_media(media, use_fake_decoder=True).collect()}
    assert out[1].n_bytes == 9
    assert out[1].width == 16 + (0x10 % 64) * 16
    assert out[1].height == 16 + (0x20 % 64) * 16
    assert len(out[1].sha) == 64
    assert out[2].n_bytes == 0 and out[2].width == 0

    # default (real) path: the png-labeled blob has no valid header ->
    # corrupt data -> (0, 0, 0), never a task failure
    real = {r.id: r for r in probe_media(media).collect()}
    assert real[1].width == 0 and real[1].n_bytes == 9

    plan = frame_sample_plan(
        spark.createDataFrame([(1, 61)], "id long, n_frames int"), every_n=30
    )
    assert [r.frame_idx for r in plan.collect()] == [0, 30, 60]


def test_streaming_same_block_edit_tiebreak(spark, tmp_path):
    """Same-block edits split across batches must resolve by the full
    (block, tx, op) order key, not partition order: the higher tx_idx
    wins deterministically."""
    from union_indexer_node_spark.streaming.stream import (
        ops_file_stream,
        start_posts_stream,
    )

    ops_dir = str(tmp_path / "ops")
    state_dir = str(tmp_path / "posts_state")
    ckpt = str(tmp_path / "ckpt")

    def run(batch_rows, fname):
        spark.createDataFrame(batch_rows, schema=OPS_SCHEMA).write.parquet(
            ops_dir + f"/{fname}.parquet"
        )
        sq = start_posts_stream(
            spark, ops_file_stream(spark, ops_dir, OPS_SCHEMA), state_dir, ckpt
        )
        sq.awaitTermination(120)

    run([comment(10, "a", "p1", "early-tx", tx=5)], "f1")
    # lower tx in the SAME block arrives later: must NOT win
    run([comment(10, "a", "p1", "stale-tx", tx=1)], "f2")
    rows = spark.read.parquet(state_dir).collect()
    assert len(rows) == 1 and rows[0].body == "early-tx"


def test_streaming_reply_under_snapshot_parent_is_allowed(spark, tmp_path):
    """J9 across batches: a reply landing in a later batch under a
    parent already in the snapshot, an edit of such a reply, and a reply
    to that edited reply are allowed, as in the one-shot build. A patch
    edit of a published post applies to its stored body, once: a replay
    of the batch against the result leaves every body as it is."""
    from union_indexer_node_spark.ingest.posts import build_posts
    from union_indexer_node_spark.streaming.stream import (
        ops_file_stream,
        start_posts_stream,
    )

    ops_dir = str(tmp_path / "ops")
    state_dir = str(tmp_path / "posts_state")
    ckpt = str(tmp_path / "ckpt")
    base = [
        comment(10, "alice", "root", "root body"),
        comment(11, "bob", "r1", "reply one", parent=("alice", "root")),
        comment(12, "mallory", "bad", "x", app="other/1.0"),
    ]
    delta = [
        comment(20, "carol", "r2", "reply two", parent=("alice", "root")),
        comment(21, "bob", "r1", "reply one, edited", parent=("alice", "root")),
        comment(22, "dave", "r3", "deep", parent=("bob", "r1")),
        comment(23, "erin", "r4", "under bad", parent=("mallory", "bad")),
        comment(24, "mallory", "bad", "@@ -1,1 +1,10 @@\n x\n+, patched",
                app="other/1.0"),
    ]
    # one file per run, so base and delta are one micro-batch each
    for i, rows in enumerate((base, delta)):
        spark.createDataFrame(rows, schema=OPS_SCHEMA).coalesce(1).write.parquet(
            ops_dir + f"/f{i}.parquet"
        )
        start_posts_stream(
            spark, ops_file_stream(spark, ops_dir, OPS_SCHEMA), state_dir, ckpt
        ).awaitTermination(120)

    def view(df):
        return {
            (r.author, r.permlink): (r.allowed_by_parent, r.body)
            for r in df.collect()
        }

    streamed = view(spark.read.parquet(state_dir))
    one_shot = view(
        build_posts(spark.createDataFrame(base + delta, schema=OPS_SCHEMA))
    )
    assert streamed == one_shot
    assert streamed[("bob", "r1")] == (True, "reply one, edited")
    assert streamed[("carol", "r2")][0] and streamed[("dave", "r3")][0]
    assert not streamed[("erin", "r4")][0]
    assert streamed[("mallory", "bad")][1] == "x, patched"
    replayed = view(
        build_posts(
            spark.createDataFrame(delta, schema=OPS_SCHEMA),
            snapshot=spark.read.parquet(state_dir),
        )
    )
    assert replayed == {k: streamed[k] for k in replayed}


def test_streaming_one_write_folds_as_one_batch(spark, tmp_path):
    """The part files of one landed write fold in one micro-batch, so a
    reply written together with its parent is allowed as in the one-shot
    build even when its part file is older (a trigger cap would take the
    files in modification order: the child first, alone)."""
    import glob

    from union_indexer_node_spark.ingest.posts import build_posts
    from union_indexer_node_spark.streaming.stream import (
        ops_file_stream,
        start_posts_stream,
    )

    delta_dir = tmp_path / "ops" / "d0"
    delta_dir.mkdir(parents=True)
    parents = [
        comment(10, "alice", "root", "root body"),
        comment(11, "bob", "r1", "reply one", parent=("alice", "root")),
    ]
    children = [comment(12, "dave", "r3", "deep", parent=("bob", "r1"))]
    now = dt.datetime.now().timestamp()
    # the child's part file is written second but stamped earlier
    for i, (rows, mtime) in enumerate(((parents, now), (children, now - 60))):
        out = str(tmp_path / f"w{i}")
        spark.createDataFrame(rows, schema=OPS_SCHEMA).coalesce(1).write.parquet(out)
        (part,) = glob.glob(out + "/part-*.parquet")
        dest = str(delta_dir / f"part-{i:05d}.parquet")
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))

    state_dir = str(tmp_path / "posts_state")
    start_posts_stream(
        spark,
        ops_file_stream(spark, str(tmp_path / "ops"), OPS_SCHEMA),
        state_dir,
        str(tmp_path / "ckpt"),
    ).awaitTermination(120)

    def allowed(df):
        return {(r.author, r.permlink): r.allowed_by_parent for r in df.collect()}

    one_shot = allowed(
        build_posts(spark.createDataFrame(parents + children, schema=OPS_SCHEMA))
    )
    assert one_shot[("dave", "r3")] is True
    assert allowed(spark.read.parquet(state_dir)) == one_shot


def test_stream_exact_dedup_null_texts_pass_through(spark, tmp_path):
    """Distinct NULL-text docs must NOT collapse into one (md5(NULL) is
    NULL and null keys would compare equal in the dedup state)."""
    import datetime as dt

    from union_indexer_node_spark.streaming.windows import stream_exact_dedup

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    src = str(tmp_path / "nd_src")
    schema = "doc_id long, text string, ts timestamp"
    spark.createDataFrame(
        [
            (1, None, t0),
            (2, None, t0 + dt.timedelta(minutes=1)),
            (3, "same body", t0 + dt.timedelta(minutes=2)),
            (4, "same body", t0 + dt.timedelta(minutes=3)),
        ],
        schema,
    ).write.parquet(src + "/b1.parquet")
    q = (
        stream_exact_dedup(
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        .writeStream.format("memory")
        .queryName("nd_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("nd_test").collect()
    ids = sorted(r.doc_id for r in out)
    assert 1 in ids and 2 in ids  # both null docs survive
    assert len([i for i in ids if i in (3, 4)]) == 1  # real dup collapsed


def test_sessionize_splits_on_event_time_gap_within_batch(spark, tmp_path):
    """A replayed day in ONE micro-batch must split into sessions at
    >30-min event-time gaps, not fold into one giant session."""
    import datetime as dt

    from union_indexer_node_spark.streaming.windows import sessionize

    t0 = dt.datetime(2024, 5, 1, 8, 0, 0)
    src = str(tmp_path / "sess_src")
    out_dir = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    rows = [
        # burst 1: 3 events within 10 min
        (7, t0), (7, t0 + dt.timedelta(minutes=5)), (7, t0 + dt.timedelta(minutes=10)),
        # 4-hour gap -> new session
        (7, t0 + dt.timedelta(hours=4)), (7, t0 + dt.timedelta(hours=4, minutes=2)),
        # another 2-hour gap -> third (stays open in state)
        (7, t0 + dt.timedelta(hours=6, minutes=30)),
    ]
    spark.createDataFrame(rows, "user_id long, ts timestamp").write.parquet(
        src + "/b1.parquet"
    )
    q = (
        sessionize(
            spark.readStream.schema("user_id long, ts timestamp")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    import os

    emitted = (
        spark.read.parquet(out_dir).collect()
        if any(f.endswith(".parquet") for f in os.listdir(out_dir))
        else []
    )
    # the two CLOSED sessions emit in-batch; the open third stays in state
    got = sorted(
        (r.session_start, r.session_end, r.n_events) for r in emitted
    )
    assert len(got) == 2
    assert got[0] == (t0, t0 + dt.timedelta(minutes=10), 3)
    assert got[1] == (
        t0 + dt.timedelta(hours=4),
        t0 + dt.timedelta(hours=4, minutes=2),
        2,
    )
