"""posts silver pipeline: exploded blockchain ops -> the posts index.

Reference write path: src/workers/hive-stream.ts:494-698 (comment op
dispatch), insert-vs-patch (:530-582), allowlist gating (:513-527),
spkvideo metadata (:589-658). The imperative per-op upsert sequence
becomes a deterministic batch plan:

  comment ops
    -> parse json_metadata (X1), derive app/tags/flags
    -> per-key fold: body edit-fold (X13), LWW for scalar fields (W2),
       created_at = first seen, updated_at = last seen
    -> deleted status (X8), comment flag, post type allowlist (X2)
    -> first_upload window (W3)
    -> parent-allowlist fixpoint (J9)
  vote ops -> per-key vote stats (batch replaces dirty-flag recompute)

Scale notes: one shuffle on (author, permlink) services the fold, the
LWW window and the vote join (co-partitioned aggregate-then-join). The
edit fold is built-in expressions (``editfold.py``): no Python worker.
The J9 fixpoint joins comments against a frontier that starts as
top-level posts and moves down reply chains one level per job, ending
at the first empty level or max reply depth (reference gets the same
closure implicitly from time-ordered processing).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.json_meta import parse_json_metadata
from ..functions.scalars import (
    ALLOWED_APPS,
    deleted_status,
    detect_post_type,
    pullout_ipfs_links,
    storage_type,
)
from ..pipelines.similarity import _free_local_checkpoint
from .editfold import folded_body

def _order():
    return [F.col("block_height"), F.col("tx_idx"), F.col("op_idx")]


BENEFICIARIES_PATH = "$[0][1].beneficiaries"
BENEFICIARIES_SCHEMA = "array<struct<account:string,weight:int>>"


def _intra_tx_enrichments(ops: DataFrame) -> tuple[DataFrame, DataFrame]:
    """X5/X6 — the reference peeks at sibling operations of the same
    transaction imperatively (`tx.operations[2]`, hive-stream.ts:589-620);
    set-oriented, siblings join on (block_height, tx_idx).

    X6: comment_options carries extensions[0] =
        ['comment_payout_beneficiaries', {beneficiaries}].
    X5: custom_json id='3speak-publish' with 'threespeak' among
        required_posting_auths marks the tx authority-signed."""
    benef = (
        ops.filter(F.col("op_type") == "comment_options")
        .select(
            "block_height",
            "tx_idx",
            "op_idx",
            F.from_json(
                F.get_json_object(F.col("extensions"), BENEFICIARIES_PATH),
                BENEFICIARIES_SCHEMA,
            ).alias("beneficiaries"),
        )
        .filter(F.col("beneficiaries").isNotNull())
        # One row per tx like auth below: without this, two
        # comment_options in one tx would fan out the comment join,
        # duplicating _events structs and double-applying edit patches.
        # Last op in the tx wins (the reference reads the op it reaches
        # last imperatively).
        .groupBy("block_height", "tx_idx")
        .agg(F.max_by("beneficiaries", "op_idx").alias("beneficiaries"))
    )
    auth = (
        ops.filter(
            (F.col("op_type") == "custom_json")
            & (F.col("custom_json_id") == "3speak-publish")
        )
        .select(
            "block_height",
            "tx_idx",
            F.array_contains(
                F.coalesce(
                    F.col("required_posting_auths"),
                    F.array().cast("array<string>"),
                ),
                "threespeak",
            ).alias("authority_signed"),
        )
        .groupBy("block_height", "tx_idx")
        .agg(F.max("authority_signed").alias("authority_signed"))
    )
    return benef, auth


def apply_first_upload(posts: DataFrame) -> DataFrame:
    """W3 — first_upload: flag the author's earliest 3SPEAK post (one
    per-author window; order = (created_at, block_height, permlink), a
    total tiebreak). Shared by the batch build AND the streaming
    merge's dirty-author recompute (the flag is a PER-AUTHOR global,
    so an incremental ingest must re-derive it over the author's full
    history, never inherit a batch-local value — T6's dirty-flag
    recompute with the author as the dirty key).

    Caller contract: ``posts`` must contain EVERY post of every author
    present in it (a partial author slice recomputes a wrong flag)."""
    is_3speak = F.col("post_type") == "3speak"
    order_struct = F.struct("created_at", "block_height", "permlink")
    first_3speak = F.min(F.when(is_3speak, order_struct)).over(
        Window.partitionBy("author")
    )
    return posts.withColumn(
        "first_upload",
        F.coalesce(is_3speak & (order_struct == first_3speak), F.lit(False)),
    )


def build_posts(
    ops: DataFrame,
    *,
    max_reply_depth: int = 16,
    known_allowed: DataFrame | None = None,
) -> DataFrame:
    """ops: FIXTURES.md raw_ops schema (comment + vote rows used).

    ``known_allowed``: (author, permlink) keys already allowed by the
    J9 closure outside ``ops`` — the snapshot an incremental batch folds
    into. A comment here that replies to one of them is allowed like a
    reply to a root here. None (the one-shot build) means ``ops`` is the
    whole history."""
    benef, auth = _intra_tx_enrichments(ops)
    comments = (
        ops.filter(F.col("op_type") == "comment")
        .withColumn("jm", parse_json_metadata(F.col("json_metadata")))
        .join(benef, ["block_height", "tx_idx"], "left")
        .join(auth, ["block_height", "tx_idx"], "left")
    )

    key = ["author", "permlink"]
    w_last = Window.partitionBy(*key).orderBy(*[c.desc() for c in _order()])

    per_event = comments.select(
        *key,
        F.col("block_height"),
        F.col("tx_idx"),
        F.col("op_idx"),
        F.col("block_timestamp"),
        F.col("parent_author"),
        F.col("parent_permlink"),
        F.col("title"),
        F.col("body"),
        F.col("json_metadata"),
        F.col("jm"),
        F.col("beneficiaries"),
        F.coalesce(F.col("authority_signed"), F.lit(False)).alias(
            "authority_signed"
        ),
    )

    # Last-write-wins scalar state (W2) + first/last timestamps + body fold.
    latest = (
        per_event.withColumn("_rn", F.row_number().over(w_last))
        .withColumn("created_at", F.min("block_timestamp").over(Window.partitionBy(*key)))
        .withColumn("updated_at", F.max("block_timestamp").over(Window.partitionBy(*key)))
        .withColumn(
            "_events",
            F.collect_list(
                F.struct("block_height", "tx_idx", "op_idx", "body")
            ).over(Window.partitionBy(*key)),
        )
        .filter(F.col("_rn") == 1)
        .withColumn("body", folded_body(F.col("_events")))
        .drop("_rn", "_events", "block_timestamp")
    )

    tags = F.coalesce(F.col("jm.tags"), F.array().cast("array<string>"))
    jm_flags = F.coalesce(F.col("jm.flags"), F.array().cast("array<string>"))
    is_comment = F.col("parent_author") != ""

    posts = (
        latest.withColumn("tags", tags)
        .withColumn("app", F.col("jm.app"))
        .withColumn("app_name", F.split(F.col("jm.app"), "/").getItem(0))
        .withColumn("post_type", detect_post_type(F.col("jm.app")))
        .withColumn("status", deleted_status(jm_flags, tags))
        .withColumn(
            "flags",
            F.when(is_comment, F.array(F.lit("comment"))).otherwise(
                F.array().cast("array<string>")
            ),
        )
        .withColumn("TYPE", F.lit("HIVE"))
        .withColumn("__t", F.lit("post_hive"))
        .withColumn("ipfs_links", pullout_ipfs_links(F.coalesce(F.col("jm.video.sourceMap"), F.array().cast("array<struct<type:string,url:string,format:string>>"))))
        .withColumn("storage_type", storage_type(F.col("jm.video.sourceMap")))
        .withColumn(
            "state_control",
            F.struct(F.col("block_height").alias("block_height")),
        )
    )

    # W3 — first_upload: author's first 3SPEAK post (hive-stream.ts:
    # 623-631 checks existence at ingest; SURVEY W3 scopes the window
    # to 3speak posts). A row_number over ALL the author's posts would
    # miss authors whose first post overall was a different app, so the
    # flag compares against the min order-struct among 3speak rows only
    # (min skips the non-3speak nulls).
    #
    # Documented divergence (reference bug): the reference's existence
    # probe queries `video.first_upload` (:625-626) but the flag is
    # WRITTEN at `app_metadata.spkvideo.first_upload` (:629) — the
    # probe can never match, so the reference flags EVERY 3speak post
    # as a first upload. This engine implements the evident intent
    # (one flag per author, earliest post); replicating the bug would
    # make the F8 firstUpload filter a no-op.
    posts = apply_first_upload(posts)

    # J9 — parent allowlist fixpoint (hive-stream.ts:513-527).
    allowed_by_type = F.col("post_type").isin(ALLOWED_APPS)
    posts = posts.withColumn("allowed_by_type", allowed_by_type)

    # localCheckpoint: roots feeds both the level-1 fixpoint join and
    # the final all_allowed union — without materializing this (narrow,
    # key-only) frame, each consumer re-executes the whole upstream
    # plan: the LWW and edit-fold window over every comment event.
    roots = (
        posts.filter(~is_comment & allowed_by_type)
        .select(F.col("author").alias("pa"), F.col("permlink").alias("pp"))
        .localCheckpoint()
    )
    # The (narrow) comment key set is persisted — it is re-joined every
    # level.
    comment_keys = (
        posts.filter(is_comment)
        .select("author", "permlink", "parent_author", "parent_permlink")
        .persist()
    )
    frontier = roots
    if known_allowed is not None:
        # Allowed parents outside ``ops`` start the closure like roots:
        # only those the comments here reply to (broadcast semi-join),
        # and none of the keys ``ops`` itself rebuilds.
        parents = (
            comment_keys.select(
                F.col("parent_author").alias("author"),
                F.col("parent_permlink").alias("permlink"),
            )
            .distinct()
            .join(
                ops.filter(F.col("op_type") == "comment").select(*key),
                key,
                "left_anti",
            )
        )
        seeds = known_allowed.select(*key).join(
            F.broadcast(parents), key, "left_semi"
        )
        frontier = roots.unionByName(
            seeds.select(F.col("author").alias("pa"), F.col("permlink").alias("pp"))
        )
    # Every key has one parent, so a comment sits on at most one level
    # (its reply depth below the frontier): the levels are disjoint and
    # the closure ends at the first empty one. Each level is
    # localCheckpoint'd so the next does not re-execute the prior joins;
    # the checkpoint job also counts its rows (observe), so finding the
    # empty level costs no job of its own.
    levels = []
    for _ in range(max_reply_depth):
        rows = Observation()
        level = (
            comment_keys.join(
                frontier.hint("broadcast"),
                (comment_keys.parent_author == F.col("pa"))
                & (comment_keys.parent_permlink == F.col("pp")),
                "left_semi",
            )
            .select(F.col("author").alias("pa"), F.col("permlink").alias("pp"))
            .observe(rows, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        levels.append(level)
        if rows.get["n"] == 0:
            break
        frontier = level
    comment_keys.unpersist()

    # One checkpoint of the allowed keys outlives this call (the result
    # reads it); the per-level ones are freed here. Coalesced: the union
    # has the partitions of every level.
    n_parts = int(posts.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    all_allowed = (
        functools.reduce(DataFrame.unionByName, levels, roots)
        .coalesce(n_parts)
        .localCheckpoint()
    )
    for done in (roots, *levels):
        _free_local_checkpoint(done)
    posts = posts.join(
        all_allowed.withColumnRenamed("pa", "author").withColumnRenamed(
            "pp", "permlink"
        ).withColumn("allowed_by_parent", F.lit(True)),
        ["author", "permlink"],
        "left",
    ).withColumn("allowed_by_parent", F.coalesce(F.col("allowed_by_parent"), F.lit(False)))

    # Vote stats (batch replaces the needs_stat_update dirty-flag loop,
    # hive-stream.ts:224-260 + core.ts:96-139): aggregate-then-join on
    # the same key the posts shuffle already used.
    votes = (
        ops.filter(F.col("op_type") == "vote")
        .groupBy("author", "permlink")
        .agg(F.count(F.lit(1)).alias("num_votes"))
    )
    posts = posts.join(votes, ["author", "permlink"], "left").withColumn(
        "num_votes", F.coalesce(F.col("num_votes"), F.lit(0)).cast("int")
    )

    return posts.drop("jm")


def apply_bridge_id_flags(posts: DataFrame, ops: DataFrame) -> DataFrame:
    """``spk.bridge_id`` → ``needs_stream_id`` flag-setter
    (hive-stream.ts:264-281): the custom_json carries
    ``{author, permlink}``; when a post with that key EXISTS, the
    reference sets ``needs_stream_id=true`` on it — the producer
    feeding the offchainIdRefresh scan (sources/ceramic.py
    ``flagged_for_stream_id``). An op naming a nonexistent post is a
    no-op (the reference's findOne miss). The broadcast payload also
    carries the already-created ``stream_id`` (streamBridge.ts:42-48),
    which the reference CONSUMER ignores — stream creation is
    deterministic (createStreamFromGenesis with deterministic:true), so
    the refresh job re-derives the same id; this engine mirrors the
    consumer and reads only (author, permlink).

    Batch shape (the F12 dirty-flag pattern): project the distinct
    (author, permlink) keys out of the bridge ops and LEFT-join them
    onto posts — distinct first so repeated bridge ops can't fan the
    posts table out, broadcast because the per-batch op key set is
    tiny next to the posts table (no posts shuffle). A post already
    flagged stays flagged (OR-semantics, same as Mongo's $set true).
    """
    br = (
        ops.filter(
            (F.col("op_type") == "custom_json")
            & (F.col("custom_json_id") == "spk.bridge_id")
        )
        .withColumn(
            "cj",
            F.from_json(
                F.col("custom_json"), "struct<author:string,permlink:string>"
            ),
        )
        .select(
            F.col("cj.author").alias("author"),
            F.col("cj.permlink").alias("permlink"),
        )
        .filter(F.col("author").isNotNull() & F.col("permlink").isNotNull())
        .distinct()
        .withColumn("_bridge", F.lit(True))
    )
    if "needs_stream_id" not in posts.columns:
        posts = posts.withColumn("needs_stream_id", F.lit(False))
    return (
        posts.join(F.broadcast(br), ["author", "permlink"], "left")
        .withColumn(
            "needs_stream_id",
            F.coalesce(F.col("needs_stream_id"), F.lit(False))
            | F.col("_bridge").isNotNull(),
        )
        .drop("_bridge")
    )


def build_follows(
    ops: DataFrame, *, keep_tombstones: bool = False
) -> DataFrame:
    """follows pipeline (hive-stream.ts:282-397): the THREE custom_json
    families the reference routes into followsDb —

    - ``follow`` (hive social graph): ``{follower, following, what}``;
      an empty ``what`` array is an unfollow (``what.length >= 1``,
      :370), and the op is DROPPED when the signing account differs
      from the claimed follower — including when the payload carries
      NO follower at all (the spoof guard at :366-368 compares
      ``account !== json[1].follower``, and ``account !== undefined``
      is true, so a follower-less payload is skipped too);
    - ``spk.follow`` / ``spk.unfollow`` (DID follows): follower is
      ALWAYS the signing account — the payload's ``follower`` field, if
      any, is ignored (the reference never reads one: :333-358 uses
      ``required_posting_auths[0]`` for both the ``_id`` and the
      ``follower`` column, so a spoofed field must not create or
      tombstone another user's edge); the followed DID is the payload's
      ``did`` field ONLY (:334-336 — a payload carrying just
      ``following`` produces a ``hive/{acct}/undefined`` junk key in
      the reference; here the NULL did is dropped, see the inline
      divergence note), keyed ``hive/{account}/{did}``;
    - ``community`` subscribe/unsubscribe: follower is the signing
      account, following the community name, keyed
      ``hive-{account}-{community}`` (:289-309).

    Last op per EDGE KEY wins (LWW on the op order); unfollow is a
    tombstone (S8). Keys keep the reference's per-family namespaces, so
    a hive follow and a spk follow of the same pair stay two edges —
    exactly as two Mongo docs.

    ``keep_tombstones=True`` returns the per-key LWW winner INCLUDING
    unfollow tombstones and the (block_height, tx_idx, op_idx) order
    columns — the incremental-state shape: a cross-batch merge
    (streaming/stream.py::start_follows_stream) must retain the
    tombstone so an edge deleted in batch N is not resurrected by its
    own older follow re-arriving in batch N+1. The default (False) is
    the serving view: tombstone winners dropped, order columns
    projected away."""
    fo = ops.filter(
        F.col("op_type").isin("custom_json")
        & F.col("custom_json_id").isin(
            "follow", "spk.follow", "spk.unfollow", "community"
        )
    ).withColumn(
        "cj",
        F.from_json(
            F.col("custom_json"),
            "struct<follower:string,following:string,did:string,"
            "what:array<string>,action:string,community:string>",
        ),
    )
    # F.get, not getItem: NULL (not an ANSI error) on an empty auths
    # array — the same undefined JS gives the reference. Legacy 'follow'
    # rows then fail the spoof guard below; the spk/community families
    # get an explicit NULL-signer drop (see the divergence note there).
    auth = F.get(F.col("required_posting_auths"), 0)
    # Spoof guard (hive-stream.ts:366-368): a legacy 'follow' op only
    # applies when the signing account EQUALS the claimed follower. A
    # NULL follower fails that equality in the reference too
    # (account !== undefined), so it is dropped, not defaulted.
    fo = fo.filter(
        ~(
            (F.col("custom_json_id") == "follow")
            & (
                F.col("cj.follower").isNull()
                | (F.col("cj.follower") != auth)
            )
        )
    )
    is_comm = F.col("custom_json_id") == "community"
    # Only subscribe/unsubscribe touch the follows table; the third
    # community action (updateProps) routes to the communities table
    # (profiles.community_updateprops, hive-stream.ts:311-322) and any
    # unknown action falls through every reference branch untouched.
    fo = fo.filter(
        ~is_comm | F.col("cj.action").isin("subscribe", "unsubscribe")
    )
    is_spk = F.col("custom_json_id").startswith("spk.")
    # NULL-signer drop for the signer-keyed families. DOCUMENTED
    # DIVERGENCE: with empty posting auths (an active-auth custom_json)
    # the reference interpolates the JS string 'undefined' into both
    # the _id and the follower (hive-stream.ts:285,325-343 read
    # required_posting_auths[0] unguarded), manufacturing one shared
    # junk identity that every authless op collides on; we drop the
    # row instead of modeling that bug (concat_ws would otherwise SKIP
    # the NULL segment and collide per-community/per-did keys).
    fo = fo.filter(~(is_comm | is_spk) | auth.isNotNull())
    # spk/community families: follower is the signing account
    # UNCONDITIONALLY (the reference never reads a payload follower for
    # these ids — a spoofed field must not touch another user's edge);
    # the legacy family survives the guard above only when the payload
    # follower equals the signer, so auth is correct for all three.
    # spk.follow/unfollow read ONLY json.did (hive-stream.ts:334-336,
    # 353-356) — a payload carrying just 'following' yields a
    # 'hive/{acct}/undefined' junk key in the reference; here the NULL
    # did flows into `following`, and the following-isNotNull filter
    # below drops the row (the same junk-identity NULL-drop divergence
    # documented for authless ops above).
    spk_following = F.col("cj.did")
    edges = fo.select(
        F.when(is_comm | is_spk, auth)
        .otherwise(F.col("cj.follower"))
        .alias("follower"),
        F.when(is_comm, F.col("cj.community"))
        .when(is_spk, spk_following)
        .otherwise(F.col("cj.following"))
        .alias("following"),
        F.when(is_comm, F.array(F.lit("community")))
        .otherwise(F.coalesce(F.col("cj.what"), F.array().cast("array<string>")))
        .alias("what"),
        F.when(F.col("custom_json_id") == "spk.unfollow", F.lit(True))
        .when(
            (F.col("custom_json_id") == "follow")
            & (F.size(F.coalesce(F.col("cj.what"), F.array())) == 0),
            F.lit(True),
        )
        .when(is_comm & (F.col("cj.action") == "unsubscribe"), F.lit(True))
        .otherwise(F.lit(False))
        .alias("is_unfollow"),
        # per-family key namespace (reference _id formats); the signer
        # is the account component for spk and community keys
        F.when(
            is_spk,
            F.concat_ws("/", F.lit("hive"), auth, spk_following),
        )
        .otherwise(
            F.concat_ws(
                "-",
                F.lit("hive"),
                F.when(is_comm, auth).otherwise(F.col("cj.follower")),
                F.when(is_comm, F.col("cj.community")).otherwise(
                    F.col("cj.following")
                ),
            )
        )
        .alias("_id"),
        F.col("block_timestamp").alias("followed_at"),
        *_order(),
    ).filter(
        # unparseable custom_json (from_json -> NULL struct) or a
        # payload missing its target: the reference `continue`s on
        # parse failure and a NULL-keyed Mongo upsert never happens
        F.col("following").isNotNull()
    )
    w = Window.partitionBy("_id").orderBy(*[c.desc() for c in _order()])
    latest = edges.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    if keep_tombstones:
        return latest.drop("_rn")
    return latest.filter(~F.col("is_unfollow")).select(
        "_id", "follower", "following", "what", "followed_at"
    )


def follows_op_audit(ops: DataFrame) -> DataFrame:
    """Dispatch AUDIT for the followsDb custom_json families — the
    dead-letter view of `build_follows`: every op the dispatch would
    consume gets a row saying whether it applied and, if dropped, WHY.
    build_follows drops malformed/spoofed/authless ops silently (each
    drop matches a reference behavior or a documented divergence, see
    its docstring); at 100 TB "silently" is an operational hazard — a
    client bug that starts spoofing followers looks like traffic
    vanishing. This audit is the observability companion: same parse,
    same predicates, one labeled row per op, pure map-side (no
    shuffle, no join — group-by-reason downstream as needed).

    Reasons, in the dispatch's own precedence (first failing filter
    wins, matching build_follows' filter order; `malformed_json` is
    reported first because every later predicate would also trip on
    the all-NULL parse and misattribute the cause):

    - ``malformed_json`` — custom_json absent or unparseable;
    - ``spoofed_or_missing_follower`` — legacy `follow` whose payload
      follower is missing or differs from the signing account
      (hive-stream.ts:366-368 spoof guard);
    - ``non_follow_action`` — `community` op whose action is not
      subscribe/unsubscribe (updateProps routes to communities; unknown
      actions fall through every reference branch);
    - ``missing_signer`` — spk/community op with empty posting auths
      (the reference's undefined-interpolation junk-identity bug,
      hive-stream.ts:285,325-343 — dropped here, documented divergence);
    - ``missing_following`` — no followed target: legacy without
      `following`, spk without `did` (the reference's
      'hive/{acct}/undefined' junk key), community without `community`.

    Returns (block_height, tx_idx, op_idx, family, status, reason);
    status ∈ {applied, dropped}, reason NULL when applied. The applied
    set is exactly the op set build_follows folds (pinned by test).
    """
    fo = ops.filter(
        F.col("op_type").isin("custom_json")
        & F.col("custom_json_id").isin(
            "follow", "spk.follow", "spk.unfollow", "community"
        )
    ).withColumn(
        "cj",
        # permissive from_json yields a struct of NULLs (not a NULL
        # struct) for unparseable input, so malformedness must be
        # detected via the corrupt-record column — the downstream
        # predicates still drop those rows either way (what
        # build_follows relies on); this only keeps the REASON honest
        F.from_json(
            F.col("custom_json"),
            "struct<follower:string,following:string,did:string,"
            "what:array<string>,action:string,community:string,"
            "_corrupt:string>",
            {"columnNameOfCorruptRecord": "_corrupt"},
        ),
    )
    auth = F.get(F.col("required_posting_auths"), 0)
    is_comm = F.col("custom_json_id") == "community"
    is_spk = F.col("custom_json_id").startswith("spk.")
    is_legacy = F.col("custom_json_id") == "follow"
    following = (
        F.when(is_comm, F.col("cj.community"))
        .when(is_spk, F.col("cj.did"))
        .otherwise(F.col("cj.following"))
    )
    reason = (
        F.when(
            F.col("cj").isNull()
            | F.col("custom_json").isNull()
            | F.col("cj._corrupt").isNotNull(),
            F.lit("malformed_json"),
        )
        .when(
            # auth.isNull() must be explicit: a legacy op with EMPTY
            # required_posting_auths makes (follower != auth) NULL,
            # which would fall through every branch and mislabel the
            # op 'applied' while build_follows' spoof guard drops it
            # (ADVICE r12).
            is_legacy
            & (
                F.col("cj.follower").isNull()
                | auth.isNull()
                | (F.col("cj.follower") != auth)
            ),
            F.lit("spoofed_or_missing_follower"),
        )
        .when(
            # NULL action must land here too: build_follows' filter
            # (isin == NULL -> row dropped) treats it as a non-follow
            # action, and a bare ~isin would skip the NULL
            is_comm
            & ~F.coalesce(
                F.col("cj.action").isin("subscribe", "unsubscribe"),
                F.lit(False),
            ),
            F.lit("non_follow_action"),
        )
        .when((is_comm | is_spk) & auth.isNull(), F.lit("missing_signer"))
        .when(following.isNull(), F.lit("missing_following"))
    )
    return fo.select(
        "block_height",
        "tx_idx",
        "op_idx",
        F.col("custom_json_id").alias("family"),
        F.when(reason.isNull(), F.lit("applied"))
        .otherwise(F.lit("dropped"))
        .alias("status"),
        reason.alias("reason"),
    )
