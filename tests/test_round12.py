"""Round 12: ADVICE/VERDICT r11 fixes.

- follows-stream tombstone compaction: a touched bucket whose merged
  output becomes EMPTY must be deleted on disk (dynamic partition
  overwrite skips empty partitions — the stale pre-merge bucket would
  resurrect beaten follows).
- dhash_near_dup_counts: ok=false sentinel filtering + hot-bucket cap
  (the semantic_dup_flags cap ported to the Hamming-LSH path) +
  dhash_bucket_stats audit.
- search_feed BM25 arm: corpus stats scoped to the searchable subset;
  k-boundary ties resolve by the advertised (created_at, permlink).
"""

from __future__ import annotations

import datetime
import json
import zlib

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# follows stream: empty-bucket compaction (ADVICE r11, medium)
# ---------------------------------------------------------------------------

_OPS_SCHEMA = (
    "block_height long, block_timestamp timestamp, tx_idx int, op_idx int, "
    "op_type string, custom_json_id string, custom_json string, "
    "required_posting_auths array<string>"
)


def _follow_op(height, follower, following, what):
    return (
        height,
        datetime.datetime(2024, 1, 1, 0, 0, int(height % 60)),
        0,
        0,
        "custom_json",
        "follow",
        json.dumps({"follower": follower, "following": following, "what": what}),
        [follower],
    )


def test_compacted_empty_bucket_is_deleted_not_resurrected(spark, tmp_path):
    """A live follow's bucket is rewritten by a catch-up batch whose
    ONLY row for that bucket is an unfollow below high_wm: _compact
    drops the tombstone, the bucket's merged output is empty, dynamic
    overwrite skips it — the on-disk pre-merge follow must be rmtree'd
    or the unfollow is silently lost."""
    from union_indexer_node_spark.streaming.stream import (
        follows_view,
        ops_file_stream,
        start_follows_stream,
    )

    n_buckets = 64
    # the hazard needs the unfollowed edge and the head-advancing edge
    # in DIFFERENT buckets (else the bucket is non-empty and rewritten)
    assert (
        zlib.crc32(b"hive-u-v") % n_buckets
        != zlib.crc32(b"hive-a-b") % n_buckets
    )
    ops_dir = str(tmp_path / "ops")
    batches = [
        [_follow_op(100, "u", "v", ["blog"])],  # live edge in state
        # catch-up batch: unfollow at 200 (< high_wm = 5000-1000) plus
        # a fresh follow at 5000 in another bucket
        [
            _follow_op(200, "u", "v", []),
            _follow_op(5000, "a", "b", ["blog"]),
        ],
    ]
    schema = None
    for rows in batches:
        df = spark.createDataFrame(rows, _OPS_SCHEMA)
        schema = df.schema
        df.coalesce(1).write.mode("append").parquet(ops_dir)
    state = str(tmp_path / "state")
    sq = start_follows_stream(
        spark,
        ops_file_stream(spark, ops_dir, schema, max_files_per_trigger=1),
        state,
        str(tmp_path / "ckpt"),
        n_buckets=n_buckets,
        tombstone_watermark_blocks=1000,
    )
    sq.awaitTermination(300)
    snap = spark.read.parquet(state)
    live = {r["_id"] for r in follows_view(snap).collect()}
    # the unfollow must win even though its tombstone was compacted
    assert live == {"hive-a-b"}


# ---------------------------------------------------------------------------
# dhash_near_dup_counts: ok filter + bucket cap + audit (VERDICT r11 #2)
# ---------------------------------------------------------------------------


def test_ok_false_sentinels_do_not_inflate_counts(spark):
    """Undecodable blobs (ok=false, hash 0) must not form a duplicate
    class or band-match real hashes near 0."""
    from union_indexer_node_spark.pipelines.multimodal import (
        dhash_near_dup_counts,
    )

    a = 0b1010101010101010
    hashes = spark.createDataFrame(
        [(1, a, True), (2, a, True), (3, 0, False), (4, 0, False),
         (5, 1, True)],  # hash 1: bands match sentinel 0's high bands
        "id long, dhash long, ok boolean",
    )
    rows = dhash_near_dup_counts(hashes).collect()
    out = {r["id"]: r["n_near_dups"] for r in rows}
    assert out[1] == out[2] == 1  # each other, not the sentinels
    assert out[5] == 0            # no sentinel partners
    assert 3 not in out and 4 not in out  # sentinel rows dropped


def test_missing_ok_column_raises(spark):
    from union_indexer_node_spark.pipelines.multimodal import (
        dhash_near_dup_counts,
    )

    hashes = spark.createDataFrame([(1, 5)], "id long, dhash long")
    with pytest.raises(ValueError, match="ok_col"):
        dhash_near_dup_counts(hashes).collect()


def test_bucket_cap_drops_hot_bucket_pairs_and_audit_reports_mass(spark):
    """Five distinct signatures differing only in bits outside band 0
    share the (0, bv) bucket; cap=4 drops that bucket's pairs, and the
    far pair (only reachable through the hot bucket) disappears while
    near pairs survive via their other shared bands. The audit
    histogram reports the over-cap bucket with its row mass."""
    from union_indexer_node_spark.pipelines.multimodal import (
        dhash_bucket_stats,
        dhash_near_dup_counts,
    )

    # 16-bit hashes, 4 bands of 4 bits; band 0 = low nibble, value 0xA
    base = 0x000A
    # flip bits in band 3 (bits 12..15) only: all share bands 0,1,2
    sigs = [base | (i << 12) for i in range(5)]
    rows = [(i + 1, s, True) for i, s in enumerate(sigs)]
    hashes = spark.createDataFrame(rows, "id long, dhash long, ok boolean")

    kw = dict(hash_col="dhash", bits=16, n_bands=4)
    uncapped = {
        r["id"]: r["n_near_dups"]
        for r in dhash_near_dup_counts(
            hashes, max_hamming=2, **kw
        ).collect()
    }
    # every pair differs by <= 2 bits (two nibble-bit flips) except
    # (0b0011, 0b0100)-style 3-bit flips; with max_hamming=2 most
    # verify — just assert some mass exists uncapped
    assert any(v > 0 for v in uncapped.values())

    capped = {
        r["id"]: r["n_near_dups"]
        for r in dhash_near_dup_counts(
            hashes, max_hamming=2, bucket_cap=4, **kw
        ).collect()
    }
    # bands 0,1,2 buckets each hold all 5 sigs -> over cap 4 -> dropped;
    # band 3 values are all distinct -> no candidates at all
    assert all(v == 0 for v in capped.values())

    stats = dhash_bucket_stats(hashes, bits=16, n_bands=4).collect()
    over = [r for r in stats if r["n_members"] > 4]
    assert {(r["bi"]) for r in over} == {0, 1, 2}
    assert all(r["n_rows"] == 5 for r in over)


def test_bucket_cap_noop_when_buckets_small(spark):
    """Cap far above bucket sizes must be byte-identical to uncapped
    (the registry entries pass cap=64 over <=5-member buckets)."""
    from union_indexer_node_spark.pipelines.multimodal import (
        dhash_near_dup_counts,
    )

    a = 0b1010101010101010
    b = a ^ 0b11
    c = (1 << 55) - 1
    hashes = spark.createDataFrame(
        [(1, a), (2, a), (3, a), (4, b), (5, c)], "id long, dhash long"
    )
    plain = sorted(
        map(tuple, dhash_near_dup_counts(hashes, ok_col=None).collect())
    )
    capped = sorted(
        map(
            tuple,
            dhash_near_dup_counts(
                hashes, ok_col=None, bucket_cap=64
            ).collect(),
        )
    )
    assert plain == capped


# ---------------------------------------------------------------------------
# search_feed BM25 arm: subset-scoped stats + advertised tiebreak
# ---------------------------------------------------------------------------


def _posts(spark, rows):
    base_cols = (
        "author string, permlink string, title string, "
        "created_at timestamp, body string, parent_author string, "
        "parent_permlink string, app_name string, num_votes int"
    )
    return (
        spark.createDataFrame(rows, base_cols)
        .withColumn("flags", F.lit(None).cast("array<string>"))
        .withColumn("TYPE", F.lit("HIVE"))
    )


def test_bm25_stats_scope_to_searchable_subset(spark):
    """A filtered-out doc must not contribute to N/total_dl/avgdl: two
    surviving docs with equal tf but different lengths rank by length
    regardless of a giant excluded doc skewing avgdl."""
    from union_indexer_node_spark.operators.feeds import FeedSpec, search_feed
    from union_indexer_node_spark.pipelines.search import bm25_index, bm25_topk

    base = datetime.datetime(2024, 6, 1)
    rows = [
        ("a1", "p1", "t", base, "spark spark " + "x " * 50,
         "", "", "keep", 0),
        ("a2", "p2", "t", base, "spark spark y", "", "", "keep", 0),
        # excluded by the byApp filter; enormous dl
        ("a3", "p3", "t", base, "spark " + "z " * 5000, "", "", "drop", 0),
    ]
    posts = _posts(spark, rows)
    spec = FeedSpec(where={"byApp": {"_eq": "keep"}}, limit=10)
    got = search_feed(posts, "spark", spec, rank_by="bm25").collect()
    assert [r["permlink"] for r in got] == ["p2", "p1"]

    # and the scoring stats equal a from-scratch index over ONLY the
    # subset (the docstring's claim, now true for doclens too)
    subset = posts.filter(F.col("app_name") == "keep").withColumn(
        "_key", F.concat_ws("/", "author", "permlink")
    )
    postings, doclens = bm25_index(subset, "body", "_key")
    want = {
        r["_key"]: r["score"]
        for r in bm25_topk(
            postings, doclens, "_key", ["spark"], k=None, quantized=False
        ).collect()
    }
    full = posts.withColumn("_key", F.concat_ws("/", "author", "permlink"))
    fp, fd = bm25_index(full, "body", "_key")
    keys = subset.select("_key")
    got_scores = {
        r["_key"]: r["score"]
        for r in bm25_topk(
            fp.join(keys, "_key", "left_semi"),
            fd.join(keys, "_key", "left_semi"),
            "_key",
            ["spark"],
            k=None,
            quantized=False,
        ).collect()
    }
    assert got_scores == want


def test_bm25_boundary_tie_resolves_by_created_at(spark):
    """Docs with IDENTICAL bodies score identically; at limit=1 the
    page must contain the newest one (advertised created_at DESC
    tiebreak), not the lexicographically-smallest key."""
    from union_indexer_node_spark.operators.feeds import FeedSpec, search_feed

    base = datetime.datetime(2024, 6, 1)
    rows = [
        # key 'a1/p1' sorts before 'z9/p9' — the old k-cut inside
        # bm25_topk would keep a1/p1; advertised order wants z9/p9
        ("a1", "p1", "t", base, "spark words here", "", "", "app", 0),
        ("z9", "p9", "t", base.replace(day=9), "spark words here",
         "", "", "app", 0),
        ("m5", "p5", "t", base.replace(day=5), "spark words here",
         "", "", "app", 0),
    ]
    posts = _posts(spark, rows)
    got = search_feed(
        posts, "spark", FeedSpec(limit=1), rank_by="bm25"
    ).collect()
    assert [(r["author"], r["permlink"]) for r in got] == [("z9", "p9")]
    # and pagination walks the same advertised order
    page2 = search_feed(
        posts, "spark", FeedSpec(limit=1, skip=1), rank_by="bm25"
    ).collect()
    assert [(r["author"], r["permlink"]) for r in page2] == [("m5", "p5")]


# ---------------------------------------------------------------------------
# sf0.1 streaming soak for the incremental index family (VERDICT r11
# item 6): micro-batches fold into BOTH lifetime indexes — BM25
# (bm25_index_merge) and MinHash (update_minhash_index) — inside one
# foreachBatch, with the per-batch delta DRIVEN BY corpus_diff against
# the maintained corpus snapshot (the deployment chain, streamed). The
# stream-maintained indexes must byte-match fresh batch builds over
# the final corpus, and the diff must do O(changed) work: re-ingested
# identical rows are 'unchanged' and skipped, pinned per batch.
# ---------------------------------------------------------------------------

SOAK_SF_DIR = "/root/testdata/sf0.1"


def _fingerprint(df):
    cols = sorted(df.columns)
    row = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))
    return (
        df.select(row.alias("h"))
        .agg(F.md5(F.concat_ws("", F.sort_array(F.collect_list("h")))))
        .collect()[0][0]
    )


def test_stream_maintained_indexes_match_batch_builds_sf01(
    spark, tmp_path
):
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.curation import corpus_diff
    from union_indexer_node_spark.pipelines.dedup import (
        minhash_signature,
        update_minhash_index,
    )
    from union_indexer_node_spark.pipelines.search import (
        bm25_index,
        bm25_index_merge,
    )
    from union_indexer_node_spark.session import free_local_checkpoint

    d = tables.load(spark, SOAK_SF_DIR, "documents").select(
        "doc_id", "text"
    )
    did = F.col("doc_id")
    stale = d.select(
        "doc_id",
        F.when(did % 3 == 0, F.concat(F.col("text"), F.lit(" stale")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    corrections = d.filter(did % 3 == 0).select("doc_id", "text")
    added = d.filter(did % 7 == 0).select(
        (did + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
    )
    reingest_b2 = d.filter((did % 3 != 0) & (did % 5 == 0)).select(
        "doc_id", "text"
    )  # byte-identical -> diff says 'unchanged' -> skipped
    # batch 1: full stale snapshot; batch 2: corrections + adds +
    # identical re-ingests; batch 3: identical re-ingests only (a
    # whole no-op ingest cycle). Sequential appends => file stream
    # processes them in this order (modification-time order, the same
    # contract the follows tombstone tests pin).
    batches = [
        stale,
        corrections.unionByName(added).unionByName(reingest_b2),
        d.filter(did % 11 == 0).select("doc_id", "text"),
    ]
    src = str(tmp_path / "docs_stream")
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(src)

    state = {
        "corpus": None,
        "postings": spark.createDataFrame(
            [], "doc_id long, token string, tf long"
        ),
        "doclens": spark.createDataFrame([], "doc_id long, dl int"),
        "minhash": spark.createDataFrame(
            [],
            "doc_id long, h0 string, h1 string, h2 string, h3 string, "
            "h4 string, h5 string, h6 string, h7 string",
        ),
        "delta_rows": [],
    }

    def fold(batch_df, batch_id):
        batch = batch_df.dropDuplicates(["doc_id"])
        old = state["corpus"]
        if old is None:
            new_corpus = batch
            delta = batch
        else:
            # LWW by arrival: the batch's row replaces the stored one
            new_corpus = old.join(
                batch.select("doc_id"), "doc_id", "left_anti"
            ).unionByName(batch)
            diff = corpus_diff(old, new_corpus, "doc_id", "text").filter(
                F.col("status").isin("changed", "added")
            )
            delta = new_corpus.join(
                diff.select("doc_id"), "doc_id", "left_semi"
            )
        superseded = state.get("_ckpted")
        delta = delta.localCheckpoint()
        state["delta_rows"].append(delta.count())
        p, dl = bm25_index_merge(
            state["postings"], state["doclens"], delta, "text", "doc_id"
        )
        mh = update_minhash_index(state["minhash"], delta, "text", "doc_id")
        state["corpus"] = new_corpus.localCheckpoint()
        state["postings"] = p.localCheckpoint()
        state["doclens"] = dl.localCheckpoint()
        state["minhash"] = mh.localCheckpoint()
        state["_ckpted"] = (
            state["corpus"],
            state["postings"],
            state["doclens"],
            state["minhash"],
            delta,
        )
        if superseded is not None:
            for f in superseded:
                free_local_checkpoint(f)

    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)

    n_docs = d.count()
    n_changed = d.filter(did % 3 == 0).count()
    n_added = added.count()
    # batch 1 = the full snapshot; batch 2 = exactly changed + added
    # (identical re-ingests skipped by the diff); batch 3 = all skips
    assert state["delta_rows"] == [n_docs, n_changed + n_added, 0]

    final_corpus = d.unionByName(added)
    bp, bdl = bm25_index(final_corpus, "text", "doc_id")
    assert _fingerprint(state["postings"]) == _fingerprint(bp)
    assert _fingerprint(state["doclens"]) == _fingerprint(
        bdl.select("doc_id", F.col("dl").cast("int").alias("dl"))
    )
    assert _fingerprint(state["minhash"]) == _fingerprint(
        minhash_signature(final_corpus, "text", "doc_id")
    )


# ---------------------------------------------------------------------------
# serving-ranking extensions gated behind opt-in args (VERDICT r11
# item 8, the BM25-arm pattern): trendingFeed rankBy=DECAYED and
# leaderBoard rankBy=PAGERANK. Default behavior must stay byte-equal
# to the reference-parity arm.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def gate_service(spark):
    pytest.importorskip("graphql")
    from union_indexer_node_spark.serving import GraphQLService

    base = datetime.datetime(2024, 6, 20)
    posts = (
        spark.createDataFrame(
            [
                # old but huge payout: outside the 3-day window, decays
                # 14 half-lives
                ("a1", "pold", "t", base - datetime.timedelta(days=100),
                 1000.0),
                # fresh, tiny payout: the only window survivor
                ("a2", "pnew", "t", base, 1.0),
                # 10 days old, mid payout: decayed winner
                ("a3", "pmid", "t", base - datetime.timedelta(days=10),
                 50.0),
            ],
            "author string, permlink string, title string, "
            "created_at timestamp, payout double",
        )
        .withColumn("flags", F.lit(None).cast("array<string>"))
        .withColumn("TYPE", F.lit("HIVE"))
    )
    profiles = spark.createDataFrame(
        [("u1", 12.0), ("u2", 5.0), ("u3", 0.0)],
        "username string, score double",
    )
    follows = spark.createDataFrame(
        [("u1", "u3"), ("u2", "u3"), ("u2", "u1")],
        "follower string, following string",
    )
    return GraphQLService(posts=posts, profiles=profiles, follows=follows)


def _feed_permlinks(service, rank_arg):
    body = service.execute(
        f"""
        query {{
          trendingFeed(trendingBy: PAYOUT{rank_arg}) {{
            items {{ permlink }}
          }}
        }}
        """
    )
    assert "errors" not in body, body
    return [i["permlink"] for i in body["data"]["trendingFeed"]["items"]]


def test_trending_feed_default_unchanged_decayed_opt_in(gate_service):
    # default: the reference's hard 3-day anchor window — only the
    # fresh post qualifies
    assert _feed_permlinks(gate_service, "") == ["pnew"]
    # any non-DECAYED value also keeps the default arm
    assert _feed_permlinks(gate_service, ', rankBy: "other"') == ["pnew"]
    # opt-in: half-life decay ranks all filter-passing posts, no cliff
    assert _feed_permlinks(gate_service, ', rankBy: "DECAYED"') == [
        "pmid", "pnew", "pold",
    ]


def test_leaderboard_default_unchanged_pagerank_opt_in(gate_service):
    body = gate_service.execute(
        "query { leaderBoard { items { username score rank } } }"
    )
    assert "errors" not in body, body
    items = body["data"]["leaderBoard"]["items"]
    # reference arm: score>0 only, ranked by creator score
    assert [(i["username"], i["rank"]) for i in items] == [
        ("u1", 1), ("u2", 2),
    ]
    body = gate_service.execute(
        'query { leaderBoard(rankBy: "PAGERANK") '
        "{ items { username score rank } } }"
    )
    assert "errors" not in body, body
    pr = body["data"]["leaderBoard"]["items"]
    # u3 has the in-links (u1, u2 both follow it); u1 gets u2's half
    # vote; u2 has none — hand-computed 2-iteration integer PageRank
    assert [(i["username"], i["rank"]) for i in pr] == [
        ("u3", 1), ("u1", 2), ("u2", 3),
    ]
    assert pr[0]["score"] == pytest.approx(0.7025)
    assert pr[1]["score"] == pytest.approx(0.21375)
    assert pr[2]["score"] == pytest.approx(0.15)


def test_keyset_pagination_matches_offset_and_default_unchanged(spark):
    """The opt-in keyset cursor walks the identical (created_at DESC,
    permlink ASC) order as offset pagination — page 2 via the page-1
    tail cursor == page 2 via skip — and the cursor predicate is a
    pushed filter (no offset node). Default (no cursor) stays the
    reference skip/limit arm."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators.feeds import (
        FeedSpec,
        social_feed,
    )

    posts = tables.posts(spark, "/root/testdata/sf0.001")
    page1 = social_feed(posts, FeedSpec(limit=10)).select(
        "author", "permlink", "created_at"
    ).collect()
    tail = page1[-1]
    via_offset = social_feed(posts, FeedSpec(limit=10, skip=10)).select(
        "author", "permlink"
    ).collect()
    via_cursor_df = social_feed(
        posts,
        FeedSpec(limit=10, after=(tail["created_at"], tail["permlink"])),
    )
    via_cursor = via_cursor_df.select("author", "permlink").collect()
    assert [tuple(r) for r in via_cursor] == [tuple(r) for r in via_offset]
    plan = via_cursor_df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_keyset_cursor_on_search_feed_recency_arm(spark):
    """searchFeed's recency arm honors the same cursor; combining it
    with the BM25 arm raises (a recency cursor has no meaning in a
    score-ranked page)."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators.feeds import (
        FeedSpec,
        search_feed,
    )

    posts = tables.posts(spark, "/root/testdata/sf0.001")
    term = "body"
    p1 = search_feed(posts, term, FeedSpec(limit=5)).select(
        "permlink", "created_at"
    ).collect()
    assert len(p1) == 5
    tail = p1[-1]
    via_offset = search_feed(
        posts, term, FeedSpec(limit=5, skip=5)
    ).select("permlink").collect()
    via_cursor = search_feed(
        posts,
        term,
        FeedSpec(limit=5, after=(tail["created_at"], tail["permlink"])),
    ).select("permlink").collect()
    assert [r[0] for r in via_cursor] == [r[0] for r in via_offset]
    with pytest.raises(ValueError, match="recency arm"):
        search_feed(
            posts,
            term,
            FeedSpec(limit=5, after=(p1[0]["created_at"], "x")),
            rank_by="bm25",
        )


def test_keyset_walk_enumerates_full_ordering_no_gaps_no_dups(spark):
    """Walking socialFeed page by page via the cursor reconstructs the
    ENTIRE ordered feed exactly — no row lost at a page boundary
    (including timestamp-tie boundaries), none repeated — for several
    page sizes, against the whole sf0.001 corpus."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators.feeds import (
        FeedSpec,
        social_feed,
    )

    posts = tables.posts(spark, "/root/testdata/sf0.001")
    # limit must be row-count-sized, NOT a huge sentinel: sort+limit
    # compiles to TakeOrderedAndProject whose per-partition TopKSelector
    # allocates O(k) up front — limit=1e9 OOMed the whole test JVM
    n = posts.count()
    full = social_feed(posts, FeedSpec(limit=n + 1)).select(
        "author", "permlink", "created_at"
    ).collect()
    assert len(full) > 100
    for size in (7, 64):
        walked: list[tuple] = []
        cursor = None
        while True:
            page = social_feed(
                posts, FeedSpec(limit=size, after=cursor)
            ).select("author", "permlink", "created_at").collect()
            walked.extend((r["author"], r["permlink"]) for r in page)
            if len(page) < size:
                break
            tail = page[-1]
            cursor = (tail["created_at"], tail["permlink"])
        assert walked == [(r["author"], r["permlink"]) for r in full], size


def test_keyset_cursor_through_graphql(gate_service):
    """Serving surface: socialFeed(after:) pages through the gate
    fixture; omitting it is byte-identical to before the arg existed."""
    q1 = gate_service.execute(
        "query { socialFeed(pagination: {limit: 2}) "
        "{ items { permlink created_at } } }"
    )
    assert "errors" not in q1, q1
    items = q1["data"]["socialFeed"]["items"]
    assert [i["permlink"] for i in items] == ["pnew", "pmid"]
    tail = items[-1]
    q2 = gate_service.execute(
        f"""
        query {{
          socialFeed(pagination: {{limit: 2}},
                     after: {{created_at: "{tail['created_at']}",
                              permlink: "{tail['permlink']}"}}) {{
            items {{ permlink }}
          }}
        }}
        """
    )
    assert "errors" not in q2, q2
    assert [i["permlink"] for i in q2["data"]["socialFeed"]["items"]] == [
        "pold"
    ]


# ---------------------------------------------------------------------------
# global KMV sketch (VERDICT r11 #4: a_approx_distinct_users upgrade)
# ---------------------------------------------------------------------------


def test_sample_quantiles_single_ranked_pass(spark):
    """The ranked sample must be computed ONCE with quantiles selected
    via an exploded literal — the per-q union-of-branches form re-ran
    the window subplan len(qs) times (3x the exchanges, measured)."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["sketch_sample_quantiles"].fn(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # bottom-k rank + value rank + count-over = one window stage each;
    # anything >6 means the subplan replicated per quantile again
    assert plan.count("Window") <= 6, plan.count("Window")
    assert "Union" not in plan


def test_follows_audit_applied_set_matches_build_follows(spark):
    """The audit's 'applied' rows are exactly the ops build_follows
    folds: with unique edge keys per op, applied count == edge count,
    and every drop reason labels an op build_follows really drops."""
    import json as _json

    from union_indexer_node_spark.ingest.posts import (
        build_follows,
        follows_op_audit,
    )

    def op(h, cj_id, payload, auths):
        return (
            h, datetime.datetime(2024, 1, 1), 0, 1, "custom_json",
            cj_id,
            payload if isinstance(payload, str) else _json.dumps(payload),
            auths,
        )

    rows = [
        op(1, "follow", {"follower": "a1", "following": "b1",
                         "what": ["blog"]}, ["a1"]),     # applied
        op(2, "follow", {"follower": "zz", "following": "b2",
                         "what": ["blog"]}, ["a2"]),     # spoofed
        op(3, "follow", {"following": "b3", "what": ["blog"]},
           ["a3"]),                                       # no follower
        op(4, "community", {"action": "updateProps",
                            "community": "hive-x"}, ["a4"]),  # non-follow
        op(5, "community", {"community": "hive-y"}, ["a5"]),  # NULL action
        op(6, "community", {"action": "subscribe",
                            "community": "hive-z"}, ["a6"]),  # applied
        op(7, "spk.follow", {"did": "did:key:z1"}, []),   # authless
        op(8, "spk.follow", {"following": "b8"}, ["a8"]),  # no did
        op(9, "spk.follow", {"did": "did:key:z2"}, ["a9"]),  # applied
        op(10, "follow", "{not json", ["a10"]),           # malformed
        op(11, "follow", {"follower": "a11", "following": "b11",
                          "what": ["blog"]}, []),  # legacy, EMPTY auths:
        #   (follower != auth) is NULL — must still be labeled a drop
        #   (ADVICE r12: was mislabeled 'applied' with a NULL reason)
    ]
    schema = (
        "block_height long, block_timestamp timestamp, tx_idx int, "
        "op_idx int, op_type string, custom_json_id string, "
        "custom_json string, required_posting_auths array<string>"
    )
    ops = spark.createDataFrame(rows, schema)
    audit = {r["block_height"]: r for r in follows_op_audit(ops).collect()}
    assert {h: a["status"] for h, a in audit.items()} == {
        1: "applied", 2: "dropped", 3: "dropped", 4: "dropped",
        5: "dropped", 6: "applied", 7: "dropped", 8: "dropped",
        9: "applied", 10: "dropped", 11: "dropped",
    }
    assert audit[2]["reason"] == "spoofed_or_missing_follower"
    assert audit[3]["reason"] == "spoofed_or_missing_follower"
    assert audit[11]["reason"] == "spoofed_or_missing_follower"
    assert audit[4]["reason"] == "non_follow_action"
    assert audit[5]["reason"] == "non_follow_action"
    assert audit[7]["reason"] == "missing_signer"
    assert audit[8]["reason"] == "missing_following"
    assert audit[10]["reason"] == "malformed_json"
    # unique edge keys per op -> build_follows row count == applied count
    edges = build_follows(ops, keep_tombstones=True).collect()
    assert len(edges) == 3
    applied_heights = {h for h, a in audit.items() if a["status"] == "applied"}
    assert {e["block_height"] for e in edges} == applied_heights


def test_kmeans_suffstats_fold_and_update(spark):
    """Folded per-slice suffstats == whole-corpus suffstats (exact
    integer sums), the derived centroid equals the batch update
    formula round(s / (n·quant), 6), and a cluster with no members
    keeps its previous centroid."""
    from union_indexer_node_spark.pipelines.similarity import (
        kmeans_fold_suffstats,
        kmeans_from_suffstats,
        kmeans_suffstats,
    )

    cents = [[0.0, 0.0], [1.0, 1.0], [9.0, 9.0]]  # cluster 2 empty
    rows = [
        (1, [0.1, 0.2]), (2, [-0.1, 0.0]),        # -> cluster 0
        (3, [0.9, 1.1]), (4, [1.2, 0.8]),          # -> cluster 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    whole = kmeans_suffstats(emb, cents)
    folded = kmeans_fold_suffstats(
        kmeans_suffstats(emb.filter(F.col("vec_id") <= 2), cents),
        kmeans_suffstats(emb.filter(F.col("vec_id") > 2), cents),
    )
    assert sorted(map(tuple, folded.collect())) == sorted(
        map(tuple, whole.collect())
    )
    new = kmeans_from_suffstats(folded, cents)
    assert new[0] == [0.0, 0.1]        # means of cluster 0
    assert new[1] == [1.05, 0.95]      # means of cluster 1
    assert new[2] == [9.0, 9.0]        # empty cluster keeps previous


def test_remove_frequent_lines_semantics(spark):
    """Corpus-wide boilerplate cut: a line in >= min_docs documents is
    removed from EVERY document (trim identity, original bytes kept
    elsewhere); rare lines stay; blank lines are never flagged; a doc
    that was all boilerplate survives with empty text."""
    from union_indexer_node_spark.pipelines.curation import (
        remove_frequent_lines,
    )

    banner = "subscribe now"
    rows = [(i, f"{banner}\n\nunique body {i}\n  {banner} ") for i in range(5)]
    rows.append((100, banner))                 # all-boilerplate doc
    rows.append((101, "rare line\nunique body 101"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in remove_frequent_lines(
            df, "text", "doc_id", min_docs=5
        ).collect()
    }
    for i in range(5):
        # both banner variants removed (trim identity); blank line and
        # body kept byte-exactly
        assert out[i]["cleaned_text"] == f"\nunique body {i}"
        assert out[i]["n_removed_lines"] == 2
        assert out[i]["n_lines"] == 4
    assert out[100]["cleaned_text"] == "" and out[100]["n_removed_lines"] == 1
    assert out[101]["cleaned_text"] == "rare line\nunique body 101"
    assert out[101]["n_removed_lines"] == 0


def test_kmv_global_two_level_equals_single_group(spark):
    """The two-level truncation (per-residue-bucket rank, then a
    bounded global rank) must produce the IDENTICAL sketch to ranking
    everything through one constant group — level 1 never evicts a
    global k-smallest survivor (pigeonhole on ranks)."""
    from union_indexer_node_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
        kmv_sketch_global,
    )

    df = spark.range(0, 2000).select(
        (F.col("id") % 700).alias("user_id")  # 700 distinct, dups too
    )
    k = 16
    via_global = kmv_sketch_global(df, "user_id", k=k, prebuckets=8)
    via_const = kmv_sketch(
        df.withColumn("_g", F.lit(1)), ["_g"], "user_id", k=k
    ).select("_h", "_r")
    assert sorted(map(tuple, via_global.collect())) == sorted(
        map(tuple, via_const.collect())
    )
    est = kmv_estimate(via_global, [], k=k).collect()[0]
    assert est["sketch_size"] == k
    # 700 distinct, k=16 -> estimate within ~3x (loose sanity; the
    # oracle entry pins the exact integer value)
    assert 200 < est["n_distinct_est"] < 2100


def test_ivfpq_prebuilt_state_paths_match_composed(spark):
    """ivfpq_topk against prebuilt state (assigned-only, or the full
    code table from ivfpq_encode) must return exactly the composed
    in-plan result — the bench split-phase arms time a byte-identical
    answer."""
    from union_indexer_node_spark.pipelines.similarity import (
        ivfpq_assign,
        ivfpq_encode,
        ivfpq_topk,
    )
    from union_indexer_node_spark.queries.similarity import (
        _PQ_QUERY_VEC,
        _ivf_fixture_cells,
        _pq_fixture_codebooks,
    )
    from union_indexer_node_spark import tables

    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    cells, books = _ivf_fixture_cells(), _pq_fixture_codebooks()
    kw = dict(nprobe=2, topk=10)
    composed = ivfpq_topk(emb, _PQ_QUERY_VEC, cells, books, **kw).collect()
    via_assigned = ivfpq_topk(
        emb, _PQ_QUERY_VEC, cells, books,
        assigned=ivfpq_assign(emb, cells), **kw
    ).collect()
    via_coded = ivfpq_topk(
        emb, _PQ_QUERY_VEC, cells, books,
        coded=ivfpq_encode(emb, cells, books), **kw
    ).collect()
    as_tuples = lambda rows: [tuple(r) for r in rows]  # noqa: E731
    assert as_tuples(via_assigned) == as_tuples(composed)
    assert as_tuples(via_coded) == as_tuples(composed)


def test_cm_sketch_never_undercounts_and_merges(spark):
    """CM invariants: est >= exact for every key, exact-zero for
    never-seen keys, and merged per-slice sketches answer identically
    to the whole-corpus sketch."""
    from union_indexer_node_spark.operators.sketches import (
        cm_estimate,
        cm_merge,
        cm_sketch,
    )

    kw = dict(w=16, d=3)  # tiny width -> real collisions
    df = spark.range(0, 3000).select((F.col("id") % 37).alias("k"))
    exact = {r["k"]: r["c"] for r in
             df.groupBy("k").agg(F.count(F.lit(1)).alias("c")).collect()}
    cand = spark.createDataFrame(
        [(k,) for k in list(range(37)) + [999]], "k long"
    )
    cells = cm_sketch(df, "k", **kw)
    est = {r["k"]: r["cm_count"] for r in
           cm_estimate(cells, cand, "k", **kw).collect()}
    assert all(est[k] >= exact[k] for k in exact)
    # a SPARSE sketch (w >> distinct keys) reads never-seen keys as
    # exact zero (some cell is empty); a saturated one only promises
    # no-undercount
    sparse = cm_sketch(df, "k", w=4096, d=3)
    z = {r["k"]: r["cm_count"] for r in
         cm_estimate(sparse, cand, "k", w=4096, d=3).collect()}
    assert z[999] == 0 and all(z[k] >= exact[k] for k in exact)
    # merge: two halves folded == one sketch over the union
    a = cm_sketch(df.filter(F.col("k") < 20), "k", **kw)
    b = cm_sketch(df.filter(F.col("k") >= 20), "k", **kw)
    merged_est = {r["k"]: r["cm_count"] for r in
                  cm_estimate(cm_merge(a, b), cand, "k", **kw).collect()}
    assert merged_est == est


def test_bottomk_sample_quantiles_accuracy_and_merge(spark):
    """The bottom-k sample is a uniform draw: nearest-rank quantiles
    over k=256 of 10k uniform values land within a few rank-percent of
    the true quantiles; merging two slice samples (union + re-rank by
    the same hash) equals the whole-corpus sample."""
    from union_indexer_node_spark.operators.sketches import (
        bottomk_sample,
        sample_quantiles,
    )

    df = spark.range(0, 10_000).select(
        F.lit("g").alias("g"), F.col("id").alias("v"), F.col("id").alias("rid")
    )
    samp = bottomk_sample(df, ["g"], "rid", k=256)
    qs = {r["q"]: r["quantile_value"] for r in
          sample_quantiles(samp, ["g"], "v", qs=(25, 50, 75)).collect()}
    for q in (25, 50, 75):
        assert abs(qs[q] - q * 100) < 1000, (q, qs[q])  # within 10 rank-%
    # slice-merge: the k smallest hashes of the union are the k
    # smallest of (k smallest of A) ∪ (k smallest of B)
    lo = bottomk_sample(df.filter(F.col("v") < 5000), ["g"], "rid", k=256)
    hi = bottomk_sample(df.filter(F.col("v") >= 5000), ["g"], "rid", k=256)
    from pyspark.sql import Window

    merged = (
        lo.unionByName(hi)
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("g").orderBy("_h", "rid")
            ),
        )
        .filter(F.col("_r") <= 256)
        .drop("_r")
    )
    assert sorted(r["rid"] for r in merged.collect()) == sorted(
        r["rid"] for r in samp.collect()
    )


def test_kmv_global_underfull_is_exact(spark):
    from union_indexer_node_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch_global,
    )

    df = spark.range(0, 50).select((F.col("id") % 7).alias("user_id"))
    est = kmv_estimate(
        kmv_sketch_global(df, "user_id", k=64), [], k=64
    ).collect()[0]
    assert est["n_distinct_est"] == 7 and est["sketch_size"] == 7
