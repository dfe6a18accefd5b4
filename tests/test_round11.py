"""Round-11 regression tests for the ADVICE r10 items:

- keep_best_per_cluster LEFT-joins scores: an unscored clustered id is
  emitted (NULL score) and ranks last, never silently dropped
- bm25_topk quantized arm survives total_dl*tf beyond the BIGINT
  envelope (the DECIMAL(38,0) pre-widening)
- remove_duplicate_spans / remove_repeated_passages normalize NULL
  text to '' at entry (n_tokens 0, cleaned_text '', never NULL/-1)
- mmr_rerank preserves a non-integral id column's type
"""

from __future__ import annotations

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# keep_best_per_cluster: auditability under missing scores
# ---------------------------------------------------------------------------


def test_keep_best_per_cluster_left_join_keeps_unscored(spark):
    from union_indexer_node_spark.pipelines.dedup import keep_best_per_cluster

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20)],
        "doc_id long, cluster_id long",
    )
    # doc 3 (cluster 10) and doc 4 (cluster 20, its ONLY member) have
    # no score row at all.
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9)], "doc_id long, score double"
    )
    out = {
        r["doc_id"]: r
        for r in keep_best_per_cluster(
            clusters, scores, "doc_id"
        ).collect()
    }
    # EVERY input row comes back — the docstring's auditability contract.
    assert sorted(out) == [1, 2, 3, 4]
    # unscored rows carry NULL score and rank last within the cluster
    assert out[3]["score"] is None and out[3]["keep"] is False
    assert out[2]["keep"] is True and out[1]["keep"] is False
    # a cluster whose only member is unscored still elects a canonical
    assert out[4]["score"] is None and out[4]["keep"] is True


# ---------------------------------------------------------------------------
# bm25_topk quantized: BIGINT-envelope overflow (ADVICE r10)
# ---------------------------------------------------------------------------


def test_bm25_quantized_survives_bigint_overflow_envelope(spark):
    """total_dl ~3e15 with tf up to 40: 10000*total_dl*tf ~1.2e21 —
    far past BIGINT (9.2e18). Pre-fix this nulled num/den (score NULL
    or rows dropped); post-fix every doc scores and the per-term
    ordering (higher tf, shorter dl → higher score) holds."""
    from union_indexer_node_spark.pipelines.search import bm25_topk

    postings = spark.createDataFrame(
        [(1, "spark", 40), (2, "spark", 40), (3, "spark", 2)],
        "doc_id long, token string, tf long",
    )
    doclens = spark.createDataFrame(
        [(1, 1_000_000_000_000_000), (2, 2_000_000_000_000_000), (3, 100)],
        "doc_id long, dl long",
    )
    rows = bm25_topk(
        postings, doclens, "doc_id", ["spark"], k=3, quantized=True
    ).collect()
    assert len(rows) == 3
    assert all(r["score_q"] is not None for r in rows)
    # same tf, shorter doc wins; the short doc with tiny tf still ranks
    # by the BM25 saturation (tf=2 vs 40 at dl=100 vs 1e15)
    by_id = {r["doc_id"]: r["score_q"] for r in rows}
    assert by_id[1] > by_id[2]  # dl 1e15 < 2e15, same tf


# ---------------------------------------------------------------------------
# NULL-text entry contract (ADVICE r10)
# ---------------------------------------------------------------------------


def test_remove_duplicate_spans_null_text_contract(spark):
    from union_indexer_node_spark.pipelines.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(1, None), (2, "a b c d e f g h"), (3, "a b c d e f g h"),
         (4, "a b c d e f g h")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(
            docs, "text", "doc_id", window_tokens=8, max_occurrences=2
        ).collect()
    }
    assert out[1]["cleaned_text"] == ""
    assert out[1]["n_tokens"] == 0
    assert out[1]["n_removed_tokens"] == 0
    # the triplicated 8-token window is still scrubbed from docs 2-4
    assert out[2]["cleaned_text"] == ""
    assert out[2]["n_removed_tokens"] == 8


def test_remove_repeated_passages_null_text_contract(spark):
    from union_indexer_node_spark.pipelines.dedup import (
        remove_repeated_passages,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, "keep these words")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_repeated_passages(
            docs, "text", "doc_id", words_per_passage=2, max_occurrences=2
        ).collect()
    }
    assert out[1]["cleaned_text"] == ""
    assert out[1]["n_segments"] == 0
    assert out[2]["cleaned_text"] == "keep these words"


# ---------------------------------------------------------------------------
# mmr_rerank: id type preservation (ADVICE r10)
# ---------------------------------------------------------------------------


def test_mmr_rerank_string_ids_round_trip(spark):
    from union_indexer_node_spark.pipelines.similarity import mmr_rerank

    emb = spark.createDataFrame(
        [
            ("doc-a", [1.0, 0.0]),
            ("doc-b", [0.9, 0.1]),
            ("doc-c", [0.0, 1.0]),
        ],
        "doc_key string, embedding array<double>",
    )
    # lam=0.3 weights diversity over relevance so the second pick must
    # skip the near-duplicate of the first.
    out = mmr_rerank(
        emb, [1.0, 0.0], id_col="doc_key", vec_col="embedding",
        n_candidates=3, k=2, lam=0.3,
    )
    assert dict(out.dtypes)["doc_key"] == "string"
    rows = out.orderBy("pick_idx").collect()
    assert rows[0]["doc_key"] == "doc-a"
    # MMR's second pick trades redundancy: doc-c (orthogonal) over
    # doc-b (near-duplicate of the first pick)
    assert rows[1]["doc_key"] == "doc-c"


# ---------------------------------------------------------------------------
# unigram-LM trainer (round 11): prune semantics + coverage guarantee
# ---------------------------------------------------------------------------


def test_unigram_lm_train_prunes_unused_and_keeps_singles(spark):
    from union_indexer_node_spark.pipelines.textstats import unigram_lm_train

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat ate the rat"),
         (3, "cats eat rats")],
        "doc_id long, text string",
    )
    out = {
        r["piece"]: r["cnt"]
        for r in unigram_lm_train(
            df, "text", n_iters=2, max_piece_len=3, max_word_len=8
        ).collect()
    }
    # high-frequency multi-char pieces survive the prune with Viterbi
    # usage counts
    assert out["the"] == 4 and out["cat"] == 3 and out["at"] == 3
    # substrings never chosen by any Viterbi path are pruned
    assert "th" not in out and "he" not in out and "ca" not in out
    # every seed single char survives (coverage guarantee), smoothed +1
    for ch in "catsonhemr":
        assert ch in out
    # a char that appears only inside always-whole pieces floors at 1
    assert out["h"] == 1


def test_unigram_lm_train_viterbi_prefers_cheap_long_pieces(spark):
    """A word segmentable as one frequent piece + leftovers must not be
    shredded into singles: 'thecat' -> the|cat when both pieces are
    frequent."""
    from union_indexer_node_spark.pipelines.textstats import unigram_lm_train

    df = spark.createDataFrame(
        [(1, "the the the cat cat thecat")], "doc_id long, text string"
    )
    out = {
        r["piece"]: r["cnt"]
        for r in unigram_lm_train(
            df, "text", n_iters=1, max_piece_len=3, max_word_len=8
        ).collect()
    }
    # 'thecat' contributes one usage each to 'the' and 'cat'
    assert out["the"] == 4 and out["cat"] == 3


# ---------------------------------------------------------------------------
# IVF-PQ (round 11): encode determinism + trained-codebook recall
# ---------------------------------------------------------------------------


def _load_emb(spark):
    from union_indexer_node_spark import tables

    return tables.load(spark, "/root/testdata/sf0.01", "embeddings")


def test_pq_encode_codes_are_argmin(spark):
    """Each code must be the index of the nearest centroid (exact
    integer distances, ties to the lowest code)."""
    from union_indexer_node_spark.pipelines.similarity import pq_encode

    books = [[[0, 0], [1000, 1000]], [[-1000, 0], [0, 0]]]
    emb = spark.createDataFrame(
        [(1, [0.9, 0.9, -0.9, 0.1]), (2, [0.1, 0.1, 0.1, 0.1])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: list(r["codes"]) for r in
           pq_encode(emb, books, quant=1000).collect()}
    assert out[1] == [1, 0]
    assert out[2] == [0, 1]


def test_pq_adc_trained_recall_beats_floor_and_fixture(spark):
    """Train real codebooks (per-subspace k-means) on the sf0.01
    embeddings; PQ-ADC top-10 must (a) clear a recall floor vs exact
    search and (b) beat the data-independent fixture codebook —
    training must matter. PQ at 8x4 is 16 bits/vector vs int8's 512,
    so the comparison to exact search is a floor, not parity."""
    from union_indexer_node_spark.pipelines.similarity import (
        pq_adc_topk,
        train_pq_codebooks,
    )
    from union_indexer_node_spark.queries.similarity import (
        _PQ_QUERY_VEC,
        _pq_fixture_codebooks,
    )

    emb = _load_emb(spark).localCheckpoint()
    # exact L2 reference (ADC approximates L2, not cosine)
    qlit = F.array(*[F.lit(float(x)) for x in _PQ_QUERY_VEC])
    exact = {
        r["vec_id"]
        for r in emb.filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(
                    F.col("embedding"), qlit,
                    lambda x, y: (x.cast("double") - y)
                    * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ).alias("d2"),
        )
        .orderBy(F.asc("d2"), F.asc("vec_id"))
        .limit(10)
        .collect()
    }
    trained_books = train_pq_codebooks(emb, m=16, k=8, iters=3)
    got_trained = {
        r["vec_id"]
        for r in pq_adc_topk(
            emb, _PQ_QUERY_VEC, trained_books, topk=10
        ).collect()
    }
    got_fixture = {
        r["vec_id"]
        for r in pq_adc_topk(
            emb, _PQ_QUERY_VEC, _pq_fixture_codebooks(), topk=10
        ).collect()
    }
    recall_trained = len(exact & got_trained) / 10
    recall_fixture = len(exact & got_fixture) / 10
    # measured on this fixture: m=16/k=8 trained 0.5, fixture 0.0;
    # PQ recall scales with m*log2(k) bits (m=8/k=4 measured 0.1)
    assert recall_trained >= 0.3, (recall_trained, recall_fixture)
    assert recall_trained > recall_fixture, (recall_trained, recall_fixture)


# ---------------------------------------------------------------------------
# WAV/MP4 header probes (round 11): parser units + fuzzed headers
# ---------------------------------------------------------------------------


def _wav_bytes(rate=44100, ch=2, bits=16, data_size=88200, extra_chunk=False):
    import struct

    block = ch * bits // 8
    byte_rate = rate * block
    out = b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
    if extra_chunk:  # LIST chunk before fmt — walkers must skip it
        out += b"LIST" + struct.pack("<I", 4) + b"INFO"
    out += (
        b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, rate, byte_rate,
                              block, bits)
        + b"data" + struct.pack("<I", data_size)
    )
    return out


def test_wav_info_parses_and_skips_unknown_chunks():
    from union_indexer_node_spark.pipelines.multimodal import _wav_info

    assert _wav_info(_wav_bytes()) == (44100, 2, 16, 500)
    assert _wav_info(_wav_bytes(extra_chunk=True)) == (44100, 2, 16, 500)
    # odd-sized chunk is word-aligned: a 3-byte chunk pads to 4
    import struct

    b = (b"RIFF" + struct.pack("<I", 100) + b"WAVE"
         + b"junk" + struct.pack("<I", 3) + b"abc\x00"
         + _wav_bytes()[12:])
    assert _wav_info(b) == (44100, 2, 16, 500)
    # non-WAV, truncated, missing-data all -> None
    assert _wav_info(b"RIFFxxxxWAVX") is None
    assert _wav_info(b"") is None
    assert _wav_info(b"RIFF\x00\x00\x00\x00WAVE") is None


def test_mp4_info_parses_mvhd_and_tkhd():
    import struct

    from union_indexer_node_spark.pipelines.multimodal import _mp4_info

    def box(typ, body):
        return struct.pack(">I", 8 + len(body)) + typ + body

    mvhd = box(b"mvhd", struct.pack(">I", 0) * 3
               + struct.pack(">II", 1000, 30000)
               + b"\x00" * 80)
    tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 72
               + struct.pack(">II", 640 << 16, 480 << 16))
    m = box(b"ftyp", b"isom\x00\x00\x00\x00") + box(
        b"moov", mvhd + box(b"trak", tkhd)
    )
    assert _mp4_info(m) == (1000, 30000, 640, 480)
    # audio-only (no trak): dims 0
    m2 = box(b"moov", mvhd)
    assert _mp4_info(m2) == (1000, 30000, 0, 0)
    # malformed size field stops the walk -> None (no mvhd found)
    bad = struct.pack(">I", 3) + b"moov"
    assert _mp4_info(bad) is None
    assert _mp4_info(b"") is None


def test_probe_av_mixed_and_corrupt_blobs(spark):
    from union_indexer_node_spark.pipelines.multimodal import probe_av

    rows = [
        (1, bytearray(_wav_bytes(rate=8000, ch=1, bits=8, data_size=4000))),
        (2, bytearray(b"\xde\xad\xbe\xef" * 10)),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "id long, content binary")
    out = {r["id"]: r for r in probe_av(df, target_partition_bytes=None).collect()}
    assert out[1]["kind"] == "wav" and out[1]["sample_rate"] == 8000
    assert out[1]["duration_ms"] == 500
    assert out[2]["kind"] == "unknown" and out[2]["n_bytes"] == 40
    assert out[3]["kind"] == "unknown" and out[3]["n_bytes"] == 0


# ---------------------------------------------------------------------------
# remove_duplicate_spans_maximal (round 11): span verification
# ---------------------------------------------------------------------------


def test_maximal_long_repeat_is_one_exact_span(spark):
    """A 12-token passage triplicated at DIFFERENT offsets must come
    out as ONE verified span with exact boundaries in every doc —
    longer than window_tokens, not window-granular fragments."""
    from union_indexer_node_spark.pipelines.dedup import (
        remove_duplicate_spans_maximal,
    )

    passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12"
    docs = spark.createDataFrame(
        [
            (1, f"alpha {passage} omega"),
            (2, f"{passage} tail2 here"),
            (3, f"lead3 words3 also3 {passage}"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_spans_maximal(
            docs, "text", "doc_id", window_tokens=8, max_occurrences=2
        ).collect()
    }
    for i in (1, 2, 3):
        assert out[i]["n_spans_removed"] == 1
        assert out[i]["n_removed_tokens"] == 12
    # exact boundaries: surrounding bytes survive byte-exactly
    assert out[1]["cleaned_text"] == "alpha omega"
    assert out[2]["cleaned_text"] == "tail2 here"
    assert out[3]["cleaned_text"] == "lead3 words3 also3 "


def test_maximal_keeps_chained_unverified_spans_where_r10_removes(spark):
    """Chained window repeats that never co-occur as a whole span:
    window [0,8) repeats in A,B,C; window [1,9) repeats in A,D,E. The
    r10 recall arm scrubs A's coalesced [0,9); the verified arm keeps
    it (the 9-token string exists only in A; each 8-token extent
    appears only twice at equal extent)."""
    from union_indexer_node_spark.pipelines.dedup import (
        remove_duplicate_spans,
        remove_duplicate_spans_maximal,
    )

    w1 = "a1 a2 a3 a4 a5 a6 a7 a8"       # tokens 0..7 of A
    w2 = "a2 a3 a4 a5 a6 a7 a8 a9"       # tokens 1..8 of A
    docs = spark.createDataFrame(
        [
            (1, f"{w1} a9"),   # A: both windows chain -> covered [0,9)
            (2, w1), (3, w1),  # B, C
            (4, w2), (5, w2),  # D, E
        ],
        "doc_id long, text string",
    )
    recall = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(
            docs, "text", "doc_id", window_tokens=8, max_occurrences=2
        ).collect()
    }
    precision = {
        r["doc_id"]: r
        for r in remove_duplicate_spans_maximal(
            docs, "text", "doc_id", window_tokens=8, max_occurrences=2
        ).collect()
    }
    assert recall[1]["n_removed_tokens"] == 9  # r10 arm scrubs the chain
    # verified arm: A's 9-token span string is unique at equal extent;
    # B..E's 8-token extents each occur twice (<= max) -> all kept
    for i in (1, 2, 3, 4, 5):
        assert precision[i]["n_removed_tokens"] == 0, i
        assert precision[i]["n_spans_removed"] == 0
        assert precision[i]["cleaned_text"] == docs.collect()[i - 1]["text"]


# ---------------------------------------------------------------------------
# streamed follows: watermark-bounded tombstone compaction (round 11)
# ---------------------------------------------------------------------------


def _follow_op(height, follower, following, what):
    import datetime
    import json

    return (
        height,
        datetime.datetime(2024, 1, 1, 0, 0, int(height % 60)),
        0,
        0,
        "custom_json",
        "follow",
        json.dumps(
            {"follower": follower, "following": following, "what": what}
        ),
        [follower],
    )


_OPS_SCHEMA = (
    "block_height long, block_timestamp timestamp, tx_idx int, op_idx int, "
    "op_type string, custom_json_id string, custom_json string, "
    "required_posting_auths array<string>"
)


def _run_follows_stream(spark, tmp_path, batches, watermark):
    from union_indexer_node_spark.streaming.stream import (
        ops_file_stream,
        start_follows_stream,
    )

    ops_dir = str(tmp_path / "ops")
    schema = None
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, _OPS_SCHEMA)
        schema = df.schema
        df.coalesce(1).write.mode("append").parquet(ops_dir)
    state = str(tmp_path / "state")
    sq = start_follows_stream(
        spark,
        ops_file_stream(spark, ops_dir, schema, max_files_per_trigger=1),
        state,
        str(tmp_path / "ckpt"),
        n_buckets=1,
        tombstone_watermark_blocks=watermark,
    )
    sq.awaitTermination(300)
    return spark.read.parquet(state)


def test_tombstone_past_watermark_is_compacted(spark, tmp_path):
    """A tombstone whose height has receded past the watermark is
    dropped from state when its bucket is next rewritten."""
    snap = _run_follows_stream(
        spark,
        tmp_path,
        [
            [
                _follow_op(100, "u", "v", ["blog"]),
                _follow_op(200, "u", "v", []),  # unfollow -> tombstone
            ],
            # stream head advances to 5000; high_wm = 4000 > 200
            [_follow_op(5000, "a", "b", ["blog"])],
        ],
        watermark=1000,
    )
    ids = {r["_id"]: r for r in snap.collect()}
    assert "hive-a-b" in ids and not ids["hive-a-b"]["is_unfollow"]
    assert "hive-u-v" not in ids  # tombstone compacted away


def test_tombstone_within_watermark_still_blocks_resurrection(spark, tmp_path):
    """Inside the watermark the tombstone is retained and a stale
    follow re-arriving in a later batch still loses LWW."""
    from union_indexer_node_spark.streaming.stream import follows_view

    snap = _run_follows_stream(
        spark,
        tmp_path,
        [
            [_follow_op(200, "u", "v", [])],  # tombstone at 200
            # stale follow (150) + head only advances to 900:
            # high_wm = -100 -> no compaction
            [
                _follow_op(150, "u", "v", ["blog"]),
                _follow_op(900, "x", "y", ["blog"]),
            ],
        ],
        watermark=1000,
    )
    ids = {r["_id"]: r for r in snap.collect()}
    assert ids["hive-u-v"]["is_unfollow"] is True  # tombstone retained
    live = {r["_id"] for r in follows_view(snap).collect()}
    assert live == {"hive-x-y"}  # no resurrection


# ---------------------------------------------------------------------------
# searchFeed rankBy=BM25 serving arm (round 11)
# ---------------------------------------------------------------------------


def _mk_posts(spark):
    import datetime

    base = datetime.datetime(2024, 6, 1)
    rows = []
    # doc 1: high tf for 'spark' but long; doc 2: short, same tf ->
    # BM25 prefers 2; recency prefers 1 (newest)
    rows.append(("a1", "p1", "t", base.replace(day=9),
                 "spark spark spark " + "filler " * 60, "", "", "app", 0))
    rows.append(("a2", "p2", "t", base.replace(day=5),
                 "spark spark spark indeed", "", "", "app", 0))
    rows.append(("a3", "p3", "t", base.replace(day=7),
                 "spark once only here with words", "", "", "app", 0))
    rows.append(("a4", "p4", "t", base.replace(day=8),
                 "no match here at all", "", "", "app", 0))
    return spark.createDataFrame(
        rows,
        "author string, permlink string, title string, "
        "created_at timestamp, body string, parent_author string, "
        "parent_permlink string, app_name string, num_votes int",
    ).withColumn(
        "flags", F.lit(None).cast("array<string>")
    ).withColumn("TYPE", F.lit(None).cast("string"))


def test_search_feed_bm25_arm_reranks_recency_default_unchanged(spark):
    from union_indexer_node_spark.operators.feeds import FeedSpec, search_feed

    posts = _mk_posts(spark)
    spec = FeedSpec(limit=3)
    recency = [r["permlink"] for r in
               search_feed(posts, "spark", spec).collect()]
    assert recency == ["p1", "p3", "p2"]  # created_at desc
    bm25 = [r["permlink"] for r in
            search_feed(posts, "spark", spec, rank_by="bm25").collect()]
    # short doc with saturated tf outranks the long one; single-hit
    # doc ranks last
    assert bm25[0] == "p2" and set(bm25) == {"p1", "p2", "p3"}
    # non-matching doc never appears in either arm
    assert "p4" not in recency and "p4" not in bm25


def _bm25_index_page(posts, term, spec, *, any_term=False):
    """The index formulation the BM25 arm of search_feed replaced: a
    corpus-wide bm25_index, narrowed to the filter-passing keys and
    scored by bm25_topk(quantized=False), then paginated. Kept here only
    as the reference the one-pass arm must reproduce."""
    from union_indexer_node_spark.operators.feeds import (
        _RECENCY, compile_feed_filter, query_tokens,
    )
    from union_indexer_node_spark.operators.wherefield import and_of, or_of
    from union_indexer_node_spark.operators.windows import paginate
    from union_indexer_node_spark.pipelines.search import bm25_index, bm25_topk

    terms = query_tokens(term)
    split = F.split(F.lower(F.col("body")), "[^a-z0-9]+")
    combine = or_of if any_term else and_of
    df = posts.filter(combine([F.array_contains(split, t) for t in terms]))
    df = df.filter(compile_feed_filter(spec))
    key = F.concat_ws("/", F.col("author"), F.col("permlink"))
    keyed = df.withColumn("_key", key)
    postings, doclens = bm25_index(posts.withColumn("_key", key), "body", "_key")
    keys = keyed.select("_key")
    scored = bm25_topk(
        postings.join(keys, "_key", "left_semi"),
        doclens.join(keys, "_key", "left_semi"),
        "_key", terms, k=None, quantized=False,
    )
    after = spec.after
    if after is not None:
        after = (float(after[0]), *after[1:])
    return paginate(
        keyed.join(scored, "_key"), [("score", True), *_RECENCY],
        skip=spec.skip, limit=spec.limit, after=after,
    ).drop("_key")


def _tied_posts(spark, n=400, seed=7):
    """Seeded corpus with heavy ties: a 6-word vocabulary, bodies of 0-6
    tokens (some empty), 8 distinct timestamps, 3 apps, every 5th post a
    comment."""
    import datetime
    import random

    rng = random.Random(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    base = datetime.datetime(2024, 6, 1)
    rows = [
        (
            f"a{i % 7}", f"p{i:04d}",
            base + datetime.timedelta(hours=i % 8),
            " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 6))),
            f"app{i % 3}",
            ["comment"] if i % 5 == 0 else None,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "author string, permlink string, created_at timestamp, "
        "body string, app_name string, flags array<string>",
    ).withColumn("TYPE", F.lit(None).cast("string"))


def test_search_feed_bm25_one_pass_matches_index_path(spark):
    """The one-pass BM25 arm returns the index formulation's pages
    exactly, rows and score doubles, on a tie-heavy corpus: multi-term
    AND and any_term, a feed filter, skip, and a 3-key cursor walk."""
    from union_indexer_node_spark.operators.feeds import FeedSpec, search_feed

    posts = _tied_posts(spark).localCheckpoint()
    cases = [
        ("alpha", FeedSpec(limit=5000), False),
        ("alpha beta", FeedSpec(limit=5000), False),
        ("beta gamma delta", FeedSpec(limit=5000, include_comments=True), True),
        ("zeta nomatch", FeedSpec(limit=5000), True),
        ("gamma eps", FeedSpec(limit=5000, where={"byApp": {"_eq": "app1"}}), False),
        ("delta alpha", FeedSpec(limit=9, skip=17), True),
    ]
    for term, spec, any_term in cases:
        got = search_feed(posts, term, spec, any_term=any_term,
                          rank_by="bm25", with_score=True).collect()
        want = _bm25_index_page(posts, term, spec, any_term=any_term).collect()
        assert got == want, (term, any_term)
        assert got, (term, any_term)

    # 3-key cursor walk: pages of 40 concatenate to the full ordering,
    # and the first cursor pages equal the index formulation's
    term, spec = "alpha beta", FeedSpec(limit=5000)
    full = _bm25_index_page(posts, term, spec, any_term=True).collect()
    walked, after = [], None
    while True:
        step = FeedSpec(limit=40, after=after)
        page = search_feed(posts, term, step, any_term=True, rank_by="bm25",
                           with_score=True).collect()
        if len(walked) < 120:
            assert page == _bm25_index_page(
                posts, term, step, any_term=True).collect()
        if not page:
            break
        walked += page
        last = page[-1]
        after = (last["score"], last["created_at"], last["permlink"])
    assert walked == full


def test_graphql_search_feed_rankby_both_arms(spark):
    import pytest as _pytest

    try:
        from union_indexer_node_spark.serving.graphql_api import (
            GraphQLService,
        )
    except ImportError:
        _pytest.skip("graphql-core not installed")
    posts = _mk_posts(spark)
    svc = GraphQLService(posts=posts)
    rec = svc.execute(
        'query { searchFeed(searchTerm: "spark",'
        ' pagination: {limit: 3}) { items { permlink } } }'
    )
    assert [i["permlink"] for i in rec["data"]["searchFeed"]["items"]] == [
        "p1", "p3", "p2"
    ]
    bm = svc.execute(
        'query { searchFeed(searchTerm: "spark", rankBy: "BM25",'
        ' pagination: {limit: 3}) { items { permlink } } }'
    )
    assert bm["data"]["searchFeed"]["items"][0]["permlink"] == "p2"


# ---------------------------------------------------------------------------
# unigram encode arm (round 11): trained-vocab segmentation pricing
# ---------------------------------------------------------------------------


def test_unigram_encode_prices_docs_with_fallbacks(spark):
    from union_indexer_node_spark.pipelines.textstats import (
        unigram_encode,
        unigram_lm_train,
    )

    train = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat ate the rat"),
         (3, "cats eat rats")],
        "doc_id long, text string",
    )
    vocab = unigram_lm_train(
        train, "text", n_iters=2, max_piece_len=3, max_word_len=8
    )
    apply_to = spark.createDataFrame(
        [
            (10, "the cat"),            # the|cat -> 2 pieces
            (11, "thecat"),             # the|cat -> 2 pieces
            (12, "sat"),                # s|at -> 2 pieces
            (13, "zq"),                 # unseen chars -> len fallback = 2
            (14, "aaaaaaaaaaaaaaaaaaaa"),  # 20 chars > max_word_len -> 20
            (15, None),                 # null text -> 0/0
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in unigram_encode(
            apply_to, "text", "doc_id", vocab,
            max_piece_len=3, max_word_len=8,
        ).collect()
    }
    assert (out[10]["n_words"], out[10]["n_unigram_pieces"]) == (2, 2)
    assert (out[11]["n_words"], out[11]["n_unigram_pieces"]) == (1, 2)
    assert (out[12]["n_words"], out[12]["n_unigram_pieces"]) == (1, 2)
    assert (out[13]["n_words"], out[13]["n_unigram_pieces"]) == (1, 2)
    assert (out[14]["n_words"], out[14]["n_unigram_pieces"]) == (1, 20)
    assert (out[15]["n_words"], out[15]["n_unigram_pieces"]) == (0, 0)


# ---------------------------------------------------------------------------
# pre_scrub + incremental BM25 maintenance (round 11)
# ---------------------------------------------------------------------------


def test_pre_scrub_makes_tokenizations_agree(spark):
    from union_indexer_node_spark.pipelines.dedup import (
        pieces_tokens,
        pre_scrub,
        token_pieces,
        tokens,
    )

    # Kelvin sign lowercases to 'k': tokens() glues 'mar<K>ed' into
    # 'marked' while token_pieces splits it — THE divergence; plus the
    # \x01 sentinel and a C0 control.
    dirty = "marKed İstanbul a\x01b bell\x07s keep\tme"
    df = spark.createDataFrame([(1, dirty)], "id long, text string")
    row = df.select(
        pre_scrub(F.col("text")).alias("c")
    ).select(
        "c",
        tokens(F.col("c")).alias("t1"),
        pieces_tokens(token_pieces(F.col("c"))).alias("t2"),
    ).first()
    assert row["t1"] == row["t2"] == [
        "marked", "istanbul", "ab", "bells", "keep", "me"
    ]
    assert "\x01" not in row["c"] and "\x07" not in row["c"]
    assert "\t" in row["c"]  # whitespace controls survive
    # and WITHOUT the scrub the two tokenizations genuinely diverge
    raw = df.select(
        tokens(F.col("text")).alias("t1"),
        pieces_tokens(token_pieces(F.col("text"))).alias("t2"),
    ).first()
    assert raw["t1"] != raw["t2"]


def test_bm25_index_merge_equals_fresh_rebuild(spark):
    from union_indexer_node_spark.pipelines.search import (
        bm25_index,
        bm25_index_merge,
    )

    v1 = spark.createDataFrame(
        [(1, "old text one"), (2, "stable words here"), (3, "short")],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(1, "brand new text one replaces old"), (4, "appended doc")],
        "doc_id long, text string",
    )
    p0, d0 = bm25_index(v1, "text", "doc_id")
    pm, dm = bm25_index_merge(p0, d0, delta, "text", "doc_id")
    current = spark.createDataFrame(
        [(2, "stable words here"), (3, "short"),
         (1, "brand new text one replaces old"), (4, "appended doc")],
        "doc_id long, text string",
    )
    pf, df_ = bm25_index(current, "text", "doc_id")
    assert sorted(map(tuple, pm.collect())) == sorted(map(tuple, pf.collect()))
    assert sorted(map(tuple, dm.collect())) == sorted(map(tuple, df_.collect()))


def test_ivfpq_probes_only_nearest_cells(spark):
    """Vectors assigned to unprobed cells never appear, even when
    their true distance is small — the documented IVF recall trade;
    and within probed cells the ADC ordering is exact-integer."""
    from union_indexer_node_spark.pipelines.similarity import ivfpq_topk

    # 2 cells far apart on dim 0; 1-subspace codebook of 2 centroids
    coarse = [[0, 0], [10_000, 0]]
    books = [[[0, 0], [500, 500]]]
    emb = spark.createDataFrame(
        [
            (1, [0.1, 0.1]),      # cell 0
            (2, [0.6, 0.6]),      # cell 0, near book centroid 1
            (3, [10.0, 0.0]),     # cell 1
        ],
        "vec_id long, embedding array<double>",
    )
    rows = ivfpq_topk(
        emb, [0.0, 0.0], coarse, books, nprobe=1, topk=10
    ).collect()
    ids = [r["vec_id"] for r in rows]
    assert 3 not in ids          # unprobed cell pruned
    assert ids == [1, 2]         # residual-ADC orders within the cell
    assert all(r["cell"] == 0 for r in rows)
    # nprobe=2 brings cell 1 back
    rows2 = ivfpq_topk(
        emb, [0.0, 0.0], coarse, books, nprobe=2, topk=10
    ).collect()
    assert {r["vec_id"] for r in rows2} == {1, 2, 3}


def test_gopher_gate_rules_fire_individually(spark):
    from union_indexer_node_spark.pipelines.textstats import (
        gopher_quality_gate,
    )

    good = ("the quick brown fox jumps over the lazy dog and that "
            "sentence has to be long enough with plenty of ordinary "
            "words to clear the minimum threshold easily so we simply "
            "keep writing more and more plain prose until fifty words "
            "of normal english text have accumulated in this document "
            "right about now done")
    docs = spark.createDataFrame(
        [
            (1, good),                                   # passes
            (2, "short text"),                           # rule 1
            (3, good + " " + "#" * 40),                  # rule 3 symbols
            (4, " ".join(["12345"] * 60)),               # rules 4+5 (+2)
            (5, "\n".join(["- b"] * 10)),                # rule 6 bullets
            (6, None),                                   # null -> rule 1
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           gopher_quality_gate(docs, "text", "doc_id").collect()}
    assert out[1]["passes"] is True and out[1]["fail_mask"] == 0
    assert out[2]["fail_mask"] & 1
    assert out[3]["fail_mask"] & 4
    assert out[4]["fail_mask"] & 8 and out[4]["fail_mask"] & 16
    assert out[5]["fail_mask"] & 32
    assert out[6]["fail_mask"] & 1 and out[6]["n_words"] == 0


def test_ccnet_buckets_fractions_and_ordering(spark):
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.textstats import ccnet_buckets

    d = tables.load(spark, "/root/testdata/sf0.01", "documents")
    out = ccnet_buckets(d, "text", "doc_id").localCheckpoint()
    n = out.count()
    counts = {r["bucket"]: r["c"] for r in
              out.groupBy("bucket").agg(F.count(F.lit(1)).alias("c")).collect()}
    # exact-quantile split: head ~30%, middle ~35% (ties can shift a
    # few docs across a threshold)
    assert abs(counts.get("head", 0) / n - 0.30) < 0.05
    assert abs(counts.get("middle", 0) / n - 0.35) < 0.05
    # every head score >= every middle score >= every tail score
    mins = {r["bucket"]: (r["mn"], r["mx"]) for r in
            out.groupBy("bucket").agg(
                F.min("avg_q").alias("mn"), F.max("avg_q").alias("mx")
            ).collect()}
    # bucket assignment is strictly by threshold, so the ranges are
    # totally ordered: min(head) >= max(middle) >= ... (>= thr compare)
    assert mins["head"][0] >= mins["middle"][1]
    assert mins["middle"][0] >= mins["tail"][1]


# ---------------------------------------------------------------------------
# dHash perceptual near-dup (round 11)
# ---------------------------------------------------------------------------


def _ppm(w, h, pix):
    """pix: function (x, y) -> gray 0..255."""
    body = bytes(
        v for y in range(h) for x in range(w) for v in [pix(x, y)] * 3
    )
    return f"P6\n{w} {h}\n255\n".encode() + body


def test_dhash_invariant_to_scale_and_brightness(spark):
    """dHash must match across resolutions of the same gradient and
    across uniform brightness shifts (only ADJACENT comparisons
    matter), and differ for a different pattern."""
    from union_indexer_node_spark.pipelines.multimodal import dhash_images

    grad = lambda x, y: min(x * 10, 255)            # noqa: E731
    brighter = lambda x, y: min(x * 10 + 40, 255)   # noqa: E731
    other = lambda x, y: min(y * 10, 255)           # noqa: E731
    rows = [
        (1, bytearray(_ppm(16, 16, grad))),
        (2, bytearray(_ppm(32, 32, lambda x, y: grad(x // 2, y // 2)))),
        (3, bytearray(_ppm(16, 16, brighter))),
        (4, bytearray(_ppm(16, 16, other))),
        (5, bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "id long, content binary")
    out = {r["id"]: r for r in
           dhash_images(df, target_partition_bytes=None).collect()}
    assert out[1]["dhash"] == out[2]["dhash"] == out[3]["dhash"]
    assert out[1]["dhash"] != out[4]["dhash"]
    assert out[5]["ok"] is False and out[5]["dhash"] == 0


def test_dhash_near_dup_counts_classes_and_hamming(spark):
    from union_indexer_node_spark.pipelines.multimodal import (
        dhash_near_dup_counts,
    )

    # hashes: class A (3 twins), class B = A with 2 bits flipped
    # (hamming 2 <= 4, shares bands), class C far away
    a = 0b1010101010101010
    b = a ^ 0b11  # 2 low bits differ -> same high bands
    c = (1 << 55) - 1
    hashes = spark.createDataFrame(
        [(1, a), (2, a), (3, a), (4, b), (5, c)],
        "id long, dhash long",
    )
    out = {r["id"]: r["n_near_dups"] for r in
           dhash_near_dup_counts(hashes, ok_col=None).collect()}
    assert out[1] == out[2] == out[3] == 3  # 2 twins + the B image
    assert out[4] == 3                       # the three A images
    assert out[5] == 0


def test_audio_fingerprint_loudness_invariant_and_fallbacks(spark):
    """Same waveform at half amplitude fingerprints identically (only
    adjacent-window comparisons matter); non-PCM and short payloads
    are ok=false."""
    import math
    import struct

    from union_indexer_node_spark.pipelines.multimodal import (
        audio_fingerprints,
    )

    def wav8(samples, fmt_tag=1):
        data = bytes(min(255, max(0, s + 128)) for s in samples)
        return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, fmt_tag, 1, 8000,
                                        8000, 1, 8)
                + b"data" + struct.pack("<I", len(data)) + data)

    wave = [int(40 * math.sin(i / 5.0) * (i / 256.0)) for i in range(256)]
    half = [v // 2 for v in wave]
    rows = [
        (1, bytearray(wav8(wave))),
        (2, bytearray(wav8(half))),
        (3, bytearray(wav8(wave, fmt_tag=85))),  # mp3 tag -> unsupported
        (4, bytearray(wav8(wave[:8]))),          # too few samples
    ]
    df = spark.createDataFrame(rows, "id long, content binary")
    out = {r["id"]: r for r in
           audio_fingerprints(df, target_partition_bytes=None).collect()}
    assert out[1]["ok"] and out[2]["ok"]
    assert out[1]["afp"] == out[2]["afp"]
    assert out[1]["afp"] != 0
    assert out[3]["ok"] is False and out[4]["ok"] is False


def test_hamming_band_pigeonhole_property():
    """The banded candidate rule is EXACT below n_bands: any two
    56-bit hashes within Hamming distance n_bands-1 MUST share one of
    the n_bands contiguous bands (pigeonhole). Deterministic sweep of
    seeded flip patterns."""
    import random

    rnd = random.Random(11)
    for _ in range(200):
        h = rnd.getrandbits(56)
        flips = rnd.sample(range(56), rnd.randint(0, 3))
        h2 = h
        for f in flips:
            h2 ^= 1 << f
        shares = any(
            ((h >> (14 * b)) & 16383) == ((h2 >> (14 * b)) & 16383)
            for b in range(4)
        )
        assert shares, (hex(h), flips)


def test_pagerank_sink_and_hub_semantics(spark):
    """A pure hub outranks the damped floor by exactly the hand-rolled
    recurrence; no-in-edge nodes hold the floor; duplicate edges vote
    once (the distinct guard)."""
    from union_indexer_node_spark.pipelines.graph import (
        pagerank_quantized,
    )

    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (4, 3), (1, 3)],  # dup (1,3) must not double-vote
        "src long, dst long",
    )
    out = {r["node"]: r["pr_q"] for r in
           pagerank_quantized(edges, "src", "dst", iters=2).collect()}
    floor = (15 * 1_000_000) // 100  # 150_000
    assert out[1] == out[2] == out[4] == floor  # no in-edges
    # iter1: in(3) = 3 * 1e6 -> PR1 = (15e6 + 85*3e6)//100 = 2_700_000
    # iter2: senders hold the floor -> in(3) = 3 * 150_000
    #        PR2 = (15e6 + 85*450_000)//100 = 532_500
    assert out[3] == 532_500


def test_dedup_lines_within_doc_byte_preserving_first_kept(spark):
    from union_indexer_node_spark.pipelines.curation import (
        dedup_lines_within_doc,
    )

    docs = spark.createDataFrame(
        [
            (1, "Nav Row\nBody text here.\nnav row\nNav Row\nBody text here."),
            (2, "only\none\nof\neach"),
            (3, None),
            (4, "  padded  \npadded\nother"),  # trim-identity: 2nd dup
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           dedup_lines_within_doc(docs, "text", "doc_id").collect()}
    # first occurrences keep ORIGINAL bytes; 'nav row' (different case)
    # is a different line
    assert out[1]["cleaned_text"] == "Nav Row\nBody text here.\nnav row"
    assert out[1]["n_removed_lines"] == 2
    assert out[2]["cleaned_text"] == "only\none\nof\neach"
    assert out[2]["n_removed_lines"] == 0
    assert out[3]["cleaned_text"] == "" and out[3]["n_lines"] == 1
    assert out[4]["cleaned_text"] == "  padded  \nother"  # raw bytes kept
