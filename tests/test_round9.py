"""Round-9 verification debt (VERDICT r8 items 5-7 + ADVICE followups):

- property-test search_substring against the full-scan contains()
  oracle under adversarial patterns (regex metacharacters, SQL LIKE
  wildcards, 1-2 char fallback, full-width/astral unicode) —
  F.contains and the gram equality filters are LITERAL matchers, so
  none of these may change semantics;
- pin that free_local_checkpoint's internal-API path actually works
  on this Spark build (a silent fallback would reinstate per-iteration
  checkpoint-storage accumulation — ADVICE r8);
- one real-Pillow resize round trip (gated: skips where Pillow is
  absent, which includes this container — the test is the contract
  for deployments that ship codecs);
- sf0.1 serving soak: all 11 GraphQL root fields over tables built at
  100x the fixture scale (driver-side collect pressure check — feeds
  are limit-bounded, leaderBoard is the one genuinely unbounded
  collect and must still return).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from conftest import SF_DIR

# ---------------------------------------------------------------------------
# search_substring vs full-scan oracle under adversarial patterns
# ---------------------------------------------------------------------------

# Documents chosen so random patterns actually hit: shared fragments
# across docs, metacharacter-dense text, cross-word grams, full-width
# and astral codepoints, 1-2 char docs (no trigram at all).
_CORPUS = [
    (1, "abra cadabra alakazam"),
    (2, "ab ra (not abra) 50% off_sale"),
    (3, "regex metachars: .*+?^$()[]{}|\\ end"),
    (4, "ＦＵＬＬｗｉｄｔｈ ｔｅｘｔ and ascii"),
    (5, "🦄 unicorn 🦄 emoji text"),
    (6, "naïve café résumé"),
    (7, "ab"),
    (8, "x"),
    (9, ""),
    (10, "UPPER lower MiXeD case text"),
    (11, "percent%under_score%end"),
    (12, "  leading and trailing  "),
]

# Alphabet restricted to codepoints where Python str.lower() and
# Spark/JVM lower() agree (excludes İ/ß/Σ-style locale divergences) —
# the oracle below lowers in Python.
_PATTERN_ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    " .*+?^$()[]{}|\\%_ＦＵＬＬｗｉｄｔｈｔｅｘ🦄ïéà"
)


@pytest.fixture(scope="module")
def trigram_fixture(spark):
    from union_indexer_node_spark.pipelines.search import build_trigram_index

    df = spark.createDataFrame(_CORPUS, "doc_id int, text string").persist()
    idx = build_trigram_index(df, "text", ["doc_id"]).persist()
    idx.count()
    yield df, idx
    idx.unpersist()
    df.unpersist()


def _oracle_ids(pattern: str) -> list[int]:
    p = pattern.lower()
    return sorted(d for d, t in _CORPUS if p in t.lower())


@pytest.mark.parametrize(
    "pattern",
    [
        ".*",  # regex wildcards — must match doc 3 literally, not everything
        "a.*b",  # would match most docs as a regex; literal hits none
        "()[]{}",  # literal bracket run in doc 3
        "%",  # LIKE any-wildcard — literal percent only (docs 2, 11)
        "_sale",  # LIKE one-wildcard — literal underscore (doc 2)
        "%under_score%",  # both wildcards mixed with text (doc 11)
        "a",  # 1-char fallback (no trigram)
        "ab",  # 2-char fallback
        "AB",  # case-folds into the 2-char fallback
        "b r",  # cross-word gram with a space
        "ＵＬＬｗ",  # full-width, mid-pattern
        "🦄 unicorn",  # astral plane + space
        "ïvé",  # combining-free accents crossing chars
        "$()",  # metachar run
        "\\ end",  # backslash + space
        "zzzznotfound",  # clean miss
    ],
)
def test_search_substring_adversarial_patterns(spark, trigram_fixture, pattern):
    from union_indexer_node_spark.pipelines.search import search_substring

    df, idx = trigram_fixture
    got = sorted(
        r.doc_id
        for r in search_substring(idx, df, pattern, "text", ["doc_id"]).collect()
    )
    assert got == _oracle_ids(pattern), pattern


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pattern=st.text(alphabet=_PATTERN_ALPHABET, min_size=1, max_size=8))
def test_search_substring_matches_full_scan_property(
    spark, trigram_fixture, pattern
):
    """Any pattern drawn from the metachar-heavy alphabet: the
    trigram-pruned search equals the ground-truth full scan. The
    dangerous failure direction is a pruning bug DROPPING a real match
    — the oracle would have it, the candidate set wouldn't."""
    from union_indexer_node_spark.pipelines.search import search_substring

    df, idx = trigram_fixture
    got = sorted(
        r.doc_id
        for r in search_substring(idx, df, pattern, "text", ["doc_id"]).collect()
    )
    assert got == _oracle_ids(pattern), repr(pattern)


# ---------------------------------------------------------------------------
# free_local_checkpoint: the internal-API fast path must WORK here
# ---------------------------------------------------------------------------


def test_free_local_checkpoint_releases_storage_now(spark):
    """ADVICE r8: the helper reaches through py4j internals and
    degrades silently if they move. Pin that on THIS Spark build the
    analyzed plan of a localCheckpoint IS a LogicalRDD whose rdd is the
    persisted one, and that the helper's unpersist takes effect
    immediately (storage level drops to NONE) — so the warning fallback
    is genuinely the exceptional path, not the everyday one."""
    from union_indexer_node_spark.session import free_local_checkpoint

    df = spark.range(0, 1000, 1, 2).localCheckpoint()
    jrdd = df._jdf.queryExecution().analyzed().rdd()
    assert "LogicalRDD" in df._jdf.queryExecution().analyzed().nodeName()
    assert jrdd.getStorageLevel().useMemory()  # checkpoint IS persisted
    free_local_checkpoint(df)
    assert not jrdd.getStorageLevel().useMemory()  # released eagerly


# ---------------------------------------------------------------------------
# real-Pillow resize round trip (gated on codec availability)
# ---------------------------------------------------------------------------


def test_resize_media_real_pillow_roundtrip(spark):
    """VERDICT r8 item 7: with a real codec installed, resize_media's
    default (non-fake) kernel must decode, resize and re-encode such
    that a dimension re-probe of the output reports the target size.
    Skips where Pillow is absent (this container); the fake-kernel
    plumbing tests in test_round8 cover the Spark side there."""
    PIL = pytest.importorskip("PIL")  # noqa: F841
    import io

    from PIL import Image

    from union_indexer_node_spark.pipelines.multimodal import (
        probe_media,
        resize_media,
    )

    buf = io.BytesIO()
    Image.new("RGB", (64, 48), (200, 10, 10)).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()), "image/png")],
        "id long, content binary, mime string",
    )
    out = resize_media(media, width=16, height=12)
    reprobed = probe_media(out.select("id", "content", "mime")).collect()
    assert reprobed[0].width == 16 and reprobed[0].height == 12


# ---------------------------------------------------------------------------
# sf0.1 serving soak: all 11 root fields over 100x-scale tables
# ---------------------------------------------------------------------------

SOAK_SF_DIR = "/root/testdata/sf0.1"


@pytest.fixture(scope="module")
def soak_service(spark):
    pytest.importorskip("graphql")
    from pyspark.sql import functions as F

    from union_indexer_node_spark import tables
    from union_indexer_node_spark.serving import GraphQLService

    posts = tables.posts(spark, SOAK_SF_DIR)
    follows = tables.follows(spark, SOAK_SF_DIR)
    # profiles at customer scale (sf0.1 -> 15k rows): leaderBoard's
    # unbounded positive-score collect is the actual soak subject
    cust = tables.load(spark, SOAK_SF_DIR, "customer")
    profiles = cust.select(
        F.concat(F.lit("u"), (F.col("c_custkey") % 1000).cast("string")).alias(
            "username"
        ),
        F.lit(None).cast("string").alias("did"),
        F.col("c_name").alias("displayName"),
        F.col("c_mktsegment").alias("about"),
        F.col("c_acctbal").cast("double").alias("score"),
    )
    state = spark.createDataFrame(
        [("posts", 900.0, 1000.0)],
        "table_name string, watermark double, source_watermark double",
    )
    communities = spark.createDataFrame(
        [(f"hive/hive-{i}", f"hive-{i}", f"Community {i}", "about") for i in range(5)],
        "_id string, name string, title string, about string",
    )
    return GraphQLService(
        posts=posts,
        follows=follows,
        profiles=profiles,
        state=state,
        communities=communities,
    )


def test_serving_soak_all_root_fields_sf01(spark, soak_service):
    """VERDICT r8 item 5: one pass of every root field over sf0.1
    pipeline tables. Feeds stay limit-bounded (no unbounded driver
    collect); leaderBoard returns its full positive-score set and must
    still complete."""
    from pyspark.sql import functions as F

    from union_indexer_node_spark import tables

    anchor = (
        tables.posts(spark, SOAK_SF_DIR)
        .filter(F.col("app_name") == "3speak")
        .select("author", "permlink")
        .limit(1)
        .collect()[0]
    )
    follower = (
        tables.follows(spark, SOAK_SF_DIR).select("follower").limit(1).collect()[0][0]
    )

    body = soak_service.execute(
        """
        query Soak($a: String, $p: String, $f: String) {
          socialFeed(feedOptions: {byApp: {_eq: "3speak"}},
                     pagination: {limit: 100}) { items { author permlink } }
          trendingFeed(pagination: {limit: 50}) { items { author permlink } }
          searchFeed(searchTerm: "body", pagination: {limit: 50}) {
            items { author permlink } }
          relatedFeed(author: $a, permlink: $p, pagination: {limit: 25}) {
            items { author permlink } }
          socialPost(author: $a, permlink: $p) { author permlink title }
          trendingTags(limit: 5) { tags { tag score } }
          profile(id: "u7") { username displayName score }
          community(id: "hive-3") { _id title }
          follows(id: $f) { followers_count followings_count }
          leaderBoard { items { username score rank } }
          syncState { items { table_name block_lag } }
        }
        """,
        variables={"a": anchor.author, "p": anchor.permlink, "f": follower},
    )
    assert not body.get("errors"), body.get("errors")
    d = body["data"]
    assert len(d["socialFeed"]["items"]) == 100  # limit-bounded at 100x
    assert d["trendingFeed"]["items"]
    assert d["searchFeed"]["items"]
    assert d["socialPost"]["author"] == anchor.author
    assert len(d["trendingTags"]["tags"]) == 5
    assert d["profile"]["username"] == "u7"
    assert d["community"]["title"] == "Community 3"
    assert d["follows"]["followers_count"] >= 0
    lb = d["leaderBoard"]["items"]
    assert len(lb) > 1000  # the genuinely unbounded collect returned
    assert lb[0]["rank"] == 1
    assert d["syncState"]["items"][0]["table_name"] == "posts"


# ---------------------------------------------------------------------------
# remove_repeated_passages / cross_source_passage_overlap (round-9 ops)
# ---------------------------------------------------------------------------


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_remove_repeated_passages_semantics(spark):
    """Passages over the threshold vanish from EVERY doc (no
    keep-first), under-threshold passages survive everywhere, empty
    and fully-boilerplate docs keep their rows."""
    from union_indexer_node_spark.pipelines.dedup import (
        remove_repeated_passages,
    )

    # words_per_passage=2 → passages are word bigram-chunks.
    # "aa bb" appears in docs 1,2,3 (3 > max_occurrences=2) → removed;
    # "cc dd" appears in docs 1,2 (2 ≤ 2) → kept.
    docs = _mk_docs(
        spark,
        [
            (1, "s", "aa bb cc dd"),
            (2, "s", "aa bb cc dd"),
            (3, "s", "aa bb"),  # fully boilerplate after removal
            (4, "s", ""),  # zero tokens
            (5, "s", "ee ff gg"),  # unique passages, odd tail segment
        ],
    )
    out = {
        r["doc_id"]: r
        for r in remove_repeated_passages(
            docs, "text", "doc_id", words_per_passage=2, max_occurrences=2
        ).collect()
    }
    assert len(out) == 5  # no silent row loss
    assert out[1]["cleaned_text"] == "cc dd"
    assert (out[1]["n_segments"], out[1]["n_removed"]) == (2, 1)
    assert out[2]["cleaned_text"] == "cc dd"
    assert out[3]["cleaned_text"] == ""
    assert (out[3]["n_segments"], out[3]["n_removed"]) == (1, 1)
    assert (out[4]["cleaned_text"], out[4]["n_segments"]) == ("", 0)
    # odd-length doc: final short segment preserved in order
    assert out[5]["cleaned_text"] == "ee ff gg"
    assert (out[5]["n_segments"], out[5]["n_removed"]) == (2, 0)


def test_remove_repeated_passages_identity_below_threshold(spark):
    """With an unreachable threshold the op is tokenize+rejoin identity:
    reassembly order must reproduce every document exactly."""
    from union_indexer_node_spark.pipelines.dedup import (
        remove_repeated_passages,
    )

    texts = [
        " ".join(f"w{i}" for i in range(n)) for n in (1, 7, 8, 9, 40)
    ]
    docs = _mk_docs(
        spark, [(i, "s", t) for i, t in enumerate(texts)]
    )
    out = {
        r["doc_id"]: r["cleaned_text"]
        for r in remove_repeated_passages(
            docs, "text", "doc_id", words_per_passage=8,
            max_occurrences=10**9,
        ).collect()
    }
    for i, t in enumerate(texts):
        assert out[i] == t, (i, out[i])


def test_cross_source_passage_overlap_counts(spark):
    """Distinct-passage semantics: within-source repetition counts
    once; a passage shared by 3 sources contributes to all 3 pairs."""
    from union_indexer_node_spark.pipelines.dedup import (
        cross_source_passage_overlap,
    )

    docs = _mk_docs(
        spark,
        [
            (1, "a", "xx yy"),
            (2, "a", "xx yy"),  # same passage twice in source a
            (3, "b", "xx yy zz qq"),
            (4, "c", "xx yy"),
            (5, "c", "zz qq"),
            (6, "d", "solo passage here"),
        ],
    )
    out = {
        (r["source_a"], r["source_b"]): r["n_shared_passages"]
        for r in cross_source_passage_overlap(
            docs, "text", "source", words_per_passage=2
        ).collect()
    }
    assert out == {
        ("a", "b"): 1,  # "xx yy"
        ("a", "c"): 1,
        ("b", "c"): 2,  # "xx yy" and "zz qq"
    }


def test_remove_repeated_passages_external_counts(spark):
    """counts= applies a prebuilt frequency index: batch-local counts
    reproduce the self-counting path exactly, and corpus-lifetime
    counts from a SUPERSET corpus scrub passages the batch alone would
    have kept (the deployment reason the parameter exists)."""
    from union_indexer_node_spark.pipelines.dedup import (
        passage_counts,
        remove_repeated_passages,
    )

    batch = _mk_docs(
        spark,
        [(1, "s", "aa bb cc dd"), (2, "s", "aa bb"), (3, "s", "ee ff")],
    )
    kw = dict(words_per_passage=2, max_occurrences=2)
    self_counted = remove_repeated_passages(batch, "text", "doc_id", **kw)
    ext = remove_repeated_passages(
        batch, "text", "doc_id",
        counts=passage_counts(batch, "text", words_per_passage=2), **kw,
    )
    assert sorted(map(tuple, self_counted.collect())) == sorted(
        map(tuple, ext.collect())
    )
    # superset corpus: "aa bb" now occurs 3x corpus-wide -> scrubbed
    # from the batch even though the batch only has 2 instances.
    corpus = batch.union(
        _mk_docs(spark, [(9, "s", "aa bb zz")])
    )
    lifetime = remove_repeated_passages(
        batch, "text", "doc_id",
        counts=passage_counts(corpus, "text", words_per_passage=2), **kw,
    )
    out = {r["doc_id"]: r["cleaned_text"] for r in lifetime.collect()}
    assert out == {1: "cc dd", 2: "", 3: "ee ff"}


def test_write_training_shards_jsonl(spark, tmp_path):
    """JSONL export: same deterministic sharding + manifest as parquet,
    part files readable back as JSON with identical rows."""
    from union_indexer_node_spark.pipelines.training import (
        write_training_shards,
    )

    df = spark.createDataFrame(
        [(i, f"text {i}", i % 7 + 1) for i in range(40)],
        "doc_id long, text string, n_tokens long",
    )
    path = str(tmp_path / "shards_json")
    manifest = write_training_shards(
        df, path, n_shards=4, id_col="doc_id", token_col="n_tokens",
        output_format="json",
    ).collect()
    assert sum(r["n_docs"] for r in manifest) == 40
    back = spark.read.format("json").load(path)
    assert back.count() == 40
    assert {r["doc_id"] for r in back.collect()} == set(range(40))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_training_shards(
            df, path, n_shards=4, id_col="doc_id", output_format="csvx"
        )
