"""Round-6 regression tests: SCD2 interval algebra, two-level rank
equivalence (the de-skewed epoch_interleave / stratified_sample must
produce byte-identical output to the naive single-window forms they
replaced), and Q22 plan shape."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from conftest import SF_DIR


def test_scd2_intervals_partition_the_timeline(spark):
    """Per key: intervals are contiguous (valid_to == next valid_from),
    non-overlapping, and exactly one row is open (is_current)."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators.windows import scd2_history

    e = tables.load(spark, SF_DIR, "events").select("event_id", "user_id", "ts")
    hist = scd2_history(e, ["user_id"], "ts", order=[F.col("event_id")])

    # exactly one open row per key
    open_counts = (
        hist.groupBy("user_id")
        .agg(F.sum(F.col("is_current").cast("int")).alias("n_open"))
        .collect()
    )
    assert all(r.n_open == 1 for r in open_counts)

    # contiguity: every closed row's valid_to equals the next version's
    # valid_from within the key (lead over the same ordering)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    gaps = (
        hist.withColumn("_next_from", F.lead("valid_from").over(w))
        .filter(F.col("valid_to").isNotNull())
        .filter(F.col("valid_to") != F.col("_next_from"))
        .count()
    )
    assert gaps == 0

    # no row lost: history holds every version
    assert hist.count() == e.count()


def test_epoch_interleave_two_level_equals_naive_rank(spark):
    """The sharded two-level rank must be BYTE-IDENTICAL to the naive
    per-source window it replaced (same md5 ordering, same offsets)."""
    from pyspark.sql import Window
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.training import epoch_interleave

    d = (
        tables.load(spark, SF_DIR, "documents")
        .select("doc_id", "source")
        .withColumn("weight", F.lit(0.5))
    )
    got = {
        (r.doc_id, r.source_rank, r.interleave_key)
        for r in epoch_interleave(d, "doc_id", "source", "weight").collect()
    }
    naive_w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    naive = {
        (r.doc_id, r.source_rank, r.interleave_key)
        for r in d.select(
            "doc_id",
            F.row_number().over(naive_w).cast("long").alias("source_rank"),
            F.round(
                F.row_number().over(naive_w) / F.col("weight"), 6
            ).alias("interleave_key"),
        ).collect()
    }
    assert got == naive


def test_stratified_sample_two_level_equals_naive_rank(spark):
    """Two-level pre-prune + exact rank == the naive per-stratum rank
    (the survivor set provably contains the global per-stratum top)."""
    from pyspark.sql import Window
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.curation import stratified_sample

    d = tables.load(spark, SF_DIR, "documents").select("doc_id", "source")
    got = {
        (r.doc_id, r.source, r.draw_rank)
        for r in stratified_sample(d, "source", "doc_id", per_stratum=7).collect()
    }
    naive_w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    naive = {
        (r.doc_id, r.source, r.draw_rank)
        for r in d.withColumn("draw_rank", F.row_number().over(naive_w))
        .filter(F.col("draw_rank") <= 7)
        .collect()
    }
    assert got == naive


def test_q22_anti_join_and_pruned_scans(spark):
    """Q22 shape: anti-join against orders reads ONLY o_custkey;
    customer scan prunes to the three needed columns; nation broadcasts."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["tpch_q22_global_sales_opportunity"].fn(spark, SF_DIR)
    qe = df._jdf.queryExecution()
    plan = qe.sparkPlan().toString() + "\n" + qe.executedPlan().toString()
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # orders scan must be key-only (column pruning reached the source)
    import re

    orders_scans = [
        line for line in plan.splitlines() if "parquet" in line and "o_custkey" in line
    ]
    assert orders_scans and all(
        "o_totalprice" not in line and "o_orderdate" not in line
        for line in orders_scans
    ), plan


def test_scd2_pairs_with_asof_join(spark):
    """Point-in-time read: joining each event back to the SCD2 history
    at its own timestamp recovers exactly itself (valid_from <= t <
    valid_to selects one version per key per instant)."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators.windows import scd2_history

    e = tables.load(spark, SF_DIR, "events").select("event_id", "user_id", "ts")
    hist = scd2_history(e, ["user_id"], "ts", order=[F.col("event_id")]).select(
        F.col("event_id").alias("h_event_id"),
        F.col("user_id").alias("h_user"),
        "valid_from",
        "valid_to",
    )
    probes = e.limit(200)
    matched = probes.join(
        hist,
        (probes.user_id == hist.h_user)
        & (probes.ts >= hist.valid_from)
        & ((hist.valid_to.isNull()) | (probes.ts < hist.valid_to)),
    )
    # every probe instant hits >= 1 version, and the version whose
    # valid_from equals the probe ts is the probe's own row
    own = matched.filter(F.col("valid_from") == F.col("ts"))
    assert own.filter(F.col("event_id") == F.col("h_event_id")).count() > 0
    assert matched.count() >= probes.count()


def test_char_lm_quality_scores_gibberish_below_corpus_text(spark):
    """The perplexity proxy must rank text drawn from the corpus
    distribution above character gibberish, and must be exact-integer
    (no floats anywhere in the output schema)."""
    from union_indexer_node_spark.pipelines.textstats import char_lm_quality

    normal = "the quick brown fox jumps over the lazy dog and runs home"
    docs = [(i, normal) for i in range(20)]
    docs.append((97, "qzxjvkwpq zzkj xqvw jjqz wkxv"))  # gibberish
    docs.append((98, ""))  # empty -> zero grams, avg_q 0
    docs.append((99, "ab"))  # shorter than n -> zero grams
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in char_lm_quality(df, "text", "doc_id").collect()}
    assert out[98].n_grams == 0 and out[98].avg_q == 0
    assert out[99].n_grams == 0 and out[99].avg_q == 0
    assert out[97].avg_q < out[0].avg_q  # gibberish scores lower
    for r in out.values():
        assert isinstance(r.avg_q, int) and isinstance(r.score_sum, int)


def test_char_lm_model_tables_broadcast(spark):
    """Scale pin: both model count tables must broadcast (|charset|^3
    rows), never shuffle-join the exploded gram stream."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["text_lm_quality_score"].fn(spark, SF_DIR)
    qe = df._jdf.queryExecution()
    plan = qe.sparkPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_hash_split_deterministic_and_disjoint(spark):
    """Same id -> same split across invocations; permille fractions
    land near their targets."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.training import hash_split

    d = tables.load(spark, SF_DIR, "documents").select("doc_id")
    a = {r.doc_id: r.split for r in hash_split(d, "doc_id").collect()}
    b = {r.doc_id: r.split for r in hash_split(d, "doc_id").collect()}
    assert a == b
    n = len(a)
    frac_test = sum(1 for s in a.values() if s == "test") / n
    frac_val = sum(1 for s in a.values() if s == "val") / n
    assert 0 <= frac_test < 0.05 and 0 <= frac_val < 0.05
    assert sum(1 for s in a.values() if s == "train") / n > 0.9


def test_epoch_interleave_keeps_null_source_rows(spark):
    """Regression: the two-level rank join must be null-safe — a NULL
    source (or NULL id) is a legitimate window group and must survive
    with the same rank the single-window form would give it."""
    from union_indexer_node_spark.pipelines.training import epoch_interleave

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 1.0), (3, None, 1.0), (4, None, 1.0)],
        "id long, src string, weight double",
    )
    out = epoch_interleave(df, "id", "src", "weight").collect()
    assert len(out) == 4
    null_rows = [r for r in out if r.src is None]
    assert sorted(r.source_rank for r in null_rows) == [1, 2]


def test_graphql_missing_required_arg_is_legible_error(spark):
    """Regression: omitting a resolver-required arg (nullable in the
    reference SDL) must produce a named GraphQL error, not a KeyError."""
    pytest.importorskip("graphql")
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.serving import GraphQLService

    svc = GraphQLService(posts=tables.posts(spark, SF_DIR))
    body = svc.execute("query { searchFeed { items { author } } }")
    assert body.get("errors")
    assert "missing required argument" in body["errors"][0]["message"]


def test_token_budget_allocation_sums_exactly(spark):
    """Largest-remainder property: allocations sum to EXACTLY the
    budget for any weight vector, and each source is within 1 token of
    its proportional share."""
    from union_indexer_node_spark.pipelines.training import (
        token_budget_allocation,
    )

    weights = spark.createDataFrame(
        [("a", 0.3333), ("b", 0.3333), ("c", 0.3334)],
        "source string, mix_weight double",
    )
    for total in (10, 1001, 999_999):
        out = token_budget_allocation(weights, total).collect()
        assert sum(r.alloc_tokens for r in out) == total
        for r in out:
            w = {"a": 0.3333, "b": 0.3333, "c": 0.3334}[r.source]
            assert abs(r.alloc_tokens - total * w) <= 1 + total * 1e-4


def test_truncate_renorm_unit_norm_and_zero_guard(spark):
    """Truncated vectors are unit-norm (up to rounding); an all-zero
    prefix stays zero instead of dividing by zero."""
    from union_indexer_node_spark.pipelines.similarity import truncate_renorm

    df = spark.createDataFrame(
        [(1, [3.0, 4.0, 100.0]), (2, [0.0, 0.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in truncate_renorm(df, dims=2).collect()}
    assert abs(out[1].prefix_norm - 5.0) < 1e-6
    assert abs(sum(x * x for x in out[1].vec_trunc) - 1.0) < 1e-4
    assert out[2].prefix_norm == 0.0 and list(out[2].vec_trunc) == [0.0, 0.0]


def test_spkvideo_view_ansi_edge_cases(spark):
    """Default-ANSI Spark 4: empty images array and a body without the
    '---' divider must yield defaults/NULL, not an array-index crash;
    malformed asset strings must degrade to NULL, not abort."""
    from union_indexer_node_spark.functions.scalars import (
        asset_to_float,
        spkvideo_view,
    )

    df = spark.createDataFrame(
        [(120.0, [], None, "no divider here", "al", "p1")],
        "duration double, images array<string>, "
        "sm array<struct<type:string,url:string,format:string>>, "
        "body string, author string, permlink string",
    )
    row = df.select(
        spkvideo_view(
            F.col("duration"), F.col("images"), F.col("sm"), F.col("body"),
            F.col("author"), F.col("permlink"),
        ).alias("sv")
    ).collect()[0]
    assert row.sv.thumbnail_url.endswith("thumbnails/default.png")
    assert row.sv.short_description is None

    bad = spark.createDataFrame([("",), ("HBD",), ("1.5 HBD",)], "a string")
    vals = [r.v for r in bad.select(asset_to_float(F.col("a")).alias("v")).collect()]
    assert vals == [None, None, 1.5]


def test_search_feed_skip_and_punctuated_terms(spark):
    """searchFeed pagination (skip) and query-term tokenization parity:
    a punctuated term matches as its word tokens, like Mongo $text."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators import feeds

    posts = tables.posts(spark, SF_DIR)
    p1 = feeds.search_feed(posts, "plain body", feeds.FeedSpec(limit=5))
    p2 = feeds.search_feed(posts, "plain body", feeds.FeedSpec(limit=5, skip=5))
    a, b = [r.permlink for r in p1.collect()], [r.permlink for r in p2.collect()]
    assert a and b and not set(a) & set(b), "skip must advance the page"

    # 'plain-body' tokenizes to the same two tokens
    punct = feeds.search_feed(posts, "plain-body!", feeds.FeedSpec(limit=5))
    assert [r.permlink for r in punct.collect()] == a


def test_time_rollup_hourly_buckets(spark):
    """Sub-day granularity must produce per-hour buckets, not collapse
    into one day."""
    import datetime as dt

    from union_indexer_node_spark.operators.temporal import time_rollup

    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows = [(t0 + dt.timedelta(hours=h), "a", 1.0) for h in range(5)]
    df = spark.createDataFrame(rows, "ts timestamp, type string, value double")
    out = time_rollup(df, "ts", "type", "value", granularity="hour")
    buckets = {r.bucket for r in out.collect() if r.bucket is not None}
    assert len(buckets) == 5
    assert "2024-06-01 03:00" in buckets


def test_api_feed_parity_fixes(spark):
    """trendingBy omitted -> comment-count ordering (reference has no
    schema default); community_feed accepts the _id form; spkvideo
    filters reach searchFeed."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators import api

    posts = tables.posts(spark, SF_DIR)
    default = api.trending_feed(posts, {"limit": 10})
    assert "num_comments" in default.columns  # comments arm engaged

    by_name = api.community_feed(posts, {"id": "hive-3", "limit": 5}).collect()
    by_id = api.community_feed(posts, {"id": "hive/hive-3", "limit": 5}).collect()
    assert by_name and [r.permlink for r in by_id] == [
        r.permlink for r in by_name
    ]

    silver = posts.withColumn("first_upload", F.col("event_id") % 2 == 0)
    filtered = api.search_feed(
        silver, {"term": "plain", "spkvideo": {"firstUpload": True}, "limit": 50}
    )
    assert all(r.first_upload for r in filtered.collect())


def test_ann_topk_single_scan_no_shuffle_join(spark):
    """The probe scan must be one map-side bucket filter over the
    corpus — no self-join, no exchange before the top-k."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.ann_lsh import ann_topk, hyperplanes

    emb = tables.load(spark, SF_DIR, "embeddings")
    planes = hyperplanes(64, 4)
    q = [0.1] * 64
    df = ann_topk(emb, q, planes, k=5)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "Join" not in plan, plan


def test_lsh_pipeline_survives_short_and_empty_docs(spark):
    """One short document must not kill an LSH job: sequence(1,0) is
    DESCENDING in Spark and element_at would crash under default ANSI."""
    from union_indexer_node_spark.pipelines.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
        simhash,
    )

    docs = spark.createDataFrame(
        [
            (1, "hi"),
            (2, ""),
            (3, "the quick brown fox jumps over the lazy dog today"),
            (4, "the quick brown fox jumps over the lazy dog today!"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.a, r.b) for r in lsh_candidate_pairs(docs, "text", "doc_id").collect()}
    assert (3, 4) in pairs  # near-dups still found
    sigs = minhash_signature(docs, "text", "doc_id").collect()
    assert all(r.doc_id in (3, 4) for r in sigs)  # shingle-less docs skip banding
    # simhash must KEEP zero-token docs (fingerprint 0 clusters them)
    sh = {r.doc_id: r.simhash for r in simhash(docs, "text", "doc_id").collect()}
    assert set(sh) == {1, 2, 3, 4}
    assert sh[2] == 0


def test_lsh_rejects_bands_not_dividing_k(spark):
    from union_indexer_node_spark.pipelines.dedup import lsh_candidate_pairs

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError):
        lsh_candidate_pairs(docs, "text", "doc_id", k=8, bands=16)
    with pytest.raises(ValueError):
        lsh_candidate_pairs(docs, "text", "doc_id", k=8, bands=3)


def test_connected_components_string_ids_distributed_arm(spark):
    """The distributed loop must converge for NON-numeric node ids (the
    old sum-based probe crashed under ANSI / false-converged without)."""
    from union_indexer_node_spark.pipelines.graph import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")],
        "a string, b string",
    )
    out = {
        r.node: r.cluster_id
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert {out[n] for n in "abcde"} == {"a"}  # diameter-4 chain converges
    assert {out[n] for n in "xy"} == {"x"}


def test_token_budget_exact_with_inexact_quantization(spark):
    """Three 1/3 weights quantize to 9999 permyriad — the divisor must
    be the ACTUAL quantized sum or 97 tokens vanish (verified failure
    of the fixed-10000 form)."""
    from union_indexer_node_spark.pipelines.training import (
        token_budget_allocation,
    )

    thirds = spark.createDataFrame(
        [("a", 0.333333), ("b", 0.333333), ("c", 0.333333)],
        "source string, mix_weight double",
    )
    out = token_budget_allocation(thirds, 1_000_000).collect()
    assert sum(r.alloc_tokens for r in out) == 1_000_000


def test_jaccard_pairs_cross_corpus(spark):
    """b-side ids must resolve against `right`, not `left`."""
    from union_indexer_node_spark.pipelines.dedup import jaccard_pairs

    left = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    right = spark.createDataFrame(
        [(100, "alpha beta gamma delta"), (200, "totally different words here")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 100), (1, 200)], "a long, b long")
    out = {(r.a, r.b): r.jaccard for r in jaccard_pairs(
        left, right, pairs, "text", "doc_id"
    ).collect()}
    assert out[(1, 100)] == 1.0
    assert out[(1, 200)] < 0.5
