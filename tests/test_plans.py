"""Physical-plan assertions: the plans we designed for are the plans
Catalyst actually produces. These guard the scale properties (broadcast
semi-joins, distributed top-k, scan pushdown/pruning) that correctness
tests can't see.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


def _plan(df) -> str:
    qe = df._jdf.queryExecution()
    return qe.sparkPlan().toString() + "\n" + qe.executedPlan().toString()


_TS = datetime.datetime(2023, 6, 1)


@pytest.mark.parametrize(
    "arm, spec, kwargs",
    [
        ("social", {"limit": 20}, {}),
        ("social", {"limit": 20, "skip": 40}, {}),
        ("social", {"limit": 20, "after": (_TS, "p")}, {}),
        ("search", {"limit": 20, "skip": 40}, {}),
        ("search", {"limit": 20, "skip": 40}, {"rank_by": "bm25"}),
        ("search", {"limit": 20, "after": (1.5, _TS, "p")},
         {"rank_by": "bm25", "with_score": True}),
        ("trending", {"limit": 20, "skip": 40}, {}),
        ("trending", {"limit": 20, "skip": 40}, {"rank_by": "decayed"}),
    ],
    ids=["social", "social-skip", "social-cursor", "search-skip",
         "bm25-skip", "bm25-cursor", "trending-skip", "decayed-skip"],
)
def test_feed_topk_is_take_ordered(spark, arm, spec, kwargs):
    """O1: sort+skip/limit must compile to TakeOrderedAndProject
    (distributed top-k), not a global Sort — on every feed arm, with
    offset and keyset pages alike (all page through windows.paginate)."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators import feeds

    posts = tables.posts(spark, SF_DIR)
    spec = feeds.FeedSpec(**spec)
    if arm == "social":
        df = feeds.social_feed(posts, spec)
    elif arm == "search":
        df = feeds.search_feed(posts, "spark", spec, **kwargs)
    else:
        df = feeds.trending_feed(posts, spec, **kwargs)
    assert "TakeOrderedAndProject" in _plan(df)


@pytest.mark.parametrize(
    "spec, kwargs",
    [
        ({"limit": 20, "skip": 40}, {}),
        ({"limit": 20, "after": (1.5, _TS, "p")}, {"with_score": True}),
    ],
    ids=["skip", "cursor"],
)
def test_search_bm25_scores_matched_rows_in_one_pass(spark, spec, kwargs):
    """The BM25 search arm scores the matched rows directly: no token
    explode (Generate), no posting join (SortMergeJoin), and one shuffle
    Exchange — the 1-row corpus-stats aggregate, broadcast back as a
    scalar — ahead of the TakeOrderedAndProject top-k."""
    import re

    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators import feeds

    posts = tables.posts(spark, SF_DIR)
    df = feeds.search_feed(
        posts, "spark", feeds.FeedSpec(**spec), rank_by="bm25", **kwargs
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan
    assert "SortMergeJoin" not in plan
    assert re.findall(r"(?<!Broadcast)Exchange \w+", plan) == [
        "Exchange SinglePartition"
    ]
    assert "TakeOrderedAndProject" in plan


def test_follower_feed_broadcast_semi(spark):
    """J4: the follower's following-list must broadcast; the posts side
    must not shuffle for the semi-join."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators import feeds

    posts = tables.posts(spark, SF_DIR)
    fol = tables.follows(spark, SF_DIR)
    df = feeds.social_feed(
        posts, feeds.FeedSpec(follower="u7", limit=100), follows=fol
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_q1_scan_pushdown_and_pruning(spark):
    """Filters reach the parquet scan; only referenced columns are read."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["tpch_q1_pricing_summary"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ReadSchema must exclude unreferenced columns (e.g. l_comment-ish
    # fields l_partkey/l_suppkey are not in Q1's projection)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_partkey" not in read_schema and "l_orderkey" not in read_schema


def test_point_lookup_pushes_equality(spark):
    """F10: the (author, permlink) point lookup pushes equality
    predicates to the events scan underneath the derived view."""
    from union_indexer_node_spark import tables

    posts = tables.posts(spark, SF_DIR)
    df = posts.filter(F.col("permlink") == "p42")
    plan = _plan(df)
    # permlink = 'p' || event_id: Catalyst can't invert the concat, but
    # the filter itself must still sit directly over the scan (no
    # shuffle/exchange in the plan at all)
    assert "Exchange" not in plan


def test_q5_broadcasts_dimensions(spark):
    """Multi-way star join: the small dims (supplier/nation/region)
    broadcast; only the fact-side join shuffles."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["tpch_q5_local_supplier_volume"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3


def test_exact_dedup_single_shuffle(spark):
    """Exact dedup is one scan + one digest-key shuffle (window form);
    the aggregate-then-join form md5'd the corpus twice."""
    from union_indexer_node_spark.pipelines.dedup import exact_dedup
    from union_indexer_node_spark import tables

    d = tables.load(spark, SF_DIR, "documents")
    plan = _plan(exact_dedup(d, "text", "doc_id"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Scan parquet") == 2  # once per half of _plan()


def test_posts_build_plans_no_python(spark):
    """X13 folds edits with built-in expressions: neither build_posts
    nor the posts stream's batch build (first batch, or folding into a
    snapshot) plans a Python evaluation node."""
    from test_ingest import OPS_SCHEMA, comment

    from union_indexer_node_spark.ingest.posts import build_posts

    def python_nodes(df):
        plan = _plan(df)
        return plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")

    ops = spark.createDataFrame(
        [
            comment(10, "a", "p", "v1 body"),
            comment(20, "a", "p", "@@ -1,2 +1,2 @@\n-v1\n+v2"),
            comment(30, "b", "r", "reply", parent=("a", "p")),
        ],
        schema=OPS_SCHEMA,
    )
    assert python_nodes(build_posts(ops)) == 0

    from union_indexer_node_spark.streaming.stream import build_posts_batch

    snapshot = build_posts_batch(ops, None)
    assert python_nodes(snapshot) == 0
    assert python_nodes(build_posts_batch(ops, snapshot)) == 0


def test_lww_single_shuffle(spark):
    """W2 LWW is one hash-shuffle on the key + in-partition sort."""
    from union_indexer_node_spark.operators.windows import lww_latest
    from union_indexer_node_spark import tables

    e = tables.load(spark, SF_DIR, "events")
    df = lww_latest(e, ["user_id", "event_type"], [F.col("ts"), F.col("event_id")])
    assert _plan(df).count("Exchange hashpartitioning") == 1


def test_asof_join_single_shuffle(spark):
    """The union+window as-of join must shuffle ONCE on the join key —
    no range-probe join, no broadcast requirement, no second exchange."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators.temporal import asof_join

    e = tables.load(spark, SF_DIR, "events")
    left = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    right = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    df = asof_join(left, right, ["user_id"], payload=["value"])
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_sessionize_single_shuffle(spark):
    """Both windows and the per-session aggregate reuse ONE user_id
    partitioning (hashpartitioning(user_id) satisfies the clustered
    distribution of the (user_id, session_id) groupBy)."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators.temporal import sessionize

    e = tables.load(spark, SF_DIR, "events")
    df = sessionize(e, "user_id", "ts", gap_minutes=30, tiebreak_col="event_id")
    assert _plan(df).count("Exchange hashpartitioning") == 1


def test_repetition_stats_shuffles_docs_not_grams(spark):
    """Both bigram aggregations and the join must reuse the narrow
    doc-id repartition — no exchange keyed on the exploded gram."""
    import re

    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.curation import repetition_stats

    d = tables.load(spark, SF_DIR, "documents")
    plan = _plan(repetition_stats(d, "text", "doc_id"))
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert keys, "expected the doc-id repartition"
    assert all(k.strip().startswith("doc_id") for k in keys), keys


def test_range_join_is_bucketed_equi_join(spark):
    """The bucketed range join must plan as a hash/sort-merge EQUI join
    on the bucket id — not the nested-loop a bare non-equi join gets.
    One BroadcastNestedLoopJoin IS expected since r5: the intentional
    rare-long-interval arm (intervals exceeding max_buckets_per_interval
    skip the explode and broadcast instead). The main arm must still be
    the bucket equi-join."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["temporal_range_join"].fn(spark, SF_DIR)
    plan = _plan(df)  # sparkPlan + executedPlan: the one BNLJ node prints twice
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in plan
    assert "Join" in plan and "_bucket" in plan


def test_embedding_neardup_banded_no_label_cartesian(spark):
    """Embedding near-dup must pair within (label, band, band-value) LSH
    keys, never a raw per-label all-pairs: no nested-loop/cartesian join
    in the plan, and the candidate equi-join carries the band keys."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["dedup_embedding_neardup"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and "bv" in plan


def test_pack_next_fit_one_shuffle_then_pandas(spark):
    """Sequence packing: exactly one exchange (the stratum hash) feeding
    the grouped-map pandas stage — no extra sort/shuffle layers."""
    import re

    from union_indexer_node_spark import queries as q

    df = q.registry()["training_pack_next_fit"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" in plan or "MapGroups" in plan
    n_ex = len(re.findall(r"Exchange (hash|range)partitioning", plan))
    assert n_ex == 1, plan


def test_length_percentiles_partial_aggregation(spark):
    """Exact percentile must still partial-aggregate (ObjectHashAggregate
    partial -> final), one exchange on the group key."""
    import re

    from union_indexer_node_spark import queries as q

    df = q.registry()["text_length_percentiles"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "ObjectHashAggregate" in plan
    n_ex = len(re.findall(r"Exchange (hash|range)partitioning", plan))
    assert n_ex == 1, plan


def test_epoch_interleave_no_global_sort(spark):
    """The interleave key must come from a per-source window (one hash
    exchange), never a single-partition global sort."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["training_epoch_interleave"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Exchange SinglePartition" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_epoch_interleave_rank_is_sharded(spark):
    """No WindowExec partition may carry a whole source: every
    row_number window must partition by (source, _shard) — a mixture
    has O(10) sources, so a source-only rank window would sort multi-TB
    sources in one task at scale."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["training_epoch_interleave"].fn(spark, SF_DIR)
    plan = _plan(df)
    rn_windows = [
        line
        for line in plan.splitlines()
        if "row_number()" in line and "Window" in line
    ]
    assert rn_windows, plan
    assert all("_shard" in line for line in rn_windows), plan


def test_stratified_sample_rank_is_sharded(spark):
    """Hot-stratum guard: the full-corpus pre-rank window must partition
    by (stratum, _shard); only the bounded survivor frame (<=
    256*per_stratum rows per stratum) may use a stratum-only window.
    WindowGroupLimit must prune map-side so the shuffle ships top-k per
    group, not the corpus."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["sample_stratified"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "_shard" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    # the (stratum, shard) pre-rank exchange exists
    import re

    assert re.search(r"hashpartitioning\([^)]*_shard", plan), plan


def test_q18_broadcasts_qualifying_orders(spark):
    """Q18: the HAVING-derived qualifying set joins as a broadcast
    (semi) join, not a shuffled join of the full orders table."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["tpch_q18_large_volume"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_q10_broadcasts_nation(spark):
    from union_indexer_node_spark import queries as q

    df = q.registry()["tpch_q10_returned_items"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_q6_scan_only_with_pushdown(spark):
    """Q6 is a pure scan-aggregate: no join, no shuffle beyond the
    single-row final aggregate, and the shipdate/discount/quantity
    predicates reach the parquet scan as PushedFilters."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["tpch_q6_forecast_revenue"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "Join" not in plan, plan
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:400]


def test_q19_disjunction_stays_hash_join(spark):
    """Q19's OR-of-ANDs must not defeat the equi-join extraction: the
    part join stays a BroadcastHashJoin with the disjunction as a
    residual filter, never BroadcastNestedLoopJoin/CartesianProduct."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["tpch_q19_disjunctive_revenue"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q7_q8_broadcast_dims_no_cartesian(spark):
    """Q7/Q8: every dim (supplier/nation/region/part) broadcasts; the
    only shuffled joins are the fact-fact lineitem-orders-customer
    chain."""
    from union_indexer_node_spark import queries as q

    for name in ("tpch_q7_volume_shipping", "tpch_q8_market_share"):
        df = q.registry()[name].fn(spark, SF_DIR)
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_q15_single_fact_pass(spark):
    """Q15: exactly one lineitem scan and one per-supplier shuffle; the
    scalar max comes from a window over the aggregated frame, not a
    second pass over the fact table."""
    import re

    from union_indexer_node_spark import queries as q

    df = q.registry()["tpch_q15_top_supplier"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex <= 1, plan
    n_scan = plan.count("lineitem.parquet")
    assert n_scan == 2, plan  # sparkPlan + executedPlan, one scan each


# ---------------------------------------------------------------------------
# Registry-wide plan hygiene (round 9)
# ---------------------------------------------------------------------------

# Every BroadcastNestedLoopJoin the registry is ALLOWED to contain,
# with the max occurrence count observed in (sparkPlan + executedPlan)
# — i.e. 2 per physical join. Each is a join against a broadcast
# SCALAR (1-row aggregate) or a documented intentional arm, where BNLJ
# is the correct physical choice (hashing a 1-row side buys nothing):
#   - o2_* / a1 / text_tfidf_topk: max/total anchor scalar joined back
#   - o6: corpus-count scalar for the hash-sample threshold
#   - training_token_budget: running-total + budget scalars (3 joins)
#   - tpch_q22: avg-acctbal scalar subquery (reference shape)
#   - temporal_range_join: the pinned intentional long arm (see
#     test_round5.py::test_range_join_long_arm)
#   - ann_recall_eval: brute-force baseline comparison (documented)
#   - training_temperature_resample: the (wsum, total) 1-row aggregate
#     joined back onto the per-domain counts (scalar pattern)
#   - search_bm25_topk: the (n, total_dl) 1-row corpus-stats aggregate
#     attached to the term-pruned postings (same scalar pattern)
_BNLJ_ALLOWED = {
    "training_temperature_resample": 2,
    "search_bm25_topk": 2,
    "search_rrf_fusion": 2,  # the BM25 arm's corpus-stats scalar
    "training_dsir_resample": 2,  # the 1-row quantile threshold
    #    (model totals are collected literals, bounded-collect
    #    pattern; AQE shows the scalar join twice in the final plan)
    "o2_trending_feed_comments": 2,
    "o6_related_feed_sample": 2,
    "training_token_budget": 6,
    "text_tfidf_topk": 2,
    "temporal_range_join": 2,
    "ann_recall_eval": 4,
    "a1_trending_tags": 2,
    "o2_a8_trending_feed_payout": 2,
    "tpch_q22_global_sales_opportunity": 2,
    # r11: the two 1-row scalar broadcasts (percentile thresholds onto
    # the scored frame, the dsir exact-quantile-gate pattern)
    "pipeline_ccnet_buckets": 2,
    # r11: the 1-row max-timestamp anchor broadcast (the trending_feed
    # anchor pattern; _plan dumps sparkPlan + executedPlan, so one join
    # counts twice — same accounting as every entry above)
    "feeds_decayed_trending": 2,
    # r12: the 1-row exact-count companion attached to the 1-row KMV
    # estimate (scalar pattern; dual plan dump counts it twice)
    "a_approx_distinct_users": 2,
    # r13: the partsupp derivation joins each part row to the 1-row
    # supplier COUNT scalar (tables.partsupp) — a broadcast-of-scalar
    # per partsupp reference; q2 references partsupp twice after the
    # min-cost self-agg rejoin, q11 adds its own group-vs-global-scalar
    # HAVING (the q22 pattern) on top. Dual plan dump doubles each.
    "tpch_q2_min_cost_supplier": 4,
    "tpch_q9_profit": 2,
    "tpch_q11_important_stock": 6,
    "tpch_q16_supplier_cnt": 2,
    "tpch_q20_part_promotion": 2,
    # r13: batch MMR scores the corpus against the BROADCAST query
    # set — every (vector, query) pair is genuinely needed, the small
    # side is the bounded query batch (the broadcast-of-small-anchor
    # pattern, n_queries rows instead of 1). Dual plan dump doubles it.
    "sim_mmr_rerank_batch": 2,
    # r13: the multiprobe recall eval carries the same brute-force
    # baseline crossJoin as ann_recall_eval plus the 1-row query-count
    # scalar attached to the per-radius rows (dual dump doubles both)
    "ann_multiprobe_recall": 4,
    # r13: the unordered-pair enumeration (ga < gb over the DISTINCT
    # group list — sources, bounded small by the operator's contract:
    # a pairwise matrix is only meaningful for a bounded group count).
    # All-pairs has no equi form; the per-pair sketch attach below it
    # IS equi-joined. Referenced by both cand arms -> 2, dual dump -> 4.
    "sketch_kmv_source_overlap": 4,
}


def test_registry_wide_plan_hygiene(spark):
    """No entry in the whole registry may plan a CartesianProduct, and
    BroadcastNestedLoopJoin may appear only in the scalar-join
    allowlist above, never more often than recorded. This is the guard
    the per-entry plan tests can't give: a dependency edit that flips
    ANY of the 100+ other entries to a nested-loop fallback fails here
    by name, at sf0.001 cost."""
    from union_indexer_node_spark import queries as q

    offenders = {}
    for name, qd in q.registry().items():
        plan = _plan(qd.fn(spark, SF_DIR))
        cp = plan.count("CartesianProduct")
        bn = plan.count("BroadcastNestedLoopJoin")
        if cp or bn > _BNLJ_ALLOWED.get(name, 0):
            offenders[name] = (cp, bn)
    assert not offenders, offenders


def test_duplicate_spans_rebuild_is_affected_only(spark):
    """remove_duplicate_spans applies removal through ONE doc-keyed
    LEFT join of the corpus to the merged-interval array (r15 rewrite):
    clean documents see a NULL array and short-circuit to their
    original text. The final plan must carry that single outer join
    and NO token-level machinery — no Generate (covered-token
    explode), no LeftAnti (the r14 shape's fast path + kept-token
    filter), and never a CartesianProduct."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["dedup_remove_duplicate_spans"].fn(spark, SF_DIR)
    plan = _plan(df)
    # _plan prints sparkPlan + executedPlan, so each node shows twice
    assert plan.count("LeftOuter") == 2  # the one interval-apply join
    assert "LeftAnti" not in plan
    assert "Generate" not in plan  # no covered-token/tok_bytes explode
    assert "CartesianProduct" not in plan


def test_negative_sampling_plans_no_cross_join(spark):
    """The hash-ring construction exists to avoid the naive cross join
    — the plan must contain window LEADs and a bounded ring-head
    aggregate, never a cartesian/BNLJ pair generator."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["training_negative_sample"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_kmv_sketch_state_is_rank_truncated(spark):
    """KMV's per-group state must be the rank-<=k truncation (a Filter
    over a Window), not a per-group collect of all hashes."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["a_approx_distinct_kmv"].fn(spark, SF_DIR)
    plan = _plan(df)
    assert "row_number" in plan
    assert "collect_list" not in plan and "collect_set" not in plan


def test_bpe_encode_join_not_reencode(spark):
    """bpe_encode prices occurrences through a (word -> n_syms) join —
    the merge regexps must run on the DISTINCT vocab side (HashAggregate
    before the regexp projection), never per word occurrence."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.textstats import bpe_encode

    d = tables.load(spark, SF_DIR, "documents")
    df = bpe_encode(d, "text", "doc_id", [("l", "o"), ("lo", "w")])
    # physical plans elide aggregate result expressions, so pin the
    # OPTIMIZED logical plan: every regexp merge must be evaluated
    # inside the Aggregate over the distinct word key — a plan running
    # it before the dedup would re-encode every occurrence.
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    regexp_lines = [
        l for l in plan.splitlines() if "regexp_replace" in l
    ]
    assert regexp_lines, plan
    for l in regexp_lines:
        assert "Aggregate [w" in l, l


def test_round11_new_entry_plan_shapes(spark):
    """Round-11 plan pins: PQ-ADC is a pure map + TakeOrderedAndProject
    (no join, no wide exchange beyond the top-k); the media probe is
    one Arrow python stage with no join; the verified-span removal
    keeps the affected-only anti-join fast path."""
    from union_indexer_node_spark import queries as q

    reg = q.registry()
    adc = _plan(reg["sim_ivf_pq_adc"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in adc
    assert "Join" not in adc and "CartesianProduct" not in adc

    probe = _plan(reg["multimodal_media_probe"].fn(spark, SF_DIR))
    assert "Join" not in probe

    maximal = _plan(
        reg["dedup_remove_duplicate_spans_maximal"].fn(spark, SF_DIR)
    )
    # r15 interval rewrite: one candidate-span Generate (the merged
    # intervals explode) and one outer interval-apply join; the
    # token-level anti-join/explode machinery is gone.
    # _plan prints sparkPlan + executedPlan, so each node shows twice
    assert maximal.count("LeftOuter") == 2
    assert "LeftAnti" not in maximal
    assert maximal.count("Generate") <= 2
    assert "CartesianProduct" not in maximal


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _tokenizer_copies(spark, monkeypatch, build) -> int:
    """``split(`` occurrences over every plan an operator runs: its
    optimized plan plus each frame it materializes while it is built (a
    checkpoint or a bounded collect), which the final plan only sees as
    a scan of stored rows."""
    frame_cls = type(spark.range(1))
    seen = []
    with monkeypatch.context() as m:
        for name in ("localCheckpoint", "collect"):
            real = getattr(frame_cls, name)

            def hooked(self, *a, _real=real, **kw):
                seen.append(_optimized(self))
                return _real(self, *a, **kw)

            m.setattr(frame_cls, name, hooked)
        seen.append(_optimized(build()))
    return sum(p.count("split(") for p in seen)


@pytest.mark.parametrize(
    "op, inputs",
    [("minhash_signature", 1), ("_canonical_signature", 1),
     ("jaccard_pairs", 2), ("jaccard_pairs_prune_self", 1),
     ("bloom_decontaminate", 2), ("decontaminate", 2),
     ("contamination_report", 2)],
)
def test_tokenizer_evaluated_once_per_input(spark, monkeypatch, op, inputs):
    """Each curate operator plans one tokenizer per input frame: the
    shingle lambda reads the token projection, and no projection collapse
    copies ``split`` into every ``element_at`` of it."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines import dedup, training

    docs = tables.load(spark, SF_DIR, "documents")
    d, b = docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    pairs = spark.createDataFrame([(2, 4), (4, 6)], "a long, b long")
    build = {
        "minhash_signature": lambda: dedup.minhash_signature(d, "text", "doc_id"),
        "_canonical_signature": lambda: dedup._canonical_signature(d, "text", "doc_id"),
        "jaccard_pairs": lambda: dedup.jaccard_pairs(d, b, pairs, "text", "doc_id"),
        "jaccard_pairs_prune_self": lambda: dedup.jaccard_pairs(
            d, d, pairs, "text", "doc_id", prune=True),
        "bloom_decontaminate": lambda: training.bloom_decontaminate(d, b, "text", "doc_id"),
        "decontaminate": lambda: training.decontaminate(d, b, "text", "doc_id"),
        "contamination_report": lambda: training.contamination_report(
            d, b, "text", "doc_id", "source"),
    }[op]
    assert _tokenizer_copies(spark, monkeypatch, build) == inputs


def test_shingle_array_read_alone_by_explode_collapses(spark):
    """Control for the rule the operators above follow (explode the
    shingles straight from the token projection): a shingle array
    materialized in its own Project and read only by ``explode`` is
    inlined into the generator, and with it the tokenizer into every
    ``element_at`` of the shingle lambda."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.dedup import (
        shingles_from_tokens,
        tokens,
    )

    docs = tables.load(spark, SF_DIR, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("_toks"))
    straight = toks.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("_toks"), 3))
    )
    staged = toks.select(
        "doc_id", shingles_from_tokens(F.col("_toks"), 3).alias("_grams")
    ).select("doc_id", F.explode("_grams"))
    assert _optimized(straight).count("split(") == 1
    assert _optimized(staged).count("split(") > 1


def test_text_measures_plan_no_per_token_lambdas(spark):
    """Tokens, the quality features and BM25 term frequencies are
    built-in array and regexp expressions (codegen'd); the Gopher gate
    keeps only its per-line ellipsis lambda."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators import feeds
    from union_indexer_node_spark.pipelines import dedup, textstats

    docs = tables.load(spark, SF_DIR, "documents")
    lambdas = {
        "tokens": docs.select(dedup.tokens(F.col("text"))),
        "quality_features": textstats.quality_features(docs, "text", "doc_id"),
        "bm25": feeds.search_feed(
            tables.posts(spark, SF_DIR), "spark data", feeds.FeedSpec(limit=5),
            rank_by="bm25",
        ),
    }
    for name, df in lambdas.items():
        assert "lambdafunction(" not in _optimized(df), name
    gate = textstats.gopher_quality_gate(docs, "text", "doc_id")
    assert _optimized(gate).count("lambdafunction(") <= 4
