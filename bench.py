"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion via the noop sink so the full plan
runs; a warmup pass first touches the parquet footers so we time
compute, not first-touch I/O. Every query is timed REPEATS times and the
median is reported — single-shot timing made round-over-round deltas
indistinguishable from machine noise (r1→r2 showed a uniform 1.33x
drift on untouched queries).
"""

from __future__ import annotations

import json
import os
import statistics
import time

REPEATS = 3

BENCH_QUERIES = [
    "social_feed_by_app",
    "f2_f3_f5_filter_combo",
    "f1_tag_membership",
    "a1_trending_tags",
    "tpch_q1_pricing_summary",
    "w2_lww_latest_event",
    "j3_num_comments_per_post",
    "a9_mention_notifications",
    "dedup_lsh_candidates",
    "dedup_simhash",
    "sim_cosine_topk",
    "text_quality_features",
    "x21_inverted_index_search",
    "dedup_embedding_neardup",
    "j11_chain_state_enrichment",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "pipeline_corpus_curation",
    "j9_reply_closure",
    "o5_children_topk_per_parent",
    "ann_lsh_topk",
    "temporal_sessionize",
    "text_repetition_stats",
    "temporal_asof_join",
    "temporal_range_join",
    "tpch_q4_order_priority",
    "tpch_q13_custdist",
    "tpch_q17_small_quantity",
    "training_decontaminate",
    "training_chunk_sliding",
    "dedup_cc_clusters",
    "training_pack_next_fit",
    # round-5 second batch: TPC-H breadth (scan-heavy + multi-join shapes)
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q19_disjunctive_revenue",
    # round 6: de-skewed two-level rank windows + the stream-id merge job
    "training_epoch_interleave",
    "sample_stratified",
    "offchain_id_refresh",
    # round 6 second batch: anti-join TPC-H shape, SCD2 history window,
    # broadcast-model LM scoring. Round 7 swapped the LM entry for the
    # md5-half-sampled-model arm (text_lm_quality_sampled) — the
    # production configuration at 100 TB (a quality signal doesn't need
    # exact corpus counts); the exact arm stays the oracle path in the
    # correctness window. Both arms also got the char-array gram build
    # (substring-on-string was O(len^2)/doc): exact 4.97 -> ~4.2,
    # sampled ~3.4 normalized.
    "tpch_q22_global_sales_opportunity",
    "w5_scd2_history",
    "text_lm_quality_sampled",
    # round 7: deterministic Lloyd k-means (SemDeDup/IVF build step)
    # + the SemDeDup composition (cluster-scoped banded near-dup flags).
    # Both are iterative (seeds + 2 update jobs + assignment), so at
    # sf0.1 their time is ~5 Spark-job fixed overheads, not data volume
    # — the dedup_cc_clusters cost profile, amortized at real scale.
    "sim_kmeans_clusters",
    "dedup_semantic_flags",
    # round 8: the two ingest dispatch arms run end-to-end on synthetic
    # raw ops — the full followsDb family fold (spoof guard + LWW +
    # tombstones, one window shuffle on the edge key) and the
    # communities field-wise $set merge (one groupBy on account).
    "ingest_follows_families",
    "community_updateprops_merge",
    # round 8 second batch: passage-level dedup (one digest shuffle)
    # and the exists/not-exists fact self-probe TPC-H shape.
    "dedup_shared_passages",
    "tpch_q21_waiting_supplier",  # r14: promoted faithful form
    # round 8 third batch: per-chunk langid rollup and the constructed
    # PNG header probe through the Arrow mapInPandas stage.
    "text_language_consistency",
    "multimodal_png_probe",
    # round 8 fourth batch: tokenizer/IR statistics — vocab-weighted BPE
    # pair counts and the single-explode TF-IDF head.
    "text_bpe_pair_counts",
    "text_tfidf_topk",
    # round 8 fifth batch: per-source adaptive gating and the two-level
    # distributed prefix-sum budget selection.
    "pipeline_adaptive_quality_gate",
    "training_budget_select",
    # round 8 sixth batch: funnel recurrence and trigram substring
    # search. Round 9 split the trigram entry into its two real cost
    # centers (the r8 composed number conflated them): the one-time
    # posting-table build, amortized across queries in deployment, and
    # the query alone against a pre-built persisted index (prepared
    # un-timed during warmup).
    "temporal_funnel_stages",
    "trigram_index_build",
    "search_substring_query",
    # round 8 seventh batch: retention triangle and native pivot.
    "temporal_cohort_retention",
    "events_pivot_type_counts",
    "temporal_moving_window_agg",
    "pipeline_column_profile",
    "dedup_lsh_incremental",
    "setop_intersect_except",
    "lineitem_unpivot_measures",
    # round 9: passage-removal transform + cross-source overlap audit.
    # Round 10 made removal byte-preserving AND 3.4x faster (2.30 ->
    # ~0.7 s): the base (pieces, tokens) frame is now materialized
    # before the per-segment expressions, blocking Catalyst's
    # projection collapse from re-running the tokenizer regexp once
    # per segment reference.
    "dedup_remove_repeated_passages",
    "dedup_cross_source_overlap",
    # round 10: alignment-robust sliding-window span removal (stride-1
    # enumeration + covered-token coalescing + affected-docs-only
    # rebuild), the k-iteration BPE merge trainer (vocab-sized
    # iterations), and the broadcast-model hashed-ngram quality gate.
    "dedup_remove_duplicate_spans",
    "text_bpe_train_merges",
    "text_quality_classifier",
    # round 10 second batch: the BPE encode arm (train 3 merges, then
    # price the corpus in post-merge symbols via the vocab join).
    "text_bpe_encode",
    # round 10 third batch: bit-bounded Bloom decontamination (the
    # broadcast-safe sibling of the exact gram join), content-defined
    # chunking (map-side rolling-hash boundaries), and n^alpha domain
    # temperature resampling (two tiny aggregates + broadcast rates).
    "training_bloom_decontaminate",
    "training_cdc_chunks",
    "training_temperature_resample",
    # round 10 fourth batch: integer-quantized Okapi BM25 over the tf
    # posting table (term-pruned probe, broadcast df + corpus stats).
    "search_bm25_topk",
    # round 10 fifth batch: hybrid retrieval — reciprocal-rank fusion
    # of the BM25 and cosine rankings (integer contributions), and
    # greedy MMR diversity re-rank over a bounded candidate frame.
    "search_rrf_fusion",
    "sim_mmr_rerank",
    # DSIR-shape importance resampling: two broadcast bucket models
    # over one shared (id, tokens) checkpoint, exact-quantile gate.
    "training_dsir_resample",
    # Morton interleave key: pure map-side long arithmetic over the
    # widest table in the set (lineitem) — a codegen throughput probe.
    "layout_zorder_key",
    # round 11: hard-EM unigram tokenizer trainer (2 EM iterations of
    # vocab-sized DP/backtrace HOF expressions, 1 scalar collect per
    # iteration), PQ asymmetric-distance top-k (pure map encode + LUT
    # lookups + TakeOrderedAndProject), WAV/MP4 header probes through
    # the Arrow mapInPandas stage, and span-VERIFIED duplicate removal
    # (the r10 spans pipeline + one islands window + one span-string
    # count).
    "text_unigram_lm_train",
    "sim_ivf_pq_adc",
    "multimodal_media_probe",
    "dedup_remove_duplicate_spans_maximal",
    # round 11 second batch: the serving searchFeed's opt-in BM25 arm
    # against the PREBUILT posting index (warmup-persisted, the
    # deployment amortization) — per-request cost only.
    "searchfeed_bm25_query",
    # round 12: the two heaviest r11-born entries enter the window with
    # BOTH a composed mark (train/assign + apply, the oracle-checked
    # plan) and an amortized-deployment mark (apply against prebuilt
    # warmup-persisted state) — VERDICT r11 item 5. For the unigram
    # pair the split is train vs encode; for IVF-PQ it is corpus cell
    # assignment (write-time, the stored-layout model) vs per-query
    # probe + ADC.
    "text_unigram_encode",
    "unigram_encode_prebuilt",
    "sim_ivfpq_search",
    "ivfpq_search_prebuilt",
    # round 12 second batch: the diff-driven incremental BM25 chain
    # (corpus_diff -> bm25_index_merge, composed: old-index build +
    # diff + fold), corpus-wide boilerplate-line removal, the two new
    # mergeable sketches, and the suffstats k-means fold.
    "pipeline_diff_bm25_chain",
    "curation_remove_frequent_lines",
    "sketch_cm_heavy_hitters",
    "sketch_sample_quantiles",
    "sim_kmeans_incremental",
    # round 12 third batch: the TPC-H completion — the suite benches
    # all 22 query shapes; r13 promoted Q2/Q9/Q11/Q16/Q20 to faithful
    # forms over the derived partsupp (Q12 keeps its shipmode-column
    # adaptation).
    "tpch_q2_min_cost_supplier",
    "tpch_q9_profit",
    "tpch_q11_important_stock",
    "tpch_q12_shipmode",  # r14: promoted faithful form
    "tpch_q16_supplier_cnt",
    "tpch_q20_part_promotion",
    # round 13: the composition-safe batch MMR (one applyInPandas over
    # all query groups), the KMV pairwise-overlap matrix (190 source
    # pairs from k=128 sketches alone), and the incremental
    # connected-components fold (base solve + super-node batch fold).
    "sim_mmr_rerank_batch",
    "sketch_kmv_source_overlap",
    "graph_cc_incremental",
    # round 13 (second tranche): dictionary phrase tagging (per-length
    # gram enumeration + one broadcast equi-join) and first-occurrence
    # bigram novelty (map-side within-doc dedup, skew-safe groupBy-MIN
    # first-seer, skew-safe-over-window rejoin).
    "curation_keyword_tag",
    "curation_ngram_novelty",
    # round 13: Hilbert layout key — directly comparable to
    # layout_zorder_key (same columns, same bits, same row count).
    "layout_hilbert_key",
    # round 13: measured LSH banding recall on the 1/3 sample — the
    # eval-budget cost a pipeline pays to tune (k, bands).
    "dedup_lsh_recall_eval",
    # round 13: HRW shard assignment — 8 md5 scores + one array argmax
    # per row, a pure codegen-throughput probe like the zorder key.
    "training_rendezvous_shard",
    # round 13: dense-grid LOCF gap fill — grid explode + one LOCF
    # window per key over the 1/25 user subset.
    "temporal_gap_fill",
    # round 13: degree-oriented triangle counting — the wedge
    # self-join is the cost driver; orientation caps it at sf0.1's
    # ~97k-edge near-dense graph.
    "graph_triangle_count",
    # round 13: explicit-register HLL over per-source trigrams — an
    # explode-heavy hash + two map-side-combining aggregates.
    "sketch_hll_distinct",
    # round 13: URL canonicalization + dedup — regex/codegen
    # throughput probe plus one distinct-sized combine.
    "curation_url_dedup",
    # round 13: token entropy — tokenize/explode + two partial aggs;
    # the associative integer-fold pattern under bench load.
    "text_token_entropy",
    # round 13: multiprobe recall pricing — one corpus scan feeding
    # 3 radius filters + brute baseline on 7 queries.
    "ann_multiprobe_recall",
    # round 13: leakage-safe split — exact-dup identity groupBy + join
    # + map-side cluster-keyed draw.
    "training_cluster_split",
    # round 13: OHLC struct-extrema rollup — one shuffle for five
    # order-dependent aggregates over the 1/10 user subset.
    "temporal_ohlc_rollup",
    # round 13: directed containment probe — probe-shingle explode +
    # hot-capped posting equi-join.
    "dedup_containment_probe",
    # round 13: A-ES weighted reservoir — md5 draw + ln key + one
    # per-group rank window.
    "sample_weighted_reservoir",
    # round 13: referential audit — two NULL-salted left-join+indicator
    # orphan scans over orders/lineitem.
    "quality_referential_audit",
    # round 13: exact prefix-filter similarity join — postings build +
    # prefix self-join + postings-domain verify (~2.6s warm at sf0.1;
    # the price of zero recall loss vs banding).
    "dedup_prefix_filter_join",
    # round 13: blocked thresholded-Levenshtein fuzzy match — banded
    # O(n*k) verify over token-window blocks.
    "dedup_fuzzy_edit_match",
    # round 13: HLL lattice — hourly register build + MAX-fold to
    # daily + integer estimates, one events scan.
    "sketch_hll_rollup",
    # round 13: per-source scorecard — tokenize/entropy pass + digest
    # stats pass + |sources|-row join.
    "pipeline_source_scorecard",
    # round 13: as-of with staleness bound — same one-shuffle LOCF
    # window as the default arm plus the timestamp gate.
    "temporal_asof_tolerance",
    # round 14: blocking-key recall pricing for fuzzy edit matching —
    # brute-within-sample truth (bucket-pair equi keys) + two blocked
    # candidate joins + the report fold. r15 widened the entry to the
    # width-2..8 FRONTIER (still one scan per strategy; ~0.7 s over
    # the single-width form at sf0.1, pricing 14 cells instead of 2).
    "fuzzy_blocking_recall_eval",
    # round 14: incremental triangle fold — composed old-solve + the
    # three-case batch delta (the graph_cc_incremental cost profile:
    # the from-scratch base build is the entry's weight, the fold is
    # O(batch) at deployment).
    "graph_triangle_incremental",
    # round 14 (VERDICT r13 item 3): the two inline-index dedup entries
    # get split-phase arms against the warmup-persisted posting table —
    # the amortized join cost a deployment pays; the composed entries
    # above stay unchanged as the oracle-checked plans.
    "prefix_filter_join_prebuilt",
    "containment_probe_prebuilt",
]

# --- bench-entry cost classes (VERDICT r13 item 7) --------------------------
# The BASELINE.md taxonomy, mechanized: per-class subtotals let
# cross-round drift triage start from comparable pools (class-3 sf0.1
# numbers mean little individually — the taxonomy says so — but their
# POOL total is stable). Class 2 = the entry pays an inline artifact
# build a deployment amortizes (most have a *_prebuilt twin); class 3 =
# iterative / trainer-loop / localCheckpoint-chain / mapInPandas-at-5k /
# composed-eval-with-brute-baseline shapes whose wall clock is k fixed
# overheads, not data. Everything else is class 1 (query-only).
CLASS_INDEX_BUILD = {
    "trigram_index_build",
    "x21_inverted_index_search",
    "dedup_lsh_incremental",
    "text_unigram_encode",
    "text_bpe_encode",
    "sim_ivfpq_search",
    "search_bm25_topk",
    "search_rrf_fusion",
    "pipeline_diff_bm25_chain",
    "dedup_prefix_filter_join",
    "dedup_containment_probe",
}
# (pipeline_diff_minhash_chain is a CORRECTNESS-only registry entry —
# not benched, so it takes no class; review r14 removed its stale
# listing here.)
CLASS_ITERATIVE = {
    "sim_kmeans_clusters",
    "sim_kmeans_incremental",
    "dedup_semantic_flags",
    "dedup_cc_clusters",
    "graph_cc_incremental",
    "graph_triangle_count",
    "j9_reply_closure",
    "text_bpe_train_merges",
    "text_unigram_lm_train",
    "sim_mmr_rerank",
    "training_pack_next_fit",
    "multimodal_png_probe",
    "multimodal_media_probe",
    "dedup_lsh_recall_eval",
    "ann_multiprobe_recall",
    "fuzzy_blocking_recall_eval",
    "graph_triangle_incremental",
}


def class_subtotals(timings: dict) -> dict:
    out = {"query_only": 0.0, "index_build": 0.0, "iterative": 0.0}
    for n, t in timings.items():
        if n in CLASS_INDEX_BUILD:
            out["index_build"] += t
        elif n in CLASS_ITERATIVE:
            out["iterative"] += t
        else:
            out["query_only"] += t
    return {k: round(v, 4) for k, v in out.items()}

# --- split-phase bench entries ---------------------------------------------
# The correctness registry's search_substring_trigram composes posting
# -table build + query into one plan (right for the oracle gate, wrong
# as a benchmark: the build is a once-per-batch-cycle cost amortized
# over every query against it — search.py build docstring). The bench
# times the two phases separately. BENCH-ONLY entries: they reuse the
# registry entry's exact table/pattern so the correctness gate still
# covers the composed plan.

_TRIGRAM_STATE: dict = {}


def _trigram_prebuilt(spark, sf_dir):
    """Build + persist + materialize the posting table ONCE per sf_dir,
    outside any timed region (called from the warmup pass)."""
    if sf_dir not in _TRIGRAM_STATE:
        from union_indexer_node_spark import tables
        from union_indexer_node_spark.pipelines.search import (
            build_trigram_index,
        )

        d = tables.load(spark, sf_dir, "documents")
        idx = build_trigram_index(d, "text", ["doc_id"]).persist()
        idx.count()
        _TRIGRAM_STATE[sf_dir] = (d, idx)
    return _TRIGRAM_STATE[sf_dir]


def _bench_trigram_build(spark, sf_dir):
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.search import build_trigram_index

    d = tables.load(spark, sf_dir, "documents")
    return build_trigram_index(d, "text", ["doc_id"])


def _bench_search_query(spark, sf_dir):
    from union_indexer_node_spark.pipelines.search import search_substring

    d, idx = _trigram_prebuilt(spark, sf_dir)
    return search_substring(idx, d, "alue s", "text", ["doc_id"]).select(
        "doc_id"
    )


def _bench_searchfeed_bm25_query(spark, sf_dir):
    """The rankBy=BM25 serving arm as a request runs it: match filter,
    one-pass scoring over the matched posts and the top-k. The term
    "hello" matches 9.1% of posts at sf0.1 (9,091 of 100,000)."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators.feeds import FeedSpec, search_feed

    return search_feed(
        tables.posts(spark, sf_dir), "hello", FeedSpec(limit=20),
        rank_by="bm25",
    )


_UNIGRAM_STATE: dict = {}


def _unigram_vocab_prebuilt(spark, sf_dir):
    """Train + persist the 2-iteration unigram vocabulary ONCE per
    sf_dir outside any timed region — the deployment shape: a
    tokenizer is trained once per corpus cut and applied to every
    document/batch after."""
    if sf_dir not in _UNIGRAM_STATE:
        from union_indexer_node_spark import tables
        from union_indexer_node_spark.pipelines.textstats import (
            unigram_lm_train,
        )

        d = tables.load(spark, sf_dir, "documents")
        vocab = unigram_lm_train(
            d, "text", n_iters=2, max_piece_len=3, max_word_len=8
        ).persist()
        vocab.count()
        _UNIGRAM_STATE[sf_dir] = (d, vocab)
    return _UNIGRAM_STATE[sf_dir]


def _bench_unigram_encode_prebuilt(spark, sf_dir):
    """Encode the corpus against the PREBUILT vocabulary — the
    per-batch cost a deployment pays (Viterbi over distinct words +
    the word->piece-count pricing join), not the trainer's EM loop."""
    from union_indexer_node_spark.pipelines.textstats import unigram_encode

    d, vocab = _unigram_vocab_prebuilt(spark, sf_dir)
    return unigram_encode(
        d, "text", "doc_id", vocab, max_piece_len=3, max_word_len=8
    )


_IVFPQ_STATE: dict = {}


def _ivfpq_coded_prebuilt(spark, sf_dir):
    """Full write-time IVF-PQ state (cell + residual PQ codes)
    persisted ONCE per sf_dir — the stored partitioned-by-cell code
    table a deployment writes at ingest time (codes are
    query-independent)."""
    if sf_dir not in _IVFPQ_STATE:
        from union_indexer_node_spark import tables
        from union_indexer_node_spark.pipelines.similarity import ivfpq_encode
        from union_indexer_node_spark.queries_r11 import (
            _ivf_fixture_cells,
            _pq_fixture_codebooks,
        )

        emb = tables.load(spark, sf_dir, "embeddings")
        coded = ivfpq_encode(
            emb, _ivf_fixture_cells(), _pq_fixture_codebooks()
        ).persist()
        coded.count()
        _IVFPQ_STATE[sf_dir] = (emb, coded)
    return _IVFPQ_STATE[sf_dir]


def _bench_ivfpq_search_prebuilt(spark, sf_dir):
    """IVF-PQ search against the PREBUILT code table — per-query cost
    only (nprobe cell filters + per-cell LUT + m element_at lookups +
    top-k); no vector math over the corpus at all."""
    from union_indexer_node_spark.pipelines.similarity import ivfpq_topk
    from union_indexer_node_spark.queries_r11 import (
        _PQ_QUERY_VEC,
        _ivf_fixture_cells,
        _pq_fixture_codebooks,
    )

    emb, coded = _ivfpq_coded_prebuilt(spark, sf_dir)
    return ivfpq_topk(
        emb,
        _PQ_QUERY_VEC,
        _ivf_fixture_cells(),
        _pq_fixture_codebooks(),
        nprobe=2,
        topk=10,
        coded=coded,
    )


_SHINGLE_POSTINGS_STATE: dict = {}


def _shingle_postings_prebuilt(spark, sf_dir):
    """The deployment-shape index state for the two set-similarity
    entries, built + persisted ONCE per sf_dir outside any timed
    region (VERDICT r13 item 3): the prefix self-join's FULL AllPairs
    index triple (postings, prefix, sizes — measurement showed the
    df-ordered prefix derivation, not the raw posting table, is the
    composed entry's fixed cost) and the containment probe's
    PRE-CAPPED corpus postings (the stop-shingle drop is index
    maintenance, not per-probe work). Fixtures mirror the registry
    entries exactly."""
    if sf_dir not in _SHINGLE_POSTINGS_STATE:
        from pyspark.sql import functions as F

        from union_indexer_node_spark import tables
        from union_indexer_node_spark.pipelines.dedup import (
            drop_hot_shingles,
            prefix_filter_index,
            shingle_postings,
            tokens,
        )

        docs = tables.load(spark, sf_dir, "documents")
        # prefix_filter_join fixture: evens + 4/5-truncated plants
        base = docs.filter(F.col("doc_id") % 2 == 0)
        t = base.select("doc_id", tokens(F.col("text")).alias("_toks"))
        planted = t.filter(
            (F.col("doc_id") % 6 == 0)
            & (F.expr("(4 * size(_toks)) div 5") >= 3)
        ).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.array_join(
                F.slice("_toks", 1, F.expr("(4 * size(_toks)) div 5")), " "
            ).alias("text"),
        )
        corpus = base.select("doc_id", "text").unionByName(planted)
        index = prefix_filter_index(
            corpus, "text", "doc_id", threshold_permille=500, shingle_n=3
        )
        index = index._replace(
            **{
                k: getattr(index, k).persist()
                for k in ("postings", "prefix", "sizes")
            }
        )
        for f in index.frames:
            f.count()
        # containment_probe fixture: the raw documents corpus,
        # pre-capped at the entry's hot_cap=200
        contain_post = (
            drop_hot_shingles(
                shingle_postings(docs, "text", "doc_id", shingle_n=3),
                hot_cap=200,
            )
            .withColumnRenamed("_id", "corpus_id")
            .persist()
        )
        contain_post.count()
        _SHINGLE_POSTINGS_STATE[sf_dir] = (corpus, index, contain_post)
    return _SHINGLE_POSTINGS_STATE[sf_dir]


def _bench_prefix_filter_join_prebuilt(spark, sf_dir):
    """The exact threshold self-join against the PREBUILT AllPairs
    index (postings + prefix + sizes) — candidate generation +
    postings-domain verification only, the amortizable per-batch
    cost."""
    from union_indexer_node_spark.pipelines.dedup import prefix_filter_join

    corpus, index, _ = _shingle_postings_prebuilt(spark, sf_dir)
    return prefix_filter_join(
        corpus,
        "text",
        "doc_id",
        threshold_permille=500,
        shingle_n=3,
        index=index,
    )


def _bench_containment_probe_prebuilt(spark, sf_dir):
    """The directed containment probe against the PREBUILT PRE-CAPPED
    corpus postings — per-request cost only (probe explode + the
    intersection equi-join; the stop-shingle drop happened at index
    build), the serving shape."""
    from pyspark.sql import functions as F

    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.dedup import (
        containment_probe,
        tokens,
    )

    _, _, contain_post = _shingle_postings_prebuilt(spark, sf_dir)
    docs = tables.load(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("_toks"))
    probe = t.filter(
        (F.col("doc_id") % 5 == 0) & (F.size("_toks") >= 12)
    ).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice("_toks", 1, 12), " ").alias("text"),
    )
    return containment_probe(
        probe,
        docs,
        "text",
        "doc_id",
        shingle_n=3,
        min_containment_permille=600,
        hot_cap=None,  # postings are pre-capped at build (cap 200)
        corpus_postings=contain_post,
    )


EXTRA_BENCH = {
    "trigram_index_build": _bench_trigram_build,
    "search_substring_query": _bench_search_query,
    "searchfeed_bm25_query": _bench_searchfeed_bm25_query,
    "unigram_encode_prebuilt": _bench_unigram_encode_prebuilt,
    "ivfpq_search_prebuilt": _bench_ivfpq_search_prebuilt,
    "prefix_filter_join_prebuilt": _bench_prefix_filter_join_prebuilt,
    "containment_probe_prebuilt": _bench_containment_probe_prebuilt,
}


# ---------------------------------------------------------------------------
# Calibration (round 12 redesign — VERDICT r11 item 3).
#
# The normalizing factor is now derived from a pinned ANCHOR SET of
# untouched workload queries, not from the synthetic probe: round 11
# proved the single md5-probe is noisier than the workload it
# normalizes (probe swung 1.04 -> 1.26 between two same-day runs whose
# 85-query totals agreed within 0.2%). Anchors are real queries from
# the timed loop itself — same I/O mix, same JVM, same scheduler — so
# their drift IS the workload's drift; five of them spanning distinct
# plan shapes (scan-agg, scan-filter, window dedup, pivot, unpivot),
# each median-of-ANCHOR_REPEATS, combined by MEDIAN of the per-anchor
# ratios so one noisy anchor cannot move the factor.
#
# calibration_factor = median_a(timings[a] / ANCHOR_REFERENCE_SEC[a]);
# value_normalized = raw / factor. The references were pinned in round
# 12 as the median of two same-day runs on the reference host class
# (the class every driver round has run on; its probe factor ≈ 1.0).
# An anchor's PLAN changing means re-pinning that anchor's reference
# and documenting it here — anchors must stay untouched code.
#
# The old synthetic probe still runs (pre + post loop) and is emitted
# as probe diagnostics: pre ≈ post ⇒ steady JVM; post >> pre ⇒
# accumulated in-JVM pressure; both high vs PROBE_REFERENCE_SEC ⇒
# genuinely slower host. It no longer normalizes anything.
# ---------------------------------------------------------------------------
ANCHOR_REPEATS = 5
ANCHOR_REFERENCE_SEC = {
    # pinned r12 (median of two same-day runs, reference host class).
    # TEN anchors on purpose: the first five are fast (0.16-0.29 s)
    # and individually carry 5-10% scheduler/page-cache noise even at
    # median-of-5 — a 5-anchor median inherited up to ~8% of it
    # (measured between two otherwise-identical runs whose raw totals
    # agreed to 0.2%). The second five are slower untouched plans
    # (0.6-1.4 s) whose per-run noise is proportionally smaller; the
    # median over all ten is what two same-day runs are expected to
    # agree on within ~5%.
    "tpch_q1_pricing_summary": 0.29,
    "tpch_q6_forecast_revenue": 0.17,
    "w2_lww_latest_event": 0.28,
    "events_pivot_type_counts": 0.18,
    "lineitem_unpivot_measures": 0.17,
    "j9_reply_closure": 0.60,
    "tpch_q7_volume_shipping": 0.83,
    "tpch_q8_market_share": 0.90,
    "dedup_simhash": 1.05,
    "x21_inverted_index_search": 1.37,
    # ELEVENTH anchor, pinned r13 (VERDICT r12 item 4): the first ten
    # are pure-JVM plans, so Python-worker-pool warmup/fork noise —
    # the axis the r12 drift cluster concentrated on
    # (multimodal_media_probe 1.37x, training_dsir_resample 1.22x) —
    # was invisible to the calibration. multimodal_png_probe is a
    # cheap UNTOUCHED (since its r12 perf fix) mapInPandas plan:
    # Arrow-batched header parsing, byte-budget partitioning, no
    # shuffle. Reference = the driver's r12 recorded value on the
    # reference host class (BENCH_r12.json, the same provenance as the
    # probe references). Its ratio enters the same median, so a
    # Python-worker-only slowdown now moves at most 1/11th of the
    # factor yet is visible in anchor_ratios diagnostics.
    "multimodal_png_probe": 0.81,
}

# Dead band: within it the host is the SAME class as the reference and
# the factor is pinned to exactly 1.0 (normalized == raw). Measured
# rationale (r12): consecutive same-host runs put the anchor median
# anywhere in 0.83-1.27 while their raw 94-query totals agreed to
# 0.2-6% — within a host class the "factor" is per-query scheduling
# noise, not a recoverable scalar, and dividing by it ADDS variance.
# The factor's real job is cross-class hosts, where its signal (2x+)
# dwarfs that noise; outside the band the anchor median applies as-is.
# This mechanizes the round-11 closing "rule for readers" (treat
# same-class factors as 1, compare raw; reserve the factor for
# cross-class hosts) inside the tool, so the reader rule is retired.
ANCHOR_DEAD_BAND = (0.67, 1.5)

# The synthetic-probe reference (diagnostics only since r12; history in
# git: pinned 0.6 r6, re-pinned 0.48 r10 after the leak-pressure fix).
CALIBRATION_REFERENCE_SEC = 0.48


def _calibrate(spark) -> float:
    from pyspark.sql import functions as F

    # Release the session state the query loop accumulated before
    # measuring the host: the eager entries (bloom/DSIR/MMR, the
    # trigram prebuilt) leave localCheckpoint/persist RDD blocks in the
    # block manager, and the resulting memory pressure showed up as
    # 1.7-2.3x calibration factors on an IDLE host (r10, measured) —
    # exactly the host-speed signal this probe must not conflate with.
    # Nothing after this point reads any persisted frame.
    try:
        # py4j exposes the java Map as a dict-like view
        for jrdd in list(
            spark.sparkContext._jsc.getPersistentRDDs().values()
        ):
            jrdd.unpersist(True)
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass  # cleanup is best-effort; calibration proceeds regardless

    def one_rep() -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, 30_000_000, 1, 32)
            .select(F.md5(F.col("id").cast("string")).alias("h"))
            .agg(F.count(F.when(F.col("h") > "80", 1)).alias("n"))
            .collect()
        )
        return time.perf_counter() - t0

    # JIT warmup dominates cold measurements (~10x); two untimed reps +
    # the end-of-bench call position keep the timed reps in the warm
    # steady state every round.
    one_rep()
    one_rep()
    return round(statistics.median(one_rep() for _ in range(3)), 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from union_indexer_node_spark import queries as q
    from union_indexer_node_spark.session import get_spark

    spark = get_spark(app_name="bench")
    reg = q.registry()
    names = [n for n in BENCH_QUERIES if n in reg or n in EXTRA_BENCH]

    # pre-loop probe: fresh JVM (post-JIT-warmup inside _calibrate),
    # zero accumulated state — the pure host-speed arm of the dual probe
    cal_pre = _calibrate(spark)

    def query_fn(n):
        return EXTRA_BENCH[n] if n in EXTRA_BENCH else reg[n].fn

    # warmup: schema reads + JVM code paths (and the un-timed persist
    # of the pre-built trigram index, via _bench_search_query)
    for n in names:
        query_fn(n)(spark, sf_dir).limit(1).collect()

    def run_to_completion(df):
        # noop sink executes the full plan (no column pruning shortcut
        # like count(), no driver-side row transfer like collect())
        df.write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    for n in names:
        samples = []
        for _ in range(ANCHOR_REPEATS if n in ANCHOR_REFERENCE_SEC else REPEATS):
            t0 = time.perf_counter()
            run_to_completion(query_fn(n)(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        timings[n] = round(statistics.median(samples), 4)

    cal_post = _calibrate(spark)
    cal = min(cal_pre, cal_post)
    probe_factor = round(cal / CALIBRATION_REFERENCE_SEC, 4)
    anchor_ratios = {
        a: round(timings[a] / ref, 4)
        for a, ref in ANCHOR_REFERENCE_SEC.items()
        if a in timings
    }
    anchor_median = (
        round(statistics.median(anchor_ratios.values()), 4)
        if anchor_ratios
        else probe_factor
    )
    lo, hi = ANCHOR_DEAD_BAND
    factor = anchor_median if not (lo <= anchor_median <= hi) else 1.0
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    total = round(sum(timings.values()), 4)
    subtotals = class_subtotals(timings)
    # detailed per-query line first (for humans / the judge reading the
    # full log) ...
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                # workload self-calibration (r12): divide any raw
                # number by calibration_factor (the anchor-set median
                # ratio, dead-banded to 1.0 for same-class hosts)
                # before comparing across rounds
                "calibration_factor": factor,
                "anchor_median": anchor_median,
                "anchor_ratios": anchor_ratios,
                # synthetic-probe diagnostics (no longer normalizing)
                "probe_factor": probe_factor,
                "calibration_pre_sec": cal_pre,
                "calibration_post_sec": cal_post,
                "value_normalized": round(total / factor, 4),
                # per-class subtotals (r14, VERDICT r13 item 7):
                # cross-round drift triage starts from comparable
                # pools — class-3 entries' individual sf0.1 numbers
                # are fixed-overhead noise, their pool total is not
                "class_subtotals": subtotals,
                "queries_normalized": {
                    n: round(t / factor, 4) for n, t in timings.items()
                },
            }
        )
    )
    # ... then a compact (<200 byte) totals-only line LAST: the driver
    # tails stdout with a bounded buffer and the ~3.5 KB detailed line
    # got truncated mid-line in round 6 (BENCH_r06 "parsed": null), so
    # the final line must stay parseable on its own.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "value_normalized": round(total / factor, 4),
                "calibration_factor": factor,
                "anchor_median": anchor_median,
                "probe_factor": probe_factor,
                "cal_pre": cal_pre,
                "cal_post": cal_post,
                "n_queries": len(timings),
                "class_subtotals": subtotals,
                "sf": sf_val,
            }
        )
    )


if __name__ == "__main__":
    main()
