"""Round-13 additions.

Covers (VERDICT r12 / ADVICE r12 work items):
- item 2: the oracle harness's int-vs-float dtype-parity gate — the
  exact masking that let r12's only two driver fails slip past 522
  green local tests (DuckDB HUGEINT -> pandas float64 corrupting
  >2^53 hash values while tolerance compare shrugged).
- ADVICE medium: follows_op_audit legacy empty-auth op must be labeled
  a drop (spoof), matching build_follows' fold exactly.
- ADVICE low: partial keyset cursor -> clean ValueError.
- ADVICE low: trending_feed rejects a cursor instead of silently
  degrading to skip/limit (related_feed takes no FeedSpec, so there is
  no cursor to ignore there — the api wrapper passes limit only).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.oracle_harness import compare


class TestDtypeParityGate:
    """The harness must flag int64-in-one-engine / float64-in-the-other
    BEFORE tolerance compare can mask a value corrupted by the float
    round-trip (2^53 mantissa limit)."""

    def test_int_vs_float_flags_violation(self):
        # 7.2e16-scale value: float64 cannot hold it exactly, which is
        # precisely the r12 dhash failure mode.
        big = 72057594037927951
        spark_pdf = pd.DataFrame({"id": [1], "h": pd.array([big], dtype="int64")})
        duck_pdf = pd.DataFrame({"id": [1], "h": [float(big)]})
        errs = compare(spark_pdf, duck_pdf, "probe")
        assert any("dtype parity violation" in e for e in errs), errs

    def test_float_vs_int_flags_violation_either_direction(self):
        spark_pdf = pd.DataFrame({"v": [9398.0]})
        duck_pdf = pd.DataFrame({"v": pd.array([9398], dtype="int64")})
        errs = compare(spark_pdf, duck_pdf, "probe")
        assert any("dtype parity violation" in e for e in errs), errs

    def test_matching_int_types_pass(self):
        big = 72057594037927951
        a = pd.DataFrame({"h": pd.array([big], dtype="int64")})
        b = pd.DataFrame({"h": pd.array([big], dtype="int64")})
        assert compare(a, b, "probe") == []

    def test_matching_float_types_still_tolerant(self):
        a = pd.DataFrame({"v": [1.0000000001]})
        b = pd.DataFrame({"v": [1.0]})
        assert compare(a, b, "probe") == []


class TestCursorValidation:
    def test_partial_cursor_clean_error(self):
        from union_indexer_node_spark.operators.api import compile_args

        with pytest.raises(ValueError, match="both created_at and permlink"):
            compile_args({"after": {"created_at": "2024-01-01T00:00:00"}})
        with pytest.raises(ValueError, match="both created_at and permlink"):
            compile_args({"after": {"permlink": "p1"}})

    def test_full_cursor_still_compiles(self):
        from union_indexer_node_spark.operators.api import compile_args

        spec = compile_args(
            {"after": {"created_at": "2024-01-01T00:00:00", "permlink": "p1"}}
        )
        assert spec.after is not None and spec.after[1] == "p1"

    def test_score_cursor_on_recency_arms_clean_error(self, spark):
        """A 3-part (score, ts, permlink) cursor aimed at ANY
        recency-ordered arm must raise the clean validation error, not
        a tuple-unpack crash (self-review r13): social_feed, and
        search_feed's recency fallback — including rankBy=BM25 with a
        term that tokenizes to nothing."""
        import datetime

        from union_indexer_node_spark.operators.feeds import (
            FeedSpec,
            search_feed,
            social_feed,
        )

        posts = spark.createDataFrame(
            [
                (
                    "a", "p", "", "c", "t", "body text",
                    datetime.datetime(2024, 1, 1),
                )
            ],
            "author string, permlink string, parent_author string, "
            "parent_permlink string, title string, body string, "
            "created_at timestamp",
        ).withColumn("flags", F.lit(None).cast("array<string>")).withColumn(
            "TYPE", F.lit("HIVE")
        )
        bad = FeedSpec(
            after=(1.5, datetime.datetime(2024, 1, 1), "p")
        )
        with pytest.raises(ValueError, match="BM25-ranked search arm only"):
            social_feed(posts, bad).collect()
        with pytest.raises(ValueError, match="BM25-ranked search arm only"):
            search_feed(posts, "body", bad).collect()
        # rankBy=BM25 but the term tokenizes to nothing: the silent
        # recency fallback is gone (self-review r13 — it served pages
        # that ignored with_score and rejected BOTH cursor shapes with
        # a misleading arm message); the arm now rejects the termless
        # search itself, before any cursor logic
        with pytest.raises(ValueError, match="tokenizes to no terms"):
            search_feed(posts, "###", bad, rank_by="bm25").collect()

    def test_trending_feed_rejects_cursor(self, spark):
        import datetime

        from union_indexer_node_spark.operators.feeds import (
            FeedSpec,
            trending_feed,
        )

        posts = spark.createDataFrame(
            [("a", "p", "", "c", datetime.datetime(2024, 1, 1), 1.0, None)],
            "author string, permlink string, parent_author string, "
            "parent_permlink string, created_at timestamp, payout double, "
            "flags array<string>",
        )
        spec = FeedSpec(after=(datetime.datetime(2024, 1, 1), "p"))
        with pytest.raises(ValueError, match="recency-ordered feeds only"):
            trending_feed(posts, spec)


class TestPartsuppDerivation:
    """tables.partsupp: the derived relation both engines must agree on
    bit-for-bit — PK uniqueness, cross-engine equality (incl. the IEEE
    supplycost division), and the dbgen containment property
    (every lineitem (partkey, suppkey) pair exists in partsupp) that
    makes the faithful Q9/Q20 joins lossless."""

    @pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
    def test_cross_engine_bit_equality_and_pk(self, spark, sf):
        import duckdb

        from union_indexer_node_spark import tables

        d = f"/root/testdata/{sf}"
        sp = (
            tables.partsupp(spark, d)
            .toPandas()
            .sort_values(["ps_partkey", "ps_suppkey"])
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        for t in ("part", "supplier", "lineitem"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{d}/{t}.parquet')"
            )
        du = con.execute(
            f"WITH {tables.PARTSUPP_CTE.strip()} SELECT * FROM partsupp "
            "ORDER BY ps_partkey, ps_suppkey"
        ).df()
        assert len(sp) == len(du)
        assert sp.duplicated(["ps_partkey", "ps_suppkey"]).sum() == 0
        assert (sp.ps_suppkey.values == du.ps_suppkey.values).all()
        # the division must produce the IDENTICAL double, not a close one
        assert (sp.ps_supplycost.values == du.ps_supplycost.values).all()
        assert (sp.ps_availqty.values == du.ps_availqty.values).all()

    def test_lineitem_containment(self, spark):
        from union_indexer_node_spark import tables

        d = "/root/testdata/sf0.001"
        ps = tables.partsupp(spark, d).select("ps_partkey", "ps_suppkey")
        li = tables.load(spark, d, "lineitem").select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        ).distinct()
        # dbgen property: lineitem pairs ⊆ partsupp
        assert li.join(ps, ["ps_partkey", "ps_suppkey"], "left_anti").count() == 0

    def test_key_pruning_equivalence(self, spark):
        """r15: partsupp(part_keys=K) / partsupp(supp_keys=S) must
        row-for-row equal the unpruned relation semi-joined on the
        same keys — the contract q2/q9/q16/q20 (part side) and q11
        (supplier side) rely on when pushing their filters below the
        containment distinct."""
        from union_indexer_node_spark import tables

        d = "/root/testdata/sf0.001"
        full = tables.partsupp(spark, d)
        pk = tables.load(spark, d, "part").filter(
            F.col("p_partkey") % 7 == 0
        ).select("p_partkey")
        pruned = tables.partsupp(spark, d, part_keys=pk)
        expect = full.join(
            pk.select(F.col("p_partkey").alias("ps_partkey")),
            "ps_partkey",
            "left_semi",
        )
        assert pruned.exceptAll(expect).count() == 0
        assert expect.exceptAll(pruned).count() == 0
        sk = tables.load(spark, d, "supplier").filter(
            F.col("s_suppkey") % 3 == 0
        ).select(F.col("s_suppkey").alias("ps_suppkey"))
        cols = ["ps_partkey", "ps_suppkey", "ps_supplycost", "ps_availqty"]
        pruned_s = tables.partsupp(spark, d, supp_keys=sk).select(cols)
        # exceptAll is positional; the semi-join moves its key first
        expect_s = full.join(sk, "ps_suppkey", "left_semi").select(cols)
        assert pruned_s.exceptAll(expect_s).count() == 0
        assert expect_s.exceptAll(pruned_s).count() == 0


class TestMMRBatchArm:
    """VERDICT r12 item 6: the batch MMR arm must be pick-for-pick and
    score-for-score equal to the serving arm, per query, and must plan
    as ONE distributed pipeline (no per-step driver collects)."""

    def test_batch_equals_serving_per_query(self, spark):
        import pandas as pd

        from union_indexer_node_spark import tables
        from union_indexer_node_spark.pipelines.similarity import (
            mmr_rerank,
            mmr_rerank_batch,
        )

        emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
        qids = (0, 1, 7)
        queries = emb.filter(F.col("vec_id").isin(*qids)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        batch = (
            mmr_rerank_batch(emb, queries, n_candidates=12, k=3, lam=0.7)
            .toPandas()
            .sort_values(["query_id", "pick_idx"])
            .reset_index(drop=True)
        )
        rows = []
        for qid in qids:
            qv = emb.filter(F.col("vec_id") == qid).select(
                "embedding"
            ).head()[0]
            s = mmr_rerank(
                emb, list(qv), n_candidates=12, k=3, lam=0.7
            ).toPandas()
            s.insert(0, "query_id", qid)
            rows.append(s)
        serving = (
            pd.concat(rows)
            .sort_values(["query_id", "pick_idx"])
            .reset_index(drop=True)
        )
        assert batch.equals(serving.astype(batch.dtypes.to_dict()))

    def test_batch_plan_is_single_pipeline(self, spark):
        from union_indexer_node_spark import tables
        from union_indexer_node_spark.pipelines.similarity import (
            mmr_rerank_batch,
        )

        emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        df = mmr_rerank_batch(emb, queries)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # one candidate window + one pandas group stage; the greedy
        # loop must NOT appear as k joins/filters
        assert plan.count("FlatMapGroupsInPandas") == 1
        assert "CartesianProduct" not in plan


class TestBM25KeysetCursor:
    """VERDICT r12 item 7: score-ranked deep pages get an opt-in
    (score, created_at, permlink) keyset; walking the BM25 feed page by
    page reconstructs the exact full ordering with no gap or dup at any
    boundary (including equal-score boundaries); defaults unchanged."""

    def _posts(self, spark):
        from union_indexer_node_spark import tables

        return tables.posts(spark, "/root/testdata/sf0.001")

    def test_bm25_walk_full_ordering_no_gaps_no_dups(self, spark):
        from union_indexer_node_spark.operators.feeds import (
            FeedSpec,
            search_feed,
        )

        posts = self._posts(spark)
        term = "body"
        n = posts.count()
        full = search_feed(
            posts, term, FeedSpec(limit=n + 1), rank_by="bm25",
            with_score=True,
        ).select("author", "permlink", "created_at", "score").collect()
        assert len(full) > 50
        # equal-score boundaries must exist for the walk to prove the
        # tie arms; single-term BM25 over same-length docs yields them
        scores = [r["score"] for r in full]
        assert len(set(scores)) < len(scores)
        for size in (7, 64):
            walked: list[tuple] = []
            cursor = None
            while True:
                page = search_feed(
                    posts,
                    term,
                    FeedSpec(limit=size, after=cursor),
                    rank_by="bm25",
                    with_score=True,
                ).select(
                    "author", "permlink", "created_at", "score"
                ).collect()
                walked.extend((r["author"], r["permlink"]) for r in page)
                if len(page) < size:
                    break
                tail = page[-1]
                cursor = (
                    tail["score"], tail["created_at"], tail["permlink"]
                )
            assert walked == [(r["author"], r["permlink"]) for r in full], size

    def test_bm25_two_part_cursor_still_raises(self, spark):
        import datetime

        from union_indexer_node_spark.operators.feeds import (
            FeedSpec,
            search_feed,
        )

        posts = self._posts(spark)
        with pytest.raises(ValueError, match="recency arm only"):
            search_feed(
                posts,
                "the",
                FeedSpec(limit=5, after=(datetime.datetime(2024, 1, 1), "x")),
                rank_by="bm25",
            )

    def test_bm25_default_page_unchanged(self, spark):
        """No cursor, no with_score: same rows and same schema as
        before the r13 arm (no score column leaks)."""
        from union_indexer_node_spark.operators.feeds import (
            FeedSpec,
            search_feed,
        )

        posts = self._posts(spark)
        page = search_feed(
            posts, "body", FeedSpec(limit=5, skip=5), rank_by="bm25"
        )
        assert "score" not in page.columns
        assert "_key" not in page.columns
        assert page.count() == 5


class TestKMVPairwiseOverlap:
    """KMV set operations: pairwise Jaccard/intersection estimated from
    sketches alone must (a) be exact when sketches are under-full,
    (b) track the true overlap within the KMV error band when
    saturated, and (c) commute with sketch merging (slice sketches
    folded first give the same pair estimates)."""

    def _sketch(self, spark, rows, k):
        from union_indexer_node_spark.operators.sketches import kmv_sketch

        df = spark.createDataFrame(rows, "g string, key long")
        return kmv_sketch(df, ["g"], "key", k=k)

    def test_underfull_is_exact(self, spark):
        from union_indexer_node_spark.operators.sketches import (
            kmv_pairwise_overlap,
        )

        rows = [("a", i) for i in range(40)] + [
            ("b", i) for i in range(20, 80)
        ]
        sk = self._sketch(spark, rows, k=256)
        out = kmv_pairwise_overlap(sk, "g", k=256).collect()[0]
        # under-full: the union sketch IS the union, the match count IS
        # the intersection
        assert out["union_est"] == 80
        assert out["intersect_est"] == 20
        assert out["jaccard_permille"] == 1000 * 20 // 80

    def test_saturated_within_error_band(self, spark):
        from union_indexer_node_spark.operators.sketches import (
            kmv_pairwise_overlap,
        )

        n, overlap, k = 5000, 2000, 256
        rows = [("a", i) for i in range(n)] + [
            ("b", i) for i in range(n - overlap, 2 * n - overlap)
        ]
        sk = self._sketch(spark, rows, k=k)
        out = kmv_pairwise_overlap(sk, "g", k=k).collect()[0]
        true_union = 2 * n - overlap
        assert out["k_used"] == k  # really saturated
        assert abs(out["union_est"] - true_union) / true_union < 0.2
        assert abs(out["intersect_est"] - overlap) / overlap < 0.3

    def test_commutes_with_slice_merge(self, spark):
        from union_indexer_node_spark.operators.sketches import (
            kmv_pairwise_overlap,
            kmv_sketch,
            merge_kmv,
        )

        rows = [("a", i) for i in range(3000)] + [
            ("b", i) for i in range(1500, 4500)
        ]
        df = spark.createDataFrame(rows, "g string, key long")
        whole = kmv_sketch(df, ["g"], "key", k=128)
        s1 = kmv_sketch(df.filter(F.col("key") % 2 == 0), ["g"], "key", k=128)
        s2 = kmv_sketch(df.filter(F.col("key") % 2 == 1), ["g"], "key", k=128)
        folded = merge_kmv(s1, s2, ["g"], k=128)
        a = kmv_pairwise_overlap(whole, "g", k=128).collect()[0]
        b = kmv_pairwise_overlap(folded, "g", k=128).collect()[0]
        assert a.asDict() == b.asDict()


class TestCCIncremental:
    """Incremental connected components must land on EXACTLY the
    labeling a from-scratch solve over the union edge set produces —
    across merges of existing components, batch-born nodes, and
    repeated folds."""

    def _cc_pdf(self, df):
        return (
            df.toPandas()
            .sort_values("node")
            .reset_index(drop=True)
            .astype({"node": "int64", "cluster_id": "int64"})
        )

    def test_fold_equals_full_resolve(self, spark):
        import random

        from union_indexer_node_spark.pipelines.graph import (
            cc_incremental,
            connected_components,
        )

        random.seed(7)
        all_edges = [
            (random.randrange(300), random.randrange(300))
            for _ in range(400)
        ]
        old = spark.createDataFrame(all_edges[:250], "a long, b long")
        new = spark.createDataFrame(all_edges[250:], "a long, b long")
        full = spark.createDataFrame(all_edges, "a long, b long")
        base = connected_components(old, "a", "b")
        inc = self._cc_pdf(cc_incremental(base, new, "a", "b"))
        ref = self._cc_pdf(connected_components(full, "a", "b"))
        assert inc.equals(ref)

    def test_three_fold_chain_and_born_nodes(self, spark):
        from union_indexer_node_spark.pipelines.graph import (
            cc_incremental,
            connected_components,
        )

        # batch 1: two separate chains; batch 2: merges them + a brand
        # new pair; batch 3: bridges the new pair into the big one
        b1 = [(1, 2), (2, 3), (10, 11), (11, 12)]
        b2 = [(3, 10), (100, 101)]
        b3 = [(12, 100)]
        labels = connected_components(
            spark.createDataFrame(b1, "a long, b long"), "a", "b"
        )
        for batch in (b2, b3):
            labels = cc_incremental(
                labels, spark.createDataFrame(batch, "a long, b long"),
                "a", "b",
            )
        ref = connected_components(
            spark.createDataFrame(b1 + b2 + b3, "a long, b long"),
            "a", "b",
        )
        assert self._cc_pdf(labels).equals(self._cc_pdf(ref))
        # everything merged into min-id 1
        assert set(self._cc_pdf(labels).cluster_id) == {1}

    def test_same_component_edge_is_noop(self, spark):
        from union_indexer_node_spark.pipelines.graph import (
            cc_incremental,
            connected_components,
        )

        base_edges = spark.createDataFrame(
            [(1, 2), (2, 3)], "a long, b long"
        )
        labels = connected_components(base_edges, "a", "b")
        out = cc_incremental(
            labels,
            spark.createDataFrame([(1, 3)], "a long, b long"),
            "a", "b",
        )
        assert self._cc_pdf(out).equals(self._cc_pdf(labels))


def test_bm25_cursor_through_graphql(spark):
    """Serving surface for the r13 BM25 cursor: searchFeed(rankBy:
    "BM25") exposes Post.score (nullable SDL field), and a
    CursorInput with a score component pages score-ranked results;
    the walk reconstructs the one-shot ordering."""
    import datetime

    pytest.importorskip("graphql")
    from union_indexer_node_spark.serving import GraphQLService

    base = datetime.datetime(2024, 6, 1)
    rows = []
    # tf ladder with a deliberate equal-score pair (p2a/p2b share tf
    # and doc length; recency+permlink break the tie at the boundary)
    for i, (pl, body) in enumerate(
        [
            ("p4", "alpha alpha alpha alpha pad"),
            ("p3", "alpha alpha alpha pad pad"),
            ("p2a", "alpha alpha pad pad pad"),
            ("p2b", "alpha alpha pad pad pad"),
            ("p1", "alpha pad pad pad pad"),
        ]
    ):
        rows.append(
            ("a", pl, "", "t", "t", body, base - datetime.timedelta(days=i))
        )
    posts = (
        spark.createDataFrame(
            rows,
            "author string, permlink string, parent_author string, "
            "parent_permlink string, title string, body string, "
            "created_at timestamp",
        )
        .withColumn("flags", F.lit(None).cast("array<string>"))
        .withColumn("TYPE", F.lit("HIVE"))
    )
    svc = GraphQLService(posts=posts)
    walked = []
    cursor_arg = ""
    while True:
        res = svc.execute(
            f"""
            query {{
              searchFeed(searchTerm: "alpha", rankBy: "BM25",
                         pagination: {{limit: 2}}{cursor_arg}) {{
                items {{ permlink created_at score }}
              }}
            }}
            """
        )
        assert "errors" not in res, res
        items = res["data"]["searchFeed"]["items"]
        walked.extend(i["permlink"] for i in items)
        if len(items) < 2:
            break
        t = items[-1]
        assert t["score"] is not None
        cursor_arg = (
            f', after: {{score: {t["score"]!r}, '
            f'created_at: "{t["created_at"]}", '
            f'permlink: "{t["permlink"]}"}}'
        )
    assert walked == ["p4", "p3", "p2a", "p2b", "p1"]
    # recency arm unchanged: score resolves null, no error
    res = svc.execute(
        'query { searchFeed(searchTerm: "alpha", '
        "pagination: {limit: 1}) { items { permlink score } } }"
    )
    assert "errors" not in res, res
    assert res["data"]["searchFeed"]["items"][0]["score"] is None


# ---------------------------------------------------------------------------
# sf0.1 streaming soak for the r12-born mergeable-state family
# (VERDICT r12 item 5): the KMV / Count-Min / bottom-k sketches and the
# k-means sufficient statistics are mergeable but were only
# batch-fold-tested. Here each is maintained ACROSS MICRO-BATCHES in a
# foreachBatch stream (the test_round12 BM25/MinHash soak pattern) and
# the stream-maintained state must byte-match the one-shot batch build
# over the full corpus — the property that makes per-ingest-cycle
# sketch maintenance O(batch) instead of O(corpus) at 100 TB.
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


def test_stream_maintained_sketches_match_batch_builds_sf01(
    spark, tmp_path
):
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.operators.sketches import (
        bottomk_sample,
        cm_merge,
        cm_sketch,
        hll_estimate,
        hll_merge,
        hll_registers,
        kmv_sketch,
        merge_kmv,
        sample_quantiles,
    )

    K = 64
    docs = tables.load(spark, SOAK_SF_DIR, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    # three disjoint micro-batches partitioning the corpus
    src = str(tmp_path / "docs_stream")
    for m in (0, 1, 2):
        docs.filter(F.col("doc_id") % 3 == m).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def tokens(df):
        return df.select(
            "source",
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+")
            ).alias("token"),
        ).filter(F.col("token") != "")

    state = {"kmv": None, "cm": None, "sample": None, "hll": None}

    def merge_bottomk(a, b):
        # union + re-rank under bottomk_sample's (hash, id) tiebreak —
        # the KMV merge applied to whole sampled rows
        w = Window.partitionBy("source").orderBy("_h", "doc_id")
        return (
            a.unionByName(b)
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= K)
            .drop("_r")
        )

    def fold(batch_df, batch_id):
        batch = batch_df.localCheckpoint()
        kmv_b = kmv_sketch(batch, ["source"], "doc_id", k=K)
        cm_b = cm_sketch(tokens(batch), "token", w=256, d=4)
        smp_b = bottomk_sample(batch, ["source"], "doc_id", k=K)
        hll_b = hll_registers(tokens(batch), ["source"], "token")
        if state["kmv"] is None:
            state["kmv"], state["cm"], state["sample"] = kmv_b, cm_b, smp_b
            state["hll"] = hll_b
        else:
            state["kmv"] = merge_kmv(state["kmv"], kmv_b, ["source"], k=K)
            state["cm"] = cm_merge(state["cm"], cm_b)
            state["sample"] = merge_bottomk(state["sample"], smp_b)
            state["hll"] = hll_merge(state["hll"], hll_b, ["source"])
        for key in ("kmv", "cm", "sample", "hll"):
            state[key] = state[key].localCheckpoint()

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)

    assert _fingerprint(state["kmv"]) == _fingerprint(
        kmv_sketch(docs, ["source"], "doc_id", k=K)
    )
    assert _fingerprint(state["cm"]) == _fingerprint(
        cm_sketch(tokens(docs), "token", w=256, d=4)
    )
    batch_sample = bottomk_sample(docs, ["source"], "doc_id", k=K)
    assert _fingerprint(state["sample"]) == _fingerprint(batch_sample)
    # HLL: MAX-merged register state equals the whole-corpus build,
    # so the derived estimates agree by construction too
    batch_hll = hll_registers(tokens(docs), ["source"], "token")
    assert _fingerprint(state["hll"]) == _fingerprint(batch_hll)
    assert _fingerprint(
        hll_estimate(state["hll"], ["source"])
    ) == _fingerprint(hll_estimate(batch_hll, ["source"]))
    # ...and a REPLAYED micro-batch is absorbed: MAX-merge is
    # idempotent, so an at-least-once sink delivery cannot corrupt
    # the registers (the property +-merge sketches like CM lack)
    replay = hll_registers(
        tokens(docs.filter(F.col("doc_id") % 3 == 0)), ["source"], "token"
    )
    assert _fingerprint(
        hll_merge(state["hll"], replay, ["source"])
    ) == _fingerprint(batch_hll)
    # ...and the derived quantiles agree too (same sample rows in =>
    # same nearest-rank selections out)
    assert _fingerprint(
        sample_quantiles(state["sample"], ["source"], "n_chars")
    ) == _fingerprint(
        sample_quantiles(batch_sample, ["source"], "n_chars")
    )


def test_stream_maintained_kmeans_suffstats_match_batch_sf01(
    spark, tmp_path
):
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.similarity import (
        kmeans_fold_suffstats,
        kmeans_from_suffstats,
        kmeans_suffstats,
    )
    from union_indexer_node_spark.queries.similarity import _km_fixture_cents

    cents = _km_fixture_cents()
    emb = tables.load(spark, SOAK_SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    src = str(tmp_path / "emb_stream")
    for m in (0, 1, 2):
        emb.filter(F.col("vec_id") % 3 == m).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    state = {"stats": None}

    def fold(batch_df, batch_id):
        s = kmeans_suffstats(batch_df, cents)
        state["stats"] = (
            s if state["stats"] is None
            else kmeans_fold_suffstats(state["stats"], s)
        ).localCheckpoint()

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)

    batch_stats = kmeans_suffstats(emb, cents)
    assert _fingerprint(state["stats"]) == _fingerprint(batch_stats)
    # the derived model is the SAME list the batch update produces
    assert kmeans_from_suffstats(
        state["stats"], cents
    ) == kmeans_from_suffstats(batch_stats, cents)


class TestKeywordTag:
    """Dictionary phrase tagging: FlashText semantics via per-length
    gram enumeration + ONE broadcast equi-join."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _dict(self, spark, rows):
        return spark.createDataFrame(rows, "tag string, phrase string")

    def test_overlapping_occurrences_counted(self, spark):
        from union_indexer_node_spark.pipelines.curation import keyword_tag

        docs = self._docs(spark, [(1, "batch batch batch")])
        d = self._dict(spark, [("rep", "batch batch")])
        out = keyword_tag(docs, d, "text", "doc_id").collect()
        assert len(out) == 1
        assert out[0]["n_matches"] == 2  # positions 1 and 2 overlap
        assert out[0]["first_pos"] == 1

    def test_same_tag_phrases_aggregate(self, spark):
        from union_indexer_node_spark.pipelines.curation import keyword_tag

        docs = self._docs(spark, [(1, "sort merge join uses hash join")])
        d = self._dict(
            spark, [("joins", "hash join"), ("joins", "sort merge join")]
        )
        row = keyword_tag(docs, d, "text", "doc_id").collect()[0]
        # one trigram match at pos 1 + one bigram match at pos 5
        assert row["n_matches"] == 2
        assert row["first_pos"] == 1

    def test_word_boundary_and_case_fold(self, spark):
        from union_indexer_node_spark.pipelines.curation import keyword_tag

        docs = self._docs(
            spark, [(1, "sparkling water"), (2, "SPARK rules"), (3, None)]
        )
        d = self._dict(spark, [("eng", "spark")])
        out = {r["doc_id"]: r for r in
               keyword_tag(docs, d, "text", "doc_id").collect()}
        assert set(out) == {2}  # substring of 'sparkling' must NOT hit
        assert out[2]["n_matches"] == 1 and out[2]["first_pos"] == 1

    def test_empty_dictionary_raises(self, spark):
        from union_indexer_node_spark.pipelines.curation import keyword_tag

        docs = self._docs(spark, [(1, "x")])
        d = self._dict(spark, [("t", "!!!")])  # tokenizes to nothing
        with pytest.raises(ValueError, match="dictionary"):
            keyword_tag(docs, d, "text", "doc_id")

    def test_plan_is_broadcast_join_no_cartesian(self, spark):
        from union_indexer_node_spark.pipelines.curation import keyword_tag

        docs = self._docs(spark, [(1, "hash join")])
        d = self._dict(spark, [("j", "hash join"), ("e", "spark")])
        plan = keyword_tag(
            docs, d, "text", "doc_id"
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan


class TestNgramNovelty:
    """First-occurrence bigram novelty permille."""

    def _run(self, spark, rows, n=2):
        from union_indexer_node_spark.pipelines.curation import ngram_novelty

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            r["doc_id"]: r
            for r in ngram_novelty(df, "text", "doc_id", n=n).collect()
        }

    def test_hand_computed_fractions(self, spark):
        out = self._run(
            spark, [(1, "a b c"), (2, "a b c d"), (3, "q r")]
        )
        # doc1 first: both grams novel
        assert (out[1]["n_grams"], out[1]["n_novel"]) == (2, 2)
        assert out[1]["novelty_permille"] == 1000
        # doc2: 'a b','b c' seen in doc1; only 'c d' novel -> 333‰ floor
        assert (out[2]["n_grams"], out[2]["n_novel"]) == (3, 1)
        assert out[2]["novelty_permille"] == 333
        # doc3 disjoint vocabulary: fully novel
        assert out[3]["novelty_permille"] == 1000

    def test_within_doc_repeats_counted_once(self, spark):
        out = self._run(spark, [(1, "x y x y x y")])
        # distinct grams: 'x y', 'y x' — not 5 positional grams
        assert out[1]["n_grams"] == 2

    def test_short_docs_absent(self, spark):
        out = self._run(spark, [(1, "solo"), (2, ""), (3, "a b")])
        assert set(out) == {3}

    def test_tie_goes_to_smaller_id_only(self, spark):
        out = self._run(spark, [(5, "m n"), (9, "m n")])
        assert out[5]["n_novel"] == 1
        assert out[9]["n_novel"] == 0
        assert out[9]["novelty_permille"] == 0


class TestHilbertKey:
    """Hilbert layout key: canonical xy2d walk, linear projection
    chain (never one nested expression)."""

    @staticmethod
    def _xy2d(n, x, y):
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x = n - 1 - x
                    y = n - 1 - y
                x, y = y, x
            s //= 2
        return d

    def _grid(self, spark, bits):
        from union_indexer_node_spark.pipelines.layout import (
            hilbert_key_frame,
        )

        n = 1 << bits
        grid = spark.createDataFrame(
            [(x, y) for x in range(n) for y in range(n)], "x long, y long"
        )
        return {
            (r["x"], r["y"]): r["hval"]
            for r in hilbert_key_frame(
                grid, F.col("x"), F.col("y"), bits=bits
            ).collect()
        }

    def test_matches_reference_walk(self, spark):
        for bits in (1, 3):
            n = 1 << bits
            ref = {
                (x, y): self._xy2d(n, x, y)
                for x in range(n)
                for y in range(n)
            }
            assert self._grid(spark, bits) == ref

    def test_consecutive_cells_are_grid_adjacent(self, spark):
        # THE Hilbert property (and what Morton lacks): walking the key
        # order never jumps — every step moves one grid cell.
        out = self._grid(spark, 3)
        by_d = {d: xy for xy, d in out.items()}
        assert sorted(by_d) == list(range(64))
        for d in range(63):
            (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
            assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, by_d[d], by_d[d + 1])

    def test_plan_is_linear_not_exploded(self, spark):
        from union_indexer_node_spark.pipelines.layout import (
            hilbert_key_frame,
        )

        df = spark.range(4).select(
            F.col("id").alias("x"), (F.col("id") * 3).alias("y")
        )
        keyed = hilbert_key_frame(df, F.col("x"), F.col("y"), bits=16)
        # the optimized plan must stay bounded: a collapsed nested
        # expression would be ~3^16 nodes and a multi-MB string
        plan = keyed._jdf.queryExecution().optimizedPlan().toString()
        assert len(plan) < 2_000_000, len(plan)
        assert "UDF" not in plan

    def test_wrap_mask_contract(self, spark):
        from union_indexer_node_spark.pipelines.layout import (
            hilbert_key_frame,
        )

        n = 1 << 3
        df = spark.createDataFrame(
            [(1 + n, 2), (1, 2 + 2 * n)], "x long, y long"
        )
        vals = [
            r["hval"]
            for r in hilbert_key_frame(
                df, F.col("x"), F.col("y"), bits=3
            ).collect()
        ]
        assert vals[0] == vals[1] == self._xy2d(n, 1, 2)


class TestR13ReviewFixes:
    """Regression pins for the round-13 self-review findings."""

    def test_mmr_batch_survives_zero_vector_and_matches_serving(
        self, spark
    ):
        # a zero-magnitude embedding used to raise ZeroDivisionError in
        # the pandas cosine (the JVM arm yields NaN) and sort to the
        # WRONG end (pandas puts NaN last, Spark's desc puts it first)
        from union_indexer_node_spark.pipelines.similarity import (
            mmr_rerank,
            mmr_rerank_batch,
        )

        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 0.0, 0.0]),  # degenerate
            (3, [0.0, 1.0, 0.0]),
            (4, [0.5, 0.5, 0.0]),
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        serving = [
            (r["vec_id"], r["pick_idx"])
            for r in mmr_rerank(
                emb, [1.0, 0.0, 0.0], n_candidates=5, k=3, lam=0.7
            ).collect()
        ]
        queries = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0])], "query_id long, query_vec array<double>"
        )
        batch = [
            (r["vec_id"], r["pick_idx"])
            for r in mmr_rerank_batch(
                emb, queries, n_candidates=5, k=3, lam=0.7
            ).collect()
        ]
        assert sorted(batch, key=lambda t: t[1]) == sorted(
            serving, key=lambda t: t[1]
        )

    def test_bm25_arm_rejects_termless_search(self, spark, sf_dir):
        from union_indexer_node_spark import tables
        from union_indexer_node_spark.operators.feeds import (
            FeedSpec,
            search_feed,
        )

        posts = tables.posts(spark, sf_dir)
        with pytest.raises(ValueError, match="tokenizes to no terms"):
            search_feed(
                posts, "!!!", FeedSpec(limit=5), rank_by="bm25"
            )
        # the recency arm still serves termless searches
        assert (
            search_feed(posts, "!!!", FeedSpec(limit=5)).count() == 5
        )

    def test_kmv_pairwise_derived_k_matches_explicit(self, spark):
        from union_indexer_node_spark.operators.sketches import (
            kmv_pairwise_overlap,
            kmv_sketch,
        )

        df = spark.createDataFrame(
            [(f"g{i % 3}", f"k{j}") for i in range(3) for j in range(i * 40, i * 40 + 60)],
            "g string, key string",
        )
        sk = kmv_sketch(df, ["g"], "key", k=16)
        explicit = sorted(
            map(tuple, kmv_pairwise_overlap(sk, "g", k=16).collect())
        )
        derived = sorted(
            map(tuple, kmv_pairwise_overlap(sk, "g").collect())
        )
        assert derived == explicit

    def test_keyword_tag_single_corpus_scan(self, spark, tmp_path):
        from union_indexer_node_spark.pipelines.curation import keyword_tag

        p = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(1, "hash join beats sort merge join")],
            "doc_id long, text string",
        ).write.parquet(p)
        docs = spark.read.parquet(p)
        d = spark.createDataFrame(
            [("a", "join"), ("b", "hash join"), ("c", "sort merge join")],
            "tag string, phrase string",
        )
        out = keyword_tag(docs, d, "text", "doc_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        # one corpus scan for all three phrase lengths (a per-length
        # union would show three file scans of docs.parquet)
        assert plan.count("docs.parquet") <= 1, plan
        got = {(r["tag"], r["n_matches"]) for r in out.collect()}
        assert got == {("a", 2), ("b", 1), ("c", 1)}


class TestLSHRecallEval:
    """Measured banding recall vs exact Jaccard, by similarity band."""

    def test_hand_built_bands_and_sampling(self, spark):
        from union_indexer_node_spark.pipelines.dedup import lsh_recall_eval

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        near = base.replace("kappa", "lambda")  # high-J neighbor
        rows = [
            (0, base),
            (3, near),            # in sample (mod 3), J(base, near) high
            (6, "one two three four five six seven eight nine ten"),
            (7, base),            # OUT of sample — must not join pairs
            (9, base + " extra"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["band_lo"]: r
            for r in lsh_recall_eval(
                df, "text", "doc_id", sample_mod=3
            ).collect()
        }
        # every in-sample pair that shares a shingle involves docs
        # {0, 3, 9} only; doc 7 (base verbatim, id % 3 != 0) is outside
        # the sample so no J=1000 pair exists
        n_pairs = sum(r["n_pairs"] for r in out.values())
        assert n_pairs == 3  # (0,3), (0,9), (3,9)
        top = max(out)
        assert out[top]["recall_permille"] == 1000
        for r in out.values():
            assert 0 <= r["n_caught"] <= r["n_pairs"]

    def test_no_cartesian_in_plan(self, spark):
        from union_indexer_node_spark.pipelines.dedup import lsh_recall_eval

        df = spark.createDataFrame(
            [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(12)],
            "doc_id long, text string",
        )
        plan = lsh_recall_eval(
            df, "text", "doc_id", sample_mod=2
        )._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_hilbert_layout_plans_one_range_exchange(spark):
    # placement parity with zorder_layout: one range exchange + sort
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.layout import hilbert_layout

    li = tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    out = hilbert_layout(li, "l_partkey", "l_suppkey", n_files=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan
    assert plan.lower().count("exchange") == 1, plan
    assert "Sort" in plan


class TestR13ReviewFixesSecondPass:
    """Second self-review pass: NaN-vs-NULL ordering in batch MMR and
    the derived-k floor in KMV pairwise overlap."""

    def test_mmr_batch_matches_serving_with_nan_component(self, spark):
        # a TRUE NaN component (corrupt upstream normalization) must
        # rank FIRST under desc (Spark: NaN > everything), while a
        # NULL rel (zero vector) ranks LAST — both arms must agree
        from union_indexer_node_spark.pipelines.similarity import (
            mmr_rerank,
            mmr_rerank_batch,
        )

        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [float("nan"), 1.0, 0.0]),  # true NaN rel
            (3, [0.0, 0.0, 0.0]),           # NULL rel (zero vector)
            (4, [0.5, 0.5, 0.0]),
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        serving = {
            r["pick_idx"]: r["vec_id"]
            for r in mmr_rerank(
                emb, [1.0, 0.0, 0.0], n_candidates=5, k=3, lam=0.7
            ).collect()
        }
        queries = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0])],
            "query_id long, query_vec array<double>",
        )
        batch = {
            r["pick_idx"]: r["vec_id"]
            for r in mmr_rerank_batch(
                emb, queries, n_candidates=5, k=3, lam=0.7
            ).collect()
        }
        assert batch == serving
        assert serving[1] == 2  # the NaN row outranks everything

    def test_kmv_derived_single_rank_raises_explicit_k_exact(self, spark):
        # single-hash groups used to derive k=1, whose "estimator"
        # (k-1)*SPACE/kth is identically 0 — union_est=0 next to
        # jaccard_permille=1000, a self-contradictory row. Derivation
        # can't tell a saturated k=1 BUILD (unestimable) from tiny
        # complete sketches (exact), so it refuses; the caller who
        # knows the build k passes it and gets the exact arm.
        from union_indexer_node_spark.operators.sketches import (
            kmv_pairwise_overlap,
            kmv_sketch,
        )

        df = spark.createDataFrame(
            [("a", "samekey"), ("b", "samekey")], "g string, key string"
        )
        sk = kmv_sketch(df, ["g"], "key", k=64)
        with pytest.raises(ValueError, match="single rank"):
            kmv_pairwise_overlap(sk, "g")
        row = kmv_pairwise_overlap(sk, "g", k=64).collect()[0]
        assert row["jaccard_permille"] == 1000
        assert row["union_est"] == 1
        assert row["intersect_est"] == 1


class TestRendezvousShard:
    """HRW sharding: uniform-ish spread, and THE property — resharding
    n -> n+1 moves only the keys won by the new shard."""

    def test_reshard_moves_only_to_the_new_shard(self, spark):
        from union_indexer_node_spark.pipelines.training import (
            rendezvous_shard,
        )

        df = spark.range(0, 2000).select(F.col("id").alias("k"))
        s8 = {r["k"]: r["shard"] for r in
              rendezvous_shard(df, "k", n_shards=8).collect()}
        s9 = {r["k"]: r["shard"] for r in
              rendezvous_shard(df, "k", n_shards=9).collect()}
        moved = {k for k in s8 if s8[k] != s9[k]}
        # every moved key lands on the NEW shard; nothing reshuffles
        # among the old 8
        assert all(s9[k] == 8 for k in moved)
        # expected 1/9 of keys move; allow a generous band
        assert 0.05 < len(moved) / len(s8) < 0.20, len(moved)
        # modulus sharding would remap ~8/9 — the motivation
        mod_moved = sum(1 for k in s8 if k % 8 != k % 9)
        assert mod_moved / len(s8) > 0.8

    def test_spread_and_determinism(self, spark):
        from collections import Counter

        from union_indexer_node_spark.pipelines.training import (
            rendezvous_shard,
        )

        df = spark.range(0, 1000).select(F.col("id").alias("k"))
        a = {r["k"]: r["shard"] for r in
             rendezvous_shard(df, "k", n_shards=8).collect()}
        b = {r["k"]: r["shard"] for r in
             rendezvous_shard(df, "k", n_shards=8).collect()}
        assert a == b
        counts = Counter(a.values())
        assert set(counts) == set(range(8))
        assert max(counts.values()) < 3 * min(counts.values())

    def test_rejects_zero_shards(self, spark):
        from union_indexer_node_spark.pipelines.training import (
            rendezvous_shard,
        )

        with pytest.raises(ValueError):
            rendezvous_shard(
                spark.range(1).select(F.col("id").alias("k")),
                "k",
                n_shards=0,
            )


# ---------------------------------------------------------------------------
# Property tests: the r13 curation/sharding operators vs pure-Python
# references, over adversarial token material (unicode, punctuation
# runs, case, empty docs). Small example counts — each example spins
# Spark jobs.
# ---------------------------------------------------------------------------
import re as _re

from hypothesis import given, settings
from hypothesis import strategies as st


def _py_tokens(text):
    return [t for t in _re.split(r"[^a-z0-9]+", (text or "").lower()) if t]


_WORDS = ["spark", "join", "hash", "Batch", "a1", "ß", "-", "!!", "ω9"]
_doc_st = st.lists(st.sampled_from(_WORDS), max_size=12).map(" ".join)
_phrase_st = st.lists(
    st.sampled_from(["spark", "join", "hash", "batch", "a1"]),
    min_size=1,
    max_size=3,
).map(" ".join)


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(_doc_st, min_size=1, max_size=5),
    phrases=st.lists(_phrase_st, min_size=1, max_size=4, unique=True),
)
def test_keyword_tag_matches_python_reference(spark, texts, phrases):
    from union_indexer_node_spark.pipelines.curation import keyword_tag

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    d = spark.createDataFrame(
        [(f"t{j}", p) for j, p in enumerate(phrases)],
        "tag string, phrase string",
    )
    got = {
        (r["doc_id"], r["tag"]): (r["n_matches"], r["first_pos"])
        for r in keyword_tag(docs, d, "text", "doc_id").collect()
    }
    want = {}
    for i, t in enumerate(texts):
        toks = _py_tokens(t)
        for j, p in enumerate(phrases):
            ptoks = _py_tokens(p)
            hits = [
                pos + 1
                for pos in range(len(toks) - len(ptoks) + 1)
                if toks[pos : pos + len(ptoks)] == ptoks
            ]
            if hits:
                # unique phrases => unique tags => each key visited once
                want[(i, f"t{j}")] = (len(hits), hits[0])
    assert got == want


@settings(max_examples=8, deadline=None)
@given(texts=st.lists(_doc_st, min_size=1, max_size=6))
def test_ngram_novelty_matches_python_reference(spark, texts):
    from union_indexer_node_spark.pipelines.curation import ngram_novelty

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_permille"])
        for r in ngram_novelty(docs, "text", "doc_id", n=2).collect()
    }
    gram_sets = {}
    for i, t in enumerate(texts):
        toks = _py_tokens(t)
        if len(toks) >= 2:
            gram_sets[i] = {
                (toks[p], toks[p + 1]) for p in range(len(toks) - 1)
            }
    first = {}
    for i in sorted(gram_sets):
        for g in gram_sets[i]:
            first.setdefault(g, i)
    want = {}
    for i, gs in gram_sets.items():
        nov = sum(1 for g in gs if first[g] == i)
        want[i] = (len(gs), nov, (1000 * nov) // len(gs))
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    keys=st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    n_shards=st.integers(min_value=1, max_value=6),
)
def test_rendezvous_matches_python_md5_argmax(spark, keys, n_shards):
    import hashlib

    from union_indexer_node_spark.pipelines.training import rendezvous_shard

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r["k"]: r["shard"]
        for r in rendezvous_shard(df, "k", n_shards=n_shards).collect()
    }
    want = {
        k: max(
            range(n_shards),
            key=lambda s: (
                hashlib.md5(f"{k}#{s}".encode()).hexdigest(),
                -s,
            ),
        )
        for k in keys
    }
    assert got == want


class TestGapFill:
    """Dense time-grid LOCF gap filling."""

    def _run(self, spark, rows, gran="hour"):
        import datetime as _dt

        from union_indexer_node_spark.operators.temporal import gap_fill

        df = spark.createDataFrame(
            [
                (k, _dt.datetime(2024, 1, 1) + _dt.timedelta(hours=h), v)
                for k, h, v in rows
            ],
            "k long, ts timestamp, value double",
        )
        return gap_fill(df, "ts", "k", "value", granularity=gran).collect()

    def test_gaps_filled_with_last_value(self, spark):
        out = sorted(
            self._run(spark, [(1, 0, 1.0), (1, 3, 2.5), (1, 0, 0.5)]),
            key=lambda r: r["bucket"],
        )
        # hours 0..3 all present; 0 sums both events (150 cents)
        assert [r["bucket"][-5:] for r in out] == [
            "00:00", "01:00", "02:00", "03:00"
        ]
        assert [r["value_cents"] for r in out] == [150, 150, 150, 250]
        assert [r["observed"] for r in out] == [True, False, False, True]

    def test_per_key_spans_are_independent(self, spark):
        out = self._run(spark, [(1, 0, 1.0), (1, 2, 1.0), (2, 5, 3.0)])
        by_key = {}
        for r in out:
            by_key.setdefault(r["k"], []).append(r)
        assert len(by_key[1]) == 3  # hours 0,1,2
        assert len(by_key[2]) == 1  # its own single-bucket span
        assert by_key[2][0]["observed"]

    def test_variable_width_granularity_rejected(self, spark):
        with pytest.raises(ValueError, match="fixed-width"):
            self._run(spark, [(1, 0, 1.0)], gran="month")


class TestTriangleCount:
    """triangle_count (pipelines/training.py): per-node triangle
    participation via degree-ordered orientation."""

    def _counts(self, spark, edges):
        from union_indexer_node_spark.pipelines.graph import (
            triangle_count,
        )

        df = spark.createDataFrame(edges, "a long, b long")
        out = triangle_count(df, "a", "b").collect()
        return {r["node"]: r["tri_cnt"] for r in out}

    def _expected(self, edges):
        import itertools

        und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        nodes = sorted({n for e in und for n in e})
        cnt: dict = {}
        for a, b, c in itertools.combinations(nodes, 3):
            if {(a, b), (a, c), (b, c)} <= und:
                for n in (a, b, c):
                    cnt[n] = cnt.get(n, 0) + 1
        return cnt

    def test_k4_plus_hub_matches_brute_force(self, spark):
        # K4 on 1..4 (4 triangles, 3 per node) plus a hub wired to all
        # of them (6 more, one per K4 edge) — the skew shape the
        # degree orientation exists for; duplicate, reversed, and
        # self-loop edges exercise canonicalization
        k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
        hub = [(100, x) for x in range(1, 5)]
        noise = [(2, 1), (1, 1), (100, 100), (1, 2), (4, 100)]
        edges = k4 + hub + noise
        assert self._counts(spark, edges) == self._expected(edges)

    def test_triangle_free_graph_is_empty(self, spark):
        # a path and a 4-cycle have no triangles
        edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 13), (13, 10)]
        assert self._counts(spark, edges) == {}

    def test_two_disjoint_triangles(self, spark):
        edges = [(1, 2), (2, 3), (1, 3), (7, 8), (8, 9), (9, 7)]
        assert self._counts(spark, edges) == {n: 1 for n in (1, 2, 3, 7, 8, 9)}

    def test_plan_has_no_cartesian(self, spark):
        from union_indexer_node_spark.pipelines.graph import (
            triangle_count,
        )

        df = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "a long, b long")
        plan = triangle_count(df, "a", "b")._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestHllSketch:
    """Explicit-register HLL (operators/sketches.py): MAX-mergeable
    fixed-size distinct sketch with an integer estimator."""

    def _regs(self, spark, rows):
        from union_indexer_node_spark.operators.sketches import (
            hll_registers,
        )

        df = spark.createDataFrame(rows, "g string, k string")
        return hll_registers(df, ["g"], "k")

    def test_merge_of_slices_equals_whole(self, spark):
        from union_indexer_node_spark.operators.sketches import (
            hll_merge,
        )

        rows = [("g", f"key-{i}") for i in range(3000)]
        a = self._regs(spark, rows[:1300])
        b = self._regs(spark, rows[1300:])
        merged = {
            (r["bucket"], r["rho"])
            for r in hll_merge(a, b, ["g"]).collect()
        }
        whole = {
            (r["bucket"], r["rho"]) for r in self._regs(spark, rows).collect()
        }
        assert merged == whole

    def test_duplicates_absorbed_without_predistinct(self, spark):
        once = self._regs(spark, [("g", f"k{i}") for i in range(500)])
        thrice = self._regs(
            spark, [("g", f"k{i}") for i in range(500)] * 3
        )
        assert sorted(map(tuple, once.collect())) == sorted(
            map(tuple, thrice.collect())
        )

    def test_estimate_within_sketch_error_band(self, spark):
        from union_indexer_node_spark.operators.sketches import (
            hll_estimate,
        )

        n = 5000
        regs = self._regs(spark, [("g", f"key-{i}") for i in range(n)])
        row = hll_estimate(regs, ["g"]).collect()[0]
        # m=256 -> stderr ~6.5%; 4 sigma for a deterministic test
        assert abs(row["est_distinct"] - n) < 0.26 * n
        assert 0 <= row["n_zero"] < 256

    def test_register_state_is_bounded(self, spark):
        regs = self._regs(spark, [("g", f"key-{i}") for i in range(20000)])
        assert regs.count() <= 256


class TestCanonicalUrl:
    """canonical_url / url_dedup (pipelines/curation.py)."""

    CASES = [
        # (messy, canonical)
        ("HTTPS://WWW.Example.COM:443/A/b/?utm_source=x&q=1#frag",
         "https://example.com/A/b?q=1"),
        ("http://example.com:80/path", "http://example.com/path"),
        ("http://example.com:8080/path", "http://example.com:8080/path"),
        ("https://example.com:80/path", "https://example.com:80/path"),
        ("https://host.com///", "https://host.com"),
        ("https://host.com/p?fbclid=abc&gclid=1&utm_medium=m",
         "https://host.com/p"),
        ("https://host.com/p?b=2&utm_a=1&a=1", "https://host.com/p?b=2&a=1"),
        ("ftp://Files.example.com/Data", "ftp://files.example.com/Data"),
        ("https://www.host.com/p#only-frag", "https://www.host.com/p"
         .replace("www.", "")),
    ]

    def test_hand_written_cases(self, spark):
        from union_indexer_node_spark.pipelines.curation import (
            canonical_url,
        )

        df = spark.createDataFrame(
            [(m,) for m, _ in self.CASES], "url string"
        )
        got = [
            r["c"]
            for r in df.select(
                canonical_url(F.col("url")).alias("c")
            ).collect()
        ]
        assert got == [c for _, c in self.CASES]

    def test_dedup_keeps_min_id_and_counts(self, spark):
        from union_indexer_node_spark.pipelines.curation import url_dedup

        rows = [
            (1, "https://a.com/x?utm_source=1"),
            (2, "https://WWW.A.com/x/"),
            (3, "https://a.com/y"),
        ]
        df = spark.createDataFrame(rows, "id long, url string")
        out = {
            r["canonical_url"]: (r["keeper_id"], r["n_dups"])
            for r in url_dedup(df, "url", "id").collect()
        }
        assert out == {
            "https://a.com/x": (1, 2),
            "https://a.com/y": (3, 1),
        }


class TestTokenEntropy:
    """token_entropy (pipelines/textstats.py)."""

    def _run(self, spark, rows):
        from union_indexer_node_spark.pipelines.textstats import (
            token_entropy,
        )

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            r["doc_id"]: (r["n_tokens"], r["entropy_permille"])
            for r in token_entropy(df, "text", "doc_id").collect()
        }

    def test_degenerate_and_uniform(self, spark):
        out = self._run(
            spark,
            [
                (1, "spam spam spam spam"),        # H = 0
                (2, "a b c d e f g h"),            # uniform 8 -> 3.0 bits
                (3, "one"),                        # single token -> 0
                (4, "  . , !"),                    # no tokens -> absent
            ],
        )
        assert out[1] == (4, 0)
        assert out[2] == (8, 3000)
        assert out[3] == (1, 0)
        assert 4 not in out

    def test_hand_computed_mixed(self, spark):
        import math

        text = "x x x y y z"  # counts 3,2,1 of n=6
        n = 6
        h = -(3 / n * math.log2(3 / n) + 2 / n * math.log2(2 / n)
              + 1 / n * math.log2(1 / n))
        out = self._run(spark, [(1, text)])
        assert out[1][0] == 6
        assert abs(out[1][1] - h * 1000) <= 1

    def test_partitioning_invariant(self, spark):
        # per-term integer rounding makes the fold associative: the
        # same doc split across many partitions folds to the same value
        rows = [(1, " ".join(f"w{i % 37}" for i in range(500)))]
        one = self._run(spark, rows)
        df = spark.createDataFrame(rows * 1, "doc_id long, text string")
        from union_indexer_node_spark.pipelines.textstats import (
            token_entropy,
        )

        many = {
            r["doc_id"]: (r["n_tokens"], r["entropy_permille"])
            for r in token_entropy(
                df.repartition(16), "text", "doc_id"
            ).collect()
        }
        assert one == many


class TestMultiprobeRecall:
    """probe_masks / multiprobe_recall (pipelines/ann_lsh.py)."""

    def test_mask_enumeration(self):
        from union_indexer_node_spark.pipelines.ann_lsh import probe_masks

        m2 = probe_masks(8, 2)
        assert len(m2) == 1 + 8 + 28
        assert m2[0] == (0, 0)
        assert {pc for _, pc in m2} == {0, 1, 2}
        # every mask unique, popcount honest
        assert len({m for m, _ in m2}) == len(m2)
        assert all(bin(m).count("1") == pc for m, pc in m2)

    def test_recall_and_candidates_monotone_in_radius(self, spark):
        from union_indexer_node_spark import tables
        from union_indexer_node_spark.queries.similarity import _ANN_PLANES
        from union_indexer_node_spark.pipelines.ann_lsh import (
            multiprobe_recall,
        )

        emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.filter(F.col("vec_id") % 29 == 0)
        rows = multiprobe_recall(
            emb, queries, _ANN_PLANES, k=5, radii=(0, 1, 2)
        ).collect()
        assert [r["radius"] for r in rows] == [0, 1, 2]
        cands = [r["cand_pairs"] for r in rows]
        recalls = [r["recall_permille"] for r in rows]
        assert cands == sorted(cands)
        assert recalls == sorted(recalls)
        assert all(0 <= x <= 1000 for x in recalls)
        # radius-2 must probe strictly more than the exact bucket
        assert cands[2] > cands[0]


class TestClusterSplit:
    """cluster_split (pipelines/training.py): leakage-safe splits."""

    def _fixture(self, spark):
        # 40 originals, each with an exact duplicate under another id
        rows = [(i, f"text body {i}") for i in range(40)] + [
            (1000 + i, f"text body {i}") for i in range(40)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        keyed = df.select("doc_id", F.md5(F.col("text")).alias("_h"))
        reps = keyed.groupBy("_h").agg(F.min("doc_id").alias("rep"))
        return keyed.join(reps, "_h")

    def test_dup_pairs_never_straddle(self, spark):
        from union_indexer_node_spark.pipelines.training import (
            cluster_split,
        )

        out = cluster_split(self._fixture(spark), "rep").collect()
        by_rep: dict = {}
        for r in out:
            by_rep.setdefault(r["rep"], set()).add(r["split"])
        assert all(len(s) == 1 for s in by_rep.values())
        assert len(by_rep) == 40

    def test_id_keyed_split_would_leak_this_fixture(self, spark):
        # the contrast that justifies the operator: hash_split on the
        # row id puts at least one planted dup pair on opposite sides
        # (deterministic — md5 draws are fixed for these ids)
        from union_indexer_node_spark.pipelines.training import hash_split

        out = hash_split(
            self._fixture(spark), "doc_id",
            val_permille=100, test_permille=100,
        ).collect()
        split_of = {r["doc_id"]: r["split"] for r in out}
        leaks = sum(
            1 for i in range(40) if split_of[i] != split_of[1000 + i]
        )
        assert leaks >= 1

    def test_permille_boundaries_respected(self, spark):
        from union_indexer_node_spark.pipelines.training import (
            cluster_split,
        )

        out = cluster_split(
            self._fixture(spark), "rep",
            val_permille=500, test_permille=500,
        ).collect()
        assert {r["split"] for r in out} <= {"val", "test"}


class TestOhlcRollup:
    """ohlc_rollup (operators/temporal.py)."""

    def _run(self, spark, rows, gran="hour"):
        from union_indexer_node_spark.operators.temporal import ohlc_rollup

        df = spark.createDataFrame(
            rows, "k long, ts timestamp, seq long, v double"
        )
        out = ohlc_rollup(df, "ts", "k", "v", "seq", granularity=gran)
        return {
            (r["k"], r["bucket"]): (
                r["open_c"], r["high_c"], r["low_c"], r["close_c"], r["n_obs"]
            )
            for r in out.collect()
        }

    def test_hand_computed_candle(self, spark):
        import datetime as dt

        t = dt.datetime(2024, 1, 1, 9)
        rows = [
            (1, t + dt.timedelta(minutes=5), 1, 3.00),
            (1, t + dt.timedelta(minutes=20), 2, 7.50),
            (1, t + dt.timedelta(minutes=40), 3, 1.25),
            (1, t + dt.timedelta(minutes=55), 4, 4.00),
            (1, t + dt.timedelta(hours=2), 5, 9.99),  # separate bucket
        ]
        out = self._run(spark, rows)
        assert out[(1, "2024-01-01 09:00")] == (300, 750, 125, 400, 4)
        assert out[(1, "2024-01-01 11:00")] == (999, 999, 999, 999, 1)

    def test_tied_timestamps_break_on_seq(self, spark):
        import datetime as dt

        t = dt.datetime(2024, 1, 1, 9)
        rows = [
            (1, t, 2, 5.00),
            (1, t, 1, 2.00),  # same ts, lower seq -> the open
            (1, t, 3, 8.00),  # same ts, highest seq -> the close
        ]
        out = self._run(spark, rows)
        assert out[(1, "2024-01-01 09:00")] == (200, 800, 200, 800, 3)

    def test_keys_independent(self, spark):
        import datetime as dt

        t = dt.datetime(2024, 1, 1, 9)
        rows = [(1, t, 1, 1.0), (2, t, 2, 9.0)]
        out = self._run(spark, rows)
        assert out[(1, "2024-01-01 09:00")][0] == 100
        assert out[(2, "2024-01-01 09:00")][0] == 900


class TestContainmentProbe:
    """containment_probe (pipelines/dedup.py): directed quote/excerpt
    detection from a shingle equi-join."""

    def _run(self, spark, probes, corpus, **kw):
        from union_indexer_node_spark.pipelines.dedup import (
            containment_probe,
        )

        p = spark.createDataFrame(probes, "doc_id long, text string")
        c = spark.createDataFrame(corpus, "doc_id long, text string")
        return {
            (r["probe_id"], r["corpus_id"]): r["containment_permille"]
            for r in containment_probe(p, c, "text", "doc_id", **kw).collect()
        }

    def test_excerpt_fully_contained_asymmetric(self, spark):
        corpus = [(1, "alpha beta gamma delta epsilon zeta eta theta")]
        probes = [(100, "beta gamma delta epsilon")]  # 2 shingles, both in 1
        out = self._run(
            spark, probes, corpus, min_containment_permille=500
        )
        assert out == {(100, 1): 1000}

    def test_unrelated_below_threshold(self, spark):
        corpus = [(1, "alpha beta gamma delta epsilon zeta")]
        probes = [(100, "one two three four five six")]
        assert self._run(spark, probes, corpus) == {}

    def test_partial_containment_permille(self, spark):
        # probe has 4 shingles; exactly 2 appear in the corpus doc
        corpus = [(1, "a b c d x y z w q")]
        probes = [(100, "a b c d e f")]  # shingles: abc bcd cde def
        out = self._run(
            spark, probes, corpus, min_containment_permille=100
        )
        assert out == {(100, 1): 500}

    def test_hot_cap_only_undercounts(self, spark):
        # the same shingle in 3 corpus docs with hot_cap=2: dropped
        # from postings -> containment undercounted, never invented
        corpus = [
            (1, "a b c d e"),
            (2, "a b c q r"),
            (3, "a b c s t"),
        ]
        probes = [(100, "a b c d e")]
        capped = self._run(
            spark, probes, corpus, hot_cap=2, min_containment_permille=0
        )
        uncapped = self._run(
            spark, probes, corpus, hot_cap=100, min_containment_permille=0
        )
        assert uncapped[(100, 1)] == 1000
        # 'a b c' (df=3) dropped: 2 of 3 probe shingles remain findable
        assert capped[(100, 1)] == 666
        assert all(
            capped[k] <= uncapped.get(k, 0) for k in capped
        )


class TestWeightedReservoir:
    """weighted_bottomk (operators/sketches.py): A-ES weighted sample
    without replacement."""

    def test_inclusion_tracks_weight(self, spark):
        from union_indexer_node_spark.operators.sketches import (
            weighted_bottomk,
        )

        # 300 groups, each {heavy w=9, light w=1}, k=1: heavy should
        # win ~90% of groups (deterministic md5 draws; 4-sigma band)
        rows = []
        for g in range(300):
            rows.append((g, g * 2, 9.0))
            rows.append((g, g * 2 + 1, 1.0))
        df = spark.createDataFrame(rows, "g long, id long, w double")
        out = weighted_bottomk(df, ["g"], "id", "w", k=1).collect()
        heavy_wins = sum(1 for r in out if r["id"] % 2 == 0)
        assert len(out) == 300
        assert 248 <= heavy_wins <= 295  # E=270, sigma~5.2

    def test_slice_merge_equals_whole(self, spark):
        from union_indexer_node_spark.operators.sketches import (
            weighted_bottomk,
        )

        rows = [(0, i, float(1 + i % 7)) for i in range(400)]
        df = spark.createDataFrame(rows, "g long, id long, w double")
        whole = {
            r["id"]
            for r in weighted_bottomk(df, ["g"], "id", "w", k=20).collect()
        }
        a = weighted_bottomk(
            df.filter(F.col("id") % 2 == 0), ["g"], "id", "w", k=20
        )
        b = weighted_bottomk(
            df.filter(F.col("id") % 2 == 1), ["g"], "id", "w", k=20
        )
        from pyspark.sql import Window as W

        u = a.unionByName(b)
        w_ = W.partitionBy("g").orderBy(F.desc("_wk"), "id")
        merged = {
            r["id"]
            for r in u.withColumn("_r", F.row_number().over(w_))
            .filter(F.col("_r") <= 20)
            .collect()
        }
        assert merged == whole

    def test_nonpositive_weight_raises(self, spark):
        from union_indexer_node_spark.operators.sketches import (
            weighted_bottomk,
        )

        df = spark.createDataFrame(
            [(0, 1, 2.0), (0, 2, 0.0)], "g long, id long, w double"
        )
        with pytest.raises(Exception, match="non-positive weight"):
            weighted_bottomk(df, ["g"], "id", "w", k=5).collect()


class TestReferentialAudit:
    """referential_audit (pipelines/curation.py)."""

    def test_orphans_nulls_and_clean_relation(self, spark):
        from union_indexer_node_spark.pipelines.curation import (
            referential_audit,
        )

        child = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 99), (4, None), (5, 20)],
            "id long, fk long",
        )
        parent = spark.createDataFrame(
            [(10,), (20,), (20,)], "pk long"  # duplicated parent key
        )
        out = {
            r["relation"]: (r["n_rows"], r["n_null_fk"], r["n_orphans"])
            for r in referential_audit(
                [("c->p", child, "fk", parent, "pk")]
            ).collect()
        }
        # fk=20 twice against a DUPLICATED parent key must count each
        # child row once (anti-join, not join)
        assert out == {"c->p": (5, 1, 1)}

    def test_empty_relations_raise(self, spark):
        from union_indexer_node_spark.pipelines.curation import (
            referential_audit,
        )

        with pytest.raises(ValueError):
            referential_audit([])


_scheme_st = st.sampled_from(["http", "HTTP", "https", "HTTPS", "ftp"])
_host_st = st.sampled_from(
    ["Example.COM", "www.Example.com", "WWW.host.io", "a.b.c.net"]
)
_port_st = st.sampled_from(["", ":80", ":443", ":8080"])
_path_st = st.sampled_from(["", "/", "/A/b", "/A/b/", "/x//", "/p.q"])
_query_st = st.lists(
    st.sampled_from(
        ["q=1", "utm_source=x", "fbclid=7", "a=b", "ref=z", "z="]
    ),
    max_size=4,
).map(lambda ps: "?" + "&".join(ps) if ps else "")
_frag_st = st.sampled_from(["", "#f", "#a/b?c"])


@settings(max_examples=10, deadline=None)
@given(
    parts=st.tuples(
        _scheme_st, _host_st, _port_st, _path_st, _query_st, _frag_st
    )
)
def test_canonical_url_idempotent_and_scrubbed(spark, parts):
    from union_indexer_node_spark.pipelines.curation import canonical_url

    url = "{}://{}{}{}{}{}".format(*parts)
    df = spark.createDataFrame([(url,)], "url string")
    once = df.select(canonical_url(F.col("url")).alias("c"))
    row = once.select(
        "c", canonical_url(F.col("c")).alias("c2")
    ).collect()[0]
    # idempotent: canonicalizing a canonical URL is the identity
    assert row["c"] == row["c2"]
    # no tracking params, no fragments, no www., lowercase scheme+host
    c = row["c"]
    assert "#" not in c and "utm_" not in c and "fbclid" not in c
    scheme, rest = c.split("://", 1)
    assert scheme == scheme.lower()
    host = rest.split("/", 1)[0].split("?", 1)[0]
    assert host == host.lower() and not host.startswith("www.")


@settings(max_examples=8, deadline=None)
@given(texts=st.lists(_doc_st, min_size=1, max_size=6))
def test_token_entropy_matches_python_reference(spark, texts):
    import math

    from union_indexer_node_spark.pipelines.textstats import token_entropy

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["entropy_permille"])
        for r in token_entropy(docs, "text", "doc_id").collect()
    }
    want = {}
    for i, t in enumerate(texts):
        toks = _py_tokens(t)
        if not toks:
            continue
        n = len(toks)
        counts = {}
        for tok in toks:
            counts[tok] = counts.get(tok, 0) + 1
        tsum = sum(round(c * math.log2(c) * 10000) for c in counts.values())
        e4 = round(n * math.log2(n) * 10000) - tsum
        want[i] = (n, (1000 * e4) // (n * 10000))
    assert got == want


class TestPrefixFilterJoin:
    """prefix_filter_join (pipelines/dedup.py): exact threshold
    set-similarity join — completeness is the whole point."""

    def _brute(self, rows, t, n=3):
        def sh(text):
            toks = _py_tokens(text)
            return {
                " ".join(toks[i : i + n])
                for i in range(len(toks) - n + 1)
            }

        sets = {i: sh(t_) for i, t_ in rows}
        out = {}
        ids = sorted(sets)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                if not sets[a] or not sets[b]:
                    continue
                inter = len(sets[a] & sets[b])
                j = inter / len(sets[a] | sets[b])
                # unrounded threshold, rounded display — the engine's
                # boundary semantics (prefix bound holds for true J)
                if j >= t:
                    out[(a, b)] = round(j, 6)
        return out

    def _spark(self, spark, rows, tp):
        from union_indexer_node_spark.pipelines.dedup import (
            prefix_filter_join,
        )

        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            (r["a"], r["b"]): r["jaccard"]
            for r in prefix_filter_join(
                df, "text", "doc_id", threshold_permille=tp
            ).collect()
        }

    def test_near_dup_family_complete(self, spark):
        rows = [
            (1, "alpha beta gamma delta epsilon zeta eta"),
            (2, "alpha beta gamma delta epsilon zeta theta"),  # ~0.67
            (3, "alpha beta gamma delta epsilon"),             # subset
            (4, "one two three four five six seven"),          # unrelated
            (5, "one two three four five six seven"),          # exact dup
        ]
        got = self._spark(spark, rows, 500)
        want = self._brute(rows, 0.5)
        assert got == want
        assert (4, 5) in got and got[(4, 5)] == 1.0

    def test_threshold_excludes_weak_pairs(self, spark):
        rows = [
            (1, "a b c d e f g h i j"),
            (2, "a b c d x y z w q r"),  # small overlap
        ]
        got = self._spark(spark, rows, 900)
        assert got == self._brute(rows, 0.9) == {}


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["red", "blue", "green", "gold", "gray"]),
            min_size=3,
            max_size=8,
        ).map(" ".join),
        min_size=2,
        max_size=6,
    )
)
def test_prefix_filter_join_matches_brute_force(spark, texts):
    # tiny vocab -> dense overlaps: the adversarial case for prefix
    # completeness (hot shingles, many boundary-threshold pairs)
    rows = [(i, t) for i, t in enumerate(texts)]
    tc = TestPrefixFilterJoin()
    assert tc._spark(spark, rows, 400) == tc._brute(rows, 0.4)


class TestReviewFixesR13Session2:
    """Regression pins for the continuation-session review findings."""

    def test_non_absolute_urls_pass_through(self, spark):
        from union_indexer_node_spark.pipelines.curation import (
            canonical_url,
            url_dedup,
        )

        raw = [
            "mailto:a@b.com",
            "javascript:void(0)",
            "example.com/x?a=1",
            "relative/path?a=1",
        ]
        df = spark.createDataFrame([(u,) for u in raw], "url string")
        got = [
            r["c"]
            for r in df.select(canonical_url(F.col("url")).alias("c")).collect()
        ]
        assert got == raw  # identity, never a shared degenerate key
        ids = spark.createDataFrame(
            [(i, u) for i, u in enumerate(raw)], "id long, url string"
        )
        assert url_dedup(ids, "url", "id").count() == 4

    def test_hll_null_keys_are_no_observation(self, spark):
        from union_indexer_node_spark.operators.sketches import (
            hll_estimate,
            hll_registers,
        )

        clean = [("g", f"k{i}") for i in range(2000)]
        dirty = clean + [("g", None)] * 3
        r_clean = hll_registers(
            spark.createDataFrame(clean, "g string, k string"), ["g"], "k"
        )
        r_dirty = hll_registers(
            spark.createDataFrame(dirty, "g string, k string"), ["g"], "k"
        )
        assert sorted(map(tuple, r_clean.collect())) == sorted(
            map(tuple, r_dirty.collect())
        )
        e = hll_estimate(r_dirty, ["g"]).collect()[0]
        assert abs(e["est_distinct"] - 2000) < 0.26 * 2000

    def test_multiprobe_emits_empty_radius_rows(self, spark):
        from union_indexer_node_spark.queries.similarity import _ANN_PLANES
        from union_indexer_node_spark.pipelines.ann_lsh import (
            multiprobe_recall,
        )

        # corpus and queries engineered into distant buckets: corpus
        # vectors all-positive, query all-negative -> opposite signs
        # on most hyperplanes; radius 0 can catch nothing
        corpus = spark.createDataFrame(
            [(i, [1.0] * 64) for i in range(5)],
            "vec_id long, embedding array<double>",
        )
        queries = spark.createDataFrame(
            [(100, [-1.0] * 64)], "vec_id long, embedding array<double>"
        )
        rows = multiprobe_recall(
            corpus, queries, _ANN_PLANES, k=3, radii=(0, 1)
        ).collect()
        assert [r["radius"] for r in rows] == [0, 1]
        assert rows[0]["cand_pairs"] == 0
        assert rows[0]["recall_permille"] == 0

    def test_ohlc_rejects_variable_width_granularity(self, spark):
        from union_indexer_node_spark.operators.temporal import ohlc_rollup

        df = spark.createDataFrame(
            [], "k long, ts timestamp, seq long, v double"
        )
        with pytest.raises(ValueError, match="fixed-width"):
            ohlc_rollup(df, "ts", "k", "v", "seq", granularity="month")


class TestFuzzyEditMatch:
    """fuzzy_edit_match (pipelines/dedup.py): blocked thresholded
    Levenshtein."""

    def _run(self, spark, rows, max_edits=3):
        from union_indexer_node_spark.pipelines.dedup import (
            fuzzy_edit_match,
        )

        df = spark.createDataFrame(
            rows, "doc_id long, text string, blk string"
        )
        return {
            (r["a"], r["b"]): r["edit_distance"]
            for r in fuzzy_edit_match(
                df, "text", "doc_id", ["blk"], max_edits=max_edits
            ).collect()
        }

    def test_exact_distances_within_block(self, spark):
        rows = [
            (1, "kitten", "k"),
            (2, "sitting", "k"),   # classic distance 3
            (3, "kitten!", "k"),   # distance 1
            (4, "kitten", "other"),  # right text, wrong block
        ]
        out = self._run(spark, rows, max_edits=3)
        assert out == {(1, 2): 3, (1, 3): 1, (2, 3): 3}

    def test_beyond_threshold_excluded(self, spark):
        rows = [(1, "aaaaaaaa", "k"), (2, "bbbbbbbb", "k")]
        assert self._run(spark, rows, max_edits=3) == {}

    def test_length_prune_consistent_with_threshold(self, spark):
        # len diff 5 > max_edits 3: pruned before any cell work, and
        # correctly so (length delta lower-bounds edit distance)
        rows = [(1, "abc", "k"), (2, "abcdefgh", "k")]
        assert self._run(spark, rows, max_edits=3) == {}


class TestReviewFixesR13Session2b:
    """Second-pass review pins: empty-child audit zeros, empty-
    authority URL pass-through, NULL-fk salting result parity."""

    def test_empty_child_reports_zeros_not_null(self, spark):
        from union_indexer_node_spark.pipelines.curation import (
            referential_audit,
        )

        child = spark.createDataFrame([], "id long, fk long")
        parent = spark.createDataFrame([(1,)], "pk long")
        row = referential_audit(
            [("c->p", child, "fk", parent, "pk")]
        ).collect()[0]
        assert (row["n_rows"], row["n_null_fk"], row["n_orphans"]) == (
            0,
            0,
            0,
        )

    def test_empty_authority_urls_stay_distinct(self, spark):
        from union_indexer_node_spark.pipelines.curation import (
            canonical_url,
        )

        raw = ["file:///etc/a", "file:///var/b", "file://host/etc/a"]
        df = spark.createDataFrame([(u,) for u in raw], "url string")
        got = [
            r["c"]
            for r in df.select(
                canonical_url(F.col("url")).alias("c")
            ).collect()
        ]
        # empty-authority forms pass through; the real-host form
        # canonicalizes
        assert got == ["file:///etc/a", "file:///var/b", "file://host/etc/a"]

    def test_null_fk_salting_preserves_counts(self, spark):
        from union_indexer_node_spark.pipelines.curation import (
            referential_audit,
        )

        child = spark.createDataFrame(
            [(i, None if i % 2 == 0 else i % 5) for i in range(40)],
            "id long, fk long",
        ).repartition(8)
        parent = spark.createDataFrame([(0,), (1,), (2,)], "pk long")
        row = referential_audit(
            [("c->p", child, "fk", parent, "pk")]
        ).collect()[0]
        # 20 NULLs (even i); odd i carry fk = i%5 cycling
        # {1,3,0,2,4}: values 0/1/2 match the parent set, values 3
        # (i=3,13,23,33) and 4 (i=9,19,29,39) are orphaned -> 8
        assert (row["n_rows"], row["n_null_fk"], row["n_orphans"]) == (
            40,
            20,
            8,
        )


class TestHllRollupLattice:
    """hll_rollup (operators/sketches.py): registers built at the
    finest grain serve every coarser grain by MAX-folding."""

    def _keyed(self, spark):
        rows = []
        for d in range(4):
            for h in range(6):
                for i in range(40):
                    rows.append(
                        (f"d{d}", f"d{d}h{h}", f"key-{(d * 311 + h * 37 + i) % 900}")
                    )
        return spark.createDataFrame(rows, "day string, hour string, key string")

    def test_hour_to_day_equals_direct_daily(self, spark):
        from union_indexer_node_spark.operators.sketches import (
            hll_registers,
            hll_rollup,
        )

        keyed = self._keyed(spark)
        hourly = hll_registers(keyed, ["day", "hour"], "key")
        rolled = {
            tuple(r)
            for r in hll_rollup(hourly, ["day"]).collect()
        }
        direct = {
            tuple(r)
            for r in hll_registers(keyed, ["day"], "key").collect()
        }
        assert rolled == direct

    def test_chain_to_global_equals_direct(self, spark):
        from union_indexer_node_spark.operators.sketches import (
            hll_estimate,
            hll_registers,
            hll_rollup,
        )

        keyed = self._keyed(spark)
        hourly = hll_registers(keyed, ["day", "hour"], "key")
        via_day = hll_rollup(hll_rollup(hourly, ["day"]), [])
        direct = hll_registers(keyed, [], "key")
        assert sorted(map(tuple, via_day.collect())) == sorted(
            map(tuple, direct.collect())
        )
        est = hll_estimate(via_day, []).collect()[0]
        # true cardinality by enumeration (the (d*311+h*37+i) % 900
        # walk does NOT cover all 900 residues — review r13)
        truth = len(
            {
                (d * 311 + h * 37 + i) % 900
                for d in range(4)
                for h in range(6)
                for i in range(40)
            }
        )
        assert abs(est["est_distinct"] - truth) < 0.3 * truth


class TestSourceScorecard:
    """source_scorecard (pipelines/curation.py)."""

    def test_hand_computed_report(self, spark):
        from union_indexer_node_spark.pipelines.curation import (
            source_scorecard,
        )

        rows = [
            (1, "a b c d e f g h", "s1"),      # uniform 8 -> 3000
            (2, "a b c d e f g h", "s1"),      # exact dup of 1
            (3, "spam spam spam spam", "s1"),  # entropy 0
            (4, "x " * 60, "s2"),              # long, entropy 0
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {
            r["source"]: (
                r["n_docs"],
                r["dup_permille"],
                r["mean_entropy_permille"],
                r["short_permille"],
                r["mean_chars"],
            )
            for r in source_scorecard(df, "text", "doc_id", "source").collect()
        }
        # s1: 3 docs, 2 distinct -> dup 333; entropies 3000,3000,0 -> 2000
        assert out["s1"] == (3, 333, 2000, 1000, 16)  # 49 chars div 3
        # s2: 1 doc, 120 chars (trailing space), no dups, entropy 0
        assert out["s2"] == (1, 0, 0, 0, 120)

    def test_source_with_no_tokens_reports_zero_entropy(self, spark):
        from union_indexer_node_spark.pipelines.curation import (
            source_scorecard,
        )

        df = spark.createDataFrame(
            [(1, "... !!!", "s")], "doc_id long, text string, source string"
        )
        row = source_scorecard(df, "text", "doc_id", "source").collect()[0]
        assert row["mean_entropy_permille"] == 0 and row["n_docs"] == 1


class TestAsofTolerance:
    """asof_join(tolerance_seconds=): pandas merge_asof staleness
    semantics, default arm byte-unchanged."""

    def _run(self, spark, tol):
        import datetime as dt

        from union_indexer_node_spark.operators.temporal import asof_join

        t = dt.datetime(2024, 1, 1, 12)
        left = spark.createDataFrame(
            [(1, t), (1, t + dt.timedelta(hours=3))], "k long, ts timestamp"
        )
        right = spark.createDataFrame(
            [(1, t - dt.timedelta(minutes=30), 7.0)],
            "k long, ts timestamp, v double",
        )
        return {
            r["ts"]: r["asof_v"]
            for r in asof_join(
                left, right, ["k"], payload=["v"], tolerance_seconds=tol
            ).collect()
        }

    def test_stale_match_nulled_fresh_kept(self, spark):
        import datetime as dt

        t = dt.datetime(2024, 1, 1, 12)
        out = self._run(spark, 3600)
        assert out[t] == 7.0                                  # 30 min old
        assert out[t + dt.timedelta(hours=3)] is None         # 3.5 h old

    def test_no_tolerance_keeps_everything(self, spark):
        import datetime as dt

        from union_indexer_node_spark.operators.temporal import asof_join

        t = dt.datetime(2024, 1, 1, 12)
        left = spark.createDataFrame(
            [(1, t + dt.timedelta(hours=3))], "k long, ts timestamp"
        )
        right = spark.createDataFrame(
            [(1, t, 7.0)], "k long, ts timestamp, v double"
        )
        row = asof_join(left, right, ["k"], payload=["v"]).collect()[0]
        assert row["asof_v"] == 7.0

    def test_boundary_is_inclusive(self, spark):
        import datetime as dt

        t = dt.datetime(2024, 1, 1, 12)
        out = self._run(spark, 1800)  # match exactly tol old
        assert out[t] == 7.0


@settings(max_examples=8, deadline=None)
@given(
    lefts=st.lists(
        st.integers(min_value=0, max_value=500), min_size=1, max_size=12
    ),
    rights=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            # None payloads pin ROW semantics: the value of the
            # matched row, never a backfill from an older one
            st.one_of(
                st.none(), st.integers(min_value=1, max_value=99)
            ),
        ),
        min_size=0,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    tol=st.sampled_from([None, 30, 120]),
)
def test_asof_join_matches_pandas_merge_asof(spark, lefts, rights, tol):
    """Third formulation: the union+LOCF-window as-of (engine) and
    DuckDB's native ASOF (oracle) both also agree with pandas
    merge_asof on random fixtures, tolerance and NULL payloads
    included."""
    import datetime as dt

    import pandas as pd

    from union_indexer_node_spark.operators.temporal import asof_join

    t0 = dt.datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=s), i) for i, s in enumerate(lefts)],
        "k long, ts timestamp, lid long",
    )
    rdf = spark.createDataFrame(
        [
            (1, t0 + dt.timedelta(seconds=s),
             None if v is None else float(v))
            for s, v in rights
        ],
        "k long, ts timestamp, v double",
    )
    kw = {"tolerance_seconds": tol} if tol is not None else {}
    got = {
        r["lid"]: r["asof_v"]
        for r in asof_join(ldf, rdf, ["k"], payload=["v"], **kw).collect()
    }
    lp = pd.DataFrame(
        {
            "ts": [t0 + dt.timedelta(seconds=s) for s in lefts],
            "lid": range(len(lefts)),
        }
    ).sort_values("ts")
    rp = pd.DataFrame(
        {
            # explicit datetime dtype: an EMPTY list would otherwise
            # infer float64 and merge_asof rejects the key mismatch
            "ts": pd.to_datetime(
                [t0 + dt.timedelta(seconds=s) for s, _ in rights]
            ),
            "v": pd.array(
                [None if v is None else float(v) for _, v in rights],
                dtype="float64",
            ),
        }
    ).sort_values("ts")
    merged = pd.merge_asof(
        lp,
        rp,
        on="ts",
        direction="backward",
        **(
            {"tolerance": pd.Timedelta(seconds=tol)}
            if tol is not None
            else {}
        ),
    )
    want = {
        int(r.lid): (None if pd.isna(r.v) else float(r.v))
        for r in merged.itertuples()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),        # key
            st.integers(min_value=0, max_value=400_000),  # seconds
            st.integers(min_value=-500, max_value=500),   # cents
        ),
        min_size=1,
        max_size=25,
    ),
    days=st.sampled_from([1, 3]),
)
def test_moving_window_agg_matches_brute_force(spark, events, days):
    """Independent O(n^2) reference for the trailing RANGE frame:
    every row's count/sum over [ts - days, ts] inclusive, equal-ts
    peers included (RANGE semantics)."""
    import datetime as dt

    from union_indexer_node_spark.operators.temporal import (
        moving_window_agg,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (k, t0 + dt.timedelta(seconds=s), c / 100.0) for k, s, c in events
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    got = sorted(
        (r["k"], r["ts"], r["n_trailing"], r["sum_trailing_cents"])
        for r in moving_window_agg(df, "k", "ts", "v", days=days).collect()
    )
    win = days * 86_400
    want = sorted(
        (
            k,
            t0 + dt.timedelta(seconds=s),
            sum(
                1
                for k2, s2, _ in events
                if k2 == k and s - win <= s2 <= s
            ),
            sum(
                c2
                for k2, s2, c2 in events
                if k2 == k and s - win <= s2 <= s
            ),
        )
        for k, s, c in events
    )
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),         # key
            st.integers(min_value=0, max_value=20_000),    # seconds
        ),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    gap_min=st.sampled_from([5, 30]),
)
def test_sessionize_matches_brute_force(spark, events, gap_min):
    """Independent Python reference: sort a key's events, cut where
    the gap STRICTLY exceeds the threshold (a gap of exactly
    gap_minutes stays in-session), emit (start, end, n) per session."""
    import datetime as dt

    from union_indexer_node_spark.operators.temporal import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [(k, t0 + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(events)]
    df = spark.createDataFrame(rows, "k long, ts timestamp, eid long")
    got = sorted(
        (r["k"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize(
            df, "k", "ts", gap_minutes=gap_min, tiebreak_col="eid"
        ).collect()
    )
    gap_s = gap_min * 60
    want = []
    for k in {k for k, _ in events}:
        ts = sorted(s for k2, s in events if k2 == k)
        sessions = [[ts[0]]]
        for prev, cur in zip(ts, ts[1:]):
            if cur - prev > gap_s:
                sessions.append([cur])
            else:
                sessions[-1].append(cur)
        for sess in sessions:
            want.append(
                (
                    k,
                    t0 + dt.timedelta(seconds=sess[0]),
                    t0 + dt.timedelta(seconds=sess[-1]),
                    len(sess),
                )
            )
    assert got == sorted(want)
