"""Round-14 tests.

Part 1 — ADVICE r13 regression pins:
- canonical_url: mixed-case / valueless tracking params are scrubbed,
  and non-tracking params whose name merely starts with 'ref'
  survive (the (=|$) boundary).
- weighted_bottomk: the ``_wk`` rank-key column is part of the return
  contract (sample_weighted_reservoir and slice-merging depend on it).
- asof_join: a payload column named '__mts' raises at plan build
  instead of silently corrupting the tolerance gate.

Part 2 — VERDICT r13 item 5: the incremental connected-components
soak (foreachBatch micro-batches folded into a stored labeling,
byte-equal to the from-scratch solve after every batch).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SOAK_SF_DIR = "/root/testdata/sf0.1"


def _fingerprint(df):
    cols = sorted(df.columns)
    row = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))
    return (
        df.select(row.alias("h"))
        .agg(F.md5(F.concat_ws("", F.sort_array(F.collect_list("h")))))
        .collect()[0][0]
    )


def test_stream_maintained_cc_labels_match_scratch_solve_sf01(
    spark, tmp_path
):
    """VERDICT r13 item 5: cc_incremental had batch fold-equality tests
    but no foreachBatch soak. Here the labeling is maintained ACROSS
    MICRO-BATCHES of streamed edges (the r12/r13 soak pattern) and the
    stream-maintained state must byte-match the from-scratch
    connected_components solve over ALL edges — the property that makes
    per-ingest-cycle dedup-cluster maintenance O(batch), not O(graph),
    at 100 TB. The edge fixture is graph_cc_incremental's (events-
    derived hashed endpoints, ~2k-node near-dense graph at sf0.1)."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.graph import (
        cc_incremental,
        connected_components,
    )

    edges = (
        tables.load(spark, SOAK_SF_DIR, "events")
        .filter(F.col("event_id") % 37 == 0)
        .select(
            "event_id",
            ((F.col("user_id") * 13) % 1999).alias("a"),
            ((F.col("user_id") * 7 + F.col("event_id")) % 1999).alias("b"),
        )
    )
    src = str(tmp_path / "edges_stream")
    for m in (0, 1, 2, 3):  # four disjoint micro-batches
        edges.filter(F.col("event_id") % 4 == m).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    state = {"labels": None}

    def fold(batch_df, batch_id):
        batch = batch_df.select("a", "b").localCheckpoint()
        if state["labels"] is None:
            state["labels"] = connected_components(batch, "a", "b")
        else:
            state["labels"] = cc_incremental(
                state["labels"], batch, "a", "b"
            )
        state["labels"] = state["labels"].localCheckpoint()

    q = (
        spark.readStream.schema(edges.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination returns False on timeout WITHOUT raising — a
    # silent partial fold would fail later with a baffling fingerprint
    # mismatch (review r14)
    assert q.awaitTermination(600)

    scratch = connected_components(edges.select("a", "b"), "a", "b")
    assert _fingerprint(state["labels"]) == _fingerprint(scratch)
    # a REPLAYED micro-batch is absorbed: folding already-merged edges
    # finds every endpoint labeled with its (shared) min, so the
    # super-node graph is all self-loops and the labeling is unchanged
    # — at-least-once delivery cannot corrupt the store
    replayed = cc_incremental(
        state["labels"],
        edges.filter(F.col("event_id") % 4 == 2).select("a", "b"),
        "a",
        "b",
    )
    assert _fingerprint(replayed) == _fingerprint(state["labels"])


def test_stream_maintained_canonical_edges_serve_triangle_count_sf01(
    spark, tmp_path
):
    """VERDICT r13 item 5's 'ideally' clause: triangle_count
    maintenance via its canonical-edge frame. The store is the
    canonical (deduped, undirected) edge frame; the per-batch fold is
    an ANTI-JOIN of the batch's canonicalized edges against the store
    plus an append — O(batch) probe work, never a re-distinct over the
    whole graph — and triangle_count over the maintained store must
    byte-match the from-scratch solve over all raw edges."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.graph import triangle_count

    edges = (
        tables.load(spark, SOAK_SF_DIR, "events")
        .filter(F.col("event_id") % 53 == 0)
        .select(
            "event_id",
            ((F.col("user_id") * 11) % 997).alias("a"),
            ((F.col("user_id") * 5 + F.col("event_id")) % 997).alias("b"),
        )
    )
    src = str(tmp_path / "tri_edges_stream")
    for m in (0, 1, 2):
        edges.filter(F.col("event_id") % 3 == m).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    state = {"canon": None}

    def canonize(df):
        return (
            df.select(
                F.least("a", "b").alias("_x"),
                F.greatest("a", "b").alias("_y"),
            )
            .filter(F.col("_x") != F.col("_y"))
            .distinct()
        )

    def fold(batch_df, batch_id):
        batch_canon = canonize(batch_df.localCheckpoint())
        if state["canon"] is None:
            state["canon"] = batch_canon
        else:
            fresh = batch_canon.join(
                state["canon"], ["_x", "_y"], "left_anti"
            )
            state["canon"] = state["canon"].unionByName(fresh)
        state["canon"] = state["canon"].localCheckpoint()

    q = (
        spark.readStream.schema(edges.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)

    scratch_canon = canonize(edges)
    assert _fingerprint(state["canon"]) == _fingerprint(scratch_canon)
    # the maintained frame serves the triangle solve bit-for-bit
    maintained = triangle_count(
        state["canon"].withColumnsRenamed({"_x": "a", "_y": "b"}), "a", "b"
    )
    scratch = triangle_count(edges.select("a", "b"), "a", "b")
    assert _fingerprint(maintained) == _fingerprint(scratch)


def test_stream_maintained_incremental_triangle_counts_sf01(
    spark, tmp_path
):
    """The full operator soak: (edge store, counts) maintained ACROSS
    MICRO-BATCHES via triangle_count_incremental — never re-solving —
    must byte-match the from-scratch triangle_count over all edges
    after the last batch, and a replayed batch must be absorbed (the
    anti-join makes the fold idempotent under at-least-once
    delivery)."""
    from union_indexer_node_spark import tables
    from union_indexer_node_spark.pipelines.graph import (
        canonical_edges,
        triangle_count,
        triangle_count_incremental,
    )

    edges = (
        tables.load(spark, SOAK_SF_DIR, "events")
        .filter(F.col("event_id") % 53 == 0)
        .select(
            "event_id",
            ((F.col("user_id") * 11) % 997).alias("a"),
            ((F.col("user_id") * 5 + F.col("event_id")) % 997).alias("b"),
        )
    )
    src = str(tmp_path / "tri_inc_stream")
    for m in (0, 1, 2):
        edges.filter(F.col("event_id") % 3 == m).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    state = {"edges": None, "counts": None}

    def fold(batch_df, batch_id):
        batch = batch_df.select("a", "b").localCheckpoint()
        if state["edges"] is None:
            state["edges"] = canonical_edges(batch, "a", "b")
            state["counts"] = triangle_count(state["edges"], "a", "b")
        else:
            state["edges"], state["counts"] = triangle_count_incremental(
                state["edges"], state["counts"], batch, "a", "b"
            )
        state["edges"] = state["edges"].localCheckpoint()
        state["counts"] = state["counts"].localCheckpoint()

    q = (
        spark.readStream.schema(edges.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)

    scratch = triangle_count(edges.select("a", "b"), "a", "b")
    assert _fingerprint(state["counts"]) == _fingerprint(scratch)
    assert _fingerprint(state["edges"]) == _fingerprint(
        canonical_edges(edges, "a", "b")
    )
    # replayed batch: every edge anti-joins away, zero deltas
    re_e, re_c = triangle_count_incremental(
        state["edges"],
        state["counts"],
        edges.filter(F.col("event_id") % 3 == 1).select("a", "b"),
        "a",
        "b",
    )
    assert _fingerprint(re_c) == _fingerprint(state["counts"])
    assert _fingerprint(re_e) == _fingerprint(state["edges"])


class TestTriangleIncremental:
    """triangle_count_incremental (pipelines/training.py)."""

    @staticmethod
    def _brute(edge_list):
        import itertools

        es = {tuple(sorted(e)) for e in edge_list if e[0] != e[1]}
        nodes = sorted({x for e in es for x in e})
        cnt = {}
        for a, b, c in itertools.combinations(nodes, 3):
            if (a, b) in es and (b, c) in es and (a, c) in es:
                for n in (a, b, c):
                    cnt[n] = cnt.get(n, 0) + 1
        return cnt

    def _fold(self, spark, old, new):
        from union_indexer_node_spark.pipelines.graph import (
            canonical_edges,
            triangle_count,
            triangle_count_incremental,
        )

        o = canonical_edges(
            spark.createDataFrame(old or [(0, 0)], "a long, b long"),
            "a",
            "b",
        ).localCheckpoint()
        base = triangle_count(o, "a", "b")
        _, counts = triangle_count_incremental(
            o,
            base,
            spark.createDataFrame(new or [(0, 0)], "a long, b long"),
            "a",
            "b",
        )
        return {r["node"]: r["tri_cnt"] for r in counts.collect()}

    def test_hand_cases_cover_all_three_delta_classes(self, spark):
        # assembled so ONE fold sees all three delta classes:
        # 1-2-3 closes with ONE batch edge (1,3) against old (1,2)+(2,3);
        # 1-3-4 has TWO batch edges (1,3)+(3,4) and old (1,4);
        # 2-3-4 has TWO batch edges (2,4)+(3,4) and old (2,3);
        # 5-6-7 is ALL-batch. (1-2-4 also forms: batch (2,4)+(1,2 old)
        # +(1,4 old) — a second one-batch-edge instance.)
        old = [(1, 2), (2, 3), (1, 4)]
        new = [
            (1, 3),
            (2, 4), (3, 4),
            (5, 6), (6, 7), (5, 7),
        ]
        assert self._fold(spark, old, new) == self._brute(old + new)

    def test_empty_batch_is_a_no_op(self, spark):
        old = [(1, 2), (2, 3), (1, 3), (3, 4)]
        got = self._fold(spark, old, [])
        assert got == self._brute(old)

    @settings(max_examples=10, deadline=None)
    @given(
        edges=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=9),
                st.integers(min_value=0, max_value=9),
            ),
            max_size=30,
        ),
        split=st.integers(min_value=0, max_value=30),
    )
    def test_fold_matches_brute_force(self, spark, edges, split):
        k = min(split, len(edges))
        assert self._fold(spark, edges[:k], edges[k:]) == self._brute(
            edges
        )


class TestLineitemExtDerivation:
    """tables.lineitem_ext: the r14 derived relation both engines must
    agree on bit-for-bit over EVERY row — modes, commit dates, receipt
    dates — not just the slices the q12/q21 oracles exercise (review
    r14; the TestPartsuppDerivation precedent)."""

    @pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
    def test_cross_engine_bit_equality(self, spark, sf):
        import duckdb

        from union_indexer_node_spark import tables

        d = f"/root/testdata/{sf}"
        cols = [
            "l_orderkey",
            "l_linenumber",
            "l_shipmode",
            "l_commitdate",
            "l_receiptdate",
        ]
        sp = (
            tables.lineitem_ext(spark, d)
            .select(*cols)
            .toPandas()
            .sort_values(["l_orderkey", "l_linenumber"])
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{d}/lineitem.parquet')"
        )
        du = con.execute(
            f"WITH {tables.LINEITEM_EXT_CTE.strip()} "
            f"SELECT {', '.join(cols)} FROM lineitem_ext "
            "ORDER BY l_orderkey, l_linenumber"
        ).df()
        assert len(sp) == len(du) > 0
        assert (sp.l_shipmode.values == du.l_shipmode.values).all()
        for c in ("l_commitdate", "l_receiptdate"):
            # DuckDB hands back datetime64[us], Spark [ns] — normalize
            # units, then demand exact equality
            a = sp[c].astype("datetime64[us]").values
            b = du[c].astype("datetime64[us]").values
            assert (a == b).all()
        # every dbgen mode must actually occur (the q12 filter's two
        # modes are a subset — this pins the full 7-way derivation)
        assert set(sp.l_shipmode.unique()) == {
            "AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK",
        }

    def test_receipt_always_after_ship_commit_window(self, spark):
        from union_indexer_node_spark import tables

        li = tables.lineitem_ext(spark, "/root/testdata/sf0.001")
        bad = li.filter(
            ~(
                (F.col("l_receiptdate") > F.col("l_shipdate"))
                & (
                    F.col("l_receiptdate")
                    <= F.col("l_shipdate") + F.expr("INTERVAL 30 DAYS")
                )
                & (
                    F.col("l_commitdate")
                    >= F.col("l_shipdate") - F.expr("INTERVAL 30 DAYS")
                )
                & (
                    F.col("l_commitdate")
                    <= F.col("l_shipdate") + F.expr("INTERVAL 30 DAYS")
                )
            )
        )
        assert bad.count() == 0


class TestCanonicalUrlTrackingParams:
    def test_mixed_case_and_valueless_params_scrubbed(self, spark):
        from union_indexer_node_spark.pipelines.curation import canonical_url

        cases = [
            # ADVICE r13: these all survived the case-sensitive,
            # '='-requiring regex
            ("https://h.com/p?UTM_Source=x&q=1", "https://h.com/p?q=1"),
            ("https://h.com/p?Fbclid=abc", "https://h.com/p"),
            ("https://h.com/p?fbclid&q=1", "https://h.com/p?q=1"),
            ("https://h.com/p?REF=tw", "https://h.com/p"),
            ("https://h.com/p?GCLID=1&a=2", "https://h.com/p?a=2"),
            # name-boundary: params merely PREFIXED by 'ref' are data
            ("https://h.com/p?refresh=1", "https://h.com/p?refresh=1"),
            ("https://h.com/p?reference=x", "https://h.com/p?reference=x"),
        ]
        df = spark.createDataFrame([(m,) for m, _ in cases], "url string")
        got = [
            r["c"]
            for r in df.select(canonical_url(F.col("url")).alias("c")).collect()
        ]
        assert got == [c for _, c in cases]


class TestWeightedBottomkContract:
    def test_wk_column_is_part_of_the_return(self, spark):
        from union_indexer_node_spark.operators.sketches import (
            weighted_bottomk,
        )

        df = spark.createDataFrame(
            [(0, i, 1.0 + i) for i in range(20)], "g long, id long, w double"
        )
        out = weighted_bottomk(df, ["g"], "id", "w", k=5)
        # documented contract: input columns + the rounded A-ES rank key
        assert out.columns == ["g", "id", "w", "_wk"]
        rows = out.collect()
        assert len(rows) == 5
        assert all(r["_wk"] is not None and r["_wk"] <= 0.0 for r in rows)


class TestFuzzyBlockingRecall:
    """fuzzy_blocking_recall (pipelines/dedup.py) — VERDICT r13 item 6.

    The whole protocol (brute truth, token-window blocking, sorted-
    neighborhood blocking, per-strategy report) is replicated in pure
    Python on a fixture that plants both mutant classes plus the edge
    shapes (short docs with an empty block key, exact duplicates,
    natural near-misses beyond the edit bound)."""

    MAX_EDITS = 4
    W = 4

    @staticmethod
    def _lev(a: str, b: str) -> int:
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    @classmethod
    def _toks(cls, t: str) -> list[str]:
        import re

        return [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]

    @classmethod
    def _expected(cls, rows):
        truth = set()
        ids = sorted(i for i, _ in rows)
        by_id = dict(rows)
        for x in ids:
            for y in ids:
                if x < y and cls._lev(by_id[x], by_id[y]) <= cls.MAX_EDITS:
                    truth.add((x, y))
        n = len(ids)
        # token-window candidates
        tw = set()
        blk = {i: " ".join(cls._toks(t)[1:5]) for i, t in rows}
        for x in ids:
            for y in ids:
                if x < y and blk[x] == blk[y]:
                    tw.add((x, y))
        # sorted-neighborhood candidates
        order = sorted(ids, key=lambda i: (" ".join(cls._toks(by_id[i])), i))
        snm = set()
        for r, x in enumerate(order):
            for d in range(1, cls.W):
                if r + d < len(order):
                    y = order[r + d]
                    snm.add((min(x, y), max(x, y)))
        return {
            "brute_truth": (len(truth), n * (n - 1) // 2, len(truth)),
            "token_window": (len(truth), len(tw), len(tw & truth)),
            "sorted_neighborhood": (len(truth), len(snm), len(snm & truth)),
        }

    def test_matches_pure_python_replay(self, spark):
        from union_indexer_node_spark.pipelines.dedup import (
            fuzzy_blocking_recall,
        )

        rows = []
        for i in range(25):
            t = (
                f"token{i % 11} alpha bravo{i % 3} charlie delta "
                f"echo{i} foxtrot golf"
            )
            rows.append((i, t))
            if i % 5 == 0:
                rows.append((100 + i, t[1:]))  # head mutant (1 edit)
            if i % 5 == 1:
                # in-window mutant: substitution inside tokens 2..5
                rows.append((200 + i, t[:12] + "XY" + t[14:]))
        rows.append((300, "tiny"))  # <2 tokens: empty block key
        rows.append((301, "tiny"))  # exact duplicate of it
        rows.append((302, rows[0][1] + " completely different tail text"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["strategy"]: (r["n_true"], r["n_candidates"], r["n_matched"])
            for r in fuzzy_blocking_recall(
                df, "text", "doc_id",
                max_edits=self.MAX_EDITS, snm_window=self.W,
            ).collect()
        }
        exp = self._expected(rows)
        assert got == exp
        # the fixture must actually exercise the trade: some true pairs,
        # and neither strategy at full recall
        assert exp["brute_truth"][0] > 0
        assert exp["token_window"][2] < exp["brute_truth"][0]
        assert exp["sorted_neighborhood"][2] < exp["brute_truth"][0]

    def test_zero_match_strategy_and_empty_truth_keep_their_rows(
        self, spark
    ):
        """Review r14: a strategy with zero verified pairs (or an
        entirely empty truth set) must still emit its report row —
        the oracle's aggregate branches always do. Fixture: three
        wildly different docs (no true pairs at max_edits=4, no
        shared block keys)."""
        from union_indexer_node_spark.pipelines.dedup import (
            fuzzy_blocking_recall,
        )

        rows = [
            (1, "alpha bravo charlie delta echo"),
            (2, "zulu yankee xray whiskey victor uniform tango"),
            (3, "one two three four five six seven eight nine"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["strategy"]: r
            for r in fuzzy_blocking_recall(df, "text", "doc_id").collect()
        }
        assert set(out) == {
            "brute_truth",
            "token_window",
            "sorted_neighborhood",
        }
        for r in out.values():
            assert r["n_true"] == 0 and r["n_matched"] == 0
            assert r["recall_permille"] == 0  # no ANSI div-by-zero
        assert out["brute_truth"]["n_candidates"] == 3  # C(3,2)

    def test_snm_window_does_not_move_token_window_arm(self, spark):
        """Review r14: the token-window width is its own knob — tuning
        snm_window must leave the token_window row untouched."""
        from union_indexer_node_spark.pipelines.dedup import (
            fuzzy_blocking_recall,
        )

        rows = [
            (i, f"alpha bravo charlie{i % 2} delta echo foxtrot{i}")
            for i in range(12)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        def tw_row(**kw):
            return next(
                (r["n_candidates"], r["n_matched"])
                for r in fuzzy_blocking_recall(
                    df, "text", "doc_id", **kw
                ).collect()
                if r["strategy"] == "token_window"
            )

        assert tw_row(snm_window=2) == tw_row(snm_window=8) == tw_row()

    def test_recall_permille_arithmetic(self, spark):
        from union_indexer_node_spark.pipelines.dedup import (
            fuzzy_blocking_recall,
        )

        rows = [(i, f"w{i // 2} aa bb cc dd") for i in range(8)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for r in fuzzy_blocking_recall(df, "text", "doc_id").collect():
            assert (
                r["recall_permille"]
                == 1000 * r["n_matched"] // r["n_true"]
            )


class TestPrebuiltPostingsEquality:
    """VERDICT r13 item 3: the split-phase arms must return byte-equal
    results to the composed plans — the prebuilt posting table is a
    pure factoring of the inline shingle pass, never a semantic
    change."""

    def test_prefix_filter_join_prebuilt_equals_composed(self, spark):
        from union_indexer_node_spark.pipelines.dedup import (
            prefix_filter_join,
            shingle_postings,
        )

        rows = [
            (1, "alpha bravo charlie delta echo foxtrot golf hotel"),
            (2, "alpha bravo charlie delta echo foxtrot golf"),
            (3, "zulu yankee xray whiskey victor uniform"),
            (4, "alpha bravo charlie delta echo foxtrot golf hotel india"),
            (5, "one two three"),
        ]
        from union_indexer_node_spark.pipelines.dedup import (
            prefix_filter_index,
        )

        df = spark.createDataFrame(rows, "doc_id long, text string")
        composed = sorted(
            map(tuple, prefix_filter_join(df, "text", "doc_id").collect())
        )
        post = shingle_postings(df, "text", "doc_id").persist()
        post.count()
        via_postings = sorted(
            map(
                tuple,
                prefix_filter_join(
                    df, "text", "doc_id", postings=post
                ).collect(),
            )
        )
        index = prefix_filter_index(df, "text", "doc_id")
        index = index._replace(
            **{
                k: getattr(index, k).persist()
                for k in ("postings", "prefix", "sizes")
            }
        )
        for f in index.frames:
            f.count()
        via_index = sorted(
            map(
                tuple,
                prefix_filter_join(
                    df, "text", "doc_id", index=index
                ).collect(),
            )
        )
        post.unpersist()
        for f in index.frames:
            f.unpersist()
        assert via_postings == composed and composed  # non-vacuous
        assert via_index == composed

    def test_containment_probe_prebuilt_equals_composed(self, spark):
        from union_indexer_node_spark.pipelines.dedup import (
            containment_probe,
            shingle_postings,
        )

        corpus = spark.createDataFrame(
            [
                (1, "alpha bravo charlie delta echo foxtrot golf hotel"),
                (2, "unrelated words entirely different content here"),
            ],
            "doc_id long, text string",
        )
        probe = spark.createDataFrame(
            [(10, "alpha bravo charlie delta echo")],
            "doc_id long, text string",
        )
        composed = sorted(
            map(
                tuple,
                containment_probe(probe, corpus, "text", "doc_id").collect(),
            )
        )
        from union_indexer_node_spark.pipelines.dedup import (
            drop_hot_shingles,
        )

        post = (
            shingle_postings(corpus, "text", "doc_id")
            .withColumnRenamed("_id", "corpus_id")
            .persist()
        )
        post.count()
        prebuilt = sorted(
            map(
                tuple,
                containment_probe(
                    probe, corpus, "text", "doc_id", corpus_postings=post
                ).collect(),
            )
        )
        # the deployment shape: pre-capped postings + hot_cap=None
        # (default cap is 200; this tiny corpus is untouched by it,
        # so the pre-capped path must be byte-equal to composed)
        capped = drop_hot_shingles(post, hot_cap=200).persist()
        capped.count()
        precapped = sorted(
            map(
                tuple,
                containment_probe(
                    probe,
                    corpus,
                    "text",
                    "doc_id",
                    hot_cap=None,
                    corpus_postings=capped,
                ).collect(),
            )
        )
        post.unpersist()
        capped.unpersist()
        assert prebuilt == composed and composed  # non-vacuous
        assert precapped == composed


class TestPrebuiltPostingsPlan:
    def test_prebuilt_prefix_join_reads_cache_and_skips_eager_build(
        self, spark
    ):
        """The split-phase arm's point is WHEN the shingle build is
        paid: the composed call pays it eagerly at plan-build time
        (the internal localCheckpoint — downstream plan reads
        ExistingRDD), the prebuilt call must pay NOTHING at call time
        — its plan reads the caller-persisted InMemoryTableScan and
        contains no checkpoint RDD of its own. (The tokenizer string
        still appears inside the InMemoryTableScan's cached-relation
        description — that is the cache's provenance, not work the
        query re-does.)"""
        from union_indexer_node_spark.pipelines.dedup import (
            prefix_filter_join,
            shingle_postings,
        )

        df = spark.createDataFrame(
            [(i, f"alpha bravo charlie{i % 3} delta echo foxtrot")
             for i in range(12)],
            "doc_id long, text string",
        )
        post = shingle_postings(df, "text", "doc_id").persist()
        post.count()
        sc = spark.sparkContext
        try:
            sc.setJobGroup("r14_prebuilt_call", "prebuilt ctor")
            prebuilt = prefix_filter_join(
                df, "text", "doc_id", postings=post
            )
            sc.setJobGroup("r14_composed_call", "composed ctor")
            prefix_filter_join(df, "text", "doc_id")
            sc.setJobGroup("r14_done", "")
            tracker = sc.statusTracker()
            # constructing the prebuilt plan runs ZERO Spark jobs (no
            # eager checkpoint); the composed ctor pays the shingle
            # build eagerly (localCheckpoint => >=1 job at call time)
            assert tracker.getJobIdsForGroup("r14_prebuilt_call") == []
            assert len(tracker.getJobIdsForGroup("r14_composed_call")) >= 1
            plan = prebuilt._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan  # cache actually consumed
        finally:
            sc.setJobGroup("", "")
            post.unpersist()


_FUZZ_WORDS = ["alpha", "bravo", "charlie", "delta", "a1", "x"]
_fuzz_doc = st.lists(st.sampled_from(_FUZZ_WORDS), max_size=8).map(" ".join)


@settings(max_examples=8, deadline=None)
@given(texts=st.lists(_fuzz_doc, min_size=2, max_size=10))
def test_fuzzy_blocking_recall_matches_python_reference(spark, texts):
    """Property fuzz: the whole report (all three strategies, all
    columns) equals the pure-Python protocol replay on random small
    corpora from a collision-prone vocabulary — duplicates, empty
    docs, shared block keys, and rank ties all arise naturally."""
    from union_indexer_node_spark.pipelines.dedup import (
        fuzzy_blocking_recall,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["strategy"]: (r["n_true"], r["n_candidates"], r["n_matched"])
        for r in fuzzy_blocking_recall(df, "text", "doc_id").collect()
    }
    assert got == TestFuzzyBlockingRecall._expected(rows)


def test_q21_faithful_plan_shape(spark):
    """The promoted Q21 keeps the shape the retired `_shape` entry
    argued for: dimension sides (supplier keys, nation, orders
    status) broadcast, the fact self-probes run as LeftSemi + LeftAnti
    hash joins (the EXISTS / NOT-EXISTS), and nothing degenerates to a
    Cartesian or nested-loop plan."""
    from union_indexer_node_spark import queries as q

    df = q.registry()["tpch_q21_waiting_supplier"].fn(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftSemi") >= 2  # multi-supplier EXISTS + nation
    assert plan.count("LeftAnti") >= 1  # the NOT-EXISTS late-other probe
    assert plan.count("BroadcastHashJoin") >= 3  # dims stay broadcast
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


class TestHllLatticeFuzz:
    """Randomized pin of the HLL register math + lattice identities:
    register state and integer estimates from random per-'hour'
    keyspaces must equal a pure-Python replay of the 48-bit-md5
    register build, and the hour->coarse MAX-fold must equal the
    direct coarse build (the lattice identity) on every draw — not
    just the shipped fixture."""

    @staticmethod
    def _py_registers(keys):
        import hashlib

        regs = {}
        for k in keys:
            if k is None:
                continue
            hv = int(hashlib.md5(str(k).encode()).hexdigest()[:12], 16)
            bucket = hv >> 40
            suffix = hv % (1 << 40)
            rho = 41 if suffix == 0 else 40 - suffix.bit_length() + 1
            regs[bucket] = max(regs.get(bucket, 0), rho)
        return regs

    @staticmethod
    def _py_estimate(regs):
        from union_indexer_node_spark.operators.sketches import (
            _HLL_ALPHA_NUM,
            _HLL_M,
        )

        hsum = sum(1 << (41 - r) for r in regs.values())
        total = hsum + (_HLL_M - len(regs)) * (1 << 41)
        return _HLL_ALPHA_NUM // total

    @settings(max_examples=8, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3),  # hour
                st.integers(min_value=0, max_value=500),  # key
            ),
            min_size=1,
            max_size=120,
        )
    )
    def test_registers_estimate_and_rollup_match_python(self, spark, rows):
        from union_indexer_node_spark.operators.sketches import (
            hll_estimate,
            hll_registers,
            hll_rollup,
        )

        df = spark.createDataFrame(rows, "hour long, key long")
        regs = hll_registers(df, ["hour"], "key").localCheckpoint()
        got = {}
        for r in regs.collect():
            got.setdefault(r["hour"], {})[r["bucket"]] = r["rho"]
        want = {
            h: self._py_registers([k for hh, k in rows if hh == h])
            for h in {hh for hh, _ in rows}
        }
        assert got == want
        # integer estimate replay, per hour
        est = {
            r["hour"]: r["est_distinct"]
            for r in hll_estimate(regs, ["hour"]).collect()
        }
        assert est == {h: self._py_estimate(want[h]) for h in want}
        # lattice: MAX-fold of hourly registers to the global grain
        # equals the direct global build, registers AND estimate
        folded = hll_rollup(regs.withColumn("g", F.lit(1)), ["g"])
        direct = hll_registers(
            df.withColumn("g", F.lit(1)), ["g"], "key"
        )
        f = {r["bucket"]: r["rho"] for r in folded.collect()}
        d = {r["bucket"]: r["rho"] for r in direct.collect()}
        assert f == d == self._py_registers([k for _, k in rows])


class TestGapFillPandasCrossCheck:
    """gap_fill vs an INDEPENDENT pandas implementation (reindex over
    a per-key date_range + ffill) — the merge_asof-style library
    cross-check the as-of family got in r13, applied to the LOCF grid
    fill. Values are integer-valued floats so cents quantization has
    no rounding ambiguity between engines."""

    @settings(max_examples=8, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),   # key
                st.integers(min_value=0, max_value=96),  # hour offset
                st.integers(min_value=1, max_value=50),  # value
            ),
            min_size=1,
            max_size=40,
        )
    )
    def test_hourly_fill_matches_pandas(self, spark, rows):
        import pandas as pd

        from union_indexer_node_spark.operators.temporal import gap_fill

        base = pd.Timestamp("2024-03-01 00:30:00")
        data = [
            (k, base + pd.Timedelta(hours=h), float(v)) for k, h, v in rows
        ]
        df = spark.createDataFrame(
            [(k, t.to_pydatetime(), v) for k, t, v in data],
            "k long, ts timestamp, value double",
        )
        got = sorted(
            (r["k"], r["bucket"], r["value_cents"], r["observed"])
            for r in gap_fill(df, "ts", "k", "value").collect()
        )

        pdf = pd.DataFrame(data, columns=["k", "ts", "value"])
        pdf["bucket"] = pdf.ts.dt.floor("h")
        want = []
        for k, g in pdf.groupby("k"):
            obs = (g.groupby("bucket").value.sum() * 100).round().astype(
                "int64"
            )
            grid = pd.date_range(obs.index.min(), obs.index.max(), freq="h")
            filled = obs.reindex(grid).ffill().astype("int64")
            for b in grid:
                want.append(
                    (
                        k,
                        b.strftime("%Y-%m-%d %H:00"),
                        int(filled[b]),
                        b in obs.index,
                    )
                )
        assert got == sorted(want)


class TestOhlcPandasCrossCheck:
    """ohlc_rollup vs pandas resample().ohlc() — a THIRD independent
    formulation beside the struct-extrema implementation and the
    ordered-first/last oracle. Tied timestamps are planted (same hour,
    same ts, different seq) so the tie-break contract is exercised:
    pandas sees the rows pre-sorted by (ts, seq), matching the
    lexicographic struct order."""

    @settings(max_examples=8, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=1),   # key
                st.integers(min_value=0, max_value=30),  # minute offset
                st.integers(min_value=1, max_value=99),  # value
            ),
            min_size=1,
            max_size=30,
        )
    )
    def test_hourly_candles_match_pandas(self, spark, rows):
        import pandas as pd

        from union_indexer_node_spark.operators.temporal import ohlc_rollup

        base = pd.Timestamp("2024-03-01 00:10:00")
        # minute offsets collide often -> tied (key, ts) pairs; seq is
        # the input index, the mandatory tie-breaker
        data = [
            (k, (base + pd.Timedelta(minutes=m * 97)).to_pydatetime(),
             i, float(v))
            for i, (k, m, v) in enumerate(rows)
        ]
        df = spark.createDataFrame(
            data, "k long, ts timestamp, seq long, value double"
        )
        got = sorted(
            tuple(r)
            for r in ohlc_rollup(df, "ts", "k", "value", "seq").collect()
        )

        pdf = pd.DataFrame(data, columns=["k", "ts", "seq", "value"])
        pdf["cents"] = (pdf.value * 100).round().astype("int64")
        pdf = pdf.sort_values(["k", "ts", "seq"])
        want = []
        for k, g in pdf.groupby("k"):
            candles = g.set_index("ts").cents.resample("h").ohlc().dropna()
            counts = g.set_index("ts").cents.resample("h").count()
            for b, row in candles.iterrows():
                want.append(
                    (
                        k,
                        b.strftime("%Y-%m-%d %H:00"),
                        int(row["open"]),
                        int(row["high"]),
                        int(row["low"]),
                        int(row["close"]),
                        int(counts[b]),
                    )
                )
        assert got == sorted(want)


class TestRangeJoinBruteCrossCheck:
    """bucketed_range_join vs a Python brute force over random points
    and intervals — with a tiny max_buckets_per_interval so random
    draws routinely exercise BOTH physical arms (the bucket-explode
    equi-join and the long-interval broadcast residual join) against
    the same inclusive-ends contract."""

    @settings(max_examples=8, deadline=None)
    @given(
        points=st.lists(
            st.integers(min_value=0, max_value=600), min_size=1, max_size=25
        ),
        intervals=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=600),
                st.integers(min_value=0, max_value=300),
            ),
            min_size=1,
            max_size=12,
        ),
    )
    def test_matches_python_reference(self, spark, points, intervals):
        import datetime as dt

        from union_indexer_node_spark.operators.temporal import (
            bucketed_range_join,
        )

        base = dt.datetime(2024, 3, 1)
        pts = [
            (i, base + dt.timedelta(minutes=m))
            for i, m in enumerate(points)
        ]
        ivs = [
            (
                j,
                base + dt.timedelta(minutes=s),
                base + dt.timedelta(minutes=s + d),
            )
            for j, (s, d) in enumerate(intervals)
        ]
        p = spark.createDataFrame(pts, "pid long, ts timestamp")
        iv = spark.createDataFrame(
            ivs, "iid long, start_ts timestamp, end_ts timestamp"
        )
        got = sorted(
            (r["pid"], r["iid"])
            for r in bucketed_range_join(
                p, iv, bucket_minutes=60, max_buckets_per_interval=3
            ).collect()
        )
        want = sorted(
            (pid, iid)
            for pid, ts in pts
            for iid, s, e in ivs
            if s <= ts <= e
        )
        assert got == want


class TestAsofMtsGuard:
    def test_payload_named_mts_raises(self, spark):
        from union_indexer_node_spark.operators.temporal import asof_join

        left = spark.createDataFrame([(1, 10)], "k long, ts long")
        right = spark.createDataFrame(
            [(1, 5, 7)], "k long, ts long, __mts long"
        )
        with pytest.raises(ValueError, match="__mts"):
            asof_join(left, right, ["k"], payload=["__mts"])
