"""Round-5 training-data operators: unit + property + plan tests for
pipelines/training.py (the oracle equivalence itself is covered for all
six registry entries by test_queries_oracle.py's parametrization).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from union_indexer_node_spark.pipelines.graph import connected_components
from union_indexer_node_spark.pipelines.training import (
    chunk_sliding,
    coverage_check,
    decontaminate,
    pack_next_fit,
    weighted_sample,
)

from conftest import SF_ORACLE_DIR


# ---------------------------------------------------------------------------
# connected components vs a plain union-find reference
# ---------------------------------------------------------------------------
def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("threshold", [1_000_000, 0], ids=["driver", "distributed"])
def test_connected_components_matches_union_find(spark, threshold):
    # chain + triangle + bridge + two disjoint pairs: exercises
    # multi-hop label propagation, cycles, and isolated components —
    # in BOTH physical arms (driver union-find and distributed loop)
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10),
             (4, 10), (20, 21), (30, 31)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(
            df, "a", "b", driver_threshold=threshold
        ).collect()
    }
    assert got == _uf_components(edges)


def test_connected_components_raises_without_fixpoint(spark):
    chain = [(i, i + 1) for i in range(1, 8)]
    df = spark.createDataFrame(chain, "a long, b long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(df, "a", "b", max_iter=1, driver_threshold=0)


# ---------------------------------------------------------------------------
# next-fit packing: exact replication of the sequential reference
# ---------------------------------------------------------------------------
def _pack_reference(items: list[tuple[int, int]], budget: int) -> dict[int, int]:
    """items = [(id, len)]; returns id -> bin under next-fit-decreasing."""
    order = sorted(items, key=lambda t: (-t[1], t[0]))
    out, fill, cur = {}, 0, -1
    for i, ln in order:
        if cur < 0 or fill + ln > budget:
            cur, fill = cur + 1, ln
        else:
            fill += ln
        out[i] = cur
    return out


@settings(max_examples=20, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=90), min_size=1, max_size=40),
    st.sampled_from([64, 100, 150]),
)
def test_pack_next_fit_matches_reference(spark, lens, budget):
    items = [(i, ln) for i, ln in enumerate(lens)]
    df = spark.createDataFrame(
        [("s", i, ln) for i, ln in items], "src string, id long, n long"
    )
    got = {
        r["id"]: r["bin"]
        for r in pack_next_fit(df, "n", "id", budget=budget, by="src").collect()
    }
    assert got == _pack_reference(items, budget)


def test_pack_bins_respect_budget_and_density(spark):
    df = spark.createDataFrame(
        [("s", i, 10 + (i * 7) % 50) for i in range(60)]
        + [("t", i, 300) for i in range(3)],  # oversize -> singleton bins
        "src string, id long, n long",
    )
    packed = pack_next_fit(df, "n", "id", budget=100, by="src").toPandas()
    fills = packed.groupby(["src", "bin"])["n"].sum()
    counts = packed.groupby(["src", "bin"])["n"].count()
    for (src, b), tot in fills.items():
        assert tot <= 100 or counts[(src, b)] == 1, (src, b, tot)
    # bins are dense from 0 per stratum
    for src, grp in packed.groupby("src"):
        bins = sorted(grp["bin"].unique())
        assert bins == list(range(len(bins)))


# ---------------------------------------------------------------------------
# chunking: full coverage, tail anchoring, no shuffle
# ---------------------------------------------------------------------------
def test_chunk_sliding_covers_every_token(spark):
    texts = [
        (1, " ".join(f"w{i}" for i in range(100))),  # long: many windows
        (2, " ".join(f"w{i}" for i in range(7))),  # shorter than one chunk
        (3, "single"),  # 1 token
        (4, ""),  # empty: no chunks
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    chunks = chunk_sliding(df, "text", "doc_id", chunk=24, stride=12)
    cov = {r["doc_id"]: r for r in coverage_check(chunks, "doc_id").collect()}
    assert set(cov) == {1, 2, 3}  # empty doc emits nothing
    assert cov[1]["min_start"] == 1 and cov[1]["max_covered"] == 100
    assert cov[2]["max_covered"] == 7
    assert cov[3]["max_covered"] == 1
    # every chunk obeys the token budget
    lens = chunks.select(F.size(F.split("chunk_text", " ")).alias("n")).collect()
    assert all(r["n"] <= 24 for r in lens)


def test_chunk_sliding_is_shuffle_free(spark):
    df = spark.read.parquet(f"{SF_ORACLE_DIR}/documents.parquet")
    plan = chunk_sliding(df, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# decontamination: semantics + broadcast plan
# ---------------------------------------------------------------------------
def test_decontaminate_counts_overlap(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over dogs"),  # shares grams w/ bench
            (2, "completely different words here entirely now"),
            (3, "xy"),  # <3 tokens: zero grams
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox sat")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in decontaminate(train, bench, "text", "doc_id").collect()}
    # doc 1 shares 'the quick brown' and 'quick brown fox'
    assert got[1]["n_hit"] == 2 and got[1]["n_grams"] == 5
    assert got[2]["n_hit"] == 0
    assert got[3]["n_grams"] == 0 and got[3]["contamination"] == 0.0


def test_bloom_decontaminate_leaves_no_state_and_builds_lazily(spark, monkeypatch):
    """Building and writing bloom_decontaminate persists no RDD, and the
    only jobs its construction starts are the bounded bit-word collect's."""
    from union_indexer_node_spark.pipelines.training import bloom_decontaminate

    d = spark.read.parquet(f"{SF_ORACLE_DIR}/documents.parquet")
    bench = d.filter(F.col("doc_id") % 19 == 0)
    train = d.filter(F.col("doc_id") % 19 != 0)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def n_jobs():  # job ids are sequential; the tracker keeps the newest
        return max(tracker.getJobIdsForGroup(None) or [-1]) + 1

    frame_cls = type(d)
    real_collect = frame_cls.collect
    collect_jobs = []

    def collect(self):
        before = n_jobs()
        rows = real_collect(self)
        collect_jobs.append(n_jobs() - before)
        return rows

    persistent = sc._jsc.sc().getPersistentRDDs().size()
    before = n_jobs()
    with monkeypatch.context() as m:
        m.setattr(frame_cls, "collect", collect)
        out = bloom_decontaminate(train, bench, "text", "doc_id")
    assert len(collect_jobs) == 1
    assert n_jobs() - before == collect_jobs[0]
    out.write.mode("overwrite").format("noop").save()
    assert sc._jsc.sc().getPersistentRDDs().size() == persistent


def test_decontaminate_broadcasts_benchmark_side(spark):
    d = spark.read.parquet(f"{SF_ORACLE_DIR}/documents.parquet")
    bench = d.filter(F.col("doc_id") % 19 == 0)
    train = d.filter(F.col("doc_id") % 19 != 0)
    plan = (
        decontaminate(train, bench, "text", "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# weighted sampling: determinism + map-side-only plan
# ---------------------------------------------------------------------------
def test_weighted_sample_deterministic_and_bounded(spark):
    df = spark.createDataFrame(
        [(i, 0.5) for i in range(1000)], "id long, weight double"
    )
    a = {r["id"] for r in weighted_sample(df, "id", "weight").collect()}
    b = {r["id"] for r in weighted_sample(df, "id", "weight").collect()}
    assert a == b  # hash draw, not rand(): stable across runs
    assert 380 <= len(a) <= 620  # ~Binomial(1000, .5), generous bounds
    zero = spark.createDataFrame([(i, 0.0) for i in range(50)], "id long, weight double")
    assert weighted_sample(zero, "id", "weight").count() == 0


def test_weighted_sample_is_shuffle_free(spark):
    df = spark.createDataFrame([(i, 0.4) for i in range(10)], "id long, weight double")
    plan = weighted_sample(df, "id", "weight")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# int8 quantization: reconstruction error bound
# ---------------------------------------------------------------------------
def test_quantize_int8_reconstruction_bound(spark):
    from union_indexer_node_spark.pipelines.similarity import quantize_int8

    emb = spark.read.parquet(f"{SF_ORACLE_DIR}/embeddings.parquet").limit(50)
    joined = quantize_int8(emb).join(emb, "vec_id").collect()
    for r in joined:
        if r["scale"] == 0:
            assert all(v == 0 for v in r["q_vec"])
            continue
        step = r["scale"] / 127.0
        for x, qv in zip(r["embedding"], r["q_vec"]):
            assert abs(x - qv * step) <= step / 2 + 1e-6
        assert max(abs(v) for v in r["q_vec"]) <= 127


# ---------------------------------------------------------------------------
# epoch interleaving: consuming keys below T draws floor(T*w) per source
# ---------------------------------------------------------------------------
def test_epoch_interleave_realizes_mixture_rates(spark):
    from union_indexer_node_spark.pipelines.training import epoch_interleave

    rows = [(i, "a", 0.8) for i in range(100)] + [
        (i + 1000, "b", 0.2) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id long, src string, weight double")
    out = epoch_interleave(df, "id", "src", "weight").toPandas()
    for t in (50.0, 125.0, 250.0):
        below = out[out["interleave_key"] <= t].groupby("src").size().to_dict()
        # rows below T are exactly the ranks <= T*w (keys are rank/w)
        assert below.get("a", 0) == min(int(t * 0.8), 100)
        assert below.get("b", 0) == min(int(t * 0.2), 100)
    # determinism: same input -> same order
    again = epoch_interleave(df, "id", "src", "weight").toPandas()
    assert out.sort_values("id").reset_index(drop=True).equals(
        again.sort_values("id").reset_index(drop=True)
    )


# ---------------------------------------------------------------------------
# batch ANN: bucket join broadcasts the query side, never a cartesian
# ---------------------------------------------------------------------------
def test_ann_topk_batch_plan_is_bucket_pruned(spark):
    from union_indexer_node_spark.pipelines.ann_lsh import ann_topk_batch, hyperplanes

    emb = spark.read.parquet(f"{SF_ORACLE_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    planes = hyperplanes(64, n_bits=8)
    plan = (
        ann_topk_batch(emb, queries, planes, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_recall_at_k_bounds(spark):
    from union_indexer_node_spark.pipelines.ann_lsh import (
        ann_topk_batch,
        brute_topk_batch,
        hyperplanes,
        recall_at_k,
    )

    emb = spark.read.parquet(f"{SF_ORACLE_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    planes = hyperplanes(64, n_bits=8)
    rec = recall_at_k(
        ann_topk_batch(emb, queries, planes, k=10),
        brute_topk_batch(emb, queries, k=10),
        k=10,
    ).collect()
    assert len(rec) == 5
    for r in rec:
        assert 0.0 <= r["recall"] <= 1.0
        # the query vector itself shares its own bucket: recall > 0
        assert r["n_hits"] >= 1
