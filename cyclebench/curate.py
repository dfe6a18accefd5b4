"""``curate``: the LLM-data path over a seeded corpus with planted truth.

One pass: ``dedup.exact_dedup`` -> ``lsh_candidate_pairs`` +
``jaccard_pairs`` (verify) -> ``curation.repetition_stats`` and
``textstats.gopher_quality_gate`` -> ``training.bloom_decontaminate``.
Each stage writes its output, so the next stage reads materialized
input and each stage's time is its own.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import Tracer, catalyst_phases, hygiene, median

JACCARD_MIN = 0.7
MIN_PASSES = 2  # the cold pass and one warm pass, whatever --seconds says


def _write_docs(rows, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    ids, texts = zip(*rows)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}), path)


class Mods:
    def __init__(self) -> None:
        from union_indexer_node_spark.pipelines import curation, dedup, textstats, training

        self.dedup, self.curation = dedup, curation
        self.textstats, self.training = textstats, training


def one_pass(spark, m: Mods, tr: Tracer, docs_path: str, bench_path: str, out: str) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(out):
        shutil.rmtree(out)
    p = lambda name: os.path.join(out, name)  # noqa: E731
    docs = spark.read.parquet(docs_path)

    def stage(name, df):
        if tr.enabled:
            catalyst_phases(tr, df, plan=True)
        df.write.parquet(p(name))
        return spark.read.parquet(p(name))

    with tr.span("curate.exact_dedup"):
        ed = m.dedup.exact_dedup(docs, "text", "doc_id")
        ed = stage("exact", ed.select("doc_id", "is_canonical"))
    survivors = docs.join(ed.filter("is_canonical").select("doc_id"), "doc_id", "left_semi")
    with tr.span("curate.lsh"):
        pairs = stage("pairs", m.dedup.lsh_candidate_pairs(survivors, "text", "doc_id"))
    with tr.span("curate.verify"):
        jp = m.dedup.jaccard_pairs(survivors, survivors, pairs, "text", "doc_id", prune=True)
        verified = stage("verified", jp.filter(F.col("jaccard") >= JACCARD_MIN).select("a", "b"))
    kept = survivors.join(verified.select(F.col("b").alias("doc_id")), "doc_id", "left_anti")
    with tr.span("curate.quality"):
        rep = m.curation.repetition_stats(kept, "text", "doc_id")
        gate = m.textstats.gopher_quality_gate(kept, "text", "doc_id").select("doc_id", "passes")
        q = rep.join(gate, "doc_id").withColumn(
            "keep", F.col("passes") & (F.col("dup_token_ratio") < 0.9)
        )
        q = stage("quality", q.select("doc_id", "keep"))
    clean = kept.join(q.filter("keep").select("doc_id"), "doc_id", "left_semi")
    with tr.span("curate.decontam"):
        dc = m.training.bloom_decontaminate(
            clean, spark.read.parquet(bench_path), "text", "doc_id"
        )
        stage("decontam", dc.select(F.col("doc_id"), "contaminated"))


def evaluate(spark, out: str, corpus: gen.Corpus) -> dict:
    """Stage row counts and the planted-truth scores of one pass."""
    r = lambda name: spark.read.parquet(os.path.join(out, name))  # noqa: E731
    exact = r("exact")
    exact_removed = {x.doc_id for x in exact.filter("NOT is_canonical").collect()}
    verified = r("verified").collect()
    near_removed = {x.b for x in verified}
    removed = exact_removed | near_removed
    planted = corpus.exact_dups | set(corpus.near_dups)
    hit = len(removed & planted)
    quality = r("quality")
    dc = r("decontam")
    flagged = {x.doc_id for x in dc.filter("contaminated").collect()}
    dc_ids = {x.doc_id for x in dc.select("doc_id").collect()}
    missed = (corpus.contaminated & dc_ids) - flagged
    n_docs = len(corpus.docs)
    n_pairs = r("pairs").count()
    stats = {
        "dedup.candidates": n_pairs,
        "dedup.verified_pairs": len(verified),
        "curate.exact_dedup.rows_in": n_docs,
        "curate.exact_dedup.rows_out": n_docs - len(exact_removed),
        "curate.lsh.rows_in": n_docs - len(exact_removed),
        "curate.lsh.rows_out": n_pairs,
        "curate.verify.rows_in": n_pairs,
        "curate.verify.rows_out": len(verified),
        "curate.quality.rows_in": quality.count(),
        "curate.quality.rows_out": quality.filter("keep").count(),
        "curate.decontam.rows_in": len(dc_ids),
        "curate.decontam.rows_out": len(dc_ids) - len(flagged),
    }
    stats["dedup.candidate_yield"] = (
        stats["dedup.verified_pairs"] / stats["dedup.candidates"]
        if stats["dedup.candidates"] else 0.0
    )
    return {
        "recall": hit / len(planted) if planted else 1.0,
        "precision": hit / len(removed) if removed else 1.0,
        "decontam_missed": len(missed),
        "stats": stats,
    }


def run(spark, tr: Tracer, work: str, seed: int, seconds: float) -> dict:
    corpus = gen.curate_corpus(seed)
    docs_path = os.path.join(work, "in", "docs.parquet")
    bench_path = os.path.join(work, "in", "bench.parquet")
    _write_docs(corpus.docs, docs_path)
    _write_docs(corpus.bench, bench_path)
    m = Mods()
    out = os.path.join(work, "curate")

    times, windows, iters, hyg, evals = [], [], [], [], []
    failed = 0
    t_end = time.perf_counter() + seconds
    i = 0
    # no separate warm-up: the first pass runs cold (``cold_pass_s``); the
    # steady-state figures are the median of the warm passes after it
    while time.perf_counter() < t_end or i < MIN_PASSES:
        op = f"pass{i}/all"
        spark.sparkContext.setJobDescription(f"curate:{op}")
        w0, t0 = time.time(), time.perf_counter()
        with tr.span("pass", op=op, force=True):
            one_pass(spark, m, tr, docs_path, bench_path, out)
        times.append(time.perf_counter() - t0)
        windows.append((op, w0, time.time()))
        iters.append([op])
        spark.sparkContext.setJobDescription(None)
        ev = evaluate(spark, out, corpus)
        evals.append(ev)
        if ev["recall"] < 0.9 or ev["precision"] < 0.95 or ev["decontam_missed"]:
            failed += 1
        hyg.append(hygiene(spark))
        i += 1
    ev = evals[0]
    n_docs = len(corpus.docs)
    warm = median(times[1:])
    rate = n_docs / warm
    return {
        "e2e": {"p50_ms": warm * 1000.0, "rate_per_s": rate},
        "named": {
            "fail_share": (failed / len(times), "ratio"),
            "curate_docs_per_s": (rate, "docs/s"),
            "cold_pass_s": (times[0], "s"),
            "dedup_recall": (ev["recall"], "ratio"),
            "dedup_precision": (ev["precision"], "ratio"),
            "passes": (len(times), "count"),
        },
        "op_ms": sum(times) * 1000.0 / len(times),
        "attempted": len(times),
        "failed": failed,
        "failures": {} if not failed else {"pass": evals[0]},
        "windows": windows,
        "iterations": iters,
        "hygiene": hyg,
        "layer_counts": ev["stats"],
        "shape": corpus.shape,
    }
