"""``cycle``: the write path. One iteration is a full build from the raw
block log to published tables and indexes, then delta cuts folded in
through the posts/follows streams and the index maintainers. ``serve``
runs the same write path as its set-up.

``rate_per_s`` is raw ops per second of the full build; ``p50_ms`` is
the median time from a delta cut landing to its rows being readable in
the published snapshot and the indexes.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import gen
import pipeline
from common import Tracer, hygiene, median

N_BLOCKS = 400
N_DELTAS = 1


@dataclass
class Inputs:
    log: gen.BlockLog
    base: str
    deltas: list[str]
    raw_bytes: int


def land(seed: int, work: str) -> Inputs:
    """Generate the block log and its delta cuts and land them as
    parquet files (input generation, never timed)."""
    log = gen.block_log(seed, n_blocks=N_BLOCKS, n_deltas=N_DELTAS)
    base = os.path.join(work, "in", "base.parquet")
    raw = pipeline.write_blocks(log.base, base)
    deltas = []
    for i, cut in enumerate(log.deltas):
        path = os.path.join(work, "in", f"delta{i}.parquet")
        raw += pipeline.write_blocks(cut, path)
        deltas.append(path)
    return Inputs(log, base, deltas, raw)


def write_path(spark, m: pipeline.Mods, tr: Tracer, inp: Inputs, root: str,
               workload: str, it: str, windows: list) -> tuple:
    """Full build, then every delta cut. Each step is one op
    (``<it>/build``, ``<it>/d<n>``) with its jobs tagged and its time
    window appended to ``windows``. Returns (build seconds, delta
    seconds, rewrite stats, published paths)."""
    sc = spark.sparkContext
    sc.setJobDescription(f"{workload}:{it}/build")
    w0, t0 = time.time(), time.perf_counter()
    with tr.span("build", op=f"{it}/build", force=True):
        pub = pipeline.publish(spark, m, tr, inp.base, root)
    build = time.perf_counter() - t0
    windows.append((f"{it}/build", w0, time.time()))
    lat, rw = [], []
    for d, path in enumerate(inp.deltas):
        sc.setJobDescription(f"{workload}:{it}/d{d}")
        w0, t0 = time.time(), time.perf_counter()
        with tr.span("delta", op=f"{it}/d{d}", force=True):
            rw.append(pipeline.apply_delta(spark, m, tr, path, pub, d))
        lat.append(time.perf_counter() - t0)
        windows.append((f"{it}/d{d}", w0, time.time()))
    sc.setJobDescription(None)
    return build, lat, rw, pub


def run(spark, tr: Tracer, work: str, seed: int, seconds: float) -> dict:
    inp = land(seed, work)
    m = pipeline.Mods()
    # No warm-up: the first build runs in a fresh session, as a batch
    # ingest job does; later iterations (if the run is long enough) are
    # warm.
    builds, lats, rewrites, windows, iters, hyg = [], [], [], [], [], []
    failures: dict = {}
    failed = attempted = 0
    t_end = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < t_end or i < 1:
        ops: list = []
        b, lat, rw, pub = write_path(spark, m, tr, inp, os.path.join(work, f"it{i % 2}"),
                                     "cycle", f"it{i}", ops)
        windows.extend(ops)
        iters.append([w[0] for w in ops])
        builds.append(b)
        lats.extend(lat)
        rewrites.extend(rw)
        attempted += 1 + len(lat)
        if i == 0:
            publish_s = b + sum(lat)
            bad = pipeline.check_cycle(spark, m, pub)
            if bad:
                failed += 1 + len(lat)
                failures["cycle"] = bad
            pub_bytes = sum(pipeline.dir_stats(d)[0] for d in pub.table_dirs())
        hyg.append(hygiene(spark))
        i += 1
    rate = inp.log.shape["base_ops"] / median(builds)
    return {
        "e2e": {"p50_ms": median(lats) * 1000.0, "rate_per_s": rate},
        "named": {
            "fail_share": (failed / attempted, "ratio"),
            "ingest_ops_per_s": (rate, "ops/s"),
            "delta_p50_s": (median(lats), "s"),
            "cold_publish_s": (publish_s, "s"),
            "space_amp": (pub_bytes / inp.raw_bytes, "ratio"),
            "iterations": (len(builds), "count"),
        },
        "op_ms": (sum(builds) + sum(lats)) * 1000.0 / len(builds),
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "windows": windows,
        "iterations": iters,
        "unit": "iteration",
        "hygiene": hyg,
        "layer_counts": rewrite_counts(rewrites, pub),
        "shape": inp.log.shape,
    }


def rewrite_counts(rewrites: list[dict], pub: pipeline.Published) -> dict:
    return {
        "streaming.partitions_rewritten": median([r["partitions_rewritten"] for r in rewrites]),
        "streaming.bytes_rewritten": median([r["bytes_rewritten"] for r in rewrites]),
        "search.index_bytes": pipeline.dir_stats(pub.index_dir())[0],
    }
