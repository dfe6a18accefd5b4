"""Cycle benchmark for union_indexer_node_spark.

    python3 cyclebench/run.py --workload serve|cycle|curate --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The benchmark generates its inputs
from the seed, runs the workload against the package's public
functions, checks the outputs, and prints a human-readable report
followed by ONE JSON line (the last line of stdout):

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics, from timing wrappers installed on the package's
public module attributes plus the Spark event log. Every run reports
the exact work counters (jobs, tasks, shuffle bytes, scan rows, Python
bytes, rows and bytes written) and checks that repeated identical
iterations agree on them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
WORKLOADS = ("serve", "cycle", "curate")

PER_LAYER = (
    ("serving.transport_ms", "ms"), ("serving.execute_self_ms", "ms"),
    ("serving.rows_self_ms", "ms"), ("serving.rows_returned", "count"),
    ("operators.construct_ms", "ms"), ("operators.construct_jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.scheduler_delay_ms", "ms"), ("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"),
    ("exec.gc_ms", "ms"), ("exec.scan_rows", "count"), ("exec.scan_bytes", "bytes"),
    ("exec.scan_rows_per_result", "ratio"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.python_bytes", "bytes"), ("exec.rows_out", "count"),
    ("exec.bytes_written", "bytes"),
    ("sources.explode_s", "s"), ("sinks.write_s", "s"),
    ("sinks.bytes_written", "bytes"), ("sinks.files_written", "count"),
    ("ingest.posts_s", "s"), ("ingest.follows_s", "s"), ("ingest.profiles_s", "s"),
    ("ingest.communities_s", "s"), ("ingest.posts_jobs", "count"),
    ("streaming.batch_s", "s"), ("streaming.partitions_rewritten", "count"),
    ("streaming.bytes_rewritten", "bytes"),
    ("search.index_build_s", "s"), ("search.index_merge_s", "s"),
    ("search.index_bytes", "bytes"),
    ("curate.exact_dedup_s", "s"), ("curate.lsh_s", "s"), ("curate.verify_s", "s"),
    ("curate.quality_s", "s"), ("curate.decontam_s", "s"),
    *[(f"curate.{s}.rows_{d}", "count")
      for s in ("exact_dedup", "lsh", "verify", "quality", "decontam") for d in ("in", "out")],
    ("dedup.candidates", "count"), ("dedup.verified_pairs", "count"),
    ("dedup.candidate_yield", "ratio"),
    ("session.persistent_rdds", "count"), ("session.cached_plans", "count"),
    ("trace.overhead", "ratio"), ("trace.unattributed_ms", "ms"),
)
# The JSON line of a traced run carries every count, byte and ratio
# metric above, but only the times every listed workload spends: a
# layer a workload never enters reads 0 on every run, and a time that
# never moves is not a measurement. The report prints all of them.
SHARED_TIMES = {"catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
                "exec.scheduler_delay_ms", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
                "trace.unattributed_ms"}
JSON_LAYER = tuple((n, u) for n, u in PER_LAYER if u not in ("ms", "s") or n in SHARED_TIMES)
END_TO_END = (("setup_s", "s"), ("p50_ms", "ms"), ("rate_per_s", "1/s"), ("peak_rss_mb", "MB"))


def _args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _layer_metrics(res: dict, tr, ev, per_op: dict) -> dict:
    """Per-layer table from the traced iterations: spans (self time and
    totals), Catalyst phases, event-log task metrics per unit of work."""
    from common import median

    traced_ops = {s[4] for s in tr.spans if s[4] is not None and s[5]}
    units = sorted({op for op in traced_ops if not op.startswith(("setup", "warm"))})
    if res.get("unit") == "iteration":
        work_units = {op.split("/")[0] for op in units} or {"-"}
    else:
        work_units = set(units) or {"-"}
    n_units = len(work_units)
    out = {name: 0.0 for name, _ in PER_LAYER}

    # span totals, normalised per op in which the span name occurs
    by_name: dict[str, dict[str, float]] = {}
    for name, s, e, parent, op, traced in tr.spans:
        if e is None or not traced:
            continue
        by_name.setdefault(name, {}).setdefault(op, 0.0)
        by_name[name][op] += e - s

    def per_op_mean(name: str) -> float:
        d = by_name.get(name, {})
        return sum(d.values()) / len(d) if d else 0.0

    for name in ("sources.explode", "sinks.write", "ingest.posts", "ingest.follows",
                 "ingest.profiles", "ingest.communities", "streaming.batch",
                 "search.index_build", "search.index_merge", "curate.exact_dedup",
                 "curate.lsh", "curate.verify", "curate.quality", "curate.decontam"):
        out[f"{name}_s"] = per_op_mean(name)

    # serving: transport = HTTP round trip minus execute; self times
    req_ops = [op for op in by_name.get("serving.http", {})]
    if req_ops:
        n = len(req_ops)
        tot = lambda k: sum(by_name.get(k, {}).get(op, 0.0) for op in req_ops)  # noqa: E731
        rows_jobs = 0.0
        rows_spans = [(s, e) for name, s, e, *_ in tr.spans if name == "serving.rows" and e]
        for jid, job in ev.jobs.items():
            if job["end"] is None:
                continue
            if any(s - 0.001 <= job["submit"] <= e + 0.001 for s, e in rows_spans):
                rows_jobs += job["end"] - job["submit"]
        out["serving.transport_ms"] = (tot("serving.http") - tot("serving.execute")) * 1000 / n
        out["serving.execute_self_ms"] = (
            tot("serving.execute") - tot("operators.construct") - tot("serving.rows")
        ) * 1000 / n
        out["serving.rows_self_ms"] = (tot("serving.rows") - rows_jobs) * 1000 / n
        out["serving.rows_returned"] = sum(tr.extra.get("serving.rows_returned", [])) / n
        out["operators.construct_ms"] = tot("operators.construct") * 1000 / n
        out["operators.construct_jobs"] = sum(tr.extra.get("operators.construct_jobs", [])) / n

    for k in ("analysis", "optimization", "planning"):
        out[f"catalyst.{k}_ms"] = sum(tr.extra.get(f"catalyst.{k}_ms", [])) / n_units

    # executor work per unit (request / iteration / pass), traced units only
    agg: dict[str, float] = {}
    for op, row in per_op.items():
        if op in units:
            for k, v in row.items():
                agg[k] = agg.get(k, 0.0) + v
    for k in ("jobs", "stages", "tasks", "scheduler_delay_ms", "run_ms", "cpu_ms", "gc_ms",
              "scan_rows", "scan_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "python_bytes", "rows_out", "bytes_written"):
        out[f"exec.{k}"] = agg.get(k, 0.0) / n_units
    results = out["serving.rows_returned"] or out["exec.rows_out"]
    out["exec.scan_rows_per_result"] = out["exec.scan_rows"] / results if results else 0.0

    out["ingest.posts_jobs"] = median(tr.extra.get("ingest.posts_jobs", []))
    out["sinks.bytes_written"] = sum(tr.extra.get("sinks.bytes_written", [])) / max(
        1, len(by_name.get("sinks.write", {})))
    out["sinks.files_written"] = sum(tr.extra.get("sinks.files_written", [])) / max(
        1, len(by_name.get("sinks.write", {})))
    for k, v in res.get("layer_counts", {}).items():
        out[k] = float(v)
    hyg = res.get("hygiene") or [(0, 0)]
    out["session.persistent_rdds"] = float(max(h[0] for h in hyg))
    out["session.cached_plans"] = float(max(h[1] for h in hyg))

    if res.get("untraced_op_ms"):
        out["trace.overhead"] = res["op_ms"] / res["untraced_op_ms"] - 1.0
    # unattributed: top-level span minus its direct children, per unit
    child = {}
    for i, (name, s, e, parent, *_) in enumerate(tr.spans):
        if parent is not None and e is not None:
            child[parent] = child.get(parent, 0.0) + (e - s)
    top = [(i, rec) for i, rec in enumerate(tr.spans)
           if rec[0] in ("request", "build", "delta", "pass") and rec[2] is not None
           and rec[4] in units]
    if top:
        out["trace.unattributed_ms"] = sum(
            (rec[2] - rec[1]) - child.get(i, 0.0) for i, rec in top) * 1000 / n_units
    return out


def main() -> int:
    args = _args()
    if not os.path.isdir(os.path.join(ROOT, "union_indexer_node_spark")):
        print(f"cyclebench: no union_indexer_node_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import union_indexer_node_spark  # noqa: F401
    except ImportError as exc:
        print(f"cyclebench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import common

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work, common)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, common) -> int:
    import curate
    import cycle
    import serve

    workload = {"serve": serve, "cycle": cycle, "curate": curate}[args.workload]
    spark, session_s = common.start_session(work)
    tr = common.Tracer(bool(args.trace))
    try:
        res = workload.run(spark, tr, work, args.seed, args.seconds)
        rss, rss_parts = common.peak_rss_mb(spark)
    finally:
        common.stop_session(spark)
    ev = common.EventLog(os.path.join(work, "eventlog"))
    per_op = ev.per_op(ev.attribute(res["windows"]))
    per_iter = [common.sum_counters([per_op.get(op, {}) for op in ops]) for ops in res["iterations"]]
    # What earlier runs of this workload and seed in this checkout left:
    # their work counters (compared exactly) and the untraced mean op
    # time (the base of trace.overhead).
    record_path = os.path.join(ROOT, ".bench_work", f"record-{args.workload}-{args.seed}.json")
    record = {}
    if os.path.exists(record_path):
        with open(record_path) as fh:
            record = json.load(fh)
    # a record left by other inputs (another version of the generator)
    # is not comparable
    previous = record.get("counters") if record.get("shape") == res["shape"] else None
    check = common.counter_check({op: per_op.get(op, {}) for ops in res["iterations"]
                                  for op in ops}, previous)
    record["counters"] = check["record"]
    record["shape"] = res["shape"]
    if args.trace:
        res["untraced_op_ms"] = record.get("untraced_op_ms")
    else:
        record["untraced_op_ms"] = res["op_ms"]
    with open(record_path, "w") as fh:
        json.dump(record, fh)

    e2e = {
        "setup_s": session_s + res["e2e"].get("setup_wo_session_s", 0.0),
        "p50_ms": res["e2e"]["p50_ms"],
        "rate_per_s": res["e2e"]["rate_per_s"],
        "peak_rss_mb": rss,
    }
    print(f"# cyclebench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"# input shape: {json.dumps(res['shape'], sort_keys=True)}")
    print("# end-to-end (this workload's names):")
    for name, (v, unit) in res["named"].items():
        print(f"  {name:<28} {v:>14.4f} {unit}")
    for name, unit in END_TO_END:
        print(f"  {name:<28} {e2e[name]:>14.4f} {unit}")
    print("# peak RSS parts (MB): " + " ".join(f"{k}={v:.1f}" for k, v in rss_parts.items()))
    print("# work counters per iteration (exact; event log):")
    for c in common.COUNTERS:
        print(f"  {c:<22} " + " ".join(str(int(it.get(c, 0))) for it in per_iter))
    print(f"# counter self-check ({check['compared']} repeated ops, this run's iterations "
          f"and the previous run of this seed{'' if previous else ' (none yet)'}): "
          f"exact={','.join(check['exact']) or '-'} "
          f"differ={json.dumps(check['differ']) if check['differ'] else '-'}")
    if res["failures"]:
        print(f"# FAILURES: {json.dumps(res['failures'])[:2000]}")

    if args.trace:
        layers = _layer_metrics(res, tr, ev, per_op)
        print("# per-layer (traced iterations):")
        for name, unit in PER_LAYER:
            print(f"  {name:<34} {layers[name]:>16.4f} {unit}")
        tr.dump(os.path.join(ROOT, ".bench_work", f"spans-{args.workload}.jsonl"))
        metrics = {n: {"value": layers[n], "unit": u} for n, u in JSON_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    sys.stderr.write(f"cyclebench: {time.time() - t0:.1f}s\n")
    sys.exit(code)
