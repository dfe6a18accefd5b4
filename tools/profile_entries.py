"""Construct-vs-execute profiler for registry entries (measurement tool).

For each named entry: time (a) DataFrame CONSTRUCTION — the registry
fn call, which for iterative/trainer entries includes their driver
loop jobs — and (b) noop-sink EXECUTION of the returned frame, both
after one full warmup rep, median of N. Prints one JSON line per
entry plus a ranked summary. Pure diagnostics; not part of the
package API.

Usage: python tools/profile_entries.py name1 name2 ... [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from union_indexer_node_spark import queries as q
    from union_indexer_node_spark.session import get_spark

    reg = q.registry()
    unknown = [n for n in args.names if n not in reg]
    if unknown:
        print(f"unknown entries: {unknown}", file=sys.stderr)
        print(f"valid names: {sorted(reg)}", file=sys.stderr)
        sys.exit(2)
    spark = get_spark(app_name="profile_entries")

    out = {}
    for n in args.names:
        fn = reg[n].fn
        # warmup (one full rep: construct + execute)
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        cons, execs = [], []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            cons.append(t1 - t0)
            execs.append(t2 - t1)
        out[n] = [
            round(statistics.median(cons), 3),
            round(statistics.median(execs), 3),
        ]
        print(json.dumps({n: out[n]}), flush=True)
    print("== ranked by total ==")
    for n, (c, e) in sorted(out.items(), key=lambda kv: -(kv[1][0] + kv[1][1])):
        print(f"{c + e:7.2f}  construct {c:6.2f}  execute {e:6.2f}  {n}")


if __name__ == "__main__":
    main()
