"""Post-execution (AQE-final) plan dumper (measurement tool).

`explain()` under AQE shows the INITIAL plan; exchange/stage reuse and
join-strategy switches only appear in the final adaptive plan after the
query has run. This runs each named entry's OWN QueryExecution to
completion and prints its executed plan (``isFinalPlan=true``), so
duplicated-subtree diagnoses are made against what actually ran. A
separate action (a noop write, a collect) would plan and run a second
QueryExecution and leave this one's plan initial. Pure diagnostics;
not part of the package API.

Usage: python tools/final_plan.py name1 [name2 ...]
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench
    from union_indexer_node_spark import queries as q
    from union_indexer_node_spark.session import get_spark

    spark = get_spark(app_name="final_plan")
    reg = q.registry()
    # validate up front (ADVICE r15): an unknown name used to surface as
    # a bare KeyError with no usable message
    valid = set(reg) | set(bench.EXTRA_BENCH)
    unknown = [n for n in names if n not in valid]
    if unknown:
        print(f"unknown entries: {unknown}", file=sys.stderr)
        print(f"valid names: {sorted(valid)}", file=sys.stderr)
        spark.stop()
        sys.exit(2)
    try:
        for n in names:
            fn = bench.EXTRA_BENCH[n] if n in bench.EXTRA_BENCH else reg[n].fn
            qe = fn(spark, sf_dir)._jdf.queryExecution()
            qe.toRdd().count()
            print(f"==== {n} (executed/final adaptive plan) ====")
            print(qe.executedPlan().toString())
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
