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
    from union_indexer_node_spark import queries as q
    from union_indexer_node_spark.session import get_spark

    reg = q.registry()
    unknown = [n for n in names if n not in reg]
    if unknown:
        print(f"unknown entries: {unknown}", file=sys.stderr)
        print(f"valid names: {sorted(reg)}", file=sys.stderr)
        sys.exit(2)
    spark = get_spark(app_name="final_plan")
    try:
        for n in names:
            qe = reg[n].fn(spark, sf_dir)._jdf.queryExecution()
            qe.toRdd().count()
            print(f"==== {n} (executed/final adaptive plan) ====")
            print(qe.executedPlan().toString())
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
