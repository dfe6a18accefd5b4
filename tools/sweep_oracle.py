"""Full-registry oracle sweep at an arbitrary scale factor — the
one-off sf>=0.5 stress run of VERDICT r14 item 4 (and reusable for
any future above-driver-scale verification).

Runs every registry entry's Spark form and its DuckDB oracle over the
SAME parquet directory and compares with the tests/oracle_harness
discipline (rowcount + schema + order-insensitive values, float
tolerance). Emits one JSON line per entry to --out as it goes
(resumable: already-recorded names are skipped on rerun), then a
summary line.

Usage:
  python tools/sweep_oracle.py --sf-dir testdata_scaled/sf0.5 \
      --out /tmp/sweep_sf05.jsonl [--master "local[16]"] [--only a,b]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"
    ),
)


def _run_oracle(duck, sql: str, timeout: float):
    """Execute the oracle with an interrupt watchdog. Returns the
    DataFrame, or None if the watchdog fired (duckdb.interrupt() is
    checked between pipeline operators, so even a mid-flight
    quadratic join stops within a batch)."""
    if timeout <= 0:
        return duck.execute(sql).df()
    import threading

    fired = threading.Event()
    did_fire = threading.Event()

    def watchdog() -> None:
        if not fired.wait(timeout):
            did_fire.set()
            duck.interrupt()

    t = threading.Thread(target=watchdog, daemon=True)
    t.start()
    try:
        return duck.execute(sql).df()
    except Exception:
        # only a watchdog-initiated interrupt maps to the timeout
        # sentinel; any other failure — even one whose message happens
        # to say "interrupt" — is a real oracle error and must surface
        if did_fire.is_set():
            return None
        raise
    finally:
        fired.set()
        t.join()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--master", default="local[16]")
    ap.add_argument("--shuffle-partitions", type=int, default=16)
    ap.add_argument("--only", default="")
    ap.add_argument(
        "--oracle-timeout",
        type=float,
        default=0.0,
        help="seconds before a DuckDB oracle arm is interrupted and the "
        "entry recorded as oracle_timeout (<= 0 = no limit). The Spark "
        "arm is not limited — it parallelizes; the brute SQL replays "
        "are the quadratic risk at stress scale.",
    )
    args = ap.parse_args()

    from oracle_harness import compare, duckdb_conn

    from union_indexer_node_spark import queries as q
    from union_indexer_node_spark.session import get_spark

    reg = q.registry()
    names = sorted(reg)
    if args.only:
        wanted = set(args.only.split(","))
        unknown = wanted - set(names)
        if unknown:
            # silently dropping an unknown name would let the sweep
            # falsely attest an entry that never ran
            sys.exit(
                f"sweep_oracle: unknown registry entries: {sorted(unknown)}"
            )
        names = [n for n in names if n in wanted]

    sf_dir = os.path.abspath(args.sf_dir)

    # resume skips only entries already recorded OK AT THIS SF DIR —
    # a failed record is retried, and a record from a different scale
    # point is ignored entirely (trusting it would attest entries at
    # a scale they never ran at); records predating the sf_dir field
    # are likewise not trusted
    done: set[str] = set()
    prior: dict[str, dict] = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            for line in f:
                rec = json.loads(line)
                if "name" in rec and rec.get("sf_dir") == sf_dir:
                    prior[rec["name"]] = rec
                    if rec.get("ok"):
                        done.add(rec["name"])

    spark = get_spark(
        app_name="sweep",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    duck = duckdb_conn(sf_dir)

    n_pass = n_fail = 0
    with open(args.out, "a") as out:
        for name in names:
            if name in done:
                continue
            qd = reg[name]
            t0 = time.time()
            rec: dict = {"name": name, "sf_dir": sf_dir}
            try:
                sdf = qd.fn(spark, sf_dir).toPandas()
                rec["spark_rows"] = len(sdf)
                ddf = _run_oracle(duck, qd.oracle, args.oracle_timeout)
                if ddf is None:
                    rec["ok"] = False
                    rec["mode"] = "oracle_timeout"
                    rec["err"] = (
                        f"oracle interrupted after {args.oracle_timeout}s"
                    )
                else:
                    rec["oracle_rows"] = len(ddf)
                    errs = compare(sdf, ddf, name)
                    rec["ok"] = not errs
                    if errs:
                        rec["errs"] = errs[:5]
            except Exception as e:  # record, keep sweeping
                rec["ok"] = False
                rec["err"] = f"{type(e).__name__}: {e}"[:500]
                rec["trace"] = traceback.format_exc()[-1500:]
            rec["secs"] = round(time.time() - t0, 2)
            if rec["ok"]:
                n_pass += 1
            else:
                n_fail += 1
            out.write(json.dumps(rec) + "\n")
            out.flush()
            prior[name] = rec
            print(
                f"[{n_pass + n_fail}/{len([n for n in names if n not in done])}] "
                f"{name}: {'ok' if rec['ok'] else 'FAIL'} ({rec['secs']}s)",
                flush=True,
            )
        # the summary covers EVERY recorded entry (this run + resumed
        # prior records), so a resumed sweep can't report fail=0 while
        # the file holds an unretried failure
        all_fails = sorted(
            n for n in names if not prior.get(n, {}).get("ok")
        )
        summary = {
            "summary": True,
            "sf_dir": sf_dir,
            "entries": len(names),
            "pass": len(names) - len(all_fails),
            "fail": len(all_fails),
            "fails": all_fails,
            "this_run": {"pass": n_pass, "fail": n_fail},
        }
        out.write(json.dumps(summary) + "\n")
    print(json.dumps({k: summary[k] for k in ("entries", "pass", "fail", "fails")}))


if __name__ == "__main__":
    main()
