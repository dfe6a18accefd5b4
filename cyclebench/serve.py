"""``serve``: the GraphQL read path over HTTP, closed loop, one client.

Set-up runs the ``cycle`` write path (full build from the block log to
tables and search indexes, then the delta cut), derives the
serving-only columns the ingest output lacks (``payout``, ``lang``,
profile ``score``) and starts ``serving.http.serve`` on 127.0.0.1. The
timed loop POSTs a seeded request mix to ``/api/v2/graphql`` one at a
time.
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
import time
import urllib.request

import cycle
import gen
import pipeline
from common import Tracer, catalyst_phases, hygiene, job_count, median, quantile

CLASSES = ("feed", "lookup", "search", "bm25")
MIN_PASSES = 2  # complete passes over the request list, whatever --seconds says


def _service(spark, pub: pipeline.Published, tip: int):
    from pyspark.sql import functions as F
    from union_indexer_node_spark.ingest.incremental import watermark_state
    from union_indexer_node_spark.serving import GraphQLService
    from union_indexer_node_spark.streaming.stream import follows_view

    posts = (
        spark.read.parquet(pub.posts).drop("created_date")
        .withColumn("payout", (F.col("block_height") % 1000).cast("double") / F.lit(100.0))
        .withColumn("lang", F.lit("en"))
    )
    profiles = spark.read.parquet(pub.profiles).withColumn(
        "score", (F.crc32(F.col("username")) % 97).cast("double") / F.lit(10.0)
    )
    state = watermark_state(spark, {t: (tip, tip) for t in ("posts", "follows", "profiles")})
    return GraphQLService(
        posts=posts,
        follows=follows_view(spark.read.parquet(pub.follows)),
        profiles=profiles,
        communities=spark.read.parquet(pub.communities),
        state=state,
    )


def _tagging(app, spark, tr: Tracer):
    """WSGI middleware: tag the request's Spark jobs with the span id the
    client sends, so the event log attributes them per request, and open
    the server-side span the serving-layer spans of that request nest
    under."""

    def wrapped(environ, start_response):
        tag = environ.get("HTTP_X_BENCH_SPAN") or ""
        spark.sparkContext.setJobDescription(tag)
        try:
            with tr.span("serving.app", op=tag.split(":", 1)[-1]):
                return app(environ, start_response)
        finally:
            spark.sparkContext.setJobDescription(None)

    return wrapped


def _post(port: int, body: bytes, span: str) -> dict:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/api/v2/graphql", data=body,
        headers={"Content-Type": "application/json", "X-Bench-Span": span},
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        return json.loads(resp.read())


_TOK = re.compile(r"[^a-z0-9]+")


def check(req: gen.Request, body: dict, ref: dict) -> str | None:
    """None if the response is right, else why not."""
    if body.get("errors"):
        return f"errors: {body['errors'][0].get('message', '')[:120]}"
    data = body.get("data") or {}
    chk = req.check
    if chk.get("lookup"):
        kind = chk["lookup"]
        val = data.get(kind)
        if kind == "socialPost":
            return None if val and [val["author"], val["permlink"]] == chk["key"] else "post missing"
        if kind == "profile":
            return None if val and val["username"] == chk["key"] else "profile missing"
        if kind == "community":
            return None if val and val["_id"] == f"hive/{chk['key']}" else "community missing"
        if kind == "follows":
            want = sorted(ref["following"].get(chk["key"], ()))
            return None if val and val["followings"] == want else "followings differ"
        items = (val or {}).get("tags" if kind == "trendingTags" else "items")
        if items is None or (kind != "syncState" and not items):
            return f"{kind} empty"
        if chk.get("limit") and len(items) > chk["limit"]:
            return "over limit"
        return None
    node = data
    for part in chk.get("path", next(iter(data), "")).split("."):
        node = (node or {}).get(part)
    items = (node or {}).get("items")
    if items is None:
        return "no items"
    if chk["limit"] is not None and len(items) > chk["limit"]:
        return "over limit"
    f = chk["filter"]
    for it in items:
        key = (it["author"], it["permlink"])
        if key not in ref["posts"]:
            return "row not in published posts"
        if not f.get("includeComments") and "related" not in f and it["parent_author"] != "":
            return "comment in a no-comment feed"
        if "byApp" in f and it["app_name"] != f["byApp"]["_eq"]:
            return "byApp filter"
        if "byTag" in f and f["byTag"]["_eq"] not in (it["tags"] or []):
            return "byTag filter"
        if "byCommunity" in f and it["parent_permlink"] != f["byCommunity"]["_eq"]:
            return "byCommunity filter"
        if "byFollower" in f and it["author"] not in ref["following"].get(f["byFollower"], ()):
            return "byFollower filter"
        if "term" in f and f["term"] not in _TOK.split(ref["posts"][key].lower()):
            return "search term not in body"
        if "related" in f and list(key) == f["related"]:
            return "related feed returned its anchor"
    order = chk.get("order")
    if order in ("recency", "bm25", "payout"):
        def k(it):
            if order == "recency":
                return (-_ts(it["created_at"]), it["permlink"])
            if order == "payout":
                return (-(it["payout"] or 0.0), it["permlink"])
            return (-it["score"], -_ts(it["created_at"]), it["permlink"])
        if [k(i) for i in items] != sorted(k(i) for i in items):
            return f"rows not in {order} order"
    return None


def _ts(s: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(s).timestamp()


def run(spark, tr: Tracer, work: str, seed: int, seconds: float) -> dict:
    from union_indexer_node_spark.operators import api
    from union_indexer_node_spark.serving import graphql_api, http
    from union_indexer_node_spark.streaming.stream import follows_view

    inp = cycle.land(seed, work)
    log = inp.log
    # two request lists with the same composition and different keys;
    # passes alternate between them, so a run averages over more keys
    lists = [gen.request_mix(log, seed, variant) for variant in range(2)]
    m = pipeline.Mods()

    # -- set-up: the cycle write path (full build, then the delta cuts),
    # then the serving view over what it published
    windows: list[tuple[str, float, float]] = []
    t0 = time.perf_counter()
    build, lat_d, rewrites, pub = cycle.write_path(
        spark, m, tr, inp, os.path.join(work, "pub"), "serve", "setup", windows)
    service = _service(spark, pub, log.shape["base_tip"])
    publish_s = time.perf_counter() - t0
    setup_ops = [w[0] for w in windows]
    hyg = [hygiene(spark)]
    server = http.serve(service, port=0)
    server.set_app(_tagging(server.get_app(), spark, tr))
    port = server.server_port
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()

    follows = follows_view(spark.read.parquet(pub.follows))
    ref_posts = {
        (r.author, r.permlink): r.body or ""
        for r in spark.read.parquet(pub.posts).select("author", "permlink", "body").collect()
    }
    following: dict[str, set] = {}
    for r in follows.select("follower", "following").collect():
        following.setdefault(r.follower, set()).add(r.following)
    ref = {"posts": ref_posts, "following": following}

    bodies = [[json.dumps({"query": q.query, "variables": q.variables}).encode()
               for q in reqs] for reqs in lists]
    # warm-up (not timed): one request of each field variant, for JIT
    # and first-use class loading. Its ops repeat requests of the first
    # pass, so the counter self-check has repeated ops within one run.
    seen = set()
    warm_ops = []
    for i, q in enumerate(lists[0]):
        if q.name.split(".")[0] + q.cls not in seen:
            seen.add(q.name.split(".")[0] + q.cls)
            op = f"warm/a{i}"
            w0 = time.time()
            _post(port, bodies[0][i], f"serve:{op}")
            windows.append((op, w0, time.time()))
            warm_ops.append(op)
    hyg.append(hygiene(spark))

    undo = []
    if tr.enabled:
        undo.append(tr.wrap(graphql_api.GraphQLService, "execute", "serving.execute"))
        for name in ("execute", "community_feed"):
            undo.append(_wrap_construct(tr, api, name, spark))
        rows_orig = graphql_api._rows

        def rows_traced(df):
            if not tr.enabled:
                return rows_orig(df)
            with tr.span("serving.rows"):
                out = rows_orig(df)
            catalyst_phases(tr, df, plan=False)
            tr.extra["serving.rows_returned"].append(len(out))
            return out

        graphql_api._rows = rows_traced
        undo.append(lambda: setattr(graphql_api, "_rows", rows_orig))

    lat: dict[str, list[float]] = {c: [] for c in CLASSES}
    all_lat: list[float] = []
    iters: list[list[str]] = [setup_ops, warm_ops]
    responses: list[tuple[gen.Request, dict]] = []
    busy = 0.0
    n = passes = 0
    t_end = time.perf_counter() + seconds
    try:
        while time.perf_counter() < t_end or passes < MIN_PASSES:
            ops = []
            passes += 1
            v = (passes - 1) % len(lists)
            for i, req in enumerate(lists[v]):
                op = f"p{passes}/{'ab'[v]}{i}"
                w0 = time.time()
                t0 = time.perf_counter()
                with tr.span("request", op=op):
                    with tr.span("serving.http"):
                        body = _post(port, bodies[v][i], f"serve:{op}")
                dt_ = time.perf_counter() - t0
                windows.append((op, w0, time.time()))
                ops.append(op)
                busy += dt_
                lat[req.cls].append(dt_ * 1000.0)
                all_lat.append(dt_ * 1000.0)
                responses.append((req, body))
                n += 1
                if time.perf_counter() >= t_end and passes > MIN_PASSES:
                    break
            iters.append(ops)
            hyg.append(hygiene(spark))
    finally:
        for u in reversed(undo):
            u()
        server.shutdown()
        server.server_close()
        thread.join(timeout=30)

    failures = {}
    failed = 0
    for req, body in responses:
        why = check(req, body, ref)
        if why:
            failed += 1
            failures.setdefault(req.name, why)

    p50 = {c: median(v) for c, v in lat.items()}
    # the highest whole percentile with at least ten requests beyond it
    # (p95 needs 200 requests)
    tail = min(95, max(50, int(100 * (n - 10) / n))) if n else 50
    geo = math.exp(sum(math.log(max(v, 1e-6)) for v in p50.values()) / len(p50))
    pub_bytes = sum(pipeline.dir_stats(d)[0] for d in pub.table_dirs())
    return {
        "e2e": {
            "setup_wo_session_s": publish_s,
            "p50_ms": geo,
            "rate_per_s": n / busy if busy else 0.0,
        },
        "named": {
            "fail_share": (failed / n if n else 1.0, "ratio"),
            **{f"{c}_p50_ms": (p50[c], "ms") for c in CLASSES},
            f"req_p{tail}_ms": (quantile(all_lat, tail / 100), "ms"),
            "req_per_s": (n / busy if busy else 0.0, "1/s"),
            "requests": (n, "count"),
            "ingest_ops_per_s": (log.shape["base_ops"] / build, "ops/s"),
            "delta_p50_s": (median(lat_d), "s"),
            "cold_publish_s": (publish_s, "s"),
            "space_amp": (pub_bytes / inp.raw_bytes, "ratio"),
        },
        "op_ms": busy * 1000.0 / n,
        "attempted": n + len(setup_ops),
        "failed": failed,
        "failures": failures,
        "windows": windows,
        "iterations": iters,
        "hygiene": hyg,
        "layer_counts": cycle.rewrite_counts(rewrites, pub),
        "shape": log.shape,
        "request_classes": {c: len(v) for c, v in lat.items()},
    }


def _wrap_construct(tr: Tracer, api, name: str, spark):
    """operators.api.<name>: argument compile + DataFrame construction,
    plus the jobs construction starts eagerly."""
    orig = getattr(api, name)

    def wrapper(*a, **kw):
        if not tr.enabled:
            return orig(*a, **kw)
        j0 = job_count(spark)
        with tr.span("operators.construct"):
            out = orig(*a, **kw)
        tr.extra["operators.construct_jobs"].append(job_count(spark) - j0)
        return out

    setattr(api, name, wrapper)
    return lambda: setattr(api, name, orig)
