"""The write path both ``serve`` and ``cycle`` run: raw block log ->
bronze ops -> published tables -> search indexes, and delta cuts folded
in through the streaming maintainers.

Every step calls the package's public functions through their modules,
so a traced run's wrappers see the calls. Spans name the layer each
step belongs to.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from common import Tracer, catalyst_phases, job_count

OPS_COLUMNS = (
    "block_height long, block_timestamp timestamp, tx_idx int, trx_id string, "
    "op_idx int, op_type string, author string, permlink string, "
    "parent_author string, parent_permlink string, title string, body string, "
    "json_metadata string, custom_json_id string, custom_json string, "
    "required_posting_auths array<string>, voter string, "
    "posting_json_metadata string, account string, extensions string"
)
_PAYLOAD = (
    "struct<author:string,permlink:string,parent_author:string,"
    "parent_permlink:string,title:string,body:string,json_metadata:string,"
    "id:string,json:string,required_posting_auths:array<string>,voter:string,"
    "posting_json_metadata:string,account:string,extensions:string>"
)
_BLOCKS_ARROW = pa.schema([
    ("block_id", pa.string()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
    ("transactions", pa.list_(pa.struct([
        ("transaction_id", pa.string()),
        ("operations", pa.list_(pa.struct([
            ("op_type", pa.string()), ("payload", pa.string()),
        ]))),
    ]))),
])
N_FOLLOW_BUCKETS = 64  # streaming.stream.start_follows_stream's default layout


def write_blocks(blocks: list[dict], path: str) -> int:
    """Land a block log as one parquet file (input generation, never
    timed). Returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(blocks, schema=_BLOCKS_ARROW), path)
    return os.path.getsize(path)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's _SUCCESS/.crc files
    are not counted."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _listing(path: str) -> dict[str, tuple]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                p = os.path.join(root, n)
                out[p] = (os.path.getsize(p), os.stat(p).st_mtime_ns)
    return out


class Mods:
    """The package modules the write path calls into. Looked up as
    module attributes at call time, so trace wrappers take effect."""

    def __init__(self) -> None:
        from union_indexer_node_spark.ingest import posts, profiles
        from union_indexer_node_spark.pipelines import search
        from union_indexer_node_spark.sources import blocks, sinks
        from union_indexer_node_spark.streaming import stream

        self.blocks, self.sinks, self.posts = blocks, sinks, posts
        self.profiles, self.search, self.stream = profiles, search, stream


def explode_ops(spark, m: Mods, blocks_path: str):
    """Blocks -> one flat raw_ops row per operation (FIXTURES.md)."""
    from pyspark.sql import functions as F

    ex = m.blocks.explode_blocks(
        spark.read.schema(m.blocks.BLOCKS_SCHEMA).parquet(blocks_path)
    )
    p = F.from_json(F.col("payload"), _PAYLOAD)
    cols = [c.split()[0] for c in OPS_COLUMNS.split(", ")]
    fields = {"custom_json_id": "id", "custom_json": "json"}
    sel = []
    for c in cols:
        if c in ("block_height", "block_timestamp", "tx_idx", "trx_id", "op_idx", "op_type"):
            sel.append(F.col(c))
        else:
            sel.append(F.col("_p")[fields.get(c, c)].alias(c))
    return ex.withColumn("_p", p).select(*sel).withColumn(
        "block_height", F.col("block_height").cast("long")
    ).withColumn("tx_idx", F.col("tx_idx").cast("int")).withColumn(
        "op_idx", F.col("op_idx").cast("int")
    )


def _bucketed_follows(follows):
    from pyspark.sql import functions as F

    return follows.withColumn(
        "_bucket",
        F.pmod(F.crc32(F.col("_id")), F.lit(N_FOLLOW_BUCKETS)).cast("int"),
    )


def _keyed(posts):
    from pyspark.sql import functions as F

    return posts.withColumn("_key", F.concat_ws("/", F.col("author"), F.col("permlink")))


def _write(m: Mods, tr: Tracer, df, path: str, part=None) -> None:
    with tr.span("sinks.write"):
        m.sinks.write_snapshot(df, path, partition_by=part)
    if tr.enabled:
        size, files = dir_stats(path)
        tr.extra["sinks.bytes_written"].append(size)
        tr.extra["sinks.files_written"].append(files)


class Published:
    """Paths of one published cycle: tables and the current index
    versions (a merge writes a new version; readers switch after)."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.ops_dir = os.path.join(root, "ops")
        self.stream_in = os.path.join(root, "stream_in")
        self.posts = os.path.join(root, "posts")
        self.follows = os.path.join(root, "follows")
        self.profiles = os.path.join(root, "profiles")
        self.communities = os.path.join(root, "communities")
        self.version = 0

    def index(self, name: str, version: int | None = None) -> str:
        v = self.version if version is None else version
        return os.path.join(self.root, f"index_v{v}", name)

    def index_dir(self) -> str:
        return os.path.join(self.root, f"index_v{self.version}")

    def table_dirs(self) -> list[str]:
        return [self.posts, self.follows, self.profiles, self.communities, self.index_dir()]


def publish(spark, m: Mods, tr: Tracer, blocks_path: str, root: str) -> Published:
    """Full build: block log -> bronze ops -> posts, follows, profiles,
    communities -> BM25 and inverted indexes, all written to storage.
    Posts and follows are written in the layout the streaming
    maintainers fold deltas into."""
    from pyspark.sql import functions as F

    if os.path.exists(root):
        shutil.rmtree(root)
    pub = Published(root)
    trace = tr.enabled

    def write(df, path, part=None):
        _write(m, tr, df, path, part)

    with tr.span("sources.explode"):
        ops = explode_ops(spark, m, blocks_path)
        ops.write.parquet(os.path.join(pub.ops_dir, "base"))
    ops = spark.read.parquet(os.path.join(pub.ops_dir, "base"))

    with tr.span("ingest.posts"):
        j0 = job_count(spark) if trace else 0
        posts = m.posts.build_posts(ops)
        if trace:
            tr.extra["ingest.posts_jobs"].append(job_count(spark) - j0)
            catalyst_phases(tr, posts, plan=True)
        write(posts.withColumn("created_date", F.to_date("created_at")),
              pub.posts, ["created_date"])
    with tr.span("ingest.follows"):
        follows = m.posts.build_follows(ops, keep_tombstones=True)
        if trace:
            catalyst_phases(tr, follows, plan=True)
        write(_bucketed_follows(follows), pub.follows, ["_bucket"])
    with tr.span("ingest.profiles"):
        profiles = m.profiles.build_profiles(ops)
        if trace:
            catalyst_phases(tr, profiles, plan=True)
        write(profiles, pub.profiles)
    with tr.span("ingest.communities"):
        comms = m.profiles.build_communities(ops)
        if trace:
            catalyst_phases(tr, comms, plan=True)
        write(comms, pub.communities)

    with tr.span("search.index_build"):
        posts_pub = spark.read.parquet(pub.posts)
        postings, doclens = m.search.bm25_index(_keyed(posts_pub), "body", "_key")
        inv = m.search.build_inverted_index(posts_pub, "body", ["author", "permlink"])
        if trace:
            for df in (postings, doclens, inv):
                catalyst_phases(tr, df, plan=True)
        write(postings, pub.index("postings"))
        write(doclens, pub.index("doclens"))
        write(inv, pub.index("inverted"))
    return pub


def apply_delta(spark, m: Mods, tr: Tracer, blocks_path: str, pub: Published,
                n: int) -> dict:
    """Fold one landed delta cut: bronze ops into the streaming input,
    the posts and follows streams (availableNow), then the BM25 and
    inverted index maintainers over the changed posts. Returns the
    rewrite stats of the streamed snapshots."""
    from pyspark.sql import functions as F

    before = {**_listing(pub.posts), **_listing(pub.follows)}
    delta_ops = os.path.join(pub.stream_in, f"d{n:03d}")
    with tr.span("sources.explode"):
        explode_ops(spark, m, blocks_path).write.parquet(delta_ops)
    with tr.span("streaming.batch"):
        for start, state, ck in (
            (m.stream.start_posts_stream, pub.posts, "ckpt_posts"),
            (m.stream.start_follows_stream, pub.follows, "ckpt_follows"),
        ):
            src = m.stream.ops_file_stream(
                spark, pub.stream_in, OPS_COLUMNS,
                max_files_per_trigger=1000,
            )
            q = start(spark, src, state, os.path.join(pub.root, ck))
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
    with tr.span("search.index_merge"):
        keys = (
            spark.read.parquet(delta_ops)
            .filter(F.col("op_type") == "comment")
            .select("author", "permlink").distinct()
        )
        changed = spark.read.parquet(pub.posts).join(keys, ["author", "permlink"], "left_semi")
        changed = changed.select("author", "permlink", "body")
        postings, doclens = m.search.bm25_index_merge(
            spark.read.parquet(pub.index("postings")),
            spark.read.parquet(pub.index("doclens")),
            _keyed(changed), "body", "_key",
        )
        inv = m.search.update_inverted_index(
            spark.read.parquet(pub.index("inverted")), changed, "body",
            ["author", "permlink"],
        )
        if tr.enabled:
            for df in (postings, doclens, inv):
                catalyst_phases(tr, df, plan=True)
        nxt = pub.version + 1
        for name, df in (("postings", postings), ("doclens", doclens), ("inverted", inv)):
            _write(m, tr, df, pub.index(name, nxt))
        old = os.path.join(pub.root, f"index_v{pub.version}")
        pub.version = nxt
        shutil.rmtree(old)
    after = {**_listing(pub.posts), **_listing(pub.follows)}
    changed_files = [p for p, v in after.items() if before.get(p) != v]
    parts = {os.path.dirname(p) for p in changed_files}
    parts |= {os.path.dirname(p) for p in before if p not in after}
    return {
        "partitions_rewritten": len(parts),
        "bytes_rewritten": sum(after[p][0] for p in changed_files),
    }


def fingerprint(df) -> str:
    """Order-independent multiset fingerprint: md5 of the sorted
    per-row md5(to_json(struct(sorted cols)))."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    row = F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))
    return (
        df.select(row.alias("h"))
        .agg(F.md5(F.concat_ws("", F.sort_array(F.collect_list("h")))))
        .collect()[0][0]
    )


def check_cycle(spark, m: Mods, pub: Published) -> list[str]:
    """After the last delta: the incrementally maintained snapshot and
    indexes must equal a one-shot build over the same ops."""
    ops = spark.read.parquet(os.path.join(pub.ops_dir, "base")).unionByName(
        spark.read.option("recursiveFileLookup", "true").parquet(pub.stream_in)
    )
    streamed = spark.read.parquet(pub.posts).drop("created_date")
    bad = []
    if fingerprint(streamed) != fingerprint(m.posts.build_posts(ops)):
        bad.append("posts snapshot != one-shot build_posts")
    follows = m.stream.follows_view(spark.read.parquet(pub.follows))
    if fingerprint(follows) != fingerprint(m.posts.build_follows(ops)):
        bad.append("follows snapshot != one-shot build_follows")
    postings, doclens = m.search.bm25_index(_keyed(streamed), "body", "_key")
    if fingerprint(spark.read.parquet(pub.index("postings"))) != fingerprint(postings):
        bad.append("merged BM25 postings != bm25_index over the snapshot")
    if fingerprint(spark.read.parquet(pub.index("doclens"))) != fingerprint(doclens):
        bad.append("merged BM25 doclens != bm25_index over the snapshot")
    inv = m.search.build_inverted_index(streamed, "body", ["author", "permlink"])
    if fingerprint(spark.read.parquet(pub.index("inverted"))) != fingerprint(inv):
        bad.append("updated inverted index != build_inverted_index over the snapshot")
    return bad
