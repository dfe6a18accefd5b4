"""Graph entries: quantized PageRank, connected components and triangle
counts, each batch and incremental (``pipelines/graph.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..pipelines.graph import (
    canonical_edges,
    cc_incremental,
    connected_components,
    pagerank_quantized,
    triangle_count,
    triangle_count_incremental,
)
from . import q


# Integer-quantized PageRank (round 11):
# the centrality sibling of connected_components. Edges derive from
# event arithmetic (97-node ring-ish graph) so both engines build the
# identical graph; two damped iterations unrolled in the oracle, all
# BIGINT (div-by-outdeg, 85/100 damping) — bit-exact ranks.
@q(
    "graph_pagerank_quantized",
    """
    WITH ed AS (
      SELECT DISTINCT event_id % 97 AS s, (event_id * 7 + 13) % 97 AS d
      FROM events
      WHERE event_id % 97 <> (event_id * 7 + 13) % 97
    ),
    nodes AS (
      SELECT DISTINCT v FROM (
        SELECT s AS v FROM ed UNION ALL SELECT d AS v FROM ed
      )
    ),
    od AS (SELECT s, COUNT(*) AS odg FROM ed GROUP BY s),
    pr0 AS (SELECT v, CAST(1000000 AS BIGINT) AS pr FROM nodes),
    c1 AS (
      SELECT ed.d AS v, SUM(pr0.pr // od.odg) AS inm
      FROM ed JOIN pr0 ON pr0.v = ed.s JOIN od ON od.s = ed.s
      GROUP BY ed.d
    ),
    pr1 AS (
      SELECT n.v,
             CAST(((15 * 1000000) + 85 * COALESCE(c1.inm, 0)) // 100
                  AS BIGINT) AS pr
      FROM nodes n LEFT JOIN c1 USING (v)
    ),
    c2 AS (
      SELECT ed.d AS v, SUM(pr1.pr // od.odg) AS inm
      FROM ed JOIN pr1 ON pr1.v = ed.s JOIN od ON od.s = ed.s
      GROUP BY ed.d
    ),
    pr2 AS (
      SELECT n.v,
             CAST(((15 * 1000000) + 85 * COALESCE(c2.inm, 0)) // 100
                  AS BIGINT) AS pr
      FROM nodes n LEFT JOIN c2 USING (v)
    )
    SELECT CAST(v AS BIGINT) AS node, pr AS pr_q FROM pr2
    """,
)
def graph_pagerank_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    eid = F.col("event_id")
    edges = e.select(
        (eid % 97).cast("long").alias("src"),
        ((eid * 7 + 13) % 97).cast("long").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return pagerank_quantized(edges, "src", "dst", iters=2)


# Incremental connected components (round 13): the dedup-cluster
# analog of the diff->index chains — fold a batch of NEW edges into a
# STORED labeling via the super-node contraction (each old component
# is already a star around its min member, so CC over the mapped batch
# edges alone reproduces the from-scratch solve over old ∪ new edges).
# The entry solves the old 2/3 of a sparse events-derived graph with
# connected_components, folds the remaining 1/3 with cc_incremental,
# and the oracle recomputes components over the FULL edge set with the
# reach recursive CTE — a fold bug (stale label, missed merge, lost
# batch-born node) hash-mismatches.
@q(
    "graph_cc_incremental",
    """
    WITH RECURSIVE ed AS (
      SELECT (user_id * 13) % 1999 AS a,
             (user_id * 7 + event_id) % 1999 AS b
      FROM events WHERE event_id % 37 = 0
    ),
    und AS (SELECT a AS s, b AS d FROM ed UNION SELECT b, a FROM ed),
    reach(s, d) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM und)
      UNION
      SELECT r.s, u.d FROM reach r JOIN und u ON u.s = r.d
    )
    SELECT CAST(s AS BIGINT) AS node,
           CAST(MIN(d) AS BIGINT) AS cluster_id
    FROM reach GROUP BY s
    """,
)
def graph_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the old-graph solve and the batch fold both derive from this
    # scan — materialize once (guide §1.2 step 1; the before plan ran
    # the filtered events scan per consumer)
    e = (
        tables.load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 37 == 0)
        .select(
            "event_id",
            ((F.col("user_id") * 13) % 1999).alias("a"),
            ((F.col("user_id") * 7 + F.col("event_id")) % 1999).alias("b"),
        )
        .localCheckpoint()
    )
    old = e.filter(F.col("event_id") % 3 != 0).select("a", "b")
    new = e.filter(F.col("event_id") % 3 == 0).select("a", "b")
    base = connected_components(old, "a", "b")
    return cc_incremental(base, new, "a", "b").select(
        F.col("node").cast("long").alias("node"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


# Triangle counting (round 13): per-node triangle participation — the
# local-clustering / community-density primitive beside
# graph_pagerank_quantized (centrality) and dedup_cc_clusters
# (reachability). The engine runs degree-ordered orientation
# (compact-forward): oriented out-degrees are O(sqrt(m)) under any
# skew, so hub wedges never explode. The oracle enumerates the same
# triangle set from the canonical a<b<c edge ordering — orientation
# changes the enumeration order, never the set. Graph: md5-derived
# Erdos-Renyi-ish edges over 1997 nodes from event ids, so both
# engines build the identical graph (the pagerank entry's pattern).
@q(
    "graph_triangle_count",
    """
    WITH ed AS (
      SELECT DISTINCT LEAST(sx, dx) AS u, GREATEST(sx, dx) AS v
      FROM (
        SELECT CAST(('0x' || substr(hx, 1, 6)) AS BIGINT) % 1997 AS sx,
               CAST(('0x' || substr(hx, 7, 6)) AS BIGINT) % 1997 AS dx
        FROM (SELECT md5(CAST(event_id AS VARCHAR)) AS hx FROM events)
      ) WHERE sx <> dx
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM ed e1
      JOIN ed e2 ON e2.u = e1.v
      JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_cnt FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ) GROUP BY node
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    hx = F.md5(F.col("event_id").cast("string"))
    edges = e.select(
        (F.conv(F.substring(hx, 1, 6), 16, 10).cast("long") % 1997).alias(
            "sx"
        ),
        (F.conv(F.substring(hx, 7, 6), 16, 10).cast("long") % 1997).alias(
            "dx"
        ),
    ).filter(F.col("sx") != F.col("dx"))
    return triangle_count(edges, "sx", "dx")


# Incremental triangle counting (round 14): fold a batch of new edges
# into stored per-node triangle counts without re-solving the graph —
# the triangle analog of graph_cc_incremental (VERDICT r13 item 5's
# maintenance direction, promoted from the canonical-edge-store soak to
# a first-class operator). New triangles partition by how many batch
# edges they contain (1/2/3); each case is pure equi-joins against the
# stored adjacency / the batch, with the one-batch-edge case expanding
# the LOWER-degree endpoint (edge-iterator bound, hub-proof). The
# oracle is the from-scratch canonical a<b<c enumeration over ALL
# edges — completely independent of the delta decomposition, so a
# missed or double-counted case cannot cancel out.
@q(
    "graph_triangle_incremental",
    """
    WITH ed AS (
      SELECT DISTINCT LEAST(sx, dx) AS u, GREATEST(sx, dx) AS v
      FROM (
        SELECT CAST(('0x' || substr(hx, 1, 6)) AS BIGINT) % 4999 AS sx,
               CAST(('0x' || substr(hx, 7, 6)) AS BIGINT) % 4999 AS dx
        FROM (SELECT md5(CAST(event_id AS VARCHAR)) AS hx FROM events)
      ) WHERE sx <> dx
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM ed e1
      JOIN ed e2 ON e2.u = e1.v
      JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_cnt FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ) GROUP BY node
    """,
)
def graph_triangle_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    hx = F.md5(F.col("event_id").cast("string"))
    # the old-edge store build AND the batch both derive from this
    # frame; materialize so the events scan + per-row md5/conv runs
    # once instead of once per consumer (guide §1.2 step 1)
    edges = e.select(
        "event_id",
        (F.conv(F.substring(hx, 1, 6), 16, 10).cast("long") % 4999).alias(
            "sx"
        ),
        (F.conv(F.substring(hx, 7, 6), 16, 10).cast("long") % 4999).alias(
            "dx"
        ),
    ).filter(F.col("sx") != F.col("dx")).localCheckpoint()
    old = edges.filter(F.col("event_id") % 3 != 0).select("sx", "dx")
    new = edges.filter(F.col("event_id") % 3 == 0).select("sx", "dx")
    stored = canonical_edges(old, "sx", "dx").localCheckpoint()
    # stored IS the canonical, materialized edge store — skip the
    # base solve's redundant re-distinct + second checkpoint (r15)
    base = triangle_count(stored, "a", "b", assume_canonical=True)
    _, counts = triangle_count_incremental(stored, base, new, "sx", "dx")
    return counts.select(
        F.col("node").cast("long").alias("node"),
        F.col("tri_cnt").cast("long").alias("tri_cnt"),
    )
