"""Round-14 registry entries. Imported by ``queries.py`` after
queries_r13. Round 14 added four entries: this module's two (the
blocking-recall eval and the incremental triangle fold), plus the two
TPC-H faithful promotions that live beside their retired shapes'
registration sites — tpch_q12_shipmode in queries_r12.py and
tpch_q21_waiting_supplier in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import tables
from .queries import q


# Fuzzy-match blocking-key recall eval (round 14, VERDICT r13 item 6;
# widened to the WIDTH FRONTIER in round 15 per VERDICT r14 item 6):
# dedup_fuzzy_edit_match is EXACT within blocks, but its recall IS the
# blocking key — this entry measures that trade the way
# ann_multiprobe_recall prices LSH probe rings: one row per
# (strategy, width) for width 2..8, both strategies priced from a
# single corpus scan each (token-window candidates NEST decreasing in
# width, SNM candidates cumulate increasing — see
# fuzzy_blocking_frontier's monotonicity argument). The fixture
# plants two mutant classes on a deterministic 1/7 document sample:
# HEAD mutants (first char deleted — outside the token window, so the
# token-window key survives; teleports the record in sort order, so
# sorted-neighborhood misses) and IN-WINDOW mutants (one substitution
# at char 11 — usually inside tokens 2..5, so narrow token-window
# keys break; the 10-char sort prefix survives, so sorted-
# neighborhood catches). Ground truth is brute-force within the
# sample, distributed over bucket-pair equi keys (never a Cartesian
# plan). The oracle is an INDEPENDENT all-pairs-per-width
# formulation: DuckDB native levenshtein truth, per-width list-slice
# equality for the token arm, a rank-distance join for the SNM arm —
# it never replays the maxw/explode protocol, so a monotonicity bug
# in the single-scan trick cannot cancel.
@q(
    "fuzzy_blocking_recall_eval",
    """
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
    ),
    sample AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT doc_id + 3000000, substr(text, 2)
      FROM base WHERE doc_id % 14 = 0 AND length(text) > 40
      UNION ALL
      SELECT doc_id + 6000000,
             substr(text, 1, 10) || 'q' || substr(text, 12)
      FROM base WHERE doc_id % 14 = 7 AND length(text) > 40
    ),
    keyed AS (
      SELECT doc_id, text, length(text) AS len,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM sample
    ),
    truth AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM keyed a JOIN keyed b
        ON a.doc_id < b.doc_id AND abs(a.len - b.len) <= 4
      WHERE levenshtein(a.text, b.text) <= 4
    ),
    widths AS (
      SELECT CAST(range AS INTEGER) AS width FROM range(2, 9)
    ),
    tw AS (
      SELECT w.width, a.doc_id AS a, b.doc_id AS b
      FROM keyed a JOIN keyed b ON a.doc_id < b.doc_id
      CROSS JOIN widths w
      WHERE list_slice(a.toks, 2, w.width + 1)
              = list_slice(b.toks, 2, w.width + 1)
    ),
    ranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY array_to_string(toks, ' '), doc_id) AS rk
      FROM keyed
    ),
    snm AS (
      SELECT w.width,
             LEAST(a.doc_id, b.doc_id) AS a,
             GREATEST(a.doc_id, b.doc_id) AS b
      FROM ranked a JOIN ranked b
        ON b.rk > a.rk AND b.rk - a.rk <= 7
      CROSS JOIN widths w
      WHERE b.rk - a.rk <= w.width - 1
    ),
    nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM keyed),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth),
    anchor AS (
      SELECT 'brute_truth' AS strategy, CAST(0 AS INTEGER) AS width
      UNION ALL
      SELECT s.strategy, w.width
      FROM (VALUES ('token_window'), ('sorted_neighborhood'))
           s(strategy)
      CROSS JOIN widths w
    ),
    cand AS (
      SELECT 'brute_truth' AS strategy, CAST(0 AS INTEGER) AS width,
             CAST(n * (n - 1) // 2 AS BIGINT) AS n_candidates FROM nk
      UNION ALL
      SELECT 'token_window', width, CAST(COUNT(*) AS BIGINT)
      FROM tw GROUP BY width
      UNION ALL
      SELECT 'sorted_neighborhood', width, CAST(COUNT(*) AS BIGINT)
      FROM snm GROUP BY width
    ),
    mt AS (
      SELECT 'brute_truth' AS strategy, CAST(0 AS INTEGER) AS width,
             CAST(COUNT(*) AS BIGINT) AS n_matched FROM truth
      UNION ALL
      SELECT 'token_window', width, CAST(COUNT(*) AS BIGINT)
      FROM tw WHERE EXISTS (SELECT 1 FROM truth t
                            WHERE t.a = tw.a AND t.b = tw.b)
      GROUP BY width
      UNION ALL
      SELECT 'sorted_neighborhood', width, CAST(COUNT(*) AS BIGINT)
      FROM snm WHERE EXISTS (SELECT 1 FROM truth t
                             WHERE t.a = snm.a AND t.b = snm.b)
      GROUP BY width
    )
    SELECT an.strategy, an.width, nt.n_true,
           CAST(COALESCE(c.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
           CASE WHEN nt.n_true > 0
                THEN CAST(1000 * COALESCE(m.n_matched, 0) // nt.n_true
                          AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS recall_permille
    FROM anchor an
    LEFT JOIN cand c
      ON an.strategy = c.strategy AND an.width = c.width
    LEFT JOIN mt m
      ON an.strategy = m.strategy AND an.width = m.width, nt
    """,
)
def fuzzy_blocking_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .pipelines.dedup import fuzzy_blocking_frontier

    base = tables.load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 7 == 0
    )
    long_enough = F.length("text") > 40
    head_mut = base.filter((F.col("doc_id") % 14 == 0) & long_enough).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.expr("substr(text, 2)").alias("text"),
    )
    win_mut = base.filter((F.col("doc_id") % 14 == 7) & long_enough).select(
        (F.col("doc_id") + 6000000).alias("doc_id"),
        F.concat(
            F.expr("substr(text, 1, 10)"),
            F.lit("q"),
            F.expr("substr(text, 12)"),
        ).alias("text"),
    )
    sample = (
        base.select("doc_id", "text")
        .unionByName(head_mut)
        .unionByName(win_mut)
    )
    return fuzzy_blocking_frontier(
        sample, "text", "doc_id", max_edits=4, min_width=2, max_width=8
    )


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
    from .pipelines.training import (
        canonical_edges,
        triangle_count,
        triangle_count_incremental,
    )

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
