"""Round-12 registry entries (sibling-module pattern; ``queries.py``
imports this module at its end, after queries_r11).

Both entries discharge VERDICT r11 item 7: the incremental-maintenance
operators (bm25_index_merge, update_minhash_index) were each verified
ALONE against a fresh rebuild; these verify the full diff-driven
pipeline — ``corpus_diff`` computes the delta between two corpus
versions, the delta feeds the index maintainer, and the chained result
must hash-match a from-scratch build over the evolved corpus. That
pins the deployment claim end-to-end: an ingest cycle does
O(changed docs) index work, driven entirely by the snapshot diff.

Shared fixture (every diff status populated):
- old  = documents with 1/3 carrying ' stale' text (-> changed) plus
         1/11 extra legacy ids (doc_id + 2000000, -> removed)
- new  = current documents plus 1/5 extra v2 ids (doc_id + 1000000,
         -> added); the rest unchanged
The delta the chain feeds is: new text for changed/added ids, empty
text for removed ids (the documented deletion encoding of
update_minhash_index / the zero-token drop of bm25_index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import tables
from .queries import q

# The evolved corpus, as each engine sees it. 1000000/2000000 offsets
# keep synthetic ids disjoint from real doc_ids at any test SF.
_NEWC_CTE = """
newc AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' v2' AS text
  FROM documents WHERE doc_id % 5 = 0
)
"""


def _old_new(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    did = F.col("doc_id")
    old = d.select(
        "doc_id",
        F.when(did % 3 == 0, F.concat(F.col("text"), F.lit(" stale")))
        .otherwise(F.col("text"))
        .alias("text"),
    ).unionByName(
        d.filter(did % 11 == 0).select(
            (did + 2000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" legacy")).alias("text"),
        )
    )
    new = d.select("doc_id", "text").unionByName(
        d.filter(did % 5 == 0).select(
            (did + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" v2")).alias("text"),
        )
    )
    return old, new


def _diff_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """corpus_diff -> the delta frame the index maintainers consume:
    (id, new text) for changed/added, (id, '') for removed. The diff
    is the ONLY driver — nothing downstream re-reads the old corpus."""
    from .pipelines.curation import corpus_diff

    # The full-outer digest diff is corpus-wide; its filtered residue is
    # delta-sized. WITHOUT materialization every downstream consumer
    # (upserts semi-join, removed arm, the merge's anti-join id probe)
    # re-derives the whole diff tree — the r15 before-plan of
    # pipeline_diff_bm25_chain carried SIX copies of the FullOuter
    # SortMergeJoin. One localCheckpoint runs the diff once (guide
    # §2.4: remove shuffles outright / §3.3: materialize shared
    # intermediates to truncate duplicated subtrees).
    diff = (
        corpus_diff(old, new, "doc_id", "text")
        .filter(F.col("status") != "unchanged")
        .localCheckpoint()
    )
    # delta-sized by construction (changed+added ids) — broadcast so
    # the corpus side never shuffles for the semi-join
    upserts = new.join(
        F.broadcast(
            diff.filter(F.col("status").isin("changed", "added")).select(
                "doc_id"
            )
        ),
        "doc_id",
        "left_semi",
    )
    removed = (
        diff.filter(F.col("status") == "removed")
        .select("doc_id")
        .withColumn("text", F.lit(""))
    )
    # delta-sized too; both index-merge chains consume it twice (the
    # fresh tokenize pass AND the anti-join id probe), so materialize
    # once — otherwise the `new` corpus scan behind `upserts` runs per
    # consumer.
    return upserts.unionByName(removed).localCheckpoint()


# corpus_diff -> bm25_index_merge, end-to-end: build the index over the
# OLD corpus, fold only the diff-derived delta, and the maintained
# (postings, doclens) must equal a fresh bm25_index over the NEW corpus
# — stale rows gone (changed docs), legacy ids gone (removed docs), v2
# ids present (added docs). Oracle = per-doc stats of the fresh build.
@q(
    "pipeline_diff_bm25_chain",
    f"""
    WITH {_NEWC_CTE.strip()},
    toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM newc
    ),
    nn AS (SELECT doc_id, toks FROM toks WHERE len(toks) >= 1),
    u AS (SELECT doc_id, unnest(toks) AS token FROM nn),
    p AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM u GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST((SELECT len(toks) FROM nn WHERE nn.doc_id = p.doc_id)
                AS BIGINT) AS dl,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(MAX(tf) AS BIGINT) AS max_tf
    FROM p GROUP BY doc_id
    """,
)
def pipeline_diff_bm25_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipelines.search import bm25_index, bm25_index_merge

    d = tables.load(spark, sf_dir, "documents")
    old, new = _old_new(d)
    postings, doclens = bm25_index(old, "text", "doc_id")
    delta = _diff_delta(old, new)
    postings, doclens = bm25_index_merge(
        postings, doclens, delta, "text", "doc_id"
    )
    stats = postings.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.max("tf").cast("long").alias("max_tf"),
    )
    return doclens.join(stats, "doc_id").select(
        "doc_id", F.col("dl").cast("long").alias("dl"), "n_terms", "max_tf"
    )


# corpus_diff -> update_minhash_index, end-to-end: same chain for the
# dedup layer's signature table — the maintained index must hash-match
# minhash_signature over the NEW corpus row-for-row (k=8 hash windows).
@q(
    "pipeline_diff_minhash_chain",
    f"""
    WITH {_NEWC_CTE.strip()},
    toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM newc
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(generate_series(1, len(toks) - 2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      )) AS s
      FROM toks
    ),
    hashed AS (
      SELECT doc_id, md5(s) || md5(s || '#') AS hx FROM sh
    )
    SELECT doc_id,
      min(substr(hx,  1, 8)) h0, min(substr(hx,  9, 8)) h1,
      min(substr(hx, 17, 8)) h2, min(substr(hx, 25, 8)) h3,
      min(substr(hx, 33, 8)) h4, min(substr(hx, 41, 8)) h5,
      min(substr(hx, 49, 8)) h6, min(substr(hx, 57, 8)) h7
    FROM hashed GROUP BY doc_id
    """,
)
def pipeline_diff_minhash_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .pipelines.dedup import minhash_signature, update_minhash_index

    d = tables.load(spark, sf_dir, "documents")
    old, new = _old_new(d)
    index = minhash_signature(old, "text", "doc_id")
    delta = _diff_delta(old, new)
    return update_minhash_index(index, delta, "text", "doc_id")


# Count-Min sketch heavy-hitter probe (round 12): the mergeable
# frequency sketch next to KMV — d md5 hash rows × w counters,
# bit-identical in both engines, w·d longs of state per slice. w=64 is
# deliberately small at this SF so collisions actually occur and the
# min-over-rows estimator does real work; the exact count rides along so
# the row itself shows est >= exact (the CM guarantee), and the oracle
# replays the identical sketch.
@q(
    "sketch_cm_heavy_hitters",
    """
    WITH k AS (SELECT CAST(user_id AS VARCHAR) AS _k FROM events),
    cells AS (
      SELECT r,
             CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || _k),
                                  1, 12)) AS BIGINT) % 64 AS b,
             COUNT(*) AS cnt
      FROM k, range(0, 4) rr(r) GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
    ),
    probes AS (
      SELECT c.user_id, r,
             CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|'
                                      || CAST(c.user_id AS VARCHAR)),
                                  1, 12)) AS BIGINT) % 64 AS b
      FROM cand c, range(0, 4) rr(r)
    ),
    est AS (
      SELECT user_id, MIN(COALESCE(cnt, 0)) AS cm_count
      FROM probes LEFT JOIN cells USING (r, b) GROUP BY user_id
    ),
    ex AS (SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id)
    SELECT est.user_id, CAST(est.cm_count AS BIGINT) AS cm_count,
           CAST(ex.exact_count AS BIGINT) AS exact_count
    FROM est JOIN ex USING (user_id)
    """,
)
def sketch_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import cm_estimate, cm_sketch

    e = tables.load(spark, sf_dir, "events")
    cells = cm_sketch(e, "user_id", w=64, d=4)
    cand = (
        e.filter(F.col("user_id") % 97 == 0).select("user_id").distinct()
    )
    est = cm_estimate(cells, cand, "user_id", w=64, d=4)
    exact = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    return est.join(exact, "user_id")


# Bottom-k-sample quantiles (round 12):
# the KMV selection applied to whole rows = a deterministic uniform
# sample without replacement, mergeable across slices; nearest-rank
# quantiles over the sample bound both state and error where exact
# quantiles would need a full 100 TB sort. Values quantized to cents
# so both engines rank identical integers.
@q(
    "sketch_sample_quantiles",
    """
    WITH h AS (
      SELECT event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
             CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))
                  AS BIGINT) AS _h,
             event_id
      FROM events
    ),
    s AS (
      SELECT event_type, v, _h,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY _h, event_id) AS _r
      FROM h QUALIFY _r <= 128
    ),
    rk AS (
      SELECT event_type, v, _h,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY v, _h) AS _vr,
             COUNT(*) OVER (PARTITION BY event_type) AS _n
      FROM s
    )
    SELECT event_type, CAST(q AS INT) AS q, v AS quantile_value
    FROM rk, (VALUES (25), (50), (75)) qq(q)
    WHERE _vr = 1 + (q * (_n - 1)) // 100
    """,
)
def sketch_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import bottomk_sample, sample_quantiles

    e = tables.load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("v"),
        "event_id",
    )
    samp = bottomk_sample(e, ["event_type"], "event_id", k=128)
    return sample_quantiles(samp, ["event_type"], "v", qs=(25, 50, 75))


# Corpus-wide frequent-line removal (round 12): the RefinedWeb/CCNet
# boilerplate cut. Fixture injects a banner line into half the corpus
# (removed everywhere, incl. from docs where it IS half the content) and
# a rare disclaimer into 1/97 (below min_docs -> kept); the synthetic
# corpus's own cross-doc repeated lines flag organically and the oracle
# mirrors them.
@q(
    "curation_remove_frequent_lines",
    """
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN 'join our newsletter today' || chr(10) || text
                  ELSE text END AS t0
      FROM documents
    ),
    aug2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 97 = 0
                  THEN t0 || chr(10) || 'rare disclaimer line'
                  ELSE t0 END AS text
      FROM aug
    ),
    s AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug2),
    l0 AS (
      SELECT doc_id, unnest(ls) AS line,
             unnest(generate_series(1, len(ls))) AS i
      FROM s
    ),
    l AS (SELECT doc_id, line, i, trim(line) AS norm FROM l0),
    flagged AS (
      SELECT norm
      FROM (SELECT DISTINCT norm, doc_id FROM l WHERE norm <> '')
      GROUP BY norm HAVING COUNT(*) >= 10
    ),
    kept AS (
      SELECT * FROM l WHERE norm NOT IN (SELECT norm FROM flagged)
    ),
    reb AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY i) AS cleaned_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(r.cleaned_text, '') AS cleaned_text,
           CAST(t.n_lines AS BIGINT) AS n_lines,
           CAST(t.n_lines - COALESCE(r.n_kept, 0) AS BIGINT)
             AS n_removed_lines
    FROM tot t LEFT JOIN reb r USING (doc_id)
    """,
)
def curation_remove_frequent_lines(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .pipelines.curation import remove_frequent_lines

    d = tables.load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t0 = F.when(
        did % 2 == 0,
        F.concat(F.lit("join our newsletter today\n"), F.col("text")),
    ).otherwise(F.col("text"))
    t1 = F.when(
        did % 97 == 0, F.concat(t0, F.lit("\nrare disclaimer line"))
    ).otherwise(t0)
    aug = d.select("doc_id", t1.alias("text"))
    return remove_frequent_lines(aug, "text", "doc_id", min_docs=10)


def _km_fixture_cents(k: int = 4, dim: int = 64) -> list[list[float]]:
    """Deterministic float centroids on exact-binary /8 fractions so
    both engines compute identical distance doubles."""
    return [
        [((5 * ci + j) % 9 - 4) / 8.0 for j in range(dim)]
        for ci in range(k)
    ]


def _km_cents_values_sql(cents: list[list[float]]) -> str:
    rows = ", ".join(
        f"({ci}, [{', '.join(repr(v) for v in c)}])"
        for ci, c in enumerate(cents)
    )
    return f"(VALUES {rows}) c(cluster, carr)"


# Incremental k-means via mergeable sufficient statistics (round 12):
# the mini-batch primitive of the incremental-maintenance family applied
# to clustering — per-slice (cluster, dim, s_q, n_points) stats under
# fixture centroids, FOLDED across two corpus halves, must equal the
# whole-corpus stats (exact integer sums). The oracle computes the
# whole-corpus side; the Spark side goes through the fold, so a fold bug
# (double-count, dropped slice, wrong key) hash-mismatches.
@q(
    "sim_kmeans_incremental",
    f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000000, 0) AS BIGINT))
               AS qv
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    cents AS (SELECT * FROM {_km_cents_values_sql(_km_fixture_cents())}),
    d AS (
      SELECT q.vec_id, q.qv, c.cluster,
             round(list_sum(list_transform(q.qv,
               (v, i) -> (v / 1000000.0 - c.carr[i])
                         * (v / 1000000.0 - c.carr[i]))), 4) AS dist
      FROM q CROSS JOIN cents c
    ),
    a AS (
      SELECT vec_id, qv, cluster FROM d
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY dist, cluster) = 1
    )
    SELECT a.cluster, CAST(t.i AS INT) AS dim,
           CAST(SUM(a.qv[t.i]) AS BIGINT) AS s_q,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM a CROSS JOIN range(1, 65) AS t(i)
    GROUP BY 1, 2
    """,
)
def sim_kmeans_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipelines.similarity import kmeans_fold_suffstats, kmeans_suffstats

    emb = tables.load(spark, sf_dir, "embeddings")
    cents = _km_fixture_cents()
    halves = [
        kmeans_suffstats(emb.filter(F.col("vec_id") % 2 == m), cents)
        for m in (0, 1)
    ]
    return kmeans_fold_suffstats(*halves)


# Ingest dispatch AUDIT (round 12): the
# dead-letter view of build_follows — every drop class the dispatch
# performs silently (each matching a reference behavior or documented
# divergence) becomes a labeled row. Fixture arms one op per reason
# from event arithmetic; the oracle re-derives the labels from the
# same arithmetic, so a dispatch-predicate drift (e.g. the NULL-action
# corner) hash-mismatches here even though build_follows' own entry
# only sees the surviving edges.
@q(
    "ingest_follows_audit",
    """
    SELECT event_id AS block_height,
           CAST(0 AS INT) AS tx_idx, CAST(1 AS INT) AS op_idx,
           CASE WHEN event_id % 7 IN (0, 1, 5) THEN 'follow'
                WHEN event_id % 7 IN (2, 6) THEN 'community'
                ELSE 'spk.follow' END AS family,
           CASE WHEN event_id % 7 IN (0, 6) THEN 'applied'
                ELSE 'dropped' END AS status,
           CASE event_id % 7
                WHEN 1 THEN 'spoofed_or_missing_follower'
                WHEN 2 THEN 'non_follow_action'
                WHEN 3 THEN 'missing_signer'
                WHEN 4 THEN 'missing_following'
                WHEN 5 THEN 'malformed_json'
           END AS reason
    FROM events
    """,
)
def ingest_follows_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ingest.posts import follows_op_audit

    e = tables.load(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    fam = eid % 7
    s = lambda c: c.cast("string")  # noqa: E731
    ua = F.concat(F.lit("u"), s(uid % 20))
    ub = F.concat(F.lit("u"), s((uid * 7 + 3) % 20))
    cj = (
        F.when(
            fam == 0,
            F.concat(
                F.lit('{"follower":"'), ua, F.lit('","following":"'),
                ub, F.lit('","what":["blog"]}'),
            ),
        )
        .when(
            fam == 1,  # spoof: claimed follower is NOT the signer
            F.concat(
                F.lit('{"follower":"'), ub, F.lit('","following":"'),
                ua, F.lit('","what":["blog"]}'),
            ),
        )
        .when(fam == 2, F.lit('{"action":"updateProps","community":"hive-1"}'))
        .when(fam == 3, F.lit('{"did":"did:key:z7"}'))  # authless below
        .when(fam == 4, F.concat(F.lit('{"following":"'), ub, F.lit('"}')))
        .when(fam == 5, F.lit("{not json"))
        .otherwise(F.lit('{"action":"subscribe","community":"hive-2"}'))
    )
    cj_id = (
        F.when(fam.isin(0, 1, 5), F.lit("follow"))
        .when(fam.isin(2, 6), F.lit("community"))
        .otherwise(F.lit("spk.follow"))
    )
    auths = F.when(
        fam == 3, F.array().cast("array<string>")
    ).otherwise(F.array(ua))
    ops = e.select(
        eid.alias("block_height"),
        F.lit(0).cast("int").alias("tx_idx"),
        F.lit(1).cast("int").alias("op_idx"),
        F.lit("custom_json").alias("op_type"),
        cj_id.alias("custom_json_id"),
        cj.alias("custom_json"),
        auths.alias("required_posting_auths"),
    )
    return follows_op_audit(ops)


# ---------------------------------------------------------------------------
# TPC-H completion block (round 12): the six
# query shapes the relational-depth suite was missing (Q2/Q9/Q11/Q12/
# Q16/Q20). The testdata has no PARTSUPP table and lineitem carries no
# shipmode/commit/receipt dates; r13 promoted Q2/Q9/Q11/Q16/Q20 to
# faithful forms over the derived `partsupp` relation, and r14
# promoted Q12 (and Q21 in queries.py) to faithful forms over the
# derived `lineitem_ext` relation (tables.py) — closing VERDICT r12
# item 8 / r13 item 4: no *_shape adaptations remain in the suite.
# All arithmetic is integer-exact (cents + whole-quantity
# quantization, the _CENTS / _DISC_PCT discipline of the rest of the
# suite).
# ---------------------------------------------------------------------------

_QTY = "CAST(ROUND(l_quantity, 0) AS BIGINT)"
_CENTS_SQL = "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
_DISC_SQL = "CAST(ROUND(l_discount * 100, 0) AS BIGINT)"


# builders, not module constants: F.col needs an active context here
def _qty_col():
    return F.round(F.col("l_quantity"), 0).cast("long")


def _cents_col():
    return F.round(F.col("l_extendedprice") * 100, 0).cast("long")


def _disc_col():
    return F.round(F.col("l_discount") * 100, 0).cast("long")


# Q12 FAITHFUL (promoted from the r12 linenumber-parity `_shape` in
# round 14, VERDICT r13 item 4, over the derived `lineitem_ext`
# relation — tables.lineitem_ext adds l_shipmode/l_commitdate/
# l_receiptdate with deterministic key arithmetic both engines
# reproduce bit-for-bit, the partsupp move applied to the fact). Full
# Q12 semantics: two pinned ship modes, the late-commit chain
# l_shipdate < l_commitdate < l_receiptdate, a one-year receipt-date
# window, and the URGENT/HIGH split.
@q(
    "tpch_q12_shipmode",
    f"""
    WITH {tables.LINEITEM_EXT_CTE.strip()}
    SELECT l_shipmode,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem_ext JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipmode IN ('MAIL', 'SHIP')
      AND l_commitdate < l_receiptdate
      AND l_shipdate < l_commitdate
      AND l_receiptdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_receiptdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1 ORDER BY 1
    """,
)
def tpch_q12_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.lineitem_ext(spark, sf_dir).filter(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate") < F.col("l_commitdate"))
        & (
            F.col("l_receiptdate")
            >= F.lit("1997-01-01 00:00:00").cast("timestamp")
        )
        & (
            F.col("l_receiptdate")
            < F.lit("1998-01-01 00:00:00").cast("timestamp")
        )
    )
    o = tables.load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, "l_orderkey")
        .select("l_shipmode", hi.cast("long").alias("_hi"))
        .groupBy("l_shipmode")
        .agg(
            F.sum("_hi").cast("long").alias("high_line_count"),
            (F.count(F.lit(1)) - F.sum("_hi"))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


# Q2 FAITHFUL (promoted from the r12 `_shape` adaptation per VERDICT
# r12 item 8): minimum-cost supplier over a real `partsupp` relation
# (tables.partsupp — the deterministic 4-suppliers-per-part derivation
# both engines reproduce bit-for-bit). Full TPC-H Q2 semantics: the
# correlated MIN(ps_supplycost) subquery scoped to one region,
# decorrelated as agg-then-rejoin (exactly what Catalyst does to the
# correlated form); part predicate p_size + p_type LIKE; Q2's output
# ordering + LIMIT 100. Only the spec columns our `part`/`supplier`
# lack (p_mfgr, s_address, s_phone, s_comment) are absent.
@q(
    "tpch_q2_min_cost_supplier",
    f"""
    WITH {tables.PARTSUPP_CTE.strip()},
    r AS (
      SELECT ps_partkey, ps_suppkey,
             CAST(ROUND(ps_supplycost * 100, 0) AS BIGINT) AS cost_q,
             s_name, n_name,
             CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS acctbal_q
      FROM partsupp JOIN supplier ON s_suppkey = ps_suppkey
             JOIN nation ON n_nationkey = s_nationkey
             JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'AFRICA'
    ),
    m AS (SELECT ps_partkey, MIN(cost_q) AS mc FROM r GROUP BY 1)
    SELECT r.acctbal_q, r.s_name, r.n_name,
           r.ps_partkey AS p_partkey, r.cost_q
    FROM r JOIN m ON m.ps_partkey = r.ps_partkey AND r.cost_q = m.mc
           JOIN part ON p_partkey = r.ps_partkey
    WHERE p_size <= 15 AND p_type LIKE '%O'
    ORDER BY acctbal_q DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # partsupp pruned to the part predicate below the containment
    # distinct (r15, guide §2.3): the per-part MIN is unchanged for
    # surviving parts (groups keyed by ps_partkey see identical rows),
    # and the final semi-join keeps only these parts anyway.
    pkeys = tables.load(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & F.col("p_type").like("%O")
    ).select("p_partkey")
    ps = tables.partsupp(spark, sf_dir, part_keys=pkeys)
    s = tables.load(spark, sf_dir, "supplier")
    n = tables.load(spark, sf_dir, "nation")
    r = tables.load(spark, sf_dir, "region").filter(
        F.col("r_name") == "AFRICA"
    )
    scoped = (
        ps.join(s, ps["ps_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select(
            "ps_partkey",
            "ps_suppkey",
            F.round(F.col("ps_supplycost") * 100, 0)
            .cast("long")
            .alias("cost_q"),
            "s_name",
            "n_name",
            F.round(F.col("s_acctbal") * 100, 0)
            .cast("long")
            .alias("acctbal_q"),
        )
    )
    # Two consumers (the per-part MIN and the final min-cost probe) —
    # materialize so the partsupp derivation's lineitem pass runs once,
    # not once per consumer (r15, guide §3.3/§5: `scoped` is the
    # region's partsupp slice, far smaller than the fact pass that
    # builds it).
    scoped = scoped.localCheckpoint()
    m = scoped.groupBy("ps_partkey").agg(F.min("cost_q").alias("mc"))
    p = tables.load(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & F.col("p_type").like("%O")
    ).select(F.col("p_partkey").alias("ps_partkey"))
    return (
        scoped.join(m, "ps_partkey")
        .filter(F.col("cost_q") == F.col("mc"))
        .join(F.broadcast(p), "ps_partkey", "left_semi")
        .select(
            "acctbal_q",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "cost_q",
        )
        .orderBy(
            F.desc("acctbal_q"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


# Q9 FAITHFUL (promoted from the r12 `_shape` adaptation per VERDICT
# r12 item 8): product-type profit by nation and year over the real
# `partsupp` relation — amount = l_extendedprice*(1-l_discount) -
# ps_supplycost*l_quantity, quantized to exact integer "basis cents"
# (x1e4) in both engines; o_year from O_ORDERDATE via the orders join
# (the spec's year source — the `_shape` used l_shipdate); the full
# six-table join incl. the composite (l_partkey, l_suppkey) = partsupp
# PK equi-join; the %color% p_name filter. The partsupp join is
# LOSSLESS like the spec's: tables.partsupp closes the dbgen
# containment (lineitem pairs ⊆ partsupp) by construction, pinned by
# TestPartsuppDerivation. Scale note: the only non-broadcastable join
# is lineitem x orders on the order key (same as real Q9);
# partsupp/part/supplier/nation broadcast.
@q(
    "tpch_q9_profit",
    f"""
    WITH {tables.PARTSUPP_CTE.strip()}
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           CAST(SUM({_CENTS_SQL} * (100 - {_DISC_SQL})
                    - {_QTY} * CAST(ROUND(ps_supplycost * 100, 0)
                               AS BIGINT) * 100) AS BIGINT) AS profit_q
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2 ORDER BY nation, o_year DESC
    """,
)
def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    o = tables.load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    # partsupp pruned to the %red% parts below the containment distinct
    # (r15, guide §2.3): the inner join on l_partkey together with the
    # p semi-join keeps exactly these parts, so the pruned relation
    # joins identically while the distinct shuffle and the broadcast
    # carry ~an order of magnitude fewer keys.
    pkeys = tables.load(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey")
    ps = tables.partsupp(spark, sf_dir, part_keys=pkeys).select(
        F.col("ps_partkey").alias("l_partkey"),
        F.col("ps_suppkey").alias("l_suppkey"),
        F.round(F.col("ps_supplycost") * 100, 0)
        .cast("long")
        .alias("_cost_q"),
    )
    p = tables.load(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select(F.col("p_partkey").alias("l_partkey"))
    s = tables.load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    n = tables.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), "n_name"
    )
    amount = _cents_col() * (100 - _disc_col()) - _qty_col() * F.col(
        "_cost_q"
    ) * 100
    return (
        li.join(F.broadcast(ps), ["l_partkey", "l_suppkey"])
        .join(F.broadcast(p), "l_partkey", "left_semi")
        .join(o, "l_orderkey")
        .join(F.broadcast(s), "l_suppkey")
        .join(F.broadcast(n), "s_nationkey")
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            amount.alias("_a"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("_a").cast("long").alias("profit_q"))
        .orderBy("nation", F.desc("o_year"))
    )


# Q11 FAITHFUL (promoted per VERDICT r12 item 8): important stock —
# per-part inventory value SUM(ps_supplycost * ps_availqty) over the
# real partsupp for one nation's suppliers, kept where the part's
# share exceeds 0.1% of that nation's total (Q11's
# group-vs-global-scalar HAVING). Value quantized as exact integer
# cost-cents x availqty in both engines.
@q(
    "tpch_q11_important_stock",
    f"""
    WITH {tables.PARTSUPP_CTE.strip()},
    v AS (
      SELECT ps_partkey,
             SUM(CAST(ROUND(ps_supplycost * 100, 0) AS BIGINT)
                 * ps_availqty) AS value_q
      FROM partsupp
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_0'
      GROUP BY 1
    ),
    t AS (SELECT SUM(value_q) AS total FROM v)
    SELECT ps_partkey AS p_partkey, CAST(value_q AS BIGINT) AS value_q
    FROM v, t WHERE value_q * 1000 > total
    ORDER BY value_q DESC, p_partkey
    """,
)
def tpch_q11_important_stock(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    s = tables.load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("ps_suppkey"), "s_nationkey"
    )
    n = tables.load(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_0"
    ).select(F.col("n_nationkey").alias("s_nationkey"))
    # partsupp pruned to the nation's suppliers below the containment
    # distinct (r15, guide §2.3): v and t aggregate only rows whose
    # supplier passes this semi-join anyway, so both are unchanged.
    nation_sk = s.join(F.broadcast(n), "s_nationkey", "left_semi").select(
        "ps_suppkey"
    )
    ps = tables.partsupp(spark, sf_dir, supp_keys=nation_sk)
    cost_q = F.round(F.col("ps_supplycost") * 100, 0).cast("long")
    v = (
        ps.join(F.broadcast(s), "ps_suppkey")
        .join(F.broadcast(n), "s_nationkey", "left_semi")
        .groupBy("ps_partkey")
        .agg(F.sum(cost_q * F.col("ps_availqty")).alias("value_q"))
    )
    # Two consumers (the global total and the HAVING probe) —
    # materialize the per-part value frame (<= |parts| rows) so the
    # partsupp derivation's lineitem pass runs once, not twice (r15,
    # guide §3.3/§5).
    v = v.localCheckpoint()
    t = v.agg(F.sum("value_q").alias("total"))
    return (
        v.crossJoin(F.broadcast(t))
        .filter(F.col("value_q") * 1000 > F.col("total"))
        .select(
            F.col("ps_partkey").alias("p_partkey"),
            F.col("value_q").cast("long").alias("value_q"),
        )
        .orderBy(F.desc("value_q"), "p_partkey")
    )


# Q16 FAITHFUL (promoted per VERDICT r12 item 8): supplier
# relationship count — DISTINCT suppliers per (brand, type, size)
# over the real PARTSUPP relation (the spec's source — the `_shape`
# counted shipped lines), with the brand exclusion, a p_type NOT LIKE,
# the size IN-list, and the NOT-IN supplier exclusion (every 13th
# supplier stands in for the complaints regex; our supplier table has
# no s_comment).
@q(
    "tpch_q16_supplier_cnt",
    f"""
    WITH {tables.PARTSUPP_CTE.strip()}
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_suppkey % 13 = 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_cnt(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # partsupp pruned to the part predicate below the containment
    # distinct (r15, guide §2.3); the inner join against the same
    # filtered part frame keeps exactly these keys, so results are
    # identical with a far smaller distinct + broadcast.
    filtered_p = tables.load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("MEDIUM%")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    ps = tables.partsupp(
        spark, sf_dir, part_keys=filtered_p.select("p_partkey")
    )
    p = filtered_p.select(
        F.col("p_partkey").alias("ps_partkey"), "p_brand", "p_type", "p_size"
    )
    excluded = tables.load(spark, sf_dir, "supplier").filter(
        F.col("s_suppkey") % 13 == 0
    ).select(F.col("s_suppkey").alias("ps_suppkey"))
    return (
        ps.join(F.broadcast(p), "ps_partkey")
        .join(F.broadcast(excluded), "ps_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# Q20 FAITHFUL (promoted per VERDICT r12 item 8): part-promotion
# suppliers — the spec's nested chain over the real partsupp:
# suppliers holding a partsupp row for a 'red%' part whose
# ps_availqty exceeds HALF the 1997 shipped quantity of that exact
# (part, supplier) pair (the correlated scalar subquery, decorrelated
# as agg-then-join; pairs with no 1997 shipments drop, matching the
# spec's NULL comparison), surfaced with their nation. The halving is
# exact-integer: 2*ps_availqty > SUM(qty).
@q(
    "tpch_q20_part_promotion",
    f"""
    WITH {tables.PARTSUPP_CTE.strip()},
    shipped AS (
      SELECT l_partkey, l_suppkey, SUM({_QTY}) AS sq
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    big AS (
      SELECT DISTINCT ps_suppkey
      FROM partsupp
      JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      WHERE ps_partkey IN
            (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        AND 2 * ps_availqty > sq
    )
    SELECT s_name, n_name
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE s_suppkey IN (SELECT ps_suppkey FROM big)
    ORDER BY s_name
    """,
)
def tpch_q20_part_promotion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    shipped = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.sum(_qty_col()).alias("_sq"))
    # partsupp pruned to the red% parts below the containment distinct
    # (r15, guide §2.3); the semi-join below keeps exactly these keys.
    red_p = tables.load(spark, sf_dir, "part").filter(
        F.col("p_name").like("red%")
    )
    reds = red_p.select(F.col("p_partkey").alias("ps_partkey"))
    big = (
        tables.partsupp(spark, sf_dir, part_keys=red_p.select("p_partkey"))
        .join(F.broadcast(reds), "ps_partkey", "left_semi")
        .join(shipped, ["ps_partkey", "ps_suppkey"])
        .filter(2 * F.col("ps_availqty") > F.col("_sq"))
        .select(F.col("ps_suppkey").alias("s_suppkey"))
        .distinct()
    )
    s = tables.load(spark, sf_dir, "supplier")
    n = tables.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), "n_name"
    )
    return (
        s.join(F.broadcast(big), "s_suppkey", "left_semi")
        .join(F.broadcast(n), "s_nationkey")
        .select("s_name", "n_name")
        .orderBy("s_name")
    )
