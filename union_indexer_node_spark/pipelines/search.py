"""Full-text search (SURVEY X21): token index build + query rewrite.

The reference uses a MongoDB text index over post bodies
(services/db.ts:61-63) but sorts results by recency, never by text
score (resolvers/index.ts:210-213) — so token-match + recency-sort
reproduces all observable behavior. Stemming is NOT replicated
(documented divergence; Mongo's stemmer is engine-internal).

Two physical strategies:
- v1 (operators/feeds.search_feed): scan + token-AND filter. Fine when
  the scan is already pruned (date partitions, pushed predicates).
- v2 (here): an inverted-index table (token -> posting list rows),
  built once per batch cycle; a query becomes per-term semi-joins on
  the posting table — at 100 TB this touches only the posting-list
  partitions for the query terms (the table is written partitioned or
  bucketed by token), not the corpus.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import tokens


def build_inverted_index(
    df: DataFrame, text_col: str, key_cols: list[str]
) -> DataFrame:
    """Posting rows (token, *key). distinct() collapses repeated tokens
    within a document map-side before the shuffle."""
    return (
        df.select(*key_cols, tokens(F.col(text_col)).alias("_toks"))
        .select(*key_cols, F.explode("_toks").alias("token"))
        .distinct()
    )


def update_inverted_index(
    index: DataFrame, changed_docs: DataFrame, text_col: str, key_cols: list[str]
) -> DataFrame:
    """Incremental posting-list maintenance (F12/T6 applied to X21):
    drop every posting of a changed/deleted key (anti-join on the key)
    and append the fresh postings — O(changed docs) work per cycle, not
    an O(corpus) rebuild. Pass the changed docs with their NEW text
    (deleted docs: include the key with empty text). With the posting
    table bucketed by token, the anti-join prunes to the touched
    buckets and the append preserves layout."""
    fresh = build_inverted_index(changed_docs, text_col, key_cols)
    kept = index.join(
        changed_docs.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    return kept.unionByName(fresh)


def search_by_index(
    index: DataFrame,
    corpus: DataFrame,
    terms: list[str],
    key_cols: list[str],
    *,
    any_term: bool = False,
) -> DataFrame:
    """Posting-list query, then a semi-join against the corpus. Default
    is token-AND (posting-list intersection — the SURVEY §2.8/§5
    documented divergence from Mongo's $text, which ORs space-delimited
    terms); ``any_term=True`` gives Mongo-exact OR matching as ONE
    pushed-down `token IN (...)` scan over the posting table. Either
    way each access is an equality/IN filter on the
    (bucketed/partitioned) token column. Terms are re-tokenized with
    the index's own tokenizer so a punctuated query ('spark-sql')
    matches as its word tokens — the index can never hold a token
    containing punctuation."""
    from ..operators.feeds import query_tokens

    terms = [t for raw in terms for t in query_tokens(raw)]
    if not terms:
        return corpus
    if any_term:
        matched = index.filter(F.col("token").isin(terms)).select(*key_cols)
        return corpus.join(matched.distinct(), key_cols, "left_semi")
    # Token-AND as counted posting intersection, ONE pass over the
    # index: a key holds every distinct term iff its matched-posting
    # count equals the distinct-term count (the index is distinct per
    # (token, key), so count(*) IS the distinct-token count). The old
    # form chained one inner join per term, which re-planned the whole
    # index subtree per term — with the inline build that re-tokenized
    # the corpus once per term, and against a stored posting table it
    # issues one scan per term instead of one IN scan (r16, guide
    # §1.2 step 1 / §2.4; duplicate query terms are deduped — the
    # intersection is idempotent, the count is not).
    uniq = sorted(set(terms))
    matched = (
        index.filter(F.col("token").isin(uniq))
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_nt"))
        .filter(F.col("_nt") == len(uniq))
        .select(*key_cols)
    )
    return corpus.join(matched, key_cols, "left_semi")


def build_trigram_index(
    df: DataFrame, text_col: str, key_cols: list[str]
) -> DataFrame:
    """Character-trigram posting table for SUBSTRING search (the
    pg_trgm strategy): a `LIKE '%pat%'` / contains() predicate cannot
    use the token index above — the pattern may start or end mid-word
    or span a word boundary — but every occurrence of a >=3-char
    pattern implies every one of the pattern's character trigrams
    occurs, so an AND-intersection over a trigram posting table prunes
    the corpus to verifiable candidates. Grams slide over the RAW
    lowercased text (spaces included — cross-word patterns stay
    indexable). distinct() collapses repeats within a doc map-side
    before the shuffle. This BUILDS the posting frame; to amortize
    across queries, persist it partitioned/bucketed by gram (the same
    deployment note as the token index above) — the callers in this
    repo rebuild it inline, paying the one-time cost per run.

    The char-array + element-concat build avoids the documented
    O(len²) substring(_lt, i, 3) dead end (SCALE.md / char_lm)."""
    grams = F.expr(
        "CASE WHEN char_length(_lt) >= 3 "
        "THEN transform(sequence(1, char_length(_lt) - 2), "
        "i -> concat(_ch[i - 1], _ch[i], _ch[i + 1])) "
        "ELSE CAST(array() AS array<string>) END"
    )
    return (
        df.select(*key_cols, F.lower(F.col(text_col)).alias("_lt"))
        .withColumn("_ch", F.split(F.col("_lt"), ""))
        .select(*key_cols, F.explode(grams).alias("gram"))
        .distinct()
    )


def search_substring(
    index: DataFrame,
    corpus: DataFrame,
    pattern: str,
    text_col: str,
    key_cols: list[str],
) -> DataFrame:
    """Substring search through the trigram posting table: AND-join the
    pattern's trigrams (each an equality/IN filter on the gram column —
    partition-pruned to those grams WHEN the posting table is persisted
    partitioned/bucketed by gram; a plain filter over the in-memory
    frame otherwise), then VERIFY with contains() on the candidate rows
    only, so trigram co-occurrence false positives ('ab ra' matching
    'abra') never escape. Patterns shorter than 3 chars have no trigram
    and fall back to the verify scan alone. Case-insensitive, matching
    the index build."""
    pat = pattern.lower()
    grams = sorted({pat[i : i + 3] for i in range(len(pat) - 2)})
    verified = F.contains(F.lower(F.col(text_col)), F.lit(pat))
    if not grams:
        return corpus.filter(verified)
    cand = (
        index.filter(F.col("gram").isin(grams))
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_ng"))
        .filter(F.col("_ng") == len(grams))
        .select(*key_cols)
    )
    return corpus.join(cand, key_cols, "left_semi").filter(verified)


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------


def bm25_index(
    df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Term-frequency posting table + doc lengths, one tokenize pass.

    The boolean token index above answers WHICH docs match; ranked
    retrieval needs per-(doc, term) frequencies and per-doc lengths.
    Returns (postings = (id, token, tf), doclens = (id, dl)); docs with
    zero tokens appear in neither (they can never score). Deployment:
    persist postings partitioned/bucketed by token (same note as
    build_inverted_index) so a query touches only its terms'
    partitions; doclens is corpus-row-sized metadata.

    The (id, tokens) base is localCheckpointed so "one tokenize pass"
    is literally true in the plan: postings, doclens, and any
    corpus-stats aggregate a scorer derives all read the materialized
    frame instead of re-running the tokenizer per consumer.
    """
    base = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") >= 1)
        .localCheckpoint()
    )
    doclens = base.select(F.col(id_col), F.size("_toks").alias("dl"))
    postings = (
        base.select(F.col(id_col), F.explode("_toks").alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return postings, doclens


def bm25_index_merge(
    postings: DataFrame,
    doclens: DataFrame,
    delta: DataFrame,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Incremental BM25 index maintenance — fold a batch of new or
    RE-INGESTED documents into an existing (postings, doclens) pair
    without rebuilding: the ``update_minhash_index`` anti-join-and-
    append pattern applied to the posting table. Old rows for every
    delta id are anti-joined out of BOTH frames (an updated document
    must not leave stale term rows behind), then the delta's freshly
    tokenized rows append. Result is row-identical to ``bm25_index``
    over (corpus \\ delta-ids) ∪ delta — pinned by test and oracle.

    Scale shape: the anti-join probes with the delta's id set (batch-
    sized, broadcastable); the append is a unionByName. Deployment
    keeps postings bucketed by token, so the rewrite touches the
    buckets the delta's terms land in — write cost tracks the batch,
    not the index. Corpus stats (N, total_dl) are derived downstream
    from doclens per query, so they need no separate maintenance.

    Contract: ``delta`` carries ONE row per id — resolve multiple
    versions of a document upstream (the LWW winner, the ingest
    contract everywhere else) before folding; duplicate delta ids
    would append duplicate postings and double-count tf.
    """
    d_post, d_dl = bm25_index(delta, text_col, id_col)
    # batch-sized by contract (one row per re-ingested id) — broadcast
    # the probe so the index side never shuffles for the anti-join
    ids = F.broadcast(delta.select(id_col).distinct())
    return (
        postings.join(ids, id_col, "left_anti").unionByName(d_post),
        doclens.join(ids, id_col, "left_anti").unionByName(d_dl),
    )


def _bm25_term(
    tf: Column,
    dl: Column,
    n: Column,
    total_dl: Column,
    df: Column,
    *,
    k1_pct: int = 120,
    b_pct: int = 75,
) -> Column:
    """One query term's double-precision Okapi BM25 contribution,
    idf(t) * tf * (k1+1) / (tf + k1*(1-b + b*dl*N/total_dl)) with the
    ln(1 + (N-df+0.5)/(df+0.5)) idf. The one copy of the formula: the
    ``quantized=False`` arm of ``bm25_topk`` and the BM25 arm of
    ``operators.feeds.search_feed`` both score with it, so a term's
    double is the same in both on equal statistics."""
    k1 = k1_pct / 100.0
    b = b_pct / 100.0
    idf = F.log(F.lit(1.0) + (n - df + F.lit(0.5)) / (df + F.lit(0.5)))
    den = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl * n / total_dl)
    return idf * tf * F.lit(k1 + 1.0) / den


def bm25_topk(
    postings: DataFrame,
    doclens: DataFrame,
    id_col: str,
    terms: list[str],
    *,
    k: int | None = 10,
    k1_pct: int = 120,
    b_pct: int = 75,
    quantized: bool = True,
) -> DataFrame:
    """Okapi BM25 top-k over a term-frequency posting table.

    ``k=None`` returns ALL matching docs scored (no cut): callers whose
    advertised tie order involves columns this table does not carry
    (e.g. search_feed's created_at/permlink) apply their own
    TakeOrderedAndProject after joining — the k-boundary tie is then
    resolved by the caller's order, not this function's (score, id).

    score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1-b + b*dl/avgdl))
    with k1 = k1_pct/100, b = b_pct/100.

    Two arms:
    - ``quantized=True`` (default, the oracle-checkable arm): every
      quantity is exact integer arithmetic. The tf-normalization is an
      exact rational — multiplying numerator and denominator by
      10000 * total_dl clears avgdl = total_dl/N and both percent
      fractions:
        num_q = 100 * total_dl * tf * (100 + k1_pct)
        den_q = 10000*total_dl*tf + k1_pct*(100-b_pct)*total_dl
                + k1_pct*b_pct*dl*N
      and idf is the rational BM25 odds ratio quantized to 1e4:
        idf_q = (10000 * (2*(N-df) + 1)) div (2*df + 1)
      (= floor(1e4 * (N-df+0.5)/(df+0.5)); the standard ln(1 + .) idf
      is a monotone transform of this ratio, so PER-TERM doc ordering
      is identical; multi-term totals can order differently — the
      documented trade for a bit-exact cross-engine score). The
      idf*num product runs in decimal(38,0) (HUGEINT in DuckDB): the
      BIGINT envelope would only hold to ~sf1.
    - ``quantized=False``: the standard ln idf in doubles, scored by
      ``_bm25_term`` — the same term formula the BM25 arm of
      ``operators.feeds.search_feed`` serves with; last-ulp
      engine-dependent, so not the oracle path.

    Plan shape: postings pruned to the query terms (pushable IN
    filter), per-term df as a <= len(terms)-row broadcast, corpus
    stats as a 1-row broadcast scalar, one equi-join to doclens on the
    doc key, then one doc-keyed sum and TakeOrderedAndProject for the
    top-k. Nothing shuffles at corpus size except the doclens join,
    whose probe side is already term-pruned.
    """
    qterms = sorted({t for t in terms})
    hits = postings.filter(F.col("token").isin(qterms))
    tdf = hits.groupBy("token").agg(F.count(F.lit(1)).alias("_df"))
    stats = doclens.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("dl").alias("_total_dl")
    )
    per = (
        hits.join(doclens, id_col)
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(tdf), "token")
    )
    if quantized:
        scored = per.select(
            F.col(id_col),
            # _total_dl and _n are widened to DECIMAL(38,0) BEFORE any
            # multiplication (ADVICE r10): built in BIGINT, num/den
            # silently overflow (null under non-ANSI Spark, error in
            # DuckDB) once total_dl*tf nears ~9e14 — well inside the
            # 100 TB envelope (total_dl ~1e14 tokens alone). With the
            # widening, worst-case num ≈ idf_q(≤2e15) * 2.2e22 ≈ 4e37
            # still fits DECIMAL(38,0)/HUGEINT.
            F.expr(
                f"CAST((CAST((10000 * (2*(_n - _df) + 1)) div (2*_df + 1)"
                f"       AS DECIMAL(38,0))"
                f"      * (100 * CAST(_total_dl AS DECIMAL(38,0)) * tf"
                f"         * (100 + {k1_pct})))"
                f" div (10000 * CAST(_total_dl AS DECIMAL(38,0)) * tf"
                f"      + {k1_pct} * (100 - {b_pct})"
                f"        * CAST(_total_dl AS DECIMAL(38,0))"
                f"      + {k1_pct} * {b_pct}"
                f"        * CAST(_n AS DECIMAL(38,0)) * dl) AS BIGINT)"
            ).alias("_ts"),
        )
        out = (
            scored.groupBy(id_col)
            .agg(F.sum("_ts").cast("long").alias("score_q"))
            .orderBy(F.col("score_q").desc(), F.col(id_col))
        )
        return out if k is None else out.limit(k)
    scored = per.select(
        F.col(id_col),
        _bm25_term(
            F.col("tf"), F.col("dl"), F.col("_n"), F.col("_total_dl"),
            F.col("_df"), k1_pct=k1_pct, b_pct=b_pct,
        ).alias("_ts"),
    )
    out = (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("_ts"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
    )
    return out if k is None else out.limit(k)


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion
# ---------------------------------------------------------------------------


def with_rank(
    df: DataFrame, score_col: str, id_col: str, *, n: int | None = None
) -> DataFrame:
    """1-based dense ordering rank by (score desc, id asc).

    A global row_number window — legitimate ONLY because callers pass
    an already top-k-limited frame (a ranking list is <= a few hundred
    rows by construction); never apply this to a corpus-sized frame.
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    out = df.select(
        F.col(id_col), F.row_number().over(w).alias("rank")
    )
    return out.filter(F.col("rank") <= n) if n is not None else out


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str,
    *,
    k0: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranking lists (Cormack et al.):
    score(d) = sum over systems of 1 / (k0 + rank_system(d)).

    The standard hybrid-retrieval combiner (BM25 lexical + embedding
    semantic): rank-based, so the systems' incomparable score scales
    never touch each other. Each contribution is quantized to
    floor(1e9 / (k0 + rank)) and summed in integers, so the fused
    ordering is bit-identical across engines and partitionings for ANY
    number of systems (double summation order never enters).

    Inputs are (id, rank) frames from ``with_rank``. All inputs are
    top-k bounded, so every stage here is a few hundred rows — the
    distributed work is producing the rankings, not fusing them.
    Returns (id, rrf_q, n_systems) top-k by (rrf_q desc, id).
    """
    contribs = [
        # `div`, not `/` + cast: float division can land a hair under
        # the exact quotient and truncate to a different integer than
        # true integer division.
        r.select(
            F.col(id_col),
            F.expr(f"1000000000L div ({k0}L + rank)").alias("_c"),
        )
        for r in rankings
    ]
    u = reduce(lambda a, b: a.unionByName(b), contribs)
    return (
        u.groupBy(id_col)
        .agg(
            F.sum("_c").cast("long").alias("rrf_q"),
            F.count(F.lit(1)).cast("long").alias("n_systems"),
        )
        .orderBy(F.col("rrf_q").desc(), F.col(id_col))
        .limit(k)
    )
