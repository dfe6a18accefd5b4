"""Feed queries — the reference's GraphQL root resolvers re-expressed as
DataFrame plans.

Reference entry points (/root/reference/src/modules/api/graphql-v2/
resolvers/index.ts): socialFeed (:165-192), searchFeed (:199-216),
trendingFeed (:227-259), relatedFeed (:280-302), trendingTags (:363-405),
leaderBoard (:455-475), follows overview (:322-351).

Arg compilation mirrors TransformFeedArgs (resolvers/index.ts:58-149):
spkvideo flags, comment/ceramic default exclusions, WhereField mapping
via gqlNameMap (byTag->tags membership, byCreator->author,
byCommunity->parent_permlink, byApp->app, byLang->lang), $or expansion,
follower semi-join. The N+1 per-row lookups of the reference become real
(broadcast) joins.

Scale notes:
- sort+limit compiles to TakeOrderedAndProject (distributed top-k) — no
  global sort materialization.
- the follower semi-join broadcasts the (small) following list of one
  user; at 100 TB the posts side is never shuffled for it.
- trending windows are plain timestamp filters ⇒ partition pruning when
  the posts table is date-partitioned.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .wherefield import and_of, compile_wherefield, or_of
from .windows import paginate, ranked

# gqlNameMap (resolvers/index.ts:41-48) adapted to our silver schema.
NAME_MAP = {
    "byTag": ("tags", True),
    "byCreator": ("author", False),
    "byPermlink": ("permlink", False),
    "byCommunity": ("parent_permlink", False),
    "byApp": ("app_name", False),  # app_metadata.app = split(app,'/')[0] (X7)
    "byType": ("app_types", True),
    "byLang": ("lang", False),
}


@dataclass
class FeedSpec:
    """Compiled form of the GraphQL feed arguments."""

    where: Mapping[str, Mapping[str, Any]] = field(default_factory=dict)
    or_where: Mapping[str, Mapping[str, Any]] = field(default_factory=dict)
    include_comments: bool = False
    include_ceramic: bool = False
    limit: int = 100  # reference default (resolvers/index.ts:178)
    skip: int = 0
    follower: str | None = None
    # Keyset cursor (round 12, opt-in EXTENSION — the reference only
    # paginates by skip/limit): (created_at, permlink) of the last row
    # of the previous page. Offset pagination reads and discards
    # `skip` rows — page N costs O(N·limit) and at 100 TB a deep page
    # touches the whole sorted prefix; the keyset predicate pushes
    # down to the scan (partition pruning on a date-partitioned posts
    # table) and every page costs O(limit). When set, `skip` is
    # ignored — the cursor IS the position. None (the default) keeps
    # reference behavior byte-identical.
    #
    # Round 13: search_feed's BM25 arm additionally accepts a 3-tuple
    # (score, created_at, permlink). Every arm pages through
    # windows.paginate; a cursor whose arity does not match the arm's
    # sort keys fails with a clean ValueError.
    after: tuple[Any, str] | tuple[float, Any, str] | None = None


# (created_at DESC, permlink ASC): the reference's feed order
_RECENCY = [("created_at", True), ("permlink", False)]


def _recency_cursor(spec: FeedSpec) -> tuple[Any, str] | None:
    """spec.after for a recency-ordered arm, rejecting the 3-part BM25
    score cursor with a clean validation error."""
    if spec.after is not None and len(spec.after) != 2:
        raise ValueError(
            "a (score, created_at, permlink) cursor applies to the "
            "BM25-ranked search arm only; recency-ordered pages take "
            "(created_at, permlink)"
        )
    return spec.after


def compile_feed_filter(spec: FeedSpec) -> Column | None:
    preds: list[Column | None] = []
    if not spec.include_comments:
        # flags $nin ['comment'] (resolvers/index.ts:73-82); null-safe
        flags = F.coalesce(F.col("flags"), F.array().cast("array<string>"))
        preds.append(~F.array_contains(flags, "comment"))
    if not spec.include_ceramic:
        # Mongo $ne passes missing fields (resolvers/index.ts:120-124)
        preds.append((F.col("TYPE") != "CERAMIC") | F.col("TYPE").isNull())
    for gql_name, cond in spec.where.items():
        col_name, is_array = NAME_MAP[gql_name]
        preds.append(
            compile_wherefield(F.col(col_name), cond, array_field=is_array)
        )
    if spec.or_where:
        preds.append(
            or_of(
                [
                    compile_wherefield(
                        F.col(NAME_MAP[g][0]), c, array_field=NAME_MAP[g][1]
                    )
                    for g, c in spec.or_where.items()
                ]
            )
        )
    return and_of(preds)


def social_feed(
    posts: DataFrame,
    spec: FeedSpec,
    follows: DataFrame | None = None,
    social_connections: DataFrame | None = None,
) -> DataFrame:
    """socialFeed (resolvers/index.ts:165-192): filter -> sort created_at
    desc -> skip/limit. Follower feeds are a broadcast left-semi join
    (the reference inlines the following list as $in — same semantics).

    DID routing (resolvers/index.ts:126-146): a ``did:``-prefixed
    byFollower reads the offchain ``social_connections`` collection
    instead of ``follows``; both compile to the same broadcast semi-join,
    only the edge table differs."""
    df = posts
    pred = compile_feed_filter(spec)
    if pred is not None:
        df = df.filter(pred)
    if spec.follower is not None:
        if spec.follower.startswith("did:"):
            edges = social_connections
            if edges is None:
                raise ValueError(
                    "did: follower feed requires the social_connections table"
                )
        else:
            edges = follows
            if edges is None:
                raise ValueError("follower feed requires the follows table")
        following = edges.filter(F.col("follower") == spec.follower).select(
            F.col("following").alias("author")
        )
        df = df.join(F.broadcast(following), "author", "left_semi")
    return paginate(
        df, _RECENCY, skip=spec.skip, limit=spec.limit,
        after=_recency_cursor(spec),
    )


def query_tokens(term: str) -> list[str]:
    """Tokenize a query string with the SAME [^a-z0-9]+ split the body
    tokenizer uses — Mongo $text tokenizes query and document alike, so
    a punctuated term ('spark-sql') must match as its word tokens, not
    as a literal that can never appear in the token array."""
    import re

    return [t for t in re.split(r"[^a-z0-9]+", term.lower()) if t]


def search_feed(
    posts: DataFrame,
    term: str,
    spec: FeedSpec,
    *,
    any_term: bool = False,
    rank_by: str = "recency",
    with_score: bool = False,
) -> DataFrame:
    """searchFeed (resolvers/index.ts:199-216): Mongo $text over body,
    sorted by created_at (NOT text score — resolvers/index.ts:210-213),
    so token-match + recency sort reproduces observable behavior.

    Multi-term semantics: Mongo $text ORs space-delimited terms;
    this engine defaults to token-AND (the SURVEY §2.8/§5 documented
    divergence — AND is what a search user expects and what the
    inverted-index path intersects). Pass ``any_term=True`` for
    Mongo-exact OR matching. Single-term queries — the common case —
    are identical either way. Stemming is not replicated (same
    documented divergence).

    ``rank_by="bm25"`` (round 11, opt-in — default stays the
    reference's recency sort): rank the matching, filter-passing posts
    by Okapi BM25 instead of created_at; ties break on
    (created_at DESC, permlink ASC). Scoring is one pass over those
    posts: each row carries its doc length and one term frequency per
    query term, and one 1-row aggregate over the same rows (N, total
    length, df per term) joins back as a broadcast scalar; the term
    formula is the one ``pipelines/search.bm25_topk(quantized=False)``
    uses. So idf/df, N and avgdl reflect the SEARCHABLE subset, the
    top-k is computed after every feed filter applies, and no index is
    built per request. Each row is scored on its own: duplicate
    (author, permlink) rows are not merged.

    BM25 deep pages (round 13, opt-in): ``spec.after`` may be a
    3-tuple (score, created_at, permlink) — the last row of the
    previous page — making score-ranked page N cost O(limit) like the
    recency cursor (skip/limit reads and discards the whole sorted
    prefix). Pass ``with_score=True`` to keep the ``score`` column so
    the caller can build the next cursor; a 2-tuple cursor on the BM25
    arm still raises (ambiguous), and defaults are byte-unchanged.

    v1 scan; see pipelines/search.py for the inverted-index scale
    path. skip/limit per the reference's pagination args."""
    terms = query_tokens(term)
    tokens = F.split(F.lower(F.col("body")), "[^a-z0-9]+")
    combine = or_of if any_term else and_of
    pred = combine([F.array_contains(tokens, t) for t in terms])
    df = posts.filter(pred) if pred is not None else posts
    base = compile_feed_filter(spec)
    if base is not None:
        df = df.filter(base)
    if rank_by == "bm25" and not terms:
        # A term that tokenizes to nothing ("!!!") used to fall through
        # to the recency arm SILENTLY, which breaks both r13 contracts:
        # with_score has no score column to expose, and the recency
        # page would reject the 3-part cursor the caller was told to
        # build (while a 2-part cursor is rejected above it). The
        # ambiguity is the caller's to resolve, same policy as the
        # cursor/arm mismatches below.
        raise ValueError(
            "searchTerm tokenizes to no terms; the BM25 arm needs at "
            "least one [a-z0-9]+ token — use the recency arm for "
            "termless feeds"
        )
    if spec.after is not None and rank_by == "bm25" and len(spec.after) != 3:
        # a recency cursor has no meaning in a score-ranked page — the
        # ambiguity must be the caller's to resolve, never silently
        # one arm's. Score-ranked deep pages get their own opt-in
        # 3-part cursor below (VERDICT r12 item 7).
        raise ValueError(
            "keyset cursor (created_at, permlink) applies to the "
            "recency arm only; BM25-ranked pages paginate by "
            "skip/limit or by a (score, created_at, permlink) cursor"
        )
    if rank_by == "bm25":
        from ..pipelines.dedup import tokens as doc_tokens
        from ..pipelines.search import _bm25_term

        # every statistic comes from the matched rows themselves:
        # nothing corpus-wide is tokenized, exploded or joined
        qterms = sorted(set(terms))
        toks = doc_tokens(F.col("body"))
        tfs = [f"_tf{i}" for i in range(len(qterms))]
        dfs = [f"_df{i}" for i in range(len(qterms))]

        def term_freq(t: str) -> Column:
            return F.size(F.filter(toks, lambda x: x == F.lit(t)))

        rows = df.select(
            "*",
            F.size(toks).alias("_dl"),
            *[term_freq(t).alias(c) for t, c in zip(qterms, tfs)],
        )
        stats = rows.agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_dl").alias("_total_dl"),
            *[F.count(F.when(F.col(tf) > 0, 1)).alias(d)
              for tf, d in zip(tfs, dfs)],
        )
        score = reduce(
            operator.add,
            [
                F.when(
                    F.col(tf) > 0,
                    _bm25_term(F.col(tf), F.col("_dl"), F.col("_n"),
                               F.col("_total_dl"), F.col(d)),
                ).otherwise(F.lit(0.0))
                for tf, d in zip(tfs, dfs)
            ],
        )
        scored = rows.crossJoin(F.broadcast(stats)).withColumn(
            "score", F.round(score, 6)
        )
        # opt-in (score, created_at, permlink) keyset for score-ranked
        # deep pages: the cursor prunes BEFORE the sort, so the top-k
        # heap is limit-sized on every page. The score is a
        # deterministic double of the same plan, so the equality arms
        # are exact on replay.
        after = spec.after
        if after is not None:
            after = (float(after[0]), *after[1:])
        page = paginate(
            scored, [("score", True), *_RECENCY],
            skip=spec.skip, limit=spec.limit, after=after,
        )
        return page.drop(
            "_dl", "_n", "_total_dl", *tfs, *dfs,
            *([] if with_score else ["score"]),
        )
    return paginate(
        df, _RECENCY, skip=spec.skip, limit=spec.limit,
        after=_recency_cursor(spec),
    )


def trending_feed(
    posts: DataFrame,
    spec: FeedSpec,
    *,
    trending_by: str = "payout",  # COMMENTS | PAYOUT (schema.ts:252-255)
    window_days: int = 3,
    rank_by: str = "window",
    half_life_days: int = 7,
) -> DataFrame:
    """trendingFeed (resolvers/index.ts:227-259): anchor = max created_at
    matching the filter; keep rows within `window_days` of the anchor;
    sort by the trending metric. The anchor is a scalar agg broadcast
    into the filter — one pass, no self-join.

    ``rank_by="decayed"`` (round 12, opt-in — the default stays the
    reference's hard anchor-window sort, byte-unchanged): rank every
    filter-passing post by its half-life-decayed metric instead of
    cutting at the window edge — the per-post application of
    ``decayed_trending``'s integer step decay (metric cents << scale,
    shifted right by whole half-lives of age from the same max-anchor
    scalar). No window, no extra shuffle: one broadcast scalar + a
    map-side score expression + TakeOrderedAndProject. Ties break on
    permlink like the default arm."""
    if spec.after is not None:
        # mirror the search_feed BM25 arm (ADVICE r12): a recency
        # keyset cursor has no meaning in a score-ranked page; silently
        # degrading to skip/limit would hand the caller the wrong
        # pagination semantics
        raise ValueError(
            "keyset cursor (after=) applies to recency-ordered feeds "
            "only; trending pages paginate by skip/limit"
        )
    key = "num_comments" if trending_by.lower() == "comments" else "payout"
    if key == "num_comments" and "num_comments" not in posts.columns:
        # stats.num_comments is an enrichment column (J3); when serving
        # from an unenriched table, derive it in-plan (aggregate-then-
        # join on the reply key)
        counts = (
            posts.filter(F.col("parent_author") != "")
            .groupBy(
                F.col("parent_author").alias("author"),
                F.col("parent_permlink").alias("permlink"),
            )
            .agg(F.count(F.lit(1)).alias("num_comments"))
        )
        posts = posts.join(counts, ["author", "permlink"], "left").withColumn(
            "num_comments", F.coalesce(F.col("num_comments"), F.lit(0))
        )
    pred = compile_feed_filter(spec)
    df = posts.filter(pred) if pred is not None else posts
    df = df.join(F.broadcast(df.agg(F.max("created_at").alias("a"))))
    if rank_by == "decayed":
        v_q = F.round(F.coalesce(F.col(key), F.lit(0)) * 100, 0).cast("long")
        df = df.withColumn(
            "_score_q", _decayed(v_q, "created_at", "a", half_life_days)
        )
        order = [("_score_q", True), ("permlink", False)]
    else:
        df = df.filter(
            F.col("created_at")
            > F.col("a") - F.expr(f"INTERVAL {window_days} DAYS")
        )
        order = [(key, True), ("permlink", False)]
    page = paginate(df, order, skip=spec.skip, limit=spec.limit)
    return page.drop("a", "_score_q")


def trending_tags(posts: DataFrame, *, limit: int = 5, window_days: int = 14) -> DataFrame:
    """trendingTags (resolvers/index.ts:363-405): 14-day window ->
    unwind tags -> count -> top-k. explode + partial-agg count; top-k is
    TakeOrderedAndProject."""
    anchor = posts.agg(F.max("created_at").alias("a"))
    return (
        posts.join(F.broadcast(anchor))
        .filter(F.col("created_at") > F.col("a") - F.expr(f"INTERVAL {window_days} DAYS"))
        .select(F.explode("tags").alias("tag"))
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("score"))
        .orderBy(F.desc("score"), F.asc("tag"))
        .limit(limit)
    )

    # NOTE: the reference anchors "14 days" at now(); we anchor at
    # max(created_at) for determinism on frozen test data. Semantics
    # identical for a live table.


def related_feed(
    posts: DataFrame, author: str, permlink: str, *, limit: int = 25,
    seed: int = 42, hash_sample: bool = False,
) -> DataFrame:
    """relatedFeed (resolvers/index.ts:280-302): posts sharing tags (or
    community when top-level) with the anchor post, random sample of
    `limit`. ``hash_sample=True`` substitutes order-by-content-hash for
    rand() — a deterministic pseudo-random sample reproducible across
    engines (Mongo $sample is nondeterministic anyway, so sample-of-25
    semantics are preserved)."""
    anchor = posts.filter((F.col("author") == author) & (F.col("permlink") == permlink)).select(
        F.col("tags").alias("_tags"),
        F.col("parent_permlink").alias("_community"),
        F.col("parent_author").alias("_pa"),
    )
    df = posts.join(F.broadcast(anchor))
    same_tags = F.arrays_overlap(F.coalesce(F.col("tags"), F.array().cast("array<string>")), F.col("_tags"))
    same_comm = (
        (F.col("_pa") == "")
        & F.col("_community").startswith("hive-")
        & (F.col("parent_permlink") == F.col("_community"))
    )
    df = df.filter(same_tags | same_comm).filter(
        ~((F.col("author") == author) & (F.col("permlink") == permlink))
    )
    order = F.md5(F.col("permlink")) if hash_sample else F.rand(seed)
    return df.drop("_tags", "_community", "_pa").orderBy(order).limit(limit)


def leaderboard(
    profiles: DataFrame,
    *,
    follows: DataFrame | None = None,
    rank_by: str = "score",
) -> DataFrame:
    """leaderBoard (resolvers/index.ts:455-475): score>0, rank by score.
    Single global window is fine — the leaderboard is small after the
    filter; at scale use orderBy + zipWithIndex-free row_number over one
    partition ONLY on the filtered (small) set.

    ``rank_by="pagerank"`` (round 12, opt-in — default stays the
    reference's creator-score ranking, byte-unchanged): rank profiles
    by integer-quantized PageRank over the follow graph
    (pipelines/graph.pagerank_quantized; follower → following
    edges), the centrality alternative to the engagement formula.
    Requires ``follows``; emitted score = pr_q / 1e6 (the quantization
    scale) so the output schema stays (username, score, rank). Only
    profiles present in the profiles table appear (inner join on
    username), mirroring the default arm's 'known accounts only'."""
    order = [F.desc("score"), F.asc("username")]
    if rank_by == "pagerank":
        if follows is None:
            raise ValueError("rank_by='pagerank' requires the follows table")
        from ..pipelines.graph import pagerank_quantized

        pr = pagerank_quantized(follows, "follower", "following")
        scored = profiles.select("username").join(
            pr.select(
                F.col("node").alias("username"),
                (F.col("pr_q") / 1_000_000).alias("score"),
            ),
            "username",
        )
    else:
        scored = profiles.filter(F.col("score") > 0)
    return ranked(scored, order).select("username", "score", "rank")


def _decayed(
    v_q: Column, ts_col: str, anchor_col: str, half_life_days: int,
    scale: int = 1_000_000,
) -> Column:
    """Step-decayed integer score ``(v_q * scale) >> units``: units are
    whole half-lives of age before the anchor, clamped to 62."""
    units = F.least(
        F.floor(
            F.datediff(F.col(anchor_col), F.col(ts_col)) / half_life_days
        ).cast("int"),
        F.lit(62),
    )
    # SQL-form shiftright: the Python builtin only takes literal bits
    return F.call_function("shiftright", v_q * scale, units)


def decayed_trending(
    df: "DataFrame",
    ts_col: str,
    key_col: str,
    *,
    value_col: str | None = None,
    half_life_days: int = 7,
    scale: int = 1_000_000,
) -> "DataFrame":
    """Half-life-decayed trending score per key — the recency-weighted
    ranking the anchor-window trendingFeed approximates with a hard
    cutoff: every row contributes value * 2^-(age / half_life), summed
    per key, so yesterday's engagement outweighs last month's without
    a cliff at the window edge.

    Integer-exact quantization (the engine's no-float contract): age
    quantizes to whole half-life units (datediff from the corpus max
    timestamp — the same deterministic max-anchor as trending_feed,
    one broadcast scalar join) and the contribution is
    ``(v_q * scale) >> units`` with units clamped to 62 — a step
    approximation of continuous exponential decay, monotone in age and
    bit-identical cross-engine (shift = exact division by 2^units).
    ``value_col`` quantizes via ROUND(v * 100) cents; None counts rows.

    One scalar aggregate + one map-side-combining groupBy(key); no
    window, no skew beyond the key distribution itself.

    Returns (key, n_events, score_q) — rank by score_q DESC.
    """
    anchor = df.agg(F.max(ts_col).alias("_a"))
    v_q = (
        F.round(F.col(value_col) * 100, 0).cast("long")
        if value_col is not None
        else F.lit(100).cast("long")
    )
    keyed = df.join(F.broadcast(anchor)).select(
        F.col(key_col),
        _decayed(v_q, ts_col, "_a", half_life_days, scale).alias("_c"),
    )
    return keyed.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("_c").cast("long").alias("score_q"),
    )
