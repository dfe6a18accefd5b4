"""Seeded input generators for the cycle benchmark.

Everything here is plain Python (no Spark): the same seed gives the same
inputs byte for byte, and the program under test only ever sees what
these functions return.

- ``block_log``: a raw Hive block log in the ``BLOCKS_SCHEMA`` shape plus
  delta cuts, with the FIXTURES.md ``raw_ops`` properties (edit chains
  with diff-match-patch bodies and an out-of-order duplicate, reply
  chains at least three deep, ``deleted`` tags, the four apps,
  follow/unfollow pairs) and a hot author and a hot community.
- ``request_mix``: the ``serve`` GraphQL request sequence, with
  arguments drawn from keys that exist in the published tables.
- ``curate_corpus``: a document corpus with planted exact duplicates,
  near-duplicates at known shingle Jaccard, boilerplate lines and a
  contamination set.

Search terms and body words come from a seeded vocabulary. Planted
search terms contain a ``z`` and background words never do, so each
term's selectivity is exactly what the generator planted.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass, field

APPS = ["3speak/1.0", "dbuzz/2", "steemit/0.1", "other/1"]
APP_WEIGHTS = [0.4, 0.25, 0.2, 0.15]
T0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
BASE_HEIGHT = 90_000_000
MAX_DEPTH = 3  # reply chains reach exactly this depth (FIXTURES.md (b))
TXS_PER_BLOCK = 2
SPAN_DAYS = 40  # > 30, so 3-day trending and 14-day tag windows select subsets
DELTA_BLOCKS = 12
N_AUTHORS = 240
_SYL = ["ka", "lo", "mi", "ne", "po", "ru", "sa", "ti", "ve", "do", "ge",
        "bi", "fu", "ha", "je", "cu", "wo", "ya", "xi", "te"]


def vocabulary(rng: random.Random, n: int, *, planted: bool = False) -> list[str]:
    """n distinct pseudo-words. Background words never contain 'z';
    planted words always start with it."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(_SYL) for _ in range(rng.randint(2, 4)))
        w = ("z" + w) if planted else w
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


def _schedule(rng: random.Random, n: int) -> list[float]:
    """n draws on an even grid over [0, 1), shuffled: every op kind
    chosen by thresholding a draw appears in exactly its share, so the
    log's size and mix do not move with the seed."""
    grid = [(i + 0.5) / n for i in range(n)]
    rng.shuffle(grid)
    return grid


# ---------------------------------------------------------------------------
# Block log
# ---------------------------------------------------------------------------


@dataclass
class Post:
    author: str
    permlink: str
    parent_author: str
    parent_permlink: str
    body: str
    tags: list[str]
    app: str
    depth: int
    height: int
    votes: int = 0
    patched: bool = False
    replaced_at: list[int] = field(default_factory=list)


@dataclass
class BlockLog:
    base: list[dict]
    deltas: list[list[dict]]
    posts: dict[tuple[str, str], Post]
    authors: list[str]
    communities: list[str]
    tags: list[str]
    followers: list[str]
    terms: dict[str, list[str]]
    shape: dict


def _patch(body: str, rng: random.Random, words: list[str]) -> tuple[str, str]:
    """Replace one word of ``body``; returns (new_body, dmp patch text)
    in the '@@ -l,c +l,c @@' format with exact offsets."""
    toks = body.split(" ")
    j = rng.randrange(len(toks))
    new = rng.choice(words)
    start = sum(len(t) + 1 for t in toks[:j])
    old = toks[j]
    toks[j] = new
    text = f"@@ -{start + 1},{len(old)} +{start + 1},{len(new)} @@\n-{old}\n+{new}\n"
    return " ".join(toks), text


class _LogWriter:
    """Builds blocks: block id from the height, timestamp ``step_s``
    seconds per block, one transaction id per transaction."""

    def __init__(self, seed: int, step_s: int) -> None:
        self.seed = seed
        self.step_s = step_s
        self.tx_n = 0

    def block(self, height: int, txs: list[list[tuple[str, dict]]]) -> dict:
        ts = T0 + dt.timedelta(seconds=(height - BASE_HEIGHT) // 2 * self.step_s)
        trx = []
        for ops in txs:
            self.tx_n += 1
            trx.append({
                "transaction_id": f"{self.seed:04x}{self.tx_n:012x}",
                "operations": [
                    {"op_type": t, "payload": json.dumps(p, sort_keys=True)}
                    for t, p in ops
                ],
            })
        blk = {
            "block_id": f"{height:08x}{(height * 2654435761) & 0xFFFFFFFF:08x}",
            "timestamp": ts,
            "transactions": trx,
        }
        return blk


def block_log(seed: int, *, n_blocks: int, n_deltas: int) -> BlockLog:
    """Base log of ``n_blocks`` blocks spread over ``SPAN_DAYS`` days
    (heights step by 2, so odd heights stay free for late-delivered
    blocks) and ``n_deltas`` cuts of ``DELTA_BLOCKS`` blocks each.

    Delta cuts obey what an incremental posts/follows stream can fold
    exactly: replies and votes only target posts of the same cut, and an
    edit of a base post is a full-body replacement of a top-level post
    that has no votes. One delta block is late: its height lies inside
    the base range, so its edit loses the last-write-wins order."""
    rng = random.Random(seed)
    words = vocabulary(rng, 1500)
    wweights = _zipf_weights(len(words), 1.05)
    planted = vocabulary(rng, 8, planted=True)
    terms = {"rare": planted[:3], "pct1": planted[3:6], "pct30": planted[6:8]}
    tag_vocab = vocabulary(rng, 50)
    tweights = _zipf_weights(len(tag_vocab), 1.1)
    authors = [f"u{i:03d}" for i in range(N_AUTHORS)]
    aweights = _zipf_weights(N_AUTHORS, 0.9)
    aweights[0] = sum(aweights) * 0.12  # hot author: ~11% of posts
    communities = [f"hive-{100000 + 7919 * i}" for i in range(8)]
    cweights = [6.0] + [1.0] * 7  # hot community
    followers = authors[: N_AUTHORS // 2]
    posts: dict[tuple[str, str], Post] = {}
    n_permlink = [0]
    rare_left = {t: 2 for t in terms["rare"]}

    def body_text(n_words: int) -> str:
        ws = rng.choices(words, wweights, k=n_words)
        for t in terms["pct30"]:
            if rng.random() < 0.3:
                ws[rng.randrange(n_words)] = t
        for t in terms["pct1"]:
            if rng.random() < 0.01:
                ws[rng.randrange(n_words)] = t
        for t, left in rare_left.items():
            if left and rng.random() < 0.01:
                rare_left[t] -= 1
                ws[rng.randrange(n_words)] = t
        return " ".join(ws)

    def new_post(height: int, parent: Post | None) -> tuple[Post, list]:
        author = authors[rng.choices(range(N_AUTHORS), aweights)[0]]
        n_permlink[0] += 1
        permlink = f"p{seed % 997:03d}-{n_permlink[0]:06d}"
        app = rng.choices(APPS, APP_WEIGHTS)[0]
        tags = sorted(set(rng.choices(tag_vocab, tweights, k=rng.randint(1, 4))))
        if rng.random() < 0.03:
            tags.append("deleted")
        if parent is None:
            if rng.random() < 0.5:
                pp = communities[rng.choices(range(8), cweights)[0]]
            else:
                pp = tags[0]
            pa, depth = "", 0
        else:
            pa, pp, depth = parent.author, parent.permlink, parent.depth + 1
        body = body_text(rng.randint(20, 60))
        post = Post(author, permlink, pa, pp, body, tags, app, depth, height)
        posts[(author, permlink)] = post
        jm = {"app": app, "tags": tags}
        if app.startswith("3speak"):
            jm["video"] = {"info": {"lang": "en", "duration": rng.randint(30, 900)}}
        ops = [("comment", {
            "author": author, "permlink": permlink, "parent_author": pa,
            "parent_permlink": pp, "title": f"t {permlink}", "body": body,
            "json_metadata": json.dumps(jm, sort_keys=True),
        })]
        if rng.random() < 0.2:
            ext = [[0, {"beneficiaries": [{"account": authors[1], "weight": 500}]}]]
            ops.append(("comment_options", {
                "author": author, "permlink": permlink,
                "extensions": json.dumps(ext),
            }))
        if app.startswith("3speak") and rng.random() < 0.5:
            ops.append(("custom_json", {
                "id": "3speak-publish", "json": "{}",
                "required_posting_auths": ["threespeak", author],
            }))
        return post, ops

    def comment_op(p: Post, body: str) -> tuple[str, dict]:
        jm = {"app": p.app, "tags": p.tags}
        return ("comment", {
            "author": p.author, "permlink": p.permlink,
            "parent_author": p.parent_author, "parent_permlink": p.parent_permlink,
            "title": f"t {p.permlink}", "body": body,
            "json_metadata": json.dumps(jm, sort_keys=True),
        })

    def follow_ops(follower: str, following: str, unfollow: bool) -> list:
        what = [] if unfollow else ["blog"]
        return [("custom_json", {
            "id": "follow",
            "json": json.dumps({"follower": follower, "following": following,
                                "what": what}),
            "required_posting_auths": [follower],
        })]

    w = _LogWriter(seed, SPAN_DAYS * 86400 // (n_blocks + 100))
    stats = {"comment_ops": 0, "edit_ops": 0, "dup_ops": 0, "ops": 0}

    # -- accounts: profiles and communities up front ----------------------
    base: list[dict] = []
    h = BASE_HEIGHT
    setup_txs = []
    for a in authors:
        pm = {"profile": {"name": a.upper(), "about": f"about {a}"},
              "did": f"did:key:z{a}"}
        setup_txs.append([("account_update2", {
            "account": a, "posting_json_metadata": json.dumps(pm)})])
    for c in communities:
        pm = {"profile": {"profile_image": f"img-{c}", "topcs": ["video"]}}
        setup_txs.append([("account_update2", {
            "account": c, "posting_json_metadata": json.dumps(pm)})])
        setup_txs.append([("custom_json", {
            "id": "community", "required_posting_auths": [c],
            "json": json.dumps({"action": "updateProps",
                                "title": f"Community {c}", "about": "a"}),
        })])
    for i in range(0, len(setup_txs), 3):
        base.append(w.block(h, setup_txs[i:i + 3]))
        h += 2

    # -- base blocks --------------------------------------------------------
    follow_edges: list[tuple[str, str]] = []
    chain_tips: list[Post] = []
    draws = _schedule(rng, n_blocks * TXS_PER_BLOCK)
    for _ in range(n_blocks):
        txs = []
        for _ in range(TXS_PER_BLOCK):
            r = draws.pop()
            top = [p for p in list(posts.values())[-60:] if p.depth == 0]
            if r < 0.34 or not top:
                p, ops = new_post(h, None)
            elif r < 0.52:
                # replies: extend an existing chain half of the time so
                # chains grow past depth 3
                if chain_tips and rng.random() < 0.5:
                    parent = chain_tips.pop(rng.randrange(len(chain_tips)))
                else:
                    parent = rng.choice(top)
                p, ops = new_post(h, parent)
                if p.depth < MAX_DEPTH:
                    chain_tips.append(p)
            elif r < 0.62:
                p = rng.choice(top)
                if rng.random() < 0.6:
                    p.body, text = _patch(p.body, rng, words)
                    p.patched = True
                else:
                    p.body = body_text(rng.randint(20, 60))
                    text = p.body
                    p.replaced_at.append(h)
                ops = [comment_op(p, text)]
                stats["edit_ops"] += 1
            elif r < 0.82:
                p = rng.choice(list(posts.values())[-200:])
                p.votes += 1
                ops = [("vote", {"voter": rng.choice(authors),
                                 "author": p.author, "permlink": p.permlink,
                                 "weight": 10000})]
            elif r < 0.94:
                a, b = rng.sample(followers, 2)
                follow_edges.append((a, b))
                ops = follow_ops(a, b, unfollow=False)
            elif r < 0.97 and follow_edges:
                a, b = rng.choice(follow_edges)
                ops = follow_ops(a, b, unfollow=True)
            else:
                a = rng.choice(followers)
                c = communities[rng.choices(range(8), cweights)[0]]
                act = "unsubscribe" if rng.random() < 0.2 else "subscribe"
                ops = [("custom_json", {
                    "id": "community", "required_posting_auths": [a],
                    "json": json.dumps({"action": act, "community": c}),
                })]
            txs.append(ops)
        base.append(w.block(h, txs))
        h += 2
    base_tip = h

    # out-of-order duplicate inside the base log: an earlier block
    # delivered again at the end of the log
    dup = base[len(base) // 3]
    base.append(dup)

    # -- delta cuts ---------------------------------------------------------
    quiet = [p for p in posts.values()
             if p.depth == 0 and p.votes == 0 and not p.patched]
    rng.shuffle(quiet)
    deltas: list[list[dict]] = []
    for _ in range(n_deltas):
        blocks: list[dict] = []
        own: list[Post] = []
        draws = _schedule(rng, DELTA_BLOCKS * TXS_PER_BLOCK)
        for _ in range(DELTA_BLOCKS):
            txs = []
            for _ in range(TXS_PER_BLOCK):
                r = draws.pop()
                if r < 0.45 or not own:
                    p, ops = new_post(h, None)
                    own.append(p)
                elif r < 0.65:
                    parent = rng.choice([q for q in own if q.depth == 0])
                    p, ops = new_post(h, parent)
                    own.append(p)
                elif r < 0.75:
                    parent = rng.choice(own)
                    parent.votes += 1
                    ops = [("vote", {"voter": rng.choice(authors),
                                     "author": parent.author,
                                     "permlink": parent.permlink,
                                     "weight": 10000})]
                elif r < 0.85 and quiet:
                    p = quiet.pop()
                    p.body = body_text(rng.randint(20, 60))
                    p.replaced_at.append(h)
                    ops = [comment_op(p, p.body)]
                    stats["edit_ops"] += 1
                elif r < 0.95:
                    a, b = rng.sample(followers, 2)
                    follow_edges.append((a, b))
                    ops = follow_ops(a, b, unfollow=False)
                else:
                    a, b = rng.choice(follow_edges)
                    ops = follow_ops(a, b, unfollow=True)
                txs.append(ops)
            blocks.append(w.block(h, txs))
            h += 2
        # one late block per cut: a full-body edit of a base post, at an
        # odd height below that post's latest base replacement
        late = [p for p in quiet if p.replaced_at and p.replaced_at[-1] - p.height > 4]
        if late:
            p = late[0]
            quiet.remove(p)
            lh = p.replaced_at[-1] - 1
            blocks.append(w.block(lh, [[comment_op(p, body_text(30))]]))
            stats["dup_ops"] += 1
        deltas.append(blocks)

    all_blocks = base + [b for cut in deltas for b in cut]
    for b in all_blocks:
        for tx in b["transactions"]:
            for op in tx["operations"]:
                stats["ops"] += 1
                stats["comment_ops"] += op["op_type"] == "comment"
    stats["dup_ops"] += sum(len(t["operations"]) for t in dup["transactions"])
    n_posts = len(posts)
    by_author: dict[str, int] = {}
    for p in posts.values():
        by_author[p.author] = by_author.get(p.author, 0) + 1
    bodies = [set(p.body.split(" ")) for p in posts.values()]
    shape = {
        "ops": stats["ops"],
        "base_ops": sum(len(t["operations"]) for b in base for t in b["transactions"]),
        "posts": n_posts,
        "edit_share": round(stats["edit_ops"] / stats["comment_ops"], 4),
        "max_reply_depth": max(p.depth for p in posts.values()),
        "top_author_share": round(max(by_author.values()) / n_posts, 4),
        "duplicate_rate": round(stats["dup_ops"] / stats["ops"], 4),
        "term_selectivity": {
            k: round(sum(any(t in b for t in v) for b in bodies) / len(v) / n_posts, 4)
            for k, v in terms.items()
        },
        "base_tip": base_tip,
    }
    return BlockLog(base, deltas, posts, authors, communities, tag_vocab,
                    followers, terms, shape)


# ---------------------------------------------------------------------------
# serve request mix
# ---------------------------------------------------------------------------

_POST_FIELDS = "author permlink parent_author parent_permlink tags TYPE app_name created_at"
_FEED = "{ items { %s } }" % _POST_FIELDS
_SEARCH = "{ items { %s body score } }" % _POST_FIELDS


@dataclass
class Request:
    cls: str
    name: str
    query: str
    variables: dict
    check: dict


FEED_KINDS = ["byApp", "byTag", "byCommunity", "byFollower", "includeComments",
              "trendingComments", "trendingPayout", "related", "communityLatest"]
LOOKUP_KINDS = ["socialPost", "profile", "follows", "community", "trendingTags",
                "leaderBoard", "syncState"]
SEARCH_SELECTIVITY = ["rare", "pct1", "pct30", "pct1"]


def request_mix(log: BlockLog, seed: int, variant: int = 0) -> list[Request]:
    """One pass of 24 seeded requests in four classes: 9 feed, 7
    lookup, 4 search and 4 bm25, with every field variant, search
    selectivity and page size present in fixed proportions (the seed
    and ``variant`` draw the keys, the terms and the order). ``check`` carries what the output checker
    needs: the limit, the order the field advertises and the filter
    each row must pass."""
    rng = random.Random(seed * 7919 + 1 + variant * 104729)
    posts = sorted(log.posts.values(), key=lambda p: (p.author, p.permlink))
    top = [p for p in posts if p.depth == 0]
    apps = sorted({a.split("/")[0] for a in APPS})
    pages = [(10, 0), (20, 0), (50, 0), (5, 10)]
    n_page = [0]

    def page() -> tuple[dict, int]:
        lim, skip = pages[n_page[0] % len(pages)]
        n_page[0] += 1
        return {"limit": lim, "skip": skip}, lim

    def feed(kind: str) -> Request:
        pg, lim = page()
        chk = {"limit": lim, "order": "recency", "filter": {}}
        if kind in ("byApp", "byTag", "byCommunity", "byFollower", "includeComments"):
            fo: dict = {}
            if kind == "byApp":
                fo["byApp"] = {"_eq": rng.choice(apps)}
            elif kind == "byTag":
                fo["byTag"] = {"_eq": rng.choice(log.tags[:20])}
            elif kind == "byCommunity":
                fo["byCommunity"] = {"_eq": rng.choice(log.communities)}
            elif kind == "byFollower":
                fo["byFollower"] = rng.choice(log.followers)
            else:
                fo["includeComments"] = True
            chk["filter"] = fo
            q = ("query Q($p: PaginationOptions, $f: FeedOptions) "
                 "{ socialFeed(pagination: $p, feedOptions: $f) %s }" % _FEED)
            return Request("feed", f"socialFeed.{kind}", q, {"p": pg, "f": fo}, chk)
        if kind.startswith("trending"):
            by = "COMMENTS" if kind == "trendingComments" else "PAYOUT"
            chk["order"] = "payout" if by == "PAYOUT" else None
            q = ("query Q($p: PaginationOptions) { trendingFeed(pagination: $p, "
                 "trendingBy: %s) { items { %s payout } } }" % (by, _POST_FIELDS))
            return Request("feed", f"trendingFeed.{by}", q, {"p": pg}, chk)
        if kind == "related":
            p = rng.choice(top)
            chk.update(order=None, limit=25, filter={"related": [p.author, p.permlink]})
            q = ("query Q($a: String, $l: String) { relatedFeed(author: $a, "
                 "permlink: $l) %s }" % _FEED)
            return Request("feed", "relatedFeed", q, {"a": p.author, "l": p.permlink}, chk)
        c = rng.choice(log.communities)
        chk["filter"] = {"byCommunity": {"_eq": c}}
        chk["path"] = "community.latestFeed"
        q = ("query Q($id: String, $p: PaginationOptions) { community(id: $id) "
             "{ _id latestFeed(pagination: $p) %s } }" % _FEED)
        return Request("feed", "community.latestFeed", q, {"id": c, "p": pg}, chk)

    def lookup(kind: str) -> Request:
        chk = {"limit": None, "order": None, "filter": {}, "lookup": kind}
        if kind == "socialPost":
            p = rng.choice(posts)
            chk["key"] = [p.author, p.permlink]
            q = ("query Q($a: String, $l: String) { socialPost(author: $a, "
                 "permlink: $l) { author permlink body } }")
            return Request("lookup", kind, q, {"a": p.author, "l": p.permlink}, chk)
        if kind == "profile":
            a = rng.choice(log.authors)
            chk["key"] = a
            q = "query Q($id: String) { profile(id: $id) { username displayName } }"
            return Request("lookup", kind, q, {"id": a}, chk)
        if kind == "follows":
            a = rng.choice(log.followers)
            chk["key"] = a
            q = ("query Q($id: String) { follows(id: $id) { followings_count "
                 "followings followers_count } }")
            return Request("lookup", kind, q, {"id": a}, chk)
        if kind == "community":
            c = rng.choice(log.communities)
            chk["key"] = c
            q = "query Q($id: String) { community(id: $id) { _id title } }"
            return Request("lookup", kind, q, {"id": c}, chk)
        if kind == "trendingTags":
            lim = rng.choice([3, 5, 10])
            chk["limit"] = lim
            q = "query Q($n: Int) { trendingTags(limit: $n) { tags { tag score } } }"
            return Request("lookup", kind, q, {"n": lim}, chk)
        if kind == "leaderBoard":
            q = "{ leaderBoard { items { username score rank } } }"
            return Request("lookup", kind, q, {}, chk)
        q = "{ syncState { items { table_name watermark block_lag } } }"
        return Request("lookup", kind, q, {}, chk)

    def search(bm25: bool, sel: str) -> Request:
        term = rng.choice(log.terms[sel])
        pg, lim = page()
        chk = {"limit": lim, "order": "bm25" if bm25 else "recency",
               "filter": {"term": term}}
        rank = ', rankBy: "BM25"' if bm25 else ""
        q = ("query Q($t: String, $p: PaginationOptions) { searchFeed(searchTerm: $t, "
             "pagination: $p%s) %s }" % (rank, _SEARCH))
        cls = "bm25" if bm25 else "search"
        return Request(cls, f"searchFeed.{cls}.{sel}", q, {"t": term, "p": pg}, chk)

    out = [feed(k) for k in FEED_KINDS] + [lookup(k) for k in LOOKUP_KINDS]
    out += [search(False, s) for s in SEARCH_SELECTIVITY]
    out += [search(True, s) for s in SEARCH_SELECTIVITY]
    rng.shuffle(out)
    return out


# ---------------------------------------------------------------------------
# curate corpus
# ---------------------------------------------------------------------------


@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    bench: list[tuple[int, str]]
    exact_dups: set[int]
    near_dups: dict[int, float]
    contaminated: set[int]
    shape: dict


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = [t for t in text.lower().replace("\n", " ").split(" ") if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 1.0


def curate_corpus(seed: int, *, n_orig: int = 1000) -> Corpus:
    """``n_orig`` original documents plus planted truth:

    - exact duplicates (~6%) of random originals;
    - near-duplicates (~6%) made by replacing a few words of an
      original, so their 3-gram shingle Jaccard to it lies in
      [0.75, 0.95] (the true value is recorded);
    - boilerplate: ~10% of documents end with one of three shared
      footer lines;
    - a 40-document contamination set whose passages are copied into
      ~2% of the originals.

    Doc ids of planted copies are larger than their source's, so a
    canonical-min-id dedup removes the copy, never the source."""
    rng = random.Random(seed * 104729 + 3)
    words = vocabulary(rng, 3000)
    wweights = _zipf_weights(len(words), 1.0)
    stop = ["the", "and", "of", "to", "that", "with", "have", "be"]
    footers = [
        "share this post with your friends and follow for more",
        "all rights reserved by the author of this page",
        "click the link below to subscribe to the newsletter",
    ]

    def text(n_words: int) -> str:
        ws = rng.choices(words, wweights, k=n_words)
        for i in range(0, n_words, 9):
            ws[i] = rng.choice(stop)
        lines = [" ".join(ws[i:i + 15]) for i in range(0, n_words, 15)]
        if rng.random() < 0.1:
            lines.append(rng.choice(footers))
        return "\n".join(lines)

    bench = [(1_000_000 + i, text(rng.randint(60, 90))) for i in range(40)]
    docs: list[tuple[int, str]] = []
    contaminated: set[int] = set()
    for i in range(n_orig):
        t = text(rng.randint(60, 160))
        if rng.random() < 0.02:
            passage = rng.choice(bench)[1].split("\n")[0]
            t = t + "\n" + passage
            contaminated.add(i)
        docs.append((i, t))
    exact_dups: set[int] = set()
    near_dups: dict[int, float] = {}
    nid = n_orig
    originals = list(docs)
    for _ in range(int(n_orig * 0.06)):
        src = rng.choice(originals)
        docs.append((nid, src[1]))
        exact_dups.add(nid)
        if src[0] in contaminated:
            contaminated.add(nid)
        nid += 1
    for _ in range(int(n_orig * 0.06)):
        src_id, src = rng.choice(originals)
        lines = [ln.split(" ") for ln in src.split("\n")]
        flat = [(li, wi) for li, ln in enumerate(lines) for wi in range(len(ln))]
        target = rng.uniform(0.75, 0.95)
        # replacing one word kills up to 3 shingles; aim for the target
        n_sh = len(_shingles(src))
        k = max(1, int(round(n_sh * (1 - target) / (1 + target) / 3)))
        for li, wi in rng.sample(flat, min(k, len(flat))):
            lines[li][wi] = rng.choice(words)
        t = "\n".join(" ".join(ln) for ln in lines)
        j = jaccard(src, t)
        if j == 1.0:
            continue
        docs.append((nid, t))
        near_dups[nid] = round(j, 4)
        if src_id in contaminated:
            contaminated.add(nid)
        nid += 1
    order = list(range(len(docs)))
    rng.shuffle(order)
    docs = [docs[i] for i in order]
    shape = {
        "docs": len(docs),
        "exact_dup_rate": round(len(exact_dups) / len(docs), 4),
        "near_dup_rate": round(len(near_dups) / len(docs), 4),
        "near_dup_jaccard_min": min(near_dups.values()) if near_dups else None,
        "contaminated_share": round(len(contaminated) / len(docs), 4),
        "words": sum(len(t.split()) for _, t in docs),
    }
    return Corpus(docs, bench, exact_dups, near_dups, contaminated, shape)
