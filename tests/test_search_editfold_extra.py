"""Incremental inverted-index maintenance, and the X13 edit fold
(``ingest/editfold.py``) checked against a reference applier in Python:
seeded equivalence cases, a generated-patch round trip and the verbatim
fallback. Each fold check evaluates all its cases in one DataFrame.
"""

from __future__ import annotations

import random
import re
import urllib.parse

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from union_indexer_node_spark.ingest.editfold import apply_patch, folded_body


def test_incremental_index_matches_full_rebuild(spark):
    from union_indexer_node_spark.pipelines.search import (
        build_inverted_index,
        search_by_index,
        update_inverted_index,
    )

    docs_v1 = spark.createDataFrame(
        [
            (1, "spark shuffles data across executors"),
            (2, "catalyst optimizes the logical plan"),
            (3, "parquet stores columns not rows"),
        ],
        "doc_id long, text string",
    )
    index_v1 = build_inverted_index(docs_v1, "text", ["doc_id"])

    # doc 2 edited, doc 3 deleted (empty text), doc 4 added
    changes = spark.createDataFrame(
        [
            (2, "adaptive execution replans the shuffles"),
            (3, ""),
            (4, "arrow batches cross the python boundary"),
        ],
        "doc_id long, text string",
    )
    incremental = update_inverted_index(index_v1, changes, "text", ["doc_id"])

    docs_v2 = spark.createDataFrame(
        [
            (1, "spark shuffles data across executors"),
            (2, "adaptive execution replans the shuffles"),
            (4, "arrow batches cross the python boundary"),
        ],
        "doc_id long, text string",
    )
    full = build_inverted_index(docs_v2, "text", ["doc_id"])
    assert set(map(tuple, incremental.collect())) == set(map(tuple, full.collect()))

    # deleted doc no longer matches; both maintained paths agree
    hits = search_by_index(incremental, docs_v2, ["shuffles"], ["doc_id"])
    assert {r.doc_id for r in hits.collect()} == {1, 2}


# --- reference applier ------------------------------------------------------
# The exact-offset diff-match-patch applier in Python that the engine's
# built-in fold reproduces: a well-formed patch applies at its stated
# offsets; anything else (no patch, a bad escape, a context mismatch)
# is the new body verbatim.

_HUNK_RE = re.compile(r"^@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@$")


def _parse_dmp_text(text: str):
    if not text.startswith("@@"):
        return None
    patches = []
    cur = None
    for line in text.split("\n"):
        if not line:
            continue
        m = _HUNK_RE.match(line)
        if m:
            cur = (int(m.group(1)), [])
            patches.append(cur)
        elif cur is not None and line[0] in " +-":
            cur[1].append(
                (line[0], urllib.parse.unquote(line[1:], errors="strict"))
            )
        else:
            return None
    return patches or None


def _apply_exact(base: str, patches) -> str | None:
    out = base
    shift = 0
    for start1, ops in patches:
        pos = start1 - 1 + shift
        if pos < 0 or pos > len(out):
            return None
        for kind, payload in ops:
            if kind == " ":
                if out[pos : pos + len(payload)] != payload:
                    return None
                pos += len(payload)
            elif kind == "-":
                if out[pos : pos + len(payload)] != payload:
                    return None
                out = out[:pos] + out[pos + len(payload) :]
                shift -= len(payload)
            else:  # '+'
                out = out[:pos] + payload + out[pos:]
                pos += len(payload)
                shift += len(payload)
    return out


def _ref_apply(base: str, candidate: str | None) -> str | None:
    try:
        parsed = _parse_dmp_text(candidate)
    except Exception:
        return candidate
    if parsed is None:
        return candidate
    applied = _apply_exact(base, parsed)
    return candidate if applied is None else applied


def _ref_fold(bodies: list) -> str | None:
    acc = ""
    for b in bodies:
        acc = _ref_apply(acc, b) if acc else (b or "")
    return acc


def _spark_apply(spark, pairs: list[tuple[str, str | None]]) -> list:
    """apply_patch over (base, patch) pairs, in one job."""
    df = spark.createDataFrame(
        [(i, b, p) for i, (b, p) in enumerate(pairs)],
        "i int, base string, patch string",
    )
    rows = df.select("i", apply_patch(F.col("base"), F.col("patch")).alias("o"))
    got = dict(rows.collect())
    return [got[i] for i in range(len(pairs))]


def _spark_fold(spark, cases: list[list]) -> list:
    """folded_body over lists of event-ordered bodies, in one job. The
    events go in shuffled, with distinct (block_height, tx_idx, op_idx),
    so the fold's own sort restores their order."""
    rng = random.Random(len(cases))
    rows = []
    for i, bodies in enumerate(cases):
        events = [(k // 2, k % 2, 3 - k, b) for k, b in enumerate(bodies)]
        rng.shuffle(events)
        rows.append((i, events))
    df = spark.createDataFrame(
        rows,
        "i int, events array<struct<block_height:long,tx_idx:int,"
        "op_idx:int,body:string>>",
    )
    got = dict(df.select("i", folded_body(F.col("events"))).collect())
    return [got[i] for i in range(len(cases))]


# --- generated diff-match-patch patches ---------------------------------------

# diff-match-patch %-encodes payload lines with this safe set
# (public dmp source, python port: quote(text, "!~*'();/?:@&=+$,# "))
_DMP_SAFE = "!~*'();/?:@&=+$,# "
_MARGIN = 4


def _q(s: str) -> str:
    return urllib.parse.quote(s, safe=_DMP_SAFE)


def _hunk(base: str, pos: int, n_del: int, insert: str, shift: int = 0) -> list[str]:
    """One splice (delete ``n_del`` chars at ``pos``, insert ``insert``)
    as a hunk with 4-char context margins; ``shift`` is the length
    change of the earlier hunks of the same patch."""
    pre = base[max(0, pos - _MARGIN) : pos]
    deleted = base[pos : pos + n_del]
    post = base[pos + n_del : pos + n_del + _MARGIN]
    start1 = pos - len(pre) + 1  # 1-based
    len1 = len(pre) + len(deleted) + len(post)
    len2 = len(pre) + len(insert) + len(post)
    lines = [f"@@ -{start1},{len1} +{start1 + shift},{len2} @@"]
    if pre:
        lines.append(" " + _q(pre))
    if deleted:
        lines.append("-" + _q(deleted))
    if insert:
        lines.append("+" + _q(insert))
    if post:
        lines.append(" " + _q(post))
    return lines


def _dmp_patch_text(base: str, pos: int, n_del: int, insert: str) -> str:
    """Render one splice in diff-match-patch patch-text format — the
    exact shape hive-stream edits carry."""
    return "\n".join(_hunk(base, pos, n_del, insert))


def _multi_hunk(rng: random.Random, base: str, n: int) -> str:
    """Up to ``n`` splices at increasing, non-overlapping offsets of
    ``base``, one hunk each, headers numbered against ``base``."""
    lines, cursor, shift = [], 0, 0
    for _ in range(n):
        if cursor >= len(base):
            break
        pos = rng.randint(cursor, len(base))
        n_del = rng.randint(0, min(6, len(base) - pos))
        insert = _text(rng, 0, 6)
        if n_del == 0 and not insert:
            continue
        lines += _hunk(base, pos, n_del, insert, shift)
        shift += len(insert) - n_del
        cursor = pos + n_del + 2 * _MARGIN + 1
    return "\n".join(lines)


# characters that stress the applier: escapes, '+', CR, non-ASCII
# (2-, 3- and 4-byte UTF-8, a non-ASCII decimal digit), '@' and digits
_ALPHABET = "abc xyz,.01%+@-\r\té€😀٣𝟏"
_PATCH_NOISE = [
    "%", "%4", "%G1", "%zz", "%%41", "%C3", "%C3%A9", "%ED%A0%80",
    "%C0%AF", "%F4%90%80%80", "%F0%9F%98%80", "%C3+%A9", "%C3é%A9",
    "+", "%2B", "%0A", "%00", "\r", "é", "٣",
]
_GARBAGE = [
    "@@", "@@ -1,2 +1,2 @@\r", "@@ -1 +1 @@", "@@ -0,0 +1,3 @@",
    "@@ -٣,2 +٣,2 @@", "@@ -𝟏,2 +1,2 @@", "@@ -1,2 +1,2 @@ tail",
    "@@ -a,2 +1,2 @@", "@@  -1,2 +1,2 @@", "@@ -1,2 +1,2 @@@",
    "@@ -99999999999999999999999,1 +1,1 @@",
    "@@ -9223372036854775807,1 +1,1 @@", "@@ -2147483648,1 +1,1 @@",
    "@@ -0001,1 +1,1 @@", "just a new body", "x@@ -1,1 +1,1 @@", "",
]


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choice(_ALPHABET) for _ in range(rng.randint(lo, hi)))


def _mutate(rng: random.Random, patch: str) -> str:
    """A small damage to a well-formed patch: an edited offset, a
    stray escape or CR, a garbage line, a flipped kind, or a huge
    offset."""
    lines = patch.split("\n")
    i = rng.randrange(len(lines))
    k = rng.randrange(7)
    if k == 0:  # shift every number in one line
        lines[i] = re.sub(r"\d+", lambda m: str(int(m.group()) + rng.choice([-2, -1, 1, 2])), lines[i])
    elif k == 1:  # noise into a payload line
        j = rng.randint(1, max(1, len(lines[i])))
        lines[i] = lines[i][:j] + rng.choice(_PATCH_NOISE) + lines[i][j:]
    elif k == 2:
        lines[i] += "\r"
    elif k == 3:
        lines.insert(i + 1, rng.choice(_GARBAGE))
    elif k == 4 and lines[i][:1] in " +-":
        lines[i] = rng.choice(" +-") + lines[i][1:]
    elif k == 5:
        big = rng.choice(["2147483647", "4294967296", "9223372036854775808", "1" + "0" * 30])
        lines[0] = re.sub(r"-\d+", "-" + big, lines[0], count=1)
    else:
        lines.insert(rng.randint(0, len(lines)), "")
    return "\n".join(lines)


def _edit(rng: random.Random, stored: str | None) -> str | None:
    """One next event body for a post whose folded body is ``stored``."""
    stored = stored or ""
    k = rng.randrange(10)
    if k == 0:
        return None
    if k == 1:
        return rng.choice(["", "new body", rng.choice(_GARBAGE), _text(rng, 0, 12)])
    if not stored:
        return _text(rng, 1, 20)
    if k <= 4:
        pos = rng.randint(0, len(stored))
        n_del = rng.randint(0, min(8, len(stored) - pos))
        insert = _text(rng, 0 if n_del else 1, 8)
        return _dmp_patch_text(stored, pos, n_del, insert)
    if k <= 6:
        patch = _multi_hunk(rng, stored, rng.randint(2, 4))
        return patch or _text(rng, 1, 10)
    base = _dmp_patch_text(stored, rng.randint(0, len(stored)), 0, _text(rng, 1, 6))
    return _mutate(rng, base)


def _cases(seed: int, n: int) -> list[list]:
    rng = random.Random(seed)
    cases = []
    for _ in range(n):
        bodies = [rng.choice([None, "", _text(rng, 1, 30), rng.choice(_GARBAGE)])]
        for _ in range(rng.randint(0, 3)):
            bodies.append(_edit(rng, _ref_fold(bodies)))
        cases.append(bodies)
    return cases


def test_fold_matches_reference_applier(spark):
    """The built-in fold gives every post the reference's body, on
    2,400 seeded posts of 1-4 events: multi-hunk patches, malformed
    and invalid-UTF-8 escapes, '+', CR, huge offsets, '@@' garbage,
    NULL and empty bodies."""
    cases = _cases(7, 2400)
    want = [_ref_fold(c) for c in cases]
    # the seeded mix exercises both outcomes of the fold
    patches = [
        (_ref_fold(c[:-1]), c[-1]) for c in cases
        if len(c) > 1 and _ref_fold(c[:-1]) and (c[-1] or "").startswith("@@")
    ]
    applied = sum(_ref_apply(b, p) != p for b, p in patches)
    assert applied > 200 and len(patches) - applied > 200
    got = _spark_fold(spark, cases)
    bad = [(c, w, g) for c, w, g in zip(cases, want, got) if w != g]
    assert not bad, bad[:3]


def test_apply_patch_escapes_and_offsets(spark):
    """Hand-picked edges of the payload decoding and hunk offsets."""
    base = "héllo wörld 😀 body"
    pairs = [
        (base, "@@ -1,5 +1,5 @@\n-h%C3%A9llo\n+hi"),  # escape decodes
        (base, "@@ -1,5 +1,5 @@\n-h%C3%A9llo\n+a+b"),  # '+' is literal
        (base, "@@ -1,5 +1,5 @@\n-h%C3%A9llo\n+100%"),  # lone '%'
        (base, "@@ -1,5 +1,5 @@\n-h%C3%A9llo\n+%zz%4"),  # malformed '%'
        (base, "@@ -1,5 +1,5 @@\n-h%C3%A9llo\n+%C3"),  # invalid UTF-8
        (base, "@@ -1,5 +1,5 @@\n-h%C3%A9llo\n+%ED%A0%80"),  # surrogate
        (base, "@@ -1,5 +1,5 @@\n-h%C3+%A9llo"),  # run split by '+'
        (base, "@@ -13,1 +13,1 @@\n-%F0%9F%98%80\n+:)"),  # 4-byte char
        (base, "@@ -13,1 +13,1 @@\r\n-%F0%9F%98%80\n+:)"),  # CR header
        (base, "@@ -١٣,1 +13,1 @@\n-%F0%9F%98%80\n+:)"),  # Arabic digits
        (base, "@@ -21,0 +21,1 @@\n+!"),  # at the end
        (base, "@@ -22,0 +22,1 @@\n+!"),  # past the end
        (base, "@@ -0,0 +1,1 @@\n+!"),  # before the start
        (base, "@@ -9223372036854775807,1 +1,1 @@\n+!"),
        (base, "@@ -99999999999999999999999999,1 +1,1 @@\n+!"),
        (base, "@@ -1,1 +1,1 @@\n-h\n@@ -3,1 +2,1 @@\n-l"),  # two hunks
        (base, None),
        (base, ""),
    ]
    assert _spark_apply(spark, pairs) == [_ref_apply(b, p) for b, p in pairs]


_CASE = st.tuples(
    st.text(min_size=1, max_size=80),
    st.floats(min_value=0.0, max_value=1.0),
    st.integers(min_value=0, max_value=10),
    st.text(max_size=20),
)


@settings(max_examples=8, deadline=None)
@given(cases=st.lists(_CASE, min_size=25, max_size=40))
def test_apply_patch_round_trip(spark, cases):
    """A generated single-splice patch applied to the body it was made
    against gives the spliced body."""
    pairs, expected = [], []
    for base, pos_frac, n_del, insert in cases:
        pos = int(pos_frac * len(base))
        n_del = min(n_del, len(base) - pos)
        if n_del == 0 and not insert:
            continue  # empty splice renders an empty patch body
        pairs.append((base, _dmp_patch_text(base, pos, n_del, insert)))
        expected.append(base[:pos] + insert + base[pos + n_del :])
    if pairs:
        assert _spark_apply(spark, pairs) == expected


@settings(max_examples=5, deadline=None)
@given(garbage=st.lists(st.text(min_size=1, max_size=60), min_size=10, max_size=40))
def test_apply_patch_falls_back_verbatim_on_non_patch(spark, garbage):
    """Anything that does not parse as a patch is the new body verbatim
    (the reference's own fallback, hive-stream.ts:540-548)."""
    garbage = [g for g in garbage if not g.startswith("@@")]
    if garbage:
        pairs = [("stored body", g) for g in garbage]
        assert _spark_apply(spark, pairs) == garbage
