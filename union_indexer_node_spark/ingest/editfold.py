"""X13 — edit-as-patch folding, in built-in expressions.

Reference behavior (hive-stream.ts:540-548): when a comment op arrives
for an existing post, its body is interpreted as a diff-match-patch
patch against the stored body; if patch parsing/application fails, the
body is taken verbatim (full replacement).

Batch re-expression: per (author, permlink), fold the bodies in
(block_height, tx_idx, op_idx) order. The bodies are collected by the
window ``build_posts`` already runs, ordered in-expression with
``array_sort``, and folded by one ``aggregate``; a post with one event
(most posts) takes its body in the fold's first step, and only a
text starting with ``@@`` is parsed as a patch. Every step is a built-in
function, so the fold runs in the JVM: no body crosses into Python,
and only edited posts do any fold work.

The patch applier reads the diff-match-patch patch text (``@@ -l,c
+l,c @@`` hunk headers, then ``' '``/``'-'``/``'+'`` lines with
%-encoded payloads) and applies every hunk at its stated offset:
context and deleted text must match the stored body exactly, in code
points. Any parse or match failure takes the new body verbatim.

Documented divergence: diff-match-patch itself locates a hunk by fuzzy
matching (Bitap) when its stated offset no longer fits. This engine
applies hunks only at their stated offsets. A patch made against the
exact stored body (the reference's normal case) applies the same way;
a patch that does not apply there falls back to verbatim, as a failed
patch does in the reference.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

# Hunk header, anchored like Python's re.match(r"^...$") on one line:
# ``\z``, because Java's ``$`` also matches before a trailing \r.
_HUNK = r"^@@ -(\d+)(?:,\d+)? \+\d+(?:,\d+)? @@\z"
_HEX2 = "[0-9A-Fa-f]{2}"


@functools.cache
def _decimal_digits() -> tuple[str, str]:
    """Every non-ASCII character Python's ``re`` ``\\d`` and ``int()``
    take as a decimal digit, and the ASCII digit of its value. Java's
    ``\\d`` is ASCII only, so a header is translated before matching."""
    src = [chr(c) for c in range(0x80, 0x110000) if chr(c).isdecimal()]
    return "".join(src), "".join(str(int(c)) for c in src)


def _decode(payload: Column) -> Column:
    """Strict percent-decoding, as ``urllib.parse.unquote(errors=
    "strict")``: ``+`` stays literal, a ``%`` not followed by two hex
    digits stays literal, and a payload whose run of escapes is not
    valid UTF-8 is NULL (unquote raises there)."""
    runs = F.regexp_extract_all(payload, F.lit(f"((?:%{_HEX2})+)"), 1)
    valid = F.forall(
        runs,
        lambda r: F.is_valid_utf8(
            F.unhex(F.regexp_replace(r, "%", "")).try_cast("string")
        ),
    )
    escaped = F.replace(
        F.regexp_replace(payload, f"%(?!{_HEX2})", "%25"), F.lit("+"), F.lit("%2B")
    )
    return F.when(valid, F.try_url_decode(escaped))


def _parse_line(line: Column) -> Column:
    """struct(kind, start, payload) for one non-empty patch line: kind is
    the line's first character; start is a hunk header's 1-based old
    offset (NULL for a line that is no header or an offset out of
    range), payload the decoded text of a ``' '``/``'-'``/``'+'`` line
    (NULL for any other line or a payload that does not decode)."""
    src, dst = _decimal_digits()
    kind = F.substr(line, F.lit(1), F.lit(1))
    start = F.when(
        kind == "@",
        F.nullif(F.regexp_extract(F.translate(line, src, dst), _HUNK, 1), F.lit("")),
    )
    payload = F.when(
        kind.isin(" ", "-", "+"), _decode(F.substr(line, F.lit(2)))
    )
    return F.struct(
        kind.alias("kind"),
        start.try_cast("bigint").alias("start"),
        payload.alias("payload"),
    )


def _apply_line(acc: Column, x: Column) -> Column:
    """One parsed patch line onto the (out, pos, shift, ok) state. A
    line that is no patch line (a header without a start, any other
    line without a payload) fails the state; a failed state passes
    through unchanged."""
    out, pos, shift = acc["out"], acc["pos"], acc["shift"]
    payload = x["payload"]
    n = F.length(payload)

    def state(out_, pos_, shift_, ok_):
        return F.struct(
            out_.alias("out"), pos_.alias("pos"), shift_.alias("shift"),
            ok_.alias("ok"),
        )

    def sub(start0: Column, length: Column | None = None) -> Column:
        """Code points [start0, start0 + length) of out (0-based)."""
        start = (start0 + 1).try_cast("int")
        return F.substr(out, start) if length is None else F.substr(
            out, start, length.try_cast("int")
        )

    # start - 1 + shift <= len(out), compared before adding so that an
    # oversized offset fails instead of overflowing
    fits = x["start"] <= F.length(out) + 1 - shift
    header_pos = x["start"] - 1 + shift
    matches = sub(pos, n) == payload
    return (
        F.when(~acc["ok"], acc)
        .when(
            x["kind"] == "@",
            state(
                out,
                F.when(fits, header_pos).otherwise(pos),
                shift,
                F.when(fits, header_pos >= 0).otherwise(F.lit(False)),
            ),
        )
        .when(payload.isNull(), state(out, pos, shift, F.lit(False)))
        .when(x["kind"] == " ", state(out, pos + n, shift, matches))
        .when(
            x["kind"] == "-",
            state(
                F.when(matches, F.concat(sub(F.lit(0), pos), sub(pos + n))),
                pos, shift - n, matches,
            ),
        )
        .otherwise(
            state(
                F.concat(sub(F.lit(0), pos), payload, sub(pos)),
                pos + n, shift + n, F.lit(True),
            )
        )
    )


def apply_patch(base: Column, patch: Column) -> Column:
    """``patch`` applied as diff-match-patch patch text onto ``base`` at
    exact offsets; ``patch`` itself when it is no patch or does not
    apply (NULL stays NULL). A text starting with ``@@`` starts with a
    hunk header or fails its first line, so the lines parse and apply
    in one pass."""
    lines = F.transform(
        F.filter(F.split(patch, "\n"), lambda l: l != ""), _parse_line
    )
    zero = F.lit(0).cast("bigint")
    init = F.struct(
        base.alias("out"), zero.alias("pos"), zero.alias("shift"),
        F.lit(True).alias("ok"),
    )
    return F.when(
        patch.startswith("@@"),
        F.aggregate(
            lines, init, _apply_line,
            lambda s: F.when(s["ok"], s["out"]).otherwise(patch),
        ),
    ).otherwise(patch)


def folded_body(events: Column, start: Column | None = None) -> Column:
    """events: array<struct<block_height,tx_idx,op_idx,body>> (unsorted).

    array_sort orders by struct fields lexicographically (block_height,
    tx_idx, op_idx). The fold starts from ``start`` ("" when None, a
    post's stored body when an incremental build resumes its fold):
    while the body so far is empty (or NULL) the next body replaces it
    (NULL as ""); otherwise the next body is applied to it as a patch.
    A NULL edit of a non-empty body yields NULL."""
    return F.aggregate(
        F.array_sort(events),
        F.lit("") if start is None else start,
        lambda acc, e: F.when(acc != "", apply_patch(acc, e["body"])).otherwise(
            F.coalesce(e["body"], F.lit(""))
        ),
    )
