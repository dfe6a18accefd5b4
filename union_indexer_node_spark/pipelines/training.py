"""Training-data preparation operators: benchmark decontamination,
sliding-window chunking, greedy sequence packing, and deterministic
weighted sampling. Graph algorithms (connected components for near-dup
clusters, PageRank, triangle counts) live in ``graph.py``.

These extend the dedup/quality layer (SURVEY.md §7 Phase 5 /
BASELINE.json north star) with the last-mile operations a pre-training
pipeline runs after curation: drop eval-set contamination, split
documents into model-window chunks, collapse near-dup clusters to one
representative, pack chunks into fixed token budgets, and draw a
reproducible mixture sample. (The reference has no analog — its closest
shape is the derived-table enrichment pass, core.ts:451-466; everything
here is the engine-extension layer.)

Scale notes (100 TB):
- ``decontaminate``: eval suites are tiny next to a training corpus
  (~1e4-1e6 n-grams vs ~1e12), so the distinct benchmark-gram set is
  md5-hashed and BROADCAST; the train side stays map-side (explode +
  broadcast hash join) with one final doc-id count shuffle. Grams cross
  the join as 32-byte digests, never full strings, so cost is
  independent of n.
- ``chunk_sliding``: pure per-row expressions (sequence + slice), ZERO
  shuffles; output is ~n_tokens/stride rows per doc.
- ``pack_next_fit``: packing is sequential WITHIN a stratum (that is
  its definition), so the stratum is the parallelism unit and
  applyInPandas hands each stratum to one task as Arrow batches. For a
  stratum too large for one task, pre-shard the stratum key upstream —
  the only cost is bins that straddle shards staying unmerged (bounded
  waste, no correctness impact).
- ``weighted_sample``: map-side filter on an md5 hash draw — no
  shuffle, and no rand(): reproducible across retries, engines and
  cluster sizes by construction (same reasoning as
  curation.stratified_sample).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_bucket, md5_draw, md5_hex, shingles_from_tokens, tokens


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination stats: for every training doc, how many
    of its distinct word n-grams appear in ANY benchmark doc.

    Returns (id, n_grams, n_hit, contamination) where contamination =
    n_hit / n_grams (0.0 for docs with no grams). Callers drop or flag
    rows above their threshold; returning stats instead of filtering
    keeps one scan reusable for both reporting and gating.
    """
    # localCheckpoint = Catalyst collapse barrier: without it the
    # optimizer inlines the split/lower/filter tokenizer into every
    # element_at of the shingle lambda — O(grams*n) regexp runs per
    # doc (measured 2.1x at sf0.1).
    bench_toks = bench.select(
        tokens(F.col(text_col)).alias("_toks")
    ).localCheckpoint()
    bench_grams = (
        bench_toks.select(
            F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("_g")
        )
        .select(F.md5("_g").alias("_gh"))
        .distinct()
    )
    grams = (
        train.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .localCheckpoint()
        .select(F.col(id_col), shingles_from_tokens(F.col("_toks"), n).alias("_grams"))
    )
    exploded = grams.select(
        F.col(id_col),
        F.size("_grams").alias("n_grams"),
        F.explode_outer("_grams").alias("_g"),
    ).select(F.col(id_col), F.col("n_grams"), F.md5("_g").alias("_gh"))
    # MARK hits with a broadcast left join and count them in the same
    # per-doc aggregate that already covers every doc (explode_outer
    # keeps zero-gram docs as one NULL-gram row, which can never match
    # a benchmark hash) — the former left_semi dropped no-hit docs and
    # needed a doc-keyed join-back against a second read of `grams` to
    # restore them (r15, the char_lm batch-F pattern: 1 SortMergeJoin
    # + 2 exchanges removed, `grams` read once).
    marked = exploded.join(
        F.broadcast(bench_grams.withColumn("_hit", F.lit(True))),
        "_gh",
        "left",
    )
    return marked.groupBy(id_col).agg(
        F.max("n_grams").cast("long").alias("n_grams"),
        F.sum(F.when(F.col("_hit"), 1).otherwise(0))
        .cast("long")
        .alias("n_hit"),
    ).select(
        F.col(id_col),
        F.col("n_grams"),
        F.col("n_hit"),
        F.round(
            F.col("n_hit")
            / F.greatest(F.col("n_grams"), F.lit(1)).cast("double"),
            6,
        ).alias("contamination"),
    )


def contamination_report(
    train: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    bench_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Per-BENCHMARK contamination breakdown — the report curation
    teams publish next to the aggregate ``decontaminate`` stats: for
    each benchmark (grouped by ``bench_col``), how many distinct
    n-grams it contributes, how many training documents share at least
    one of them, and how many distinct (doc, gram) overlap pairs exist.
    A benchmark with zero hits still gets its row (you report the
    clean ones too).

    Plan shape: benchmark grams are (benchmark, gram-hash) distinct —
    benchmark-corpus-sized, BROADCAST to the probe; training grams
    explode once, dedupe per (doc, gram), and the only wide operation
    is the final groupBy(benchmark) over hit rows. Same collapse-
    barrier checkpoints as ``decontaminate``.

    Returns (benchmark, n_bench_grams, n_docs_hit, n_gram_hits).
    """
    bgrams = (
        bench.select(
            F.col(bench_col).alias("benchmark"),
            tokens(F.col(text_col)).alias("_toks"),
        )
        .localCheckpoint()
        .select(
            "benchmark",
            F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("_g"),
        )
        .select("benchmark", F.md5("_g").alias("_gh"))
        .distinct()
        .localCheckpoint()  # feeds the per-benchmark size AND the probe
    )
    sizes = bgrams.groupBy("benchmark").agg(
        F.count(F.lit(1)).cast("long").alias("n_bench_grams")
    )
    tgrams = (
        train.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .localCheckpoint()
        .select(
            F.col(id_col),
            F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("_g"),
        )
        .select(F.col(id_col), F.md5("_g").alias("_gh"))
        .distinct()
    )
    hits = tgrams.join(F.broadcast(bgrams), "_gh")
    agg = hits.groupBy("benchmark").agg(
        F.countDistinct(id_col).cast("long").alias("n_docs_hit"),
        F.count(F.lit(1)).cast("long").alias("n_gram_hits"),
    )
    return sizes.join(agg, "benchmark", "left").select(
        "benchmark",
        "n_bench_grams",
        F.coalesce("n_docs_hit", F.lit(0)).cast("long").alias("n_docs_hit"),
        F.coalesce("n_gram_hits", F.lit(0))
        .cast("long")
        .alias("n_gram_hits"),
    )


def _bloom_pos(gram: Column, seed: int, m: int) -> Column:
    """Bloom bit position for one hash function: the first 8 hex chars
    of md5(gram || '#' || seed) reduced mod m. Keep in lockstep with
    the '0x'-cast form in the DuckDB oracles."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(gram, F.lit(f"#{seed}"))), 1, 8), 16, 10
        ).cast("long")
        % F.lit(m)
    )


def bloom_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 5,
    k: int = 3,
    m: int = 1 << 18,
) -> DataFrame:
    """Bloom-filter benchmark decontamination: every training n-gram is
    membership-tested against a k-hash, m-bit filter built from the
    benchmark corpus, instead of joined against the exact gram set.

    Why this exists next to ``decontaminate``: the exact form broadcasts
    the benchmark's DISTINCT gram digests, which stops being
    broadcastable when the "benchmark" is itself large (held-out
    corpora, contamination against an earlier training epoch). The
    Bloom filter caps the broadcast at the SET-BIT table — at most m
    rows of one long each, a bound chosen up front and independent of
    benchmark size. False positives (rate ~ (1 - e^{-kn/m})^k) only
    ever OVER-count contamination, the safe direction for a drop gate;
    false negatives are impossible, so a clean verdict is exact.

    Plan shape — the filter is a REAL bitset, not a join. Bench side:
    explode distinct grams -> k positions -> distinct -> pack into
    64-bit words (groupBy word index, bit_or of the set bits) and
    collect — AT MOST m/64 rows (4096 longs = 32 KB at the default m),
    a bound fixed by the filter geometry, independent of benchmark
    size; this is the same bounded-collect pattern as the k-row
    k-means state. The words become ONE literal array in the probe
    plan, so the probe is entirely map-side: explode_outer the
    per-doc-distinct grams (array_distinct in the shingler; outer
    keeps zero-gram docs), test k bits with get()+bitwise AND, then a
    single partially-aggregable groupBy(id) counting grams and hits.
    Zero joins, one shuffle, nothing keyed by a gram string anywhere.
    (The first cut exploded k position rows per gram, broadcast-joined
    the set-bit table, and re-grouped on (doc, gram) to AND the bits —
    a corpus×k string-keyed shuffle, plus it tripped Catalyst's
    projection collapse, which inlined the split/lower/filter
    tokenizer into every element_at of the shingle lambda: 46 s at
    sf0.1 vs 0.6 s for this form. The localCheckpoint below is that
    collapse barrier — same fix, same rationale as
    dedup.remove_repeated_passages.)

    Returns (id, n_grams, n_maybe_hit, contaminated).
    """
    # Collapse barrier: materialize (id, tokens) so Catalyst cannot
    # inline the tokenizer into every element_at of the shingle
    # transform (O(grams*n) regexp runs per doc otherwise — measured
    # 30x on this operator at sf0.1).
    bench_toks = bench.select(
        tokens(F.col(text_col)).alias("_toks")
    ).localCheckpoint()
    # No distinct() anywhere on the build side: bit_or is idempotent,
    # so duplicate grams/positions cost nothing — the groupBy(word)
    # partial-aggregates each task down to <= m/64 rows map-side and
    # ships exactly one shuffle of <= m/64 rows per task at any scale.
    positions = bench_toks.select(
        F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("_g")
    ).select(
        F.explode(
            F.array(*[_bloom_pos(F.col("_g"), i, m) for i in range(k)])
        ).alias("_pos")
    )
    n_words = (m + 63) // 64
    packed = (
        positions.groupBy(
            (F.col("_pos") / F.lit(64)).cast("int").alias("_w")
        )
        .agg(
            F.bit_or(
                # call_function: shiftleft's Python wrapper only takes a
                # literal bit count; the SQL function takes a column.
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    (F.col("_pos") % 64).cast("int"),
                )
            ).alias("_bits")
        )
        .collect()  # bounded: <= m/64 rows by construction
    )
    words = [0] * n_words
    for r in packed:
        words[r["_w"]] = r["_bits"]
    # One SQL-parsed array literal, NOT F.lit(list): lit on a Python
    # list builds n_words individual literal Columns through py4j
    # (~3 s for 4096 elements, measured); the expr string parses
    # JVM-side in milliseconds and folds to a single array constant.
    bits_lit = F.expr(
        "array(" + ",".join(f"{w}L" for w in words) + ")"
    )

    base = train.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).localCheckpoint()  # collapse barrier (see docstring)
    ex = base.select(
        F.col(id_col),
        F.explode_outer(shingles_from_tokens(F.col("_toks"), n)).alias("_g"),
    )

    # One reference to the 32 KB bitset literal in the WHOLE plan: the
    # k bit-tests fold into a single forall over the position array, and
    # the hit flag is computed in a projection so the aggregates carry a
    # boolean column, not k embedded copies of the conjunction. (The
    # r15 form referenced bits_lit once per bit-test and inlined the
    # conjunction into both aggregate expressions — ~13 copies of the
    # literal, a 1.1 MB plan serialized into every task closure;
    # guide §5 driver/plan size, §7.3 planning cost. Equivalence:
    # forall([p0..pk-1], test) == test(p0) AND .. AND test(pk-1); a
    # NULL _g yields NULL positions -> forall NULL, and isNotNull
    # short-circuits it to false exactly as the old conjunction did.)
    pos_arr = F.array(*[_bloom_pos(F.col("_g"), i, m) for i in range(k)])
    all_set = F.col("_g").isNotNull() & F.forall(
        pos_arr,
        lambda p: F.get(bits_lit, (p / F.lit(64)).cast("int"))
        .bitwiseAND(
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
            )
        )
        != F.lit(0).cast("long"),
    )
    hits = ex.select(F.col(id_col), "_g", all_set.alias("_hit"))
    return (
        hits.groupBy(id_col)
        .agg(
            F.count("_g").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("_hit"), 1).otherwise(0))
            .cast("long")
            .alias("n_maybe_hit"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            "n_maybe_hit",
            (F.col("n_maybe_hit") > 0).alias("contaminated"),
        )
    )


def chunk_sliding(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    chunk: int = 32,
    stride: int = 16,
) -> DataFrame:
    """Sliding-window token chunking (context-window preparation).

    Emits one row per (doc, window) with 1-based ``chunk_start``, the
    actual ``chunk_len`` (<= chunk) and the space-joined ``chunk_text``.
    The final window is always anchored at ``n - chunk + 1`` so the doc
    tail is covered even when stride does not land on it. Empty docs
    emit no chunks. Entirely map-side: no shuffle, no UDF.
    """
    last = F.greatest(F.size(F.col("_toks")) - chunk + 1, F.lit(1))
    starts = F.array_distinct(
        F.concat(F.sequence(F.lit(1), last, F.lit(stride)), F.array(last))
    )
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks")).filter(
        F.size("_toks") >= 1
    )
    return base.select(
        F.col(id_col),
        F.size("_toks").alias("_n"),
        F.col("_toks"),
        F.explode(starts).alias("chunk_start"),
    ).select(
        F.col(id_col),
        F.col("chunk_start").cast("long"),
        F.least(F.lit(chunk), F.col("_n") - F.col("chunk_start") + 1)
        .cast("long")
        .alias("chunk_len"),
        F.concat_ws(" ", F.slice(F.col("_toks"), F.col("chunk_start"), chunk)).alias(
            "chunk_text"
        ),
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    gram: int = 3,
    divisor: int = 16,
) -> DataFrame:
    """Content-defined chunking: chunk boundaries fall AFTER token i
    whenever the rolling ``gram``-token hash at i is ≡ 0 mod
    ``divisor`` (Rabin/rsync-style; mean chunk length ~= divisor).

    Why next to ``chunk_sliding``: fixed windows shift when a single
    token is inserted upstream, so every downstream chunk of an edited
    document re-hashes to a new identity. Content-defined boundaries
    re-synchronize within ~divisor tokens of an edit, so chunk-level
    dedup and incremental re-processing only touch the chunks an edit
    actually changed — the property that makes chunk caches work at
    100 TB re-crawl scale.

    Entirely map-side (array HOFs over the token array; the only
    per-element references bind through transform lambda variables, so
    no projection-collapse re-tokenization — see SCALE.md r10). Docs
    with < gram+1 tokens emit one whole-doc chunk; empty docs emit
    none. Output: (id, chunk_idx, chunk_start, chunk_len, chunk_text),
    1-based positions.
    """
    toks = F.col("_toks")
    n = F.size(toks)
    base = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") >= 1)
    )
    # Boundary positions: i in [gram, n-1] with hash ≡ 0 (never the
    # final token — a boundary there would create an empty chunk).
    # sequence(gram, n-1) is DESCENDING when n <= gram (the Spark
    # descending-sequence edge, see dedup.shingles_from_tokens) — guard to [].
    with_bounds = base.withColumn(
        "_bounds",
        F.when(
            n >= gram + 1,
            F.filter(
                F.sequence(F.lit(gram), n - 1),
                lambda i: (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    " ",
                                    *[
                                        F.element_at(toks, i - j)
                                        for j in range(gram - 1, -1, -1)
                                    ],
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % divisor
                    == 0
                ),
            ),
        ).otherwise(F.array().cast("array<int>")),
    )
    starts = F.concat(
        F.array(F.lit(1)), F.transform(F.col("_bounds"), lambda b: b + 1)
    )
    # (start, end) spans: end = next start - 1, last span ends at n.
    # F.get is 0-based and null-safe out of range (element_at aborts
    # under ANSI) — the coalesce closes the final span at n.
    spans = with_bounds.select(
        F.col(id_col),
        F.col("_toks"),
        F.posexplode(
            F.transform(
                starts,
                lambda s, j: F.struct(
                    s.alias("s"),
                    F.coalesce(
                        F.get(starts, j + 1) - 1, F.size(toks)
                    ).alias("e"),
                ),
            )
        ).alias("_pos", "_span"),
    )
    return spans.select(
        F.col(id_col),
        (F.col("_pos") + 1).cast("long").alias("chunk_idx"),
        F.col("_span.s").cast("long").alias("chunk_start"),
        (F.col("_span.e") - F.col("_span.s") + 1).cast("long").alias("chunk_len"),
        F.concat_ws(
            " ",
            F.slice(
                F.col("_toks"),
                F.col("_span.s"),
                F.col("_span.e") - F.col("_span.s") + 1,
            ),
        ).alias("chunk_text"),
    )


def pack_next_fit(
    df: DataFrame,
    len_col: str,
    id_col: str,
    *,
    budget: int,
    by: str,
) -> DataFrame:
    """Greedy next-fit-decreasing sequence packing: within each ``by``
    stratum, sort items by (length desc, id asc) and fill bins left to
    right, opening a new bin when the next item would overflow
    ``budget``. Items longer than the budget get a singleton bin
    (documented overflow, never dropped). Returns
    (by, id, len, bin) with bin ids dense from 0 per stratum.

    Deterministic by construction (no rand, total ordering), so any
    engine reproduces the same packing — the DuckDB oracle walks the
    identical recurrence with a recursive CTE. This is the repo's one
    applyInPandas custom stateful batch operator (SURVEY §2.10 scope:
    everything else compiles to column expressions).
    """

    out_schema = f"{by} string, {id_col} long, {len_col} long, bin long"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [len_col, id_col], ascending=[False, True], kind="mergesort"
        )
        bins, fill, cur = [], 0, -1
        for ln in pdf[len_col].tolist():
            if cur < 0 or fill + ln > budget:
                cur += 1
                fill = ln
            else:
                fill += ln
            bins.append(cur)
        return pd.DataFrame(
            {
                by: pdf[by].astype(str),
                id_col: pdf[id_col].astype("int64"),
                len_col: pdf[len_col].astype("int64"),
                "bin": pd.Series(bins, dtype="int64", index=pdf.index),
            }
        )

    return df.select(by, id_col, len_col).groupBy(by).applyInPandas(pack, out_schema)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
) -> DataFrame:
    """Deterministic Bernoulli sample: keep a row iff its md5 hash draw
    (uniform on [0, 1) from the first 8 hex chars of md5(id)) is below
    ``weight_col``. Same draw idiom as curation.stratified_sample —
    reproducible across engines/retries, no rand(). Map-side only.
    """
    draw = md5_draw(F.col(id_col))
    # Filter on the UNROUNDED draw: rounding first makes draws in
    # [1 - 5e-7, 1) round to exactly 1.0 and fail `draw < 1.0`, so a
    # weight-1.0 source ("keep everything") silently loses ~5e-7 of its
    # rows (~500k docs at 1e12 scale). The emitted column stays rounded
    # for display/oracle stability; the draw itself is an exact rational
    # over 2^32 in every engine, so the unrounded comparison is
    # deterministic too.
    return (
        df.withColumn("_draw_exact", draw)
        .filter(F.col("_draw_exact") < F.col(weight_col))
        .withColumn("draw", F.round(F.col("_draw_exact"), 6))
        .drop("_draw_exact")
    )


def temperature_resample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    *,
    alpha: float = 0.5,
    target_frac: float = 0.5,
) -> DataFrame:
    """Domain temperature resampling (multilingual-LM style): the kept
    corpus's domain mixture follows n_s^alpha instead of the raw counts
    n_s, flattening head domains and boosting the tail, at an overall
    size of ``target_frac`` x the input.

    Per-domain keep rate r_s = min(1, T * w_s / (n_s * sum_t w_t)) with
    w_s = n_s^alpha and T = target_frac * N; each row keeps iff its
    md5 draw < r_s. The rate is quantized to the 1/2^20 grid BEFORE
    the comparison — by ROUND-TO-NEAREST grid point, not floor: the
    sum-of-doubles in sum_t w_t is the one order-dependent float in
    the pipeline, and the exact-math attractor values it wobbles
    around (0.5 when every domain count is equal, 1.0 at the min
    clamp) are themselves grid points, so a floor puts the cliff
    exactly where the ulps land — the r15 sf0.5 stress sweep caught
    Spark's tree-summed wsum flooring to 0.5 - 2^-20 while DuckDB's
    sequential sum gave 0.5 (uniform replicated counts make the true
    rate exactly 0.5 at any scale; which side an engine lands on is
    summation-order luck). Round-to-nearest centers every attractor
    in its cell, and a half-grid exact value would need the
    irrational sqrt terms to cancel to an odd multiple of 2^-21 —
    not producible by count data. Same determinism discipline as
    md5_draw itself, with the boundary moved off the attractors.

    Plan shape: one tiny domain-count aggregate, its scalar total
    attached via a broadcast single-row cross join (the established
    scalar pattern), the per-domain rates broadcast-joined back, then a
    map-side filter. No corpus-sized shuffle anywhere.

    Returns the kept rows as (id, domain, rate) with rate rounded for
    display.
    """
    counts = df.groupBy(F.col(domain_col).alias("_dom")).agg(
        F.count("*").alias("_n")
    )
    w = F.pow(F.col("_n").cast("double"), F.lit(float(alpha)))
    weighted = counts.select("_dom", "_n", w.alias("_w"))
    totals = weighted.agg(
        F.sum("_w").alias("_wsum"), F.sum("_n").alias("_total")
    )
    q = F.lit(float(1 << 20))
    rate_exact = F.least(
        F.lit(1.0),
        F.lit(float(target_frac))
        * F.col("_total")
        * F.col("_w")
        / (F.col("_n") * F.col("_wsum")),
    )
    rates = (
        weighted.crossJoin(F.broadcast(totals))
        .select(
            "_dom",
            # round-to-nearest grid point (floor of x*q + 0.5): see
            # the docstring's attractor argument — floor alone cliffs
            # exactly on the values exact math produces
            (F.floor(rate_exact * q + F.lit(0.5)) / q).alias("_rate"),
        )
    )
    return (
        df.join(
            F.broadcast(rates), df[domain_col] == F.col("_dom"), "inner"
        )
        .filter(md5_draw(F.col(id_col)) < F.col("_rate"))
        .select(
            F.col(id_col),
            F.col(domain_col),
            F.round("_rate", 6).alias("rate"),
        )
    )


def coverage_check(chunks: DataFrame, id_col: str) -> DataFrame:
    """Audit helper: per doc, the max token index any chunk covers —
    used by tests to prove chunk_sliding covers every token."""
    return chunks.groupBy(id_col).agg(
        F.max(F.col("chunk_start") + F.col("chunk_len") - 1).alias("max_covered"),
        F.min("chunk_start").alias("min_start"),
    )


def epoch_interleave(
    df: DataFrame,
    id_col: str,
    source_col: str,
    weight_col: str,
) -> DataFrame:
    """Deterministic mixture-interleaved training order: each row gets
    ``interleave_key = rank_in_source / weight``, where rank_in_source
    is an md5-shuffled position within its source. Consuming the corpus
    in interleave_key order yields each source at a rate proportional
    to its mixture weight (the standard epoch-construction step), with
    a reproducible shuffle — no rand().

    Scale: a mixture has O(10) sources, so a rank window partitioned by
    source alone would sort multi-TB sources in ONE task. Instead the
    rank is two-level: rows shard by their md5 prefix (256 uniform
    shards per source — md5's lexicographic order equals (prefix, rest)
    order, so shard-local ranks concatenate into the exact per-source
    md5 order), rank within (source, shard), then add a broadcast
    per-shard prefix-count offset. Same deterministic output as a
    single per-source window; max window-task size is |source|/256.
    Deliberately does NOT materialize a global position (a row_number
    over the whole corpus would be a single-task sort); consumers
    ``orderBy(interleave_key)``, which Spark executes as a distributed
    range sort.
    """
    from pyspark.sql import Window

    m = md5_hex(F.col(id_col))
    ranked = df.withColumn("_md5", m).withColumn(
        "_shard", F.substring(F.col("_md5"), 1, 2)
    )
    w_shard = Window.partitionBy(source_col, "_shard").orderBy("_md5", id_col)
    ranked = ranked.withColumn("_r", F.row_number().over(w_shard))
    # Tiny frame: |sources| x 256 rows. Running-count offsets via a
    # window over it, then broadcast back. The offsets branch forks the
    # lineage, so Catalyst plans it as a SECOND pass — but column
    # pruning cuts that scan to (id, source) only, which at media/text
    # widths is a small fraction of the corpus bytes; reusing the wide
    # rank exchange instead would re-read strictly more data than the
    # pruned rescan. (Counted in the plan test: 2 exchanges on
    # (source, _shard) — the wide rank one and the narrow count one.)
    offsets = (
        ranked.groupBy(source_col, "_shard")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_n").over(
                    Window.partitionBy(source_col)
                    .orderBy("_shard")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .drop("_n")
    )
    rank = (F.col("_off") + F.col("_r")).cast("long")
    # Null-safe join keys: a NULL source (or NULL id -> NULL _shard) is
    # a legitimate window group in the single-window formulation, and a
    # plain equi-join would silently drop those rows.
    o = offsets.select(
        F.col(source_col).alias("_o_src"),
        F.col("_shard").alias("_o_shard"),
        "_off",
    )
    return ranked.join(
        F.broadcast(o),
        F.col(source_col).eqNullSafe(F.col("_o_src"))
        & F.col("_shard").eqNullSafe(F.col("_o_shard")),
    ).select(
        F.col(id_col),
        F.col(source_col),
        rank.alias("source_rank"),
        F.round(rank / F.col(weight_col), 6).alias("interleave_key"),
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    n_shards: int,
    id_col: str,
    token_col: str | None = None,
    output_format: str = "parquet",
) -> DataFrame:
    """Last-mile export: write the prepared corpus as ``n_shards``
    deterministic shards (``shard=NNNN`` partitions) and return
    the shard manifest (shard, n_docs, total_tokens).

    ``output_format``: "parquet" (default) or "json" — the latter
    writes JSON-Lines part files (one object per row), the interchange
    format most training dataloaders consume directly; everything else
    (deterministic md5 sharding, single-pass manifest) is identical.

    Shard assignment is the shared md5 bucket of the id — stable across
    reruns/engines (a resumed export rewrites identical shards, and a
    training job can address any shard subset reproducibly), uniform by
    md5, and ORDER-FREE: no global sort or row_number, so the write is
    one partitionBy pass with no extra shuffle beyond the dynamic-
    partition write itself. Consumers wanting the mixture order sort
    within shard by ``interleave_key`` (epoch_interleave composes).

    The manifest aggregates from the SAME frame the write consumed —
    at 100 TB a separate count pass over the output would re-read the
    corpus."""
    from .dedup import md5_bucket

    if output_format not in ("parquet", "json"):
        raise ValueError(f"unsupported output_format: {output_format!r}")
    sharded = df.withColumn("shard", md5_bucket(F.col(id_col), n_shards))
    (
        sharded.write.mode("overwrite")
        .partitionBy("shard")
        .format(output_format)
        .save(path)
    )
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if token_col is not None:
        aggs.append(F.sum(token_col).cast("long").alias("total_tokens"))
    return sharded.groupBy("shard").agg(*aggs).orderBy("shard")


def hash_split(
    df: DataFrame,
    id_col: str,
    *,
    val_permille: int = 10,
    test_permille: int = 10,
) -> DataFrame:
    """Deterministic train/val/test assignment: the md5 draw (first 8
    hex chars -> uniform int) lands each row in a permille bucket;
    buckets [0, test) -> test, [test, test+val) -> val, rest -> train.
    Same id always lands in the same split, on any engine, at any scale
    — the property that keeps eval sets stable across pipeline reruns
    (re-shards, backfills, engine swaps). Map-side only, no shuffle.
    """
    bucket = md5_bucket(F.col(id_col), 1000)
    return df.withColumn("_bucket", bucket).withColumn(
        "split",
        F.when(F.col("_bucket") < test_permille, "test")
        .when(F.col("_bucket") < test_permille + val_permille, "val")
        .otherwise("train"),
    ).drop("_bucket")


def token_budget_allocation(
    weights: DataFrame,
    total_tokens: int,
    *,
    group_col: str = "source",
    weight_col: str = "mix_weight",
) -> DataFrame:
    """Largest-remainder apportionment of a token budget over mixture
    weights: each source gets floor(total * w) tokens, and the leftover
    (total - sum of floors) goes one token at a time to the largest
    fractional remainders (ties broken by group name — fully
    deterministic). All integer arithmetic after one weight
    quantization (permyriad), so the allocation is exact: allocations
    always sum to EXACTLY total_tokens, which proportional-rounding
    schemes cannot guarantee. The divisor is the ACTUAL sum of the
    quantized weights, not the nominal 10000 — weights that quantize to
    9999 or 10001 (e.g. three 0.333333 thirds) would otherwise leave
    the leftover larger than the group count and under/over-allocate.
    With sum-of-quantized as the divisor, leftover < n_groups by
    construction and the largest-remainder +1s always absorb it. Input
    is the (tiny) per-source weight table (e.g.
    curation.domain_mixture_weights output); everything here is
    single-small-frame work, broadcast-scale by construction.
    """
    from pyspark.sql import Window

    w10k = F.round(F.col(weight_col) * 10000, 0).cast("long")
    q = weights.select(F.col(group_col), w10k.alias("_w"))
    wsum = q.agg(F.sum("_w").alias("_wsum"))
    per = (
        q.join(F.broadcast(wsum))
        .select(
            F.col(group_col),
            F.expr(f"CAST({total_tokens} AS BIGINT) * _w DIV _wsum")
            .cast("long")
            .alias("floor_tokens"),
            (F.lit(total_tokens) * F.col("_w") % F.col("_wsum")).alias("_rem"),
        )
    )
    # leftover = total - sum(floors): a scalar broadcast join
    leftover = per.agg(
        (F.lit(total_tokens) - F.sum("floor_tokens")).alias("_left")
    )
    rank_w = Window.orderBy(F.desc("_rem"), F.asc(group_col))
    return (
        per.join(F.broadcast(leftover))
        .withColumn("_rank", F.row_number().over(rank_w))
        .select(
            group_col,
            "floor_tokens",
            (
                F.col("floor_tokens")
                + F.when(F.col("_rank") <= F.col("_left"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc_tokens"),
        )
    )


def budget_select(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    budget_tokens: int,
) -> DataFrame:
    """Greedy per-source data selection under a token budget: within
    each source, take documents in (n_tokens DESC, id ASC) order while
    the running token total stays within ``budget_tokens`` — the
    "fill each domain's quota with its longest documents" selection
    rule. Returns every row with (n_tokens, cum_tokens, selected);
    cum_tokens is the INCLUSIVE running sum in selection order and
    ``selected`` is cum_tokens <= budget.

    Scale — a distributed ordered prefix-sum, NOT one sequential task
    per source: a single cumsum window partitioned by source makes the
    largest source one multi-TB sorted task (the hazard the two-level
    stratified_sample rank documents). Two levels instead, bucketed by
    the ORDER KEY'S VALUE (floor(log2(n_tokens))) rather than an md5
    shard — a hash shard would interleave rows from all over the
    order and partial sums could not be composed:

      1. per-(source, bucket) cumsum — bucket concatenation in bucket
         order IS the global (n_tokens desc, id) order, because the
         bucket is a monotone function of the order key alone;
      2. per-(source, bucket) totals (a ~64-row-per-source frame)
         prefix-summed on the tiny side and broadcast back as each
         bucket's starting offset.

    Max task = largest single bucket, which value-spread corpora keep
    bounded; a corpus of identically-sized documents degenerates to
    one bucket — for that shape, sub-bucket on a secondary monotone
    key (id ranges). Proven equal to the naive single window by
    hypothesis (test_round8).
    """
    from pyspark.sql import Window

    from .dedup import token_count

    staged = (
        df.select(
            F.col(id_col),
            F.col(group_col),
            # NULL text counts 0 tokens (the adaptive_quality_gate
            # contract) so buckets, sums and the selected flag stay
            # non-NULL for every row.
            F.coalesce(token_count(F.col(text_col)), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        )
        .withColumn(
            # log2 bucket of the DESC order key, negated so ascending
            # bucket order == descending n_tokens order (n_tokens >= 0;
            # the +1 keeps log2 defined at 0).
            "_bkt",
            (-F.floor(F.log2(F.col("n_tokens") + 1))).cast("long"),
        )
        # Narrow-checkpoint (the semantic_dup_flags pattern): the rows
        # branch and the bucket-totals branch both consume this frame,
        # and Spark does not dedupe common subexpressions — without the
        # materialization each branch re-scans the corpus and re-runs
        # the token-count regexp over the full text column.
        .localCheckpoint()
    )
    in_bucket = Window.partitionBy(group_col, "_bkt").orderBy(
        F.desc("n_tokens"), F.asc(id_col)
    )
    with_local = staged.withColumn(
        "_local_cum",
        F.sum("n_tokens").over(
            in_bucket.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    bucket_totals = staged.groupBy(group_col, "_bkt").agg(
        F.sum("n_tokens").alias("_bkt_sum")
    )
    offsets = bucket_totals.withColumn(
        "_offset",
        F.coalesce(
            F.sum("_bkt_sum").over(
                Window.partitionBy(group_col)
                .orderBy(F.asc("_bkt"))
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(group_col, "_bkt", "_offset")
    return (
        with_local.join(F.broadcast(offsets), [group_col, "_bkt"])
        .select(
            F.col(id_col),
            F.col(group_col),
            "n_tokens",
            (F.col("_local_cum") + F.col("_offset")).alias("cum_tokens"),
            (
                (F.col("_local_cum") + F.col("_offset"))
                <= F.lit(int(budget_tokens))
            ).alias("selected"),
        )
    )


def negative_sample_ring(
    df: DataFrame, id_col: str, *, k: int = 4, n_buckets: int = 64
) -> DataFrame:
    """Deterministic in-batch negative sampling for contrastive
    training: every row gets ``k`` pseudo-random negatives drawn from
    the corpus itself, reproducibly, with no cross join and no
    corpus-sized driver state.

    Construction: rows are hashed onto ``n_buckets`` rings (md5 bucket
    — balanced by construction, so no ring is skewed); within a ring,
    rows are ordered by a second md5 draw and each row's negatives are
    the next ``k`` ring members, wrapping around at the end. Hash
    placement means ring neighbors are an unbiased pseudo-random draw
    (the md5-draw family contract: identical rows fall out of any
    engine, any run), while LEAD over the ring keeps the whole thing
    O(n) — the naive "k random others per row" is a cross join.

    Scale shape: one shuffle onto the ring key (bucket), per-bucket
    window sort (buckets are corpus/n_buckets sized — tune n_buckets
    so one ring sorts in memory), k LEADs, and a groupBy(bucket)
    collecting only the k ring-head rows (bounded) to close the
    wrap-around. Rings with m <= k rows emit each other member exactly
    once (m-1 negatives, no self-pairs, no duplicates).

    Returns (id, neg_id, neg_rank) with neg_rank in [1, min(k, m-1)].
    """
    from pyspark.sql import Window

    pos_key = md5_hex(F.col(id_col))
    ringed = df.select(
        F.col(id_col),
        md5_bucket(F.col(id_col), n_buckets).alias("_ring"),
        pos_key.alias("_pos"),
    )
    w = Window.partitionBy("_ring").orderBy("_pos")
    with_leads = ringed.select(
        F.col(id_col),
        "_ring",
        "_pos",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("_ring")
        ).alias("_m"),
        *[
            F.lead(F.col(id_col), j).over(w).alias(f"_lead{j}")
            for j in range(1, k + 1)
        ],
    )
    # ring heads: the first k rows per ring, as an ordered array —
    # bounded at k rows per ring before the collect.
    heads = (
        ringed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy("_ring")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_rn", F.col(id_col).alias("_i")))
                ),
                lambda x: x["_i"],
            ).alias("_heads")
        )
    )
    joined = with_leads.join(heads, "_ring")
    negs = joined.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.lit(k)),
                    lambda j: F.struct(
                        j.alias("neg_rank"),
                        F.when(j <= F.col("_m") - 1,
                            F.coalesce(
                                F.element_at(
                                    F.array(
                                        *[F.col(f"_lead{i}") for i in range(1, k + 1)]
                                    ),
                                    j,
                                ),
                                F.element_at(
                                    F.col("_heads"),
                                    (
                                        F.col("_rn") + j - F.col("_m")
                                    ).cast("int"),
                                ),
                            )
                        ).alias("neg_id"),
                    ),
                ),
                lambda s: s["neg_id"].isNotNull(),
            )
        ).alias("_n"),
    )
    return negs.select(
        F.col(id_col),
        F.col("_n.neg_id").alias("neg_id"),
        F.col("_n.neg_rank").cast("int").alias("neg_rank"),
    )


def dsir_resample(
    train: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    *,
    buckets: int = 4096,
    scale: int = 1_000_000,
    keep_frac: float = 0.25,
) -> DataFrame:
    """DSIR-style data selection via importance resampling (Xie et al.):
    score every training document by how much more likely its hashed
    word-bigram bag is under a TARGET-corpus model than under the
    training corpus's own model, then keep the top ``keep_frac`` by an
    exact corpus quantile threshold.

    Both models are hashed-bigram bucket counts (the DSIR feature
    space: md5(bigram) mod ``buckets``). The per-gram importance score
    is the add-1-smoothed probability ratio quantized to integers — the
    char_lm no-float contract, so libm log differences and float
    summation order can never split engines:

        q(b) = (scale * (Ct(b)+1) * (Ns+B)) DIV ((Cs(b)+1) * (Nt+B))

    (Ct/Cs = target/source bucket counts, Nt/Ns their totals, B =
    buckets.) The product runs in decimal(38,0): BIGINT would overflow
    once corpus gram totals pass ~1e6 at this scale factor. Doc score
    = per-gram mean (SUM DIV n_grams); DSIR's Gumbel top-k draw is
    replaced by the deterministic exact-quantile gate at
    1 - keep_frac (the adaptive_quality_gate percentile pattern —
    swap approx_percentile at 100 TB, same plan).

    Plan shape: ONE (id, tokens) localCheckpoint serves the source
    model pass and the probe pass (the shingle collapse barrier, and
    it halves the tokenize cost since the corpus feeds two consumers).
    Both bucket-count models are <= ``buckets`` rows and BROADCAST to
    the probe; the only corpus-keyed shuffle is the final groupBy(id).

    Returns (id, n_grams, score_q, thr, kept); zero-gram docs carry
    score_q = 0 and are never kept.
    """
    def _bigrams(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def _bucketed(frame: DataFrame) -> DataFrame:
        return frame.select(
            F.explode(_bigrams(F.col("_toks"))).alias("_g")
        ).select(md5_bucket(F.col("_g"), buckets).alias("_b"))

    base = train.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).localCheckpoint()  # collapse barrier + shared by model & probe
    tgt_toks = target.select(
        tokens(F.col(text_col)).alias("_toks")
    ).localCheckpoint()

    # The models are <= buckets rows by construction: checkpoint them
    # (each feeds its total AND the probe join) and collect the two
    # scalar totals as literals — the bounded-collect pattern; inlining
    # the totals keeps the probe free of scalar nested-loop joins.
    tgt_model = (
        _bucketed(tgt_toks)
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_ct"))
        .localCheckpoint()
    )
    src_model = (
        _bucketed(base)
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_cs"))
        .localCheckpoint()
    )
    # two separate scalar collects, deliberately NOT fused into one
    # union job: an r15 A/B (median-of-7, same host) measured the
    # fused single-action form ~0.4 s SLOWER end-to-end — the union
    # of two single-row aggregates plans an extra exchange + stage
    # that costs more than the second driver round trip saves.
    nt = tgt_model.agg(F.sum("_ct")).collect()[0][0] or 0
    ns = src_model.agg(F.sum("_cs")).collect()[0][0] or 0

    # explode_outer keeps a zero-gram doc as one NULL-bucket row, so
    # the aggregate covers every doc and the former corpus-keyed
    # join-back of all_ids disappears (r15, the char_lm batch-F
    # pattern — plan: 1 SortMergeJoin LeftOuter + 2 exchanges
    # removed). The NULL row contributes nothing: _q is gated on a
    # non-NULL bucket, count(_b) skips NULLs, and the guarded div
    # leaves zero-gram docs at the same (0, 0) the join-back gave
    # them (the guard also keeps ANSI mode from a 0-divisor error).
    probe = (
        base.select(
            F.col(id_col),
            F.explode_outer(_bigrams(F.col("_toks"))).alias("_g"),
        )
        .select(F.col(id_col), md5_bucket(F.col("_g"), buckets).alias("_b"))
        .join(F.broadcast(tgt_model), "_b", "left")
        .join(F.broadcast(src_model), "_b", "left")
        .select(
            F.col(id_col),
            F.col("_b"),
            F.when(
                F.col("_b").isNotNull(),
                F.expr(
                    f"CAST(CAST({scale} AS DECIMAL(38,0))"
                    f"     * (coalesce(_ct, 0L) + 1L)"
                    f"     * ({ns}L + {buckets}L)"
                    f" div (CAST(coalesce(_cs, 0L) + 1L AS DECIMAL(38,0))"
                    f"      * ({nt}L + {buckets}L)) AS BIGINT)"
                ),
            ).alias("_q"),
        )
    )
    scored = probe.groupBy(id_col).agg(
        F.count("_b").cast("long").alias("n_grams"),
        # integer div, not `/`+cast: float quotients can truncate to a
        # different integer than true integer division
        F.expr(
            "CASE WHEN count(_b) > 0 THEN sum(_q) div count(_b)"
            " ELSE 0 END"
        )
        .cast("long")
        .alias("score_q"),
    )
    thr = scored.filter(F.col("n_grams") > 0).agg(
        F.round(
            F.percentile(
                F.col("score_q").cast("double"), F.lit(1.0 - keep_frac)
            ),
            4,
        ).alias("thr")
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        F.col(id_col),
        "n_grams",
        "score_q",
        "thr",
        (
            (F.col("n_grams") > 0)
            & (F.col("score_q").cast("double") >= F.col("thr"))
        ).alias("kept"),
    )


def rendezvous_shard(
    df: DataFrame,
    id_col: str,
    *,
    n_shards: int,
    out: str = "shard",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment — the
    RESHARD-STABLE alternative to `write_training_shards`' modulus
    bucket: every key scores each shard by md5(key '#' shard) and
    lands on the argmax. Growing n_shards to n+1 moves EXACTLY the
    keys whose new shard wins the argmax — an expected 1/(n+1) of the
    corpus, every one of them moving TO the new shard — where a
    modulus bucket remaps ~n/(n+1) of all keys. At 100 TB that is the
    difference between an incremental top-up copy and rewriting the
    exported corpus; the same property gives stable cache/worker
    affinity as a training fleet scales.

    Pure map-side: the scores are n_shards md5 expressions per row
    folded through one array argmax (lexicographic struct max — md5
    hex compares as the numeric hash), no shuffle, no UDF, no driver
    state. n_shards is plan metadata (one struct literal per shard),
    the same budget class as the zorder bit unroll; thousands of
    shards would want the explode+window form instead.

    Ties are impossible in practice (equal md5 of distinct inputs) but
    break deterministically toward the LOWER shard id via the struct's
    second field (shard DESC in the max → negated id).
    """
    if n_shards < 1:
        raise ValueError("rendezvous_shard needs n_shards >= 1")
    key = F.col(id_col).cast("string")
    scored = F.array(
        *[
            F.struct(
                F.md5(F.concat(key, F.lit(f"#{s}"))).alias("h"),
                F.lit(-s).cast("long").alias("negshard"),
            )
            for s in range(n_shards)
        ]
    )
    return df.withColumn(
        out, (-F.array_max(scored)["negshard"]).cast("long")
    )


def cluster_split(
    df: DataFrame,
    cluster_col: str,
    *,
    val_permille: int = 10,
    test_permille: int = 10,
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the md5 permille draw
    comes from the CLUSTER label, not the row id, so every member of a
    duplicate/near-duplicate cluster lands in the same split. This is
    the guard `hash_split` cannot give — an id-keyed draw puts ~2 of
    every 100 duplicate pairs on opposite sides of the train/test
    fence, which is exactly the eval contamination decontamination
    exists to prevent. The cluster label is whatever identity the
    caller already computed (exact md5 text identity, MinHash CC
    cluster, semantic cluster): the draw itself stays map-side, no
    extra shuffle beyond what the clustering already paid.
    """
    from .dedup import md5_bucket

    bucket = md5_bucket(F.col(cluster_col).cast("string"), 1000)
    return df.withColumn("_bucket", bucket).withColumn(
        "split",
        F.when(F.col("_bucket") < test_permille, "test")
        .when(F.col("_bucket") < test_permille + val_permille, "val")
        .otherwise("train"),
    ).drop("_bucket")
