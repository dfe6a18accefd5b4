"""Text analysis operators: language-ID heuristic, quality scoring,
token counting, document fingerprinting.

All pure column expressions (codegen'd, no UDFs); each is
oracle-checkable because the primitives (regexp split, list ops, md5)
behave identically in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import free_local_checkpoint
from .dedup import token_count, tokens

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
# (A production build ships larger profiles; the operator shape —
# tokenize, profile-overlap count, argmax — is what matters.)
LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en", "un"],
    "fr": ["le", "la", "de", "et", "un", "une", "dans"],
}


def quality_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Length / punctuation / stopword-ratio features + a composite
    quality score (the standard pre-training heuristics bundle)."""
    df = df.select(
        "*", tokens(F.col(text_col)).alias("_toks")
    )  # materialize once; inline reuse re-runs the tokenizer per reference
    t = F.col(text_col)
    toks = F.col("_toks")
    n_tok = F.size(toks)
    n_chars = F.length(t)
    en_stop = F.array(*[F.lit(w) for w in LANG_PROFILES["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), en_stop))
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    avg_tok_len = F.when(
        n_tok > 0,
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        / n_tok,
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(0.0)
    score = (
        F.least(n_tok.cast("double") / 100, F.lit(1.0)) * 0.5
        + stop_ratio * 0.3
        + (1 - punct_ratio) * 0.2
    )
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars"),
        F.round(avg_tok_len, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


# Gopher rule-2 stopword list (Rae et al., Table A1: "the, be, to,
# of, and, that, have, with") — the published filter requires >= 2 hits.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_gate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The Gopher quality-filter rules (Rae et al. 2021, §A1.1 — the
    filter set MassiveText and most subsequent corpora start from),
    evaluated per document with INTEGER-quantized ratios so the
    verdict is bit-exact cross-engine:

    1. word count in [min_words, max_words]
    2. mean word length in [3, 10] characters
    3. symbol-to-word ratio ('#' chars + '...' occurrences) <= 0.1
    4. >= 80% of words contain at least one alphabetic character
    5. >= 2 hits from the published 8-stopword list
    6. <= 90% of lines start with a bullet ('-', '*', '•')
    7. <= 30% of lines end with an ellipsis

    Words are whitespace-split (the paper's unit — NOT ``tokens()``,
    which would split hyphenated/symbol words and shift every ratio);
    lines split on newline. Cross-engine caveat: Java's ``\\s`` class
    includes U+000B (vertical tab) where RE2's does not — a document
    carrying that C0 control would split differently in the oracle;
    ``dedup.pre_scrub`` strips it (and every other C0 control) at
    ingest, which is the deployment contract here too.
    Returns every rule's quantized measurement
    plus ``fail_mask`` (bit i-1 set ⇔ rule i failed) and
    ``passes = fail_mask == 0`` — auditability over in-place
    filtering, the adaptive_quality_gate contract. Pure narrow
    expressions: zero shuffle, zero UDF.
    """
    def _idiv(a, b):
        # exact integer floor-division on Columns (all operands
        # non-negative): (a - a%b) is exactly divisible, so the double
        # division is exact and the cast can't mis-floor — matching
        # the oracle's // bit-for-bit
        return ((a - a % b) / b).cast("long")

    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(t, r"\s+"), lambda x: x != F.lit(""))
    nw = F.size(words).cast("long")
    sum_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    mwl_x100 = F.when(nw > 0, _idiv(sum_len * 100, nw)).otherwise(
        F.lit(0)
    ).cast("long")
    n_hash = F.length(t) - F.length(F.regexp_replace(t, "#", ""))
    n3 = F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))
    n_sym = (n_hash + _idiv(n3.cast("long"), F.lit(3).cast("long"))).cast(
        "long"
    )
    sym_x1000 = F.when(nw > 0, _idiv(n_sym * 1000, nw)).otherwise(
        F.lit(0)
    ).cast("long")
    n_alpha = F.size(
        F.filter(words, lambda x: x.rlike("[A-Za-z]"))
    ).cast("long")
    alpha_x1000 = F.when(nw > 0, _idiv(n_alpha * 1000, nw)).otherwise(
        F.lit(0)
    ).cast("long")
    stop_lit = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    lw = F.transform(words, lambda x: F.lower(x))
    n_stop = F.size(F.array_intersect(F.array_distinct(lw), stop_lit))
    lines = F.filter(F.split(t, "\n"), lambda x: F.ltrim(x) != F.lit(""))
    nl = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda x: F.ltrim(x).rlike("^[-*•]"))
    )
    n_ell_line = F.size(F.filter(lines, lambda x: x.rlike(r"\.\.\.\s*$")))
    bullet_x1000 = F.when(
        nl > 0, _idiv(n_bullet.cast("long") * 1000, nl.cast("long"))
    ).otherwise(F.lit(0)).cast("long")
    ell_x1000 = F.when(
        nl > 0, _idiv(n_ell_line.cast("long") * 1000, nl.cast("long"))
    ).otherwise(F.lit(0)).cast("long")
    base = df.select(
        F.col(id_col),
        nw.cast("long").alias("n_words"),
        mwl_x100.alias("mean_word_len_x100"),
        sym_x1000.alias("symbol_to_word_x1000"),
        alpha_x1000.alias("alpha_word_x1000"),
        n_stop.cast("long").alias("n_stop_hits"),
        bullet_x1000.alias("bullet_line_x1000"),
        ell_x1000.alias("ellipsis_line_x1000"),
    )
    fails = (
        F.when(
            (F.col("n_words") < min_words) | (F.col("n_words") > max_words),
            1,
        ).otherwise(0)
        + F.when(
            (F.col("mean_word_len_x100") < 300)
            | (F.col("mean_word_len_x100") > 1000),
            2,
        ).otherwise(0)
        + F.when(F.col("symbol_to_word_x1000") > 100, 4).otherwise(0)
        + F.when(F.col("alpha_word_x1000") < 800, 8).otherwise(0)
        + F.when(F.col("n_stop_hits") < 2, 16).otherwise(0)
        + F.when(F.col("bullet_line_x1000") > 900, 32).otherwise(0)
        + F.when(F.col("ellipsis_line_x1000") > 300, 64).otherwise(0)
    )
    return base.select(
        "*",
        fails.cast("long").alias("fail_mask"),
        (fails == 0).alias("passes"),
    )


def _stopword_lang_scores(dtoks: Column) -> tuple[dict[str, Column], Column]:
    """(per-language overlap scores, argmax prediction) over a DISTINCT
    token array — ties break by profile order, 'und' on zero overlap.
    Shared by the per-doc and per-chunk language IDs so their tie rules
    can never drift apart."""
    scores = {
        lang: F.size(
            F.array_intersect(dtoks, F.array(*[F.lit(w) for w in words]))
        )
        for lang, words in LANG_PROFILES.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_PROFILES)):  # earlier profiles win ties
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return scores, F.when(best > 0, pred).otherwise(F.lit("und"))


def detect_language(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stopword-profile language ID: score = |tokens ∩ profile| per
    language, argmax wins (ties broken by profile order; 'und' when no
    profile matches)."""
    df = df.select("*", F.array_distinct(tokens(F.col(text_col))).alias("_dtoks"))
    scores, pred = _stopword_lang_scores(F.col("_dtoks"))
    cols = [F.col(id_col), pred.alias("lang_pred")]
    cols += [scores[lang].alias(f"score_{lang}") for lang in LANG_PROFILES]
    return df.select(*cols)


def language_consistency(
    df: DataFrame, text_col: str, id_col: str, *, chunk_tokens: int = 10
) -> DataFrame:
    """Mixed-language detection: language-ID every non-overlapping
    ``chunk_tokens``-token window, then report per document the
    majority language and the fraction of chunks agreeing with it —
    code-switched or concatenated-corpus documents score low and are a
    standard pre-training quality gate a whole-doc langid misses (a
    50/50 en/es doc still gets ONE confident whole-doc label).

    Ties are deterministic end to end: per chunk the earlier profile
    wins (the shared ``_stopword_lang_scores`` rule), per document the
    higher chunk count then the lexicographically smaller language
    wins. Docs with no tokens carry (0, 'und', 0.0).

    Shape: one explode to ~tokens/chunk_tokens rows, map-side langid
    (the profiles are literals in the plan), a (doc, lang) count with
    map-side partials, and a per-doc window over at most |languages|+1
    rows per doc."""
    from pyspark.sql import Window

    toks = tokens(F.col(text_col))
    starts = F.when(
        F.size(F.col("_toks")) >= 1,
        F.sequence(F.lit(1), F.size(F.col("_toks")), F.lit(chunk_tokens)),
    ).otherwise(F.array().cast("array<int>"))
    chunks = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col), F.explode(starts).alias("_s"), F.col("_toks"))
        .select(
            F.col(id_col),
            F.array_distinct(
                F.slice(F.col("_toks"), F.col("_s"), chunk_tokens)
            ).alias("_ctoks"),
        )
    )
    _scores, pred = _stopword_lang_scores(F.col("_ctoks"))
    cnt = chunks.select(F.col(id_col), pred.alias("_lang")).groupBy(
        id_col, "_lang"
    ).agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy(id_col).orderBy(F.desc("_c"), F.asc("_lang"))
    per_doc = (
        cnt.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.sum("_c").over(Window.partitionBy(id_col)))
        .filter(F.col("_rn") == 1)
        .select(
            F.col(id_col),
            F.col("_n").alias("n_chunks"),
            F.col("_lang").alias("majority_lang"),
            F.round(F.col("_c").cast("double") / F.col("_n"), 6).alias(
                "consistency"
            ),
        )
    )
    return df.select(F.col(id_col)).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
        F.coalesce("majority_lang", F.lit("und")).alias("majority_lang"),
        F.coalesce("consistency", F.lit(0.0)).alias("consistency"),
    )


# Char-trigram profiles for the n-gram language-ID heuristic (tiny
# demo profiles; production ships the full ranked trigram tables).
NGRAM_PROFILES = {
    "en": ["the", "he ", " th", "ing", "and", "ion"],
    "es": ["de ", " de", "os ", "la ", "ión", "ent"],
    "fr": ["es ", " de", "de ", "ent", "le ", "ion"],
}


def detect_language_ngram(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Char-n-gram language ID: extract the text's character trigrams,
    score = |trigrams ∩ language profile|, argmax wins ('und' on zero).
    Same operator shape as the stopword variant but over character
    n-grams (the classic Cavnar-Trenkle-style heuristic, minus the
    rank correlation)."""
    # A profile gram is in the text's trigram set iff the text CONTAINS
    # it, so |trigrams(text) ∩ profile| = count of profile grams with
    # contains(text, gram) — |profiles| O(len) substring searches per
    # doc instead of materializing the per-doc trigram array (which was
    # also O(len^2): substring(_lt, i, 3) on a STRING re-scans
    # codepoints from the start per position — the hazard
    # char_lm_quality documents). lower() is still hoisted once;
    # coalesce keeps the NULL-text semantics of the old trigram-set
    # form (empty set -> all scores 0 -> 'und', never NULL scores).
    staged = df.select(
        F.col(id_col),
        F.coalesce(F.lower(F.col(text_col)), F.lit("")).alias("_lt"),
    )
    scores = {
        lang: sum(
            (F.contains(F.col("_lt"), F.lit(g)).cast("int") for g in grams),
            F.lit(0),
        )
        for lang, grams in NGRAM_PROFILES.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(list(NGRAM_PROFILES)):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best > 0, pred).otherwise(F.lit("und"))
    cols = [F.col(id_col), pred.alias("lang_pred")]
    cols += [scores[lang].alias(f"score_{lang}") for lang in NGRAM_PROFILES]
    return staged.select(*cols)


def vocabulary_topk(
    df: DataFrame, text_col: str, group_col: str, *, k: int = 10
) -> DataFrame:
    """Corpus vocabulary head: the k most frequent tokens per group
    (per-source stopword discovery / tokenizer-training input). One
    explode + partial-aggregated count, then a per-group top-k window
    over the (much smaller) distinct-token frame."""
    from pyspark.sql import Window

    counts = (
        df.select(F.col(group_col), F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy(group_col, "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(group_col, "rank", "token", "n")
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str, *, shingle_n: int = 4) -> DataFrame:
    """Document fingerprints: full-content digest + a winnowing-style
    min-shingle-hash (stable under local edits away from the minimum)."""
    from .dedup import shingles_from_tokens

    staged = df.select(
        F.col(id_col),
        F.col(text_col),
        tokens(F.col(text_col)).alias("_toks"),
    ).select(
        F.col(id_col),
        F.col(text_col),
        shingles_from_tokens(F.col("_toks"), shingle_n).alias("_sh"),
    )
    min_shingle = F.array_min(F.transform(F.col("_sh"), lambda s: F.md5(s)))
    return staged.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("content_hash"),
        min_shingle.alias("min_shingle_hash"),
    )


def length_percentiles(
    df: DataFrame,
    text_col: str,
    group_col: str,
    *,
    ps: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """Exact token-length percentiles per group (corpus length-profile
    audit — the distribution report that sizes chunking/packing
    budgets). Uses Spark's exact ``percentile`` (linear interpolation,
    matching DuckDB's quantile_cont) rather than approx_percentile so
    the result is engine-independent and oracle-checkable; at 100 TB
    swap in approx_percentile(…, accuracy) — same plan shape, partial
    aggregation either way."""
    n_tok = token_count(F.col(text_col)).cast("double")
    aggs = [
        F.round(F.percentile(F.col("_n"), F.lit(p)), 4).alias(
            f"p{int(round(p * 100)):02d}"
        )
        for p in ps
    ]
    return (
        df.select(F.col(group_col), n_tok.alias("_n"))
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_docs"), *aggs)
    )


def char_lm_quality(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    scale: int = 1_000_000,
    smooth_k: int = 1000,
    model_sample_rate: float | None = None,
) -> DataFrame:
    """Corpus-trained character-n-gram LM score — the classic
    perplexity-proxy quality signal (gibberish / boilerplate scores low
    against a model trained on the corpus itself), computed WITHOUT
    floating point so every engine produces bit-identical scores.

    Model: C_n(g) = corpus count of char n-gram g; C_ctx(g[:n-1]) = count
    of its (n-1)-char context. Per-gram quantized score (add-k smoothed,
    integer-only):

        q(g) = (scale * (C_n(g) + 1)) DIV (C_ctx + smooth_k)

    Doc score = SUM(q) and AVG = SUM DIV count — all BIGINT, so the
    usual cross-engine hazards (libm log differences, float summation
    order) cannot appear. Monotonically equivalent to a smoothed
    likelihood for ranking/gating purposes.

    Scale: the char-n-gram model is bounded by |charset|^n (thousands of
    rows, not corpus-sized) — both count tables aggregate map-side and
    BROADCAST to the scoring join; the corpus is scanned twice (model
    pass + scoring pass), each time exploding grams but shuffling only
    32-byte digested gram keys.

    ``model_sample_rate``: train the model on a deterministic md5
    sample of docs (draw(id) < rate, the shared md5_draw idiom) instead
    of the full corpus — a quality *signal* doesn't need exact corpus
    counts, and the model-pass explode (half the total cost) shrinks by
    the rate. Scoring still covers every doc; grams unseen by the
    sampled model score with C_n = C_ctx = 0 under the same smoothing
    (the left joins below), so the exact arm (rate None) is unchanged
    and remains the oracle path.
    """
    # Guard: Spark's sequence(1, 0) is the DESCENDING [1, 0] (the same
    # edge dedup.shingles_from_tokens guards), so short docs need an explicit
    # empty-array arm rather than a clamped upper bound. Two hoists,
    # both measured at sf0.1: (a) lower() into its own column —
    # referencing lower(text) inside the lambda re-lowercases the whole
    # doc once per gram position, O(len^2), 8x; (b) the doc is split
    # into a char ARRAY first and grams concat O(1) element lookups —
    # substring(_lt, i, n) on a STRING is itself O(i) (UTF8String scans
    # codepoints from the start), another O(len^2) per doc, 1.6x on the
    # explode.
    gram_parts = ", ".join(f"_ch[i + {j - 1}]" for j in range(n))
    grams = F.expr(
        f"CASE WHEN char_length(_lt) >= {n} "
        f"THEN transform(sequence(1, char_length(_lt) - {n - 1}), "
        f"i -> concat({gram_parts})) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    src = df.select(
        F.col(id_col), F.lower(F.col(text_col)).alias("_lt")
    ).withColumn("_ch", F.split(F.col("_lt"), ""))
    doc_grams = src.select(F.col(id_col), F.explode(grams).alias("_g"))
    if model_sample_rate is None:
        model_grams = doc_grams
    else:
        from .dedup import md5_draw

        model_grams = src.filter(
            md5_draw(F.col(id_col)) < F.lit(float(model_sample_rate))
        ).select(F.col(id_col), F.explode(grams).alias("_g"))
    # localCheckpoint: the tiny model table (|charset|^n rows) is
    # consumed twice (scoring broadcast + ctx rollup); without the
    # materialization each consumer re-runs the corpus-wide explode+agg.
    model_n = (
        model_grams.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_cn"))
        .localCheckpoint()
    )
    # C_ctx(c) == sum of C_n(g) over grams with prefix c, so the context
    # table rolls up from the n-gram table (|charset|^n rows) instead of
    # re-exploding the corpus a second time.
    model_ctx = (
        model_n.groupBy(F.substring("_g", 1, n - 1).alias("_ctx"))
        .agg(F.sum("_cn").alias("_cctx"))
    )
    # q(g) depends only on MODEL-side counts, so fold both count tables
    # into one per-gram q column while the frame is still |charset|^n
    # rows — the corpus-sized scoring pass then needs ONE broadcast
    # join (was two, plus a per-doc-gram substring). Grams outside the
    # (possibly sampled) model take the same add-k smoothing with zero
    # counts: a constant, supplied via coalesce after the left join;
    # with the full model every gram matches and the constant is dead.
    model_q = (
        model_n.withColumn("_ctx", F.substring("_g", 1, n - 1))
        .join(model_ctx, "_ctx")
        .select(
            "_g",
            F.expr(
                f"CAST({scale} AS BIGINT) * (_cn + 1) DIV (_cctx + {smooth_k})"
            ).alias("_q"),
        )
    )
    unseen_q = F.lit(scale // smooth_k).cast("long")
    # explode_outer, not explode: a zero-gram doc (short/empty/null
    # text) keeps one NULL-gram row, so the aggregate below covers
    # EVERY input doc and the old join-back — one more corpus scan
    # plus a corpus-keyed SortMergeJoin — disappears (r15, guide
    # §2.4). The null row contributes nothing: count(_g) skips nulls
    # and the conditional sum leaves the group NULL (coalesced to the
    # same 0 the join-back produced).
    score_grams = src.select(
        F.col(id_col), F.explode_outer(grams).alias("_g")
    )
    scored = (
        score_grams.join(F.broadcast(model_q), "_g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.col("_g")).alias("n_grams"),
            F.sum(
                F.when(
                    F.col("_g").isNotNull(),
                    F.coalesce(F.col("_q"), unseen_q),
                )
            ).alias("score_sum"),
        )
    )
    return scored.select(
        F.col(id_col),
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("score_sum", F.lit(0)).cast("long").alias("score_sum"),
        F.expr("coalesce(score_sum, 0) DIV greatest(coalesce(n_grams, 0), 1)")
        .cast("long")
        .alias("avg_q"),
    )


def bpe_pair_counts(df: DataFrame, text_col: str, *, k: int = 50) -> DataFrame:
    """First BPE merge step: corpus-wide adjacent-character-pair
    frequencies, weighted by word frequency — the statistic a BPE
    tokenizer trainer computes each merge iteration (the top pair is
    the next merge rule).

    Scale: the classic trainer layout — pair counting runs on the
    DISTINCT-WORD vocabulary weighted by corpus word frequency, never
    on raw token occurrences. One token-explode + groupBy builds the
    (word, freq) vocab (bytes shuffled ∝ vocab size, which grows
    ~Heaps-law sublinearly, not ∝ corpus); the char-pair explode then
    touches |vocab| rows map-side, and the final (a, b) rollup
    aggregates a ≤|charset|² key space partially before its (tiny)
    shuffle. Top-k is ORDER BY + LIMIT → TakeOrderedAndProject.

    Counts are BIGINT end-to-end — no cross-engine float hazard.
    """
    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    # sequence(1, 0) is DESCENDING [1, 0] (the char_lm guard), so
    # single-char words are filtered rather than clamped. Words are
    # short, so per-position substring's O(i) codepoint scan is fine
    # here (unlike the document-sized case char_lm hoists around).
    pairs = vocab.filter(F.char_length("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(w) - 1), "
                "i -> struct(substring(w, i, 1) AS a, substring(w, i + 1, 1) AS b))"
            )
        ).alias("_p"),
        "wf",
    )
    return (
        pairs.select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"), "wf")
        .groupBy("a", "b")
        .agg(F.sum("wf").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
        .limit(k)
    )


def hashed_ngram_weights(
    spark, *, n_buckets: int = 4096, seed: str = "qc1"
) -> DataFrame:
    """Deterministic stand-in for a TRAINED linear quality model's
    weight vector (fastText-style hashed-feature classifier): one row
    per hash bucket with an integer weight in [-1000, 1000] derived
    from md5(seed:bucket). In deployment this table is the exported
    model (bucket → int-quantized logit weight) loaded from the
    training job's output; the md5 derivation keeps the fixture
    cross-engine exact so the WHOLE scoring path is oracle-checkable.
    n_buckets rows — always broadcastable."""
    return spark.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(seed + ":"), F.col("id").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2001
            - 1000
        ).alias("weight"),
    )


def quality_classifier_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    weights: DataFrame,
    *,
    n_buckets: int = 4096,
    bias: int = 0,
) -> DataFrame:
    """Learned quality-gate scoring — the fastText-style linear
    classifier every large pipeline runs over its corpus (CCNet /
    GPT-3 quality filtering shape): hash token unigrams + bigrams into
    ``n_buckets`` feature buckets, sum the model's integer-quantized
    bucket weights, threshold at 0. Integer logits end-to-end (the
    char_lm no-float contract) so rank and keep/drop decisions are
    bit-identical in any engine.

    Scale shape: features explode map-side (one narrow pass per doc —
    unigrams and bigrams from one token array); the model join is a
    BROADCAST hash join against the n_buckets-row weight table (a
    model is ~KBs–MBs — never shuffle the corpus for it); the score is
    one groupBy(id) with map-side partial aggregation. Docs with zero
    features (empty text) score exactly ``bias``: explode_outer keeps
    them as one NULL-feature row through the left weight join, so the
    aggregate sees every doc — no silent row loss on the gate's own
    input, and no second corpus scan to restore them (r16).

    Returns (id, score, keep)."""
    # The tokenizer must be evaluated ONCE per row. Naively writing
    # `concat(toks, transform(..., element_at(toks, j)...))` re-inlines
    # the regexp+split+filter expression at EVERY reference — including
    # once per bigram element via the lambda — an O(n_tokens) tokenizer
    # blowup inside the Generate (measured 9–11 s vs ~1 s at sf0.1,
    # the same projection-collapse hazard remove_repeated_passages
    # documents). Binding the array through a 1-element transform makes
    # every inner reference a lambda-variable lookup instead.
    # sequence(1, 0) is DESCENDING (the bpe_pair_counts guard), so
    # sub-2-token docs get an explicit empty bigram array.
    feats = F.flatten(
        F.transform(
            F.array(tokens(F.col(text_col))),
            lambda t: F.concat(
                t,
                F.when(
                    F.size(t) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(t) - 1),
                        lambda j: F.concat(
                            F.element_at(t, j),
                            F.lit("_"),
                            F.element_at(t, j + 1),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            ),
        )
    )
    # explode_outer keeps a zero-feature doc as one NULL-feature row, so
    # the aggregate covers every doc and the old corpus-keyed join-back
    # (a second scan of df + an id-keyed SortMergeJoin) disappears —
    # the r15 batch-F/K pattern (guide §2.4). The weight join becomes
    # LEFT so the NULL-bucket row survives it; sum() skips NULL weights,
    # so a doc whose features all miss the weight table still scores
    # exactly ``bias`` via the coalesce, as before.
    exploded = df.select(
        F.col(id_col), F.explode_outer(feats).alias("g")
    ).select(
        F.col(id_col),
        (
            F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
            % n_buckets
        ).alias("bucket"),
    )
    return (
        exploded.join(F.broadcast(weights), "bucket", "left")
        .groupBy(id_col)
        .agg(
            (F.coalesce(F.sum("weight"), F.lit(0)) + bias).alias("_score")
        )
        .select(
            F.col(id_col),
            F.col("_score").cast("long").alias("score"),
            (F.col("_score") > 0).alias("keep"),
        )
    )


def bpe_train_merges(df: DataFrame, text_col: str, *, n_merges: int = 3) -> DataFrame:
    """Iterative BPE tokenizer TRAINING: run ``n_merges`` merge
    iterations and return the learned merge table — the k-step loop
    around the single-iteration statistic ``bpe_pair_counts`` computes
    (same unrolled-recurrence oracle pattern as sim_kmeans_clusters).

    Per iteration: count adjacent symbol pairs over the vocabulary
    weighted by word frequency, pick the top pair (count DESC, then
    (left, right) ASC — a total, engine-independent tiebreak), and
    merge that pair greedily left-to-right in every vocabulary word.
    The merge is one word-boundary-anchored regexp_replace over the
    space-joined symbol string: ``\\ba b\\b`` → ``ab``. ``\\b`` is
    zero-width, so adjacent occurrences ("a b a b") all merge in one
    pass, while symbol-interior text ("ba b") never matches — symbols
    are [a-z0-9]+ so no escaping is needed, and greedy left-to-right
    scanning reproduces the classic trainer's non-overlapping merge
    ("a a a" → "aa a").

    Scale shape (the classic trainer layout): pair counting and
    merging run on the DISTINCT-WORD vocabulary weighted by corpus
    frequency — per-iteration data is vocab-sized (~Heaps-law
    sublinear), never corpus-sized. Each iteration is one explode +
    map-side-combining groupBy over pairs, one TakeOrderedAndProject
    for the top pair, and a narrow regexp map for the merge; the only
    driver transfer is the 1-row top pair (the bounded-collect
    discipline of the k-means loop). localCheckpoint per iteration
    bounds lineage growth.

    Returns (merge_idx, pair_left, pair_right, merged, pair_count).
    Distinct words have distinct symbol strings and merging preserves
    content, so no re-aggregation between iterations is needed.
    """
    spark = df.sparkSession
    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
        .select(
            F.concat_ws(
                " ", F.regexp_extract_all("w", F.lit("."), 0)
            ).alias("ws"),
            "wf",
        )
    )
    state = vocab.localCheckpoint()
    merges: list[tuple[int, str, str, str, int]] = []
    for i in range(n_merges):
        syms = F.split("ws", " ")
        pairs = state.filter(F.size(syms) >= 2).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(syms) - 1),
                    lambda j: F.struct(
                        F.element_at(syms, j).alias("a"),
                        F.element_at(syms, j + 1).alias("b"),
                    ),
                )
            ).alias("_p"),
            "wf",
        )
        top = (
            pairs.groupBy(
                F.col("_p.a").alias("a"), F.col("_p.b").alias("b")
            )
            .agg(F.sum("wf").alias("c"))
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()  # bounded: exactly one row per iteration
        )
        if not top:
            break
        a, b, c = top[0]["a"], top[0]["b"], top[0]["c"]
        merges.append((i, a, b, a + b, int(c)))
        nxt = state.select(
            F.regexp_replace(
                "ws", f"\\b{a} {b}\\b", a + b
            ).alias("ws"),
            "wf",
        ).localCheckpoint()
        free_local_checkpoint(state)
        state = nxt
    free_local_checkpoint(state)
    return spark.createDataFrame(
        merges,
        "merge_idx int, pair_left string, pair_right string, "
        "merged string, pair_count long",
    )


def bpe_encode(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply a learned BPE merge table — the ENCODE half of the
    tokenizer loop ``bpe_train_merges`` trains. Each merge (a, b) is
    one word-boundary-anchored regexp pass over the DISTINCT-WORD
    vocabulary's symbol strings (identical greedy left-to-right
    semantics as training); per-document token counts then come from a
    (word → symbol-count) join, never by re-encoding every word
    occurrence.

    Returns (id, n_words, n_bpe_tokens): whitespace-word count and the
    post-merge BPE symbol count per document (the length a tokenizer
    with this merge table would produce — the budget/packing input for
    training prep when the real tokenizer is BPE rather than the
    regex approximation of token_count).

    Scale shape: the corpus token explode is compacted immediately to
    per-(doc, word) counts (map-side partial agg) on the occurrence
    branch; the vocab branch re-runs the same narrow explode (Spark
    recomputes shared lazy subtrees per branch — localCheckpoint the
    exploded words first when scan cost dominates at full scale, the
    passage-family discipline). The k merge passes are evaluated
    inside the Aggregate over the DISTINCT word key (plan-pinned:
    |vocab| regexp evaluations, ~Heaps-law sublinear — never per
    occurrence); the encode join is word-keyed — broadcastable when
    the trained vocab is model-sized, shuffle-on-word otherwise
    (skew-free: no word dominates a distinct vocab). ``merges`` is the
    k-row trained table — driver-side by construction (the trainer's
    bounded collect)."""
    words = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w")
    )
    occ = words.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("_c"))
    ws = F.concat_ws(" ", F.regexp_extract_all("w", F.lit("."), 0))
    enc = words.select("w").distinct().select(F.col("w"), ws.alias("_ws"))
    for a, b in merges:
        enc = enc.select(
            "w",
            F.regexp_replace(
                "_ws", f"\\b{a} {b}\\b", a + b
            ).alias("_ws"),
        )
    enc = enc.select(
        "w", F.size(F.split("_ws", " ")).alias("_n_syms")
    )
    per_doc = (
        occ.join(enc, "w")
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_words"),
            F.sum(F.col("_c") * F.col("_n_syms")).alias("n_bpe_tokens"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
    )


def ccnet_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    head_frac: float = 0.30,
    middle_frac: float = 0.35,
    **lm_kwargs,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al.): score every
    document with the corpus-trained char-LM (``char_lm_quality`` —
    the integer perplexity proxy; HIGHER avg_q = more fluent) and
    split the corpus into head / middle / tail at exact score
    quantiles (default 30/35/35, the published fractions). Curation
    pipelines train on head+middle or reweight by bucket; the bucket
    column is the standard conditioning signal.

    The thresholds are two percentile scalars broadcast into a map-side
    CASE — the dsir exact-quantile-gate pattern (swap approx_percentile
    at 100 TB, same plan). Ties AT a threshold take the better bucket
    in both engines (>= against the same ROUND(4) double). Zero-gram
    documents score 0 and land in the tail unless the corpus is
    degenerate. Returns (id, n_grams, avg_q, thr_head, thr_mid,
    bucket).
    """
    scored = char_lm_quality(df, text_col, id_col, **lm_kwargs).select(
        id_col, "n_grams", "avg_q"
    )
    thr = scored.agg(
        F.round(
            F.percentile(F.col("avg_q").cast("double"), F.lit(1.0 - head_frac)),
            4,
        ).alias("thr_head"),
        F.round(
            F.percentile(
                F.col("avg_q").cast("double"),
                F.lit(1.0 - head_frac - middle_frac),
            ),
            4,
        ).alias("thr_mid"),
    )
    aq = F.col("avg_q").cast("double")
    return scored.crossJoin(F.broadcast(thr)).select(
        F.col(id_col),
        "n_grams",
        "avg_q",
        "thr_head",
        "thr_mid",
        F.when(aq >= F.col("thr_head"), F.lit("head"))
        .when(aq >= F.col("thr_mid"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# Viterbi-segmentation machinery shared by the unigram trainer (E-step)
# and the encode arm: exact-integer DP over character positions with
# cost*32+start encoded cells (min resolves cost first, then the
# longest piece), and a backtrace that walks the encoded argmins.
_VITERBI_DP_EXPR = """aggregate(
  sequence(1, length(w)),
  array(cast(0 as bigint)),
  (acc, i) -> concat(acc, array(
    array_min(transform(
      filter(cs, c -> c.s + c.plen = i),
      c -> (element_at(acc, c.s + 1) div 32 + c.cost_q) * 32
           + cast(c.s as bigint)
    ))
  ))
)"""

_VITERBI_BT_EXPR = """aggregate(
  sequence(1, length(w)),
  named_struct('pos', cast(length(w) as int),
               'ps', cast(array() as array<string>)),
  (acc, x) -> if(acc.pos > 0,
    named_struct(
      'pos', cast(element_at(dp, acc.pos + 1) % 32 as int),
      'ps', array_append(acc.ps, substr(w,
             cast(element_at(dp, acc.pos + 1) % 32 as int) + 1,
             acc.pos
             - cast(element_at(dp, acc.pos + 1) % 32 as int)))
    ),
    acc)
).ps"""


def _piece_enum_expr(L: int):
    """All (start, len<=L) substring candidates of the word column
    ``w`` as structs — the shared seed/candidate enumeration."""
    return F.expr(
        f"""flatten(transform(sequence(0, length(w) - 1), s ->
            transform(sequence(1, least({L}, length(w) - s)), l ->
              named_struct('s', s, 'plen', l,
                           'piece', substr(w, s + 1, l)))))"""
    )


def _viterbi_segments(words: DataFrame, costed: DataFrame, L: int) -> DataFrame:
    """Per-word Viterbi segmentation under a (piece, cost_q) table:
    returns the input word columns plus ``ps`` (the chosen pieces, in
    reverse document order — callers only count or re-aggregate them).
    A word containing a character absent from the cost table has an
    unreachable DP cell and returns ps=NULL — callers fall back
    (the trainer can't hit this: singles always survive)."""
    cand = (
        words.select("*", F.explode(_piece_enum_expr(L)).alias("c"))
        .select(
            *words.columns,
            F.col("c.s").alias("s"),
            F.col("c.plen").alias("plen"),
            F.col("c.piece").alias("piece"),
        )
        # NOT broadcast, deliberately (r15 optimization round): the
        # cost table is model-sized and the SMJ here does shuffle the
        # W*L-per-word candidate explosion, but forcing a broadcast
        # hash join was MEASURED 3-4x SLOWER end to end at bench scale
        # (text_unigram_encode 3.2 s -> 12.0 s): each trainer
        # iteration + the encode then pays a driver broadcast build
        # of a freshly-planned subtree, and the broadcast work
        # serializes on the driver while the SMJ's exchanges run wide.
        .join(costed, "piece")
    )
    carr = cand.groupBy(*words.columns).agg(
        F.collect_list(F.struct("s", "plen", "cost_q")).alias("cs")
    )
    return carr.withColumn("dp", F.expr(_VITERBI_DP_EXPR)).withColumn(
        "ps", F.expr(_VITERBI_BT_EXPR)
    )


def unigram_lm_train(
    df: DataFrame,
    text_col: str,
    *,
    n_iters: int = 2,
    max_piece_len: int = 3,
    max_word_len: int = 8,
    scale: int = 100,
    topk: int | None = None,
) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (SentencePiece-style, Kudo 2018)
    as hard-EM with pruning — the sibling of ``bpe_train_merges``: BPE
    grows a vocabulary bottom-up by merging; the unigram trainer
    starts from ALL substrings and PRUNES by expected usage under the
    current model. Same bounded per-iteration shape: vocab-sized data,
    one scalar of driver state per iteration.

    Algorithm per iteration (hard-EM — Viterbi E-step instead of
    SentencePiece's forward-backward soft counts; the standard
    deterministic approximation):
    - cost table: each piece costs its quantized reciprocal
      likelihood ``(scale * total) div cnt`` — an exact-integer
      monotone surrogate for -log p (rarer piece → higher cost), the
      same rational-instead-of-ln trade the BM25 idf makes; log's
      concavity is the documented difference from true unigram
      likelihood.
    - E-step: Viterbi-segment every DISTINCT word (weight = corpus
      frequency) by an exact-integer DP over character positions:
      dp[i] = min over pieces ending at i of dp[start] + cost(piece).
      Each dp cell is encoded as ``cost*32 + start`` so min() resolves
      cost first and start (longest piece) as the deterministic
      tiebreak; the backtrace walks the encoded argmins. Both run as
      single ``aggregate`` higher-order expressions per word — no UDF,
      no per-row Python.
    - M-step + prune: new count = Viterbi usage (sum of word
      frequencies); pieces with zero usage drop out (the prune), while
      every seed single-character piece is retained at usage+1
      (coverage guarantee — SentencePiece likewise never prunes
      required characters).

    Seed vocabulary: all substrings of length 1..``max_piece_len`` of
    distinct words, weighted by word frequency (the suffix-array seed
    of the reference algorithm, bounded by the piece-length cap).
    Words longer than ``max_word_len`` are excluded from training
    (SentencePiece's max-sentencepiece-length / input-length caps play
    the same role); the cap also bounds the DP's encoded-cost
    envelope: worst case ``max_word_len * scale * total * 32`` must
    stay under 2^63 — at scale=100, W=8 that holds to corpus totals of
    ~3e17 tokens, past the 100 TB envelope.

    Scale shape: pair of map-side-combining groupBys (word vocab, seed
    counts), one piece-keyed equi-join per iteration (broadcastable —
    the piece table is vocabulary-sized and shrinks every prune), one
    groupBy(word) collect_list of candidates (bounded: ≤ W*L structs
    per word), and narrow per-word DP expressions. Per-iteration
    driver state is ONE scalar (the count total) — the k-means /
    BPE-trainer bounded-collect discipline. localCheckpoint per
    iteration bounds lineage.

    Returns (piece, piece_len, cnt) of the final vocabulary, top-k by
    count (ties → piece ASC) when ``topk`` is given.
    """
    from .dedup import tokens

    L, W = max_piece_len, max_word_len
    # vocab-sized (Heaps-law sublinear) and read n_iters + 1 times (the
    # seed build + every E-step's Viterbi) — materialize once so the
    # corpus-wide tokenize+explode+groupBy runs once, not per iteration
    # (guide §1.2 step 1; measured r15: 3 corpus passes → 1 at n_iters=2)
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") <= W)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
        .localCheckpoint()
    )
    seed = (
        words.select("wf", F.explode(_piece_enum_expr(L)).alias("c"))
        .groupBy(F.col("c.piece").alias("piece"))
        .agg(F.sum("wf").alias("cnt"))
    )
    state = seed.localCheckpoint()
    singles = (
        state.filter(F.length("piece") == 1).select("piece").localCheckpoint()
    )
    for _ in range(n_iters):
        total = state.agg(F.sum("cnt")).collect()[0][0]  # bounded: 1 scalar
        costed = state.select(
            "piece", F.expr(f"({scale} * {total}) div cnt").alias("cost_q")
        )
        bt = _viterbi_segments(words, costed, L)
        used = (
            bt.select("wf", F.explode("ps").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("wf").alias("cnt"))
        )
        nxt = (
            used.filter(F.length("piece") > 1)
            .unionByName(
                singles.join(used, "piece", "left").select(
                    "piece", (F.coalesce("cnt", F.lit(0)) + 1).alias("cnt")
                )
            )
            .localCheckpoint()
        )
        free_local_checkpoint(state)
        state = nxt
    out = state.select(
        "piece",
        F.length("piece").cast("int").alias("piece_len"),
        F.col("cnt").cast("long").alias("cnt"),
    )
    if topk is not None:
        out = out.orderBy(F.desc("cnt"), F.asc("piece")).limit(topk)
    return out


def unigram_encode(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab: DataFrame,
    *,
    scale: int = 100,
    max_piece_len: int = 3,
    max_word_len: int = 8,
) -> DataFrame:
    """Apply a trained unigram-LM vocabulary — the ENCODE half of the
    tokenizer loop ``unigram_lm_train`` trains (the exact sibling of
    ``bpe_encode`` for the BPE loop): Viterbi-segment every DISTINCT
    word under the vocabulary's reciprocal-likelihood costs and price
    each document in pieces via a (word → piece-count) join, never by
    re-segmenting every word occurrence.

    ``vocab`` is the (piece, cnt) frame the trainer returns — it stays
    a DATAFRAME join (broadcastable at model-sized vocabularies), not
    a driver collect: the encode E-step is the same plan shape as the
    trainer's, so the 100 TB story is identical (per-word work is
    narrow HOF expressions; the only aggregate is the per-doc sum).

    Fallbacks, both documented and tested: a word longer than
    ``max_word_len`` or containing a character the vocabulary never
    saw (unreachable DP) counts ``length(word)`` pieces — the
    single-char coverage floor.

    Returns (id, n_words, n_unigram_pieces).
    """
    L, W = max_piece_len, max_word_len
    total = vocab.agg(F.sum("cnt")).collect()[0][0] or 1  # bounded scalar
    costed = vocab.select(
        "piece", F.expr(f"({scale} * {total}) div cnt").alias("cost_q")
    )
    # Two corpus tokenize+explodes instead of four (occ,
    # distinct_words, the enc join's second read, and the
    # zero-word-doc join-back — r16, guide §1.2 step 1 / §2.4).
    # distinct_words derives FROM occ; the optimizer collapses the
    # word distinct below occ's aggregate, so that branch is one
    # direct pass with no extra shuffle (a checkpointed variant
    # measured SLOWER at sf0.1: the checkpoint write cost more than
    # the saved re-scan, and it erased the size estimates that keep
    # the enc join a broadcast). explode_outer
    # keeps a zero-word doc as one NULL-word row so the per-doc
    # aggregate covers every doc and the old df.select(id) join-back
    # (a corpus scan + an id-keyed SortMergeJoin) disappears; the NULL
    # row never matches the left word join and contributes 0 to both
    # conditional sums. The NULL word also flows into distinct_words,
    # where it is inert: length(NULL) drops it from the Viterbi input,
    # and its enc row (NULL key) can never join back.
    occ = (
        df.select(
            F.col(id_col),
            F.explode_outer(tokens(F.col(text_col))).alias("w"),
        )
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # vocab-sized and consumed by BOTH sides of the enc join. NOT
    # persisted/checkpointed: .persist() here is plan-matched by the
    # CacheManager, so a REPEATED run of the same encode (the bench's
    # median-of-3, any retried job) silently reads the first run's
    # cache — an unbounded session-lifetime cache and an under-timed
    # median — and the eager localCheckpoint variant measured slower
    # (write cost > the saved re-scan) while erasing the size
    # estimates that keep the enc join a broadcast. The double
    # derivation is two vocab-sized aggregations; acceptable.
    distinct_words = occ.select("w").distinct()
    # an unreachable DP (vocab-unseen character) nulls the FINAL dp
    # cell; the backtrace then emits a null-poisoned ps — gate the
    # piece count on dp[len] so such words take the fallback below
    segged = _viterbi_segments(
        distinct_words.filter(F.length("w") <= W), costed, L
    ).select(
        "w",
        F.when(
            F.element_at(F.col("dp"), F.length("w") + 1).isNotNull(),
            F.size("ps"),
        ).alias("_np0"),
    )
    enc = distinct_words.join(segged, "w", "left").select(
        "w",
        # fallback: long word, unseen char (NULL ps), or a word with no
        # candidate rows at all -> one piece per character
        F.when(
            F.coalesce(F.col("_np0"), F.lit(-1)) > 0, F.col("_np0")
        )
        .otherwise(F.length("w"))
        .alias("_n_pieces"),
    )
    return (
        occ.join(enc, "w", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("w").isNotNull(), F.col("_c")).otherwise(0))
            .cast("long")
            .alias("n_words"),
            F.sum(
                F.when(
                    F.col("w").isNotNull(),
                    F.col("_c") * F.col("_n_pieces"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_unigram_pieces"),
        )
    )


def tfidf_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-document TF-IDF head terms (keyword extraction / retrieval
    weighting / quality-signal input). Integer-quantized raw-ratio idf
    so every engine is bit-identical (the char_lm_quality no-float
    contract — no libm log whose last-ULP differences could flip a
    ROUND or a rank near a boundary):

        idf_q(t)    = (scale * (N + 1)) DIV (df_t + 1)
        tfidf_q(t,d) = tf(t,d) * idf_q(t)

    Raw-ratio idf is one of the standard idf variants; within one
    document it ranks term pairs with equal tf identically to log-idf
    (both are strictly decreasing in df_t), and ties break (tfidf_q
    desc, term asc) so ordering is total.

    Scale: the corpus is exploded ONCE. tf aggregates on (doc, term)
    — the fine-grained, skew-free key (never pre-partition exploded
    tokens by term alone: a stopword would pin a partition). df_t is
    then a count window OVER the already-compacted tf table partitioned
    by term (expressing it as a groupBy + self-join would duplicate
    the whole explode subtree — Spark does not dedupe common
    subexpressions; per-term load is bounded by n_docs after the
    (doc, term) collapse, so the term window is skew-safe). N is a
    one-row broadcast. The per-doc top-k is a row_number window
    partitioned by the document key — naturally parallel, no global
    sort; three tf-table-or-smaller shuffles total after the explode.
    """
    from pyspark.sql import Window

    tf = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = df.select(F.count(F.lit(1)).alias("_n"))
    w_term = Window.partitionBy("term")
    scored = (
        tf.withColumn("df_t", F.count(F.lit(1)).over(w_term))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df_t",
            (
                F.col("tf")
                * F.expr(f"CAST({scale} AS BIGINT) * (_n + 1) DIV (df_t + 1)")
            ).alias("tfidf_q"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf_q"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "df_t", "tfidf_q")
    )


def token_entropy(
    df: DataFrame,
    text_col: str,
    id_col: str,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document Shannon token entropy in integer permille-bits —
    the distribution-shape quality signal the ratio features miss: a
    page that repeats one template line has high length and fine
    punctuation ratios but near-zero entropy, while natural prose at
    the same length sits near log2(vocab).

    Determinism across engines is the design constraint: H =
    (n*log2(n) - sum_t c_t*log2(c_t)) / n is a float SUM whose
    addition order differs between engines, so each TERM is rounded to
    an integer (x1e4) BEFORE summing — integer addition is associative,
    so Spark's partial aggregates and DuckDB's single pass produce the
    identical total, and the final permille division is integer too.
    (floor/round of c*log2(c): exact for powers of two in IEEE, and
    >1000x the double error margin from any boundary elsewhere — the
    hll_registers argument.)

    Shape: tokenize -> explode -> (id, token) count -> per-id fold.
    Shuffle rows ∝ corpus tokens, the same class as TF-IDF/BM25
    builds; both aggregates partial-combine map-side.

    ``carry_cols`` ride the aggregation keys (they must be
    functionally dependent on ``id_col`` — a doc's source, shard,
    language) so a consumer like source_scorecard needs no
    |docs|-row join to re-attach them afterwards.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda x: x != "",
    )
    carry = list(carry_cols)
    counts = (
        df.select(
            F.col(id_col).alias("_id"), *carry, toks.alias("_toks")
        )
        .filter(F.size("_toks") >= 1)
        .select("_id", *carry, F.explode("_toks").alias("_tok"))
        .groupBy("_id", *carry, "_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    term = F.round(
        F.col("_c").cast("double") * F.log2(F.col("_c").cast("double")) * 1e4,
        0,
    ).cast("long")
    per = counts.groupBy("_id", *carry).agg(
        F.sum("_c").alias("_n"), F.sum(term).alias("_tsum")
    )
    n = F.col("_n").cast("double")
    ntotal = F.round(n * F.log2(n) * 1e4, 0).cast("long")
    return (
        per.withColumn("_e4", ntotal - F.col("_tsum"))
        .select(
            F.col("_id").alias(id_col),
            *carry,
            F.col("_n").cast("long").alias("n_tokens"),
            # integer div keeps the permille exact in every engine
            F.expr("(1000 * _e4) div (_n * 10000)").alias(
                "entropy_permille"
            ),
        )
    )
