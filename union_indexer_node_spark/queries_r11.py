"""Round-11 registry entries, in their own module so ``queries.py``
(~6,400 lines, half oracle SQL) stops growing; ``queries.py`` imports
this module at its end, so these entries register after its own.

Among its entries:
- text_unigram_lm_train — SentencePiece-style unigram tokenizer
  trainer (hard-EM + prune), unrolled-recurrence oracle GENERATED by
  ``_unigram_oracle`` (per-position DP steps and backtrace unrolled
  into chained MATERIALIZED CTEs — materialized because DuckDB
  otherwise inlines the self-referencing chain exponentially)
- sim_ivf_pq_adc — product-quantization encode + asymmetric-distance
  top-k over a fixture codebook, all-integer arithmetic
- multimodal_media_probe — WAV/MP4 header probes, fields re-derived
  arithmetically in the oracle
- dedup_remove_duplicate_spans_maximal — span-verified duplicate
  removal (stride-1 windows coalesced, then the FULL span string
  re-verified corpus-wide)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import tables
from .queries import _DISC, _TOKS_CTE, q


def _unigram_oracle(
    n_iters: int = 2,
    L: int = 3,
    W: int = 8,
    scale: int = 100,
    topk: int = 30,
    encode: bool = False,
) -> str:
    """Generate the unrolled hard-EM unigram-trainer oracle: for each
    EM iteration, the per-position Viterbi DP (positions 1..W) and the
    backtrace (≤ W steps) become chained CTEs — the same
    unrolled-recurrence pattern as the k-means and BPE-trainer
    oracles, generated by loop because the chain is 2*(2W+4) stages.

    Chain CTEs are MATERIALIZED: each references its predecessor
    twice (the DP step joins the cumulative table AND unions into the
    next cumulative table), so DuckDB's default CTE inlining expands
    the chain exponentially — a 3-row fixture took minutes un-hinted,
    milliseconds materialized.
    """
    p = []
    p.append(f"""allw AS (SELECT unnest(toks) AS w FROM toks),
    words AS (
      SELECT w, COUNT(*) AS wf FROM allw WHERE length(w) <= {W} GROUP BY w
    ),
    seed AS (
      SELECT substr(w, s, l) AS piece, SUM(wf) AS cnt
      FROM words, range(1, {W + 1}) rs(s), range(1, {L + 1}) rl(l)
      WHERE s <= length(w) AND s + l - 1 <= length(w)
      GROUP BY 1
    ),
    singles AS (SELECT piece FROM seed WHERE length(piece) = 1),
    state0 AS MATERIALIZED (SELECT piece, cnt FROM seed)""")
    for it in range(n_iters):
        p.append(f"""total{it} AS (SELECT SUM(cnt) AS t FROM state{it}),
    cost{it} AS (
      SELECT piece, ({scale} * t) // cnt AS cost_q FROM state{it}, total{it}
    ),
    cand{it} AS MATERIALIZED (
      SELECT w.w, w.wf, rs.s - 1 AS s, rl.l AS plen, c.cost_q
      FROM words w, range(1, {W + 1}) rs(s), range(1, {L + 1}) rl(l)
      JOIN cost{it} c ON c.piece = substr(w.w, rs.s, rl.l)
      WHERE rs.s + rl.l - 1 <= length(w.w)
    ),
    dpall{it}_0 AS MATERIALIZED (
      SELECT w, 0 AS i, CAST(0 AS BIGINT) AS enc FROM words
    )""")
        for k in range(1, W + 1):
            p.append(f"""dp{it}_{k} AS (
      SELECT c.w, {k} AS i, MIN((d.enc // 32 + c.cost_q) * 32 + c.s) AS enc
      FROM cand{it} c JOIN dpall{it}_{k - 1} d ON d.w = c.w AND d.i = c.s
      WHERE c.s + c.plen = {k}
      GROUP BY c.w
    ),
    dpall{it}_{k} AS MATERIALIZED (
      SELECT * FROM dpall{it}_{k - 1} UNION ALL SELECT * FROM dp{it}_{k}
    )""")
        p.append(f"""bt{it}_0 AS MATERIALIZED (
      SELECT w, wf, length(w) AS pos, CAST(NULL AS VARCHAR) AS piece
      FROM words
    )""")
        for k in range(1, W + 1):
            p.append(f"""bt{it}_{k} AS MATERIALIZED (
      SELECT b.w, b.wf, CAST(d.enc % 32 AS INT) AS pos,
             substr(b.w, CAST(d.enc % 32 AS INT) + 1,
                    b.pos - CAST(d.enc % 32 AS INT)) AS piece
      FROM bt{it}_{k - 1} b JOIN dpall{it}_{W} d ON d.w = b.w AND d.i = b.pos
      WHERE b.pos > 0
    )""")
        union = "\n        UNION ALL ".join(
            f"SELECT wf, piece FROM bt{it}_{k}" for k in range(1, W + 1)
        )
        p.append(f"""used{it} AS (
      SELECT piece, SUM(wf) AS cnt FROM (
        {union}
      ) WHERE piece IS NOT NULL GROUP BY piece
    ),
    state{it + 1} AS MATERIALIZED (
      SELECT piece, cnt FROM used{it} WHERE length(piece) > 1
      UNION ALL
      SELECT s.piece, COALESCE(u.cnt, 0) + 1 AS cnt
      FROM singles s LEFT JOIN used{it} u ON u.piece = s.piece
    )""")
    if encode:
        n = n_iters
        p.append(f"""totalE AS (SELECT SUM(cnt) AS t FROM state{n}),
    costE AS (
      SELECT piece, ({scale} * t) // cnt AS cost_q FROM state{n}, totalE
    ),
    wordsE AS (SELECT DISTINCT unnest(toks) AS w FROM toks),
    candE AS MATERIALIZED (
      SELECT w.w, rs.s - 1 AS s, rl.l AS plen, c.cost_q
      FROM wordsE w, range(1, {W + 1}) rs(s), range(1, {L + 1}) rl(l)
      JOIN costE c ON c.piece = substr(w.w, rs.s, rl.l)
      WHERE rs.s + rl.l - 1 <= length(w.w) AND length(w.w) <= {W}
    ),
    dpallE_0 AS MATERIALIZED (
      SELECT w, 0 AS i, CAST(0 AS BIGINT) AS enc FROM wordsE
      WHERE length(w) <= {W}
    )""")
        for k in range(1, W + 1):
            p.append(f"""dpE_{k} AS (
      SELECT c.w, {k} AS i, MIN((d.enc // 32 + c.cost_q) * 32 + c.s) AS enc
      FROM candE c JOIN dpallE_{k - 1} d ON d.w = c.w AND d.i = c.s
      WHERE c.s + c.plen = {k}
      GROUP BY c.w
    ),
    dpallE_{k} AS MATERIALIZED (
      SELECT * FROM dpallE_{k - 1} UNION ALL SELECT * FROM dpE_{k}
    )""")
        p.append(f"""btE_0 AS MATERIALIZED (
      SELECT w, length(w) AS pos, CAST(NULL AS VARCHAR) AS piece
      FROM wordsE WHERE length(w) <= {W}
    )""")
        for k in range(1, W + 1):
            p.append(f"""btE_{k} AS MATERIALIZED (
      SELECT b.w, CAST(d.enc % 32 AS INT) AS pos,
             substr(b.w, CAST(d.enc % 32 AS INT) + 1,
                    b.pos - CAST(d.enc % 32 AS INT)) AS piece
      FROM btE_{k - 1} b JOIN dpallE_{W} d ON d.w = b.w AND d.i = b.pos
      WHERE b.pos > 0
    )""")
        unionE = "\n        UNION ALL ".join(
            f"SELECT w, piece FROM btE_{k}" for k in range(1, W + 1)
        )
        p.append(f"""npw AS (
      SELECT w, COUNT(*) AS np FROM (
        {unionE}
      ) WHERE piece IS NOT NULL GROUP BY w
    ),
    encmap AS (
      SELECT w.w,
             CASE WHEN n.np IS NOT NULL AND n.np > 0 THEN n.np
                  ELSE length(w.w) END AS np
      FROM wordsE w LEFT JOIN npw n USING (w)
    ),
    occ AS (
      SELECT doc_id, w, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(toks) AS w FROM toks)
      GROUP BY doc_id, w
    ),
    perdoc AS (
      SELECT doc_id, SUM(c) AS n_words, SUM(c * np) AS n_unigram_pieces
      FROM occ JOIN encmap USING (w) GROUP BY doc_id
    )""")
        body = ",\n    ".join(p)
        return f"""
    WITH {_TOKS_CTE.strip()},
    {body}
    SELECT d.doc_id,
           CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(p.n_unigram_pieces, 0) AS BIGINT)
             AS n_unigram_pieces
    FROM documents d LEFT JOIN perdoc p USING (doc_id)
    """
    body = ",\n    ".join(p)
    return f"""
    WITH {_TOKS_CTE.strip()},
    {body}
    SELECT piece, CAST(length(piece) AS INT) AS piece_len,
           CAST(cnt AS BIGINT) AS cnt
    FROM state{n_iters}
    ORDER BY cnt DESC, piece
    LIMIT {topk}
    """


def _le_hex(col, nbytes: int):
    """Little-endian hex of an integer column (byte-reversed lpad hex)
    — WAV/RIFF fields are little-endian."""
    return F.concat(
        *[
            F.lpad(
                F.hex(F.shiftright(col.cast("long"), 8 * i).bitwiseAND(F.lit(255))),
                2,
                "0",
            )
            for i in range(nbytes)
        ]
    )


def _be_hex(col, nbytes: int):
    """Big-endian hex of an integer column — ISO-BMFF fields."""
    return F.lpad(F.hex(col.cast("long")), 2 * nbytes, "0")


# identity matrix + zero predefined fields shared by mvhd/tkhd fixtures
_MP4_MATRIX_HEX = (
    "00010000" "00000000" "00000000"
    "00000000" "00010000" "00000000"
    "00000000" "00000000" "40000000"
)


# WAV/MP4 header probe (round 11; VERDICT r10 item 6): the AV siblings
# of multimodal_png_probe, same pattern — valid headers CONSTRUCTED
# from event arithmetic via unhex (even event_id → 44-byte RIFF/WAVE
# header with fmt + data chunks; odd → 232-byte ftyp+moov{mvhd,
# trak{tkhd}} box tree), shipped as a binary column through the Arrow
# mapInPandas stage, parsed by the REAL pure-header kernels
# (_wav_info/_mp4_info). The oracle needs no blobs: every probed field
# is the same arithmetic, so an endianness slip, a box-walk bug, or an
# Arrow binary-threading bug all surface as a hash mismatch.
@q(
    "multimodal_media_probe",
    """
    SELECT event_id AS id,
           CASE WHEN event_id % 2 = 0 THEN 'wav' ELSE 'mp4' END AS kind,
           CAST(CASE WHEN event_id % 2 = 0
                THEN 8000 * (1 + event_id % 6) ELSE 0 END AS INT)
             AS sample_rate,
           CAST(CASE WHEN event_id % 2 = 0
                THEN 1 + event_id % 2 ELSE 0 END AS INT) AS channels,
           CAST(CASE WHEN event_id % 2 = 0
                THEN 8 * (1 + event_id % 3) ELSE 0 END AS INT) AS bits,
           CAST(CASE WHEN event_id % 2 = 1
                THEN 600 * (1 + event_id % 5) ELSE 0 END AS INT)
             AS timescale,
           CAST(CASE WHEN event_id % 2 = 0
                THEN ((1000 + event_id % 9000) * 1000)
                     // (8000 * (1 + event_id % 6)
                         * ((1 + event_id % 2) * ((8 * (1 + event_id % 3)) // 8)))
                ELSE ((600 + event_id % 100000) * 1000)
                     // (600 * (1 + event_id % 5))
                END AS BIGINT) AS duration_ms,
           CAST(CASE WHEN event_id % 2 = 1
                THEN 160 + event_id % 800 ELSE 0 END AS INT) AS width,
           CAST(CASE WHEN event_id % 2 = 1
                THEN 120 + event_id % 600 ELSE 0 END AS INT) AS height,
           CAST(CASE WHEN event_id % 2 = 0 THEN 44 ELSE 232 END AS BIGINT)
             AS n_bytes
    FROM events
    """,
)
def multimodal_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipelines.multimodal import probe_av

    e = tables.load(spark, sf_dir, "events")
    eid = F.col("event_id")
    # WAV (even ids): 44-byte RIFF header, fmt + data chunk headers
    ch = (eid % 2 + 1).cast("long")
    rate = ((eid % 6 + 1) * 8000).cast("long")
    bits = ((eid % 3 + 1) * 8).cast("long")
    block = ch * (bits / 8).cast("long")
    byte_rate = rate * block
    dsz = (eid % 9000 + 1000).cast("long")
    wav_hex = F.concat(
        F.lit("52494646"),            # 'RIFF'
        _le_hex(dsz + 36, 4),
        F.lit("57415645" "666D7420" "10000000" "0100"),  # WAVE fmt_ sz16 pcm
        _le_hex(ch, 2),
        _le_hex(rate, 4),
        _le_hex(byte_rate, 4),
        _le_hex(block, 2),
        _le_hex(bits, 2),
        F.lit("64617461"),            # 'data'
        _le_hex(dsz, 4),
    )
    # MP4 (odd ids): ftyp + moov{mvhd, trak{tkhd}} with v0 boxes
    ts = ((eid % 5 + 1) * 600).cast("long")
    dur = (eid % 100000 + 600).cast("long")
    wdt = (eid % 800 + 160).cast("long")
    hgt = (eid % 600 + 120).cast("long")
    mp4_hex = F.concat(
        F.lit("00000010" "66747970" "69736F6D" "00000000"),   # ftyp
        F.lit("000000D8" "6D6F6F76"),                          # moov(216)
        F.lit("0000006C" "6D766864" + "00000000" * 3),         # mvhd v0
        _be_hex(ts, 4),
        _be_hex(dur, 4),
        F.lit("00010000" "0100" "0000" + "00" * 8 + _MP4_MATRIX_HEX
              + "00" * 24 + "00000002"),
        F.lit("00000064" "7472616B"),                          # trak(100)
        F.lit("0000005C" "746B6864" "00000007" "00000000"
              "00000000" "00000001" "00000000"),               # tkhd v0
        _be_hex(dur, 4),
        F.lit("00" * 8 + "0000" "0000" "0000" "0000" + _MP4_MATRIX_HEX),
        _be_hex(wdt * 65536, 4),
        _be_hex(hgt * 65536, 4),
    )
    media = e.select(
        eid.alias("id"),
        F.unhex(
            F.when(eid % 2 == 0, wav_hex).otherwise(mp4_hex)
        ).alias("content"),
    )
    out = probe_av(media, target_partition_bytes=64 << 10)
    return out.select(
        "id", "kind", "sample_rate", "channels", "bits", "timescale",
        "duration_ms", "width", "height", "n_bytes",
    )


def _pq_fixture_codebooks(
    m: int = 8, sub_d: int = 8, k: int = 4, spread: int = 250
) -> list[list[list[int]]]:
    """Deterministic integer codebook fixture for the oracle entry:
    centroid values ((7c + 3j + m) mod 9 - 4) * spread ∈ [-1000, 1000]
    at the quant=1000 scale — data-independent so the oracle can
    interpolate the SAME literals (training drift is exercised by
    train_pq_codebooks' own tests, not the cross-engine hash gate)."""
    return [
        [
            [((7 * c + 3 * j + mi) % 9 - 4) * spread for j in range(sub_d)]
            for c in range(k)
        ]
        for mi in range(m)
    ]


_PQ_QUERY_VEC = [((i * 5) % 11 - 5) / 10.0 for i in range(64)]


def _pq_adc_oracle(
    books: list[list[list[int]]],
    query_vec: list[float],
    *,
    quant: int = 1000,
    topk: int = 10,
) -> str:
    """Oracle for pq_adc_topk: re-derives codes and ADC sums with the
    same exact-integer arithmetic (corpus quantization via the proven
    round(x*quant) idiom; encoded argmin dist*k+code; LUT entries
    computed here in Python — identical literals on both sides)."""
    sub_d = len(books[0][0])
    k = len(books[0])
    qq = [int(round(x * quant)) for x in query_vec]
    code_exprs = []
    adc_terms = []
    for mi, book in enumerate(books):
        off = mi * sub_d
        encs = []
        for ci, cent in enumerate(book):
            terms = " + ".join(
                f"(q[{off + j + 1}] - ({cv})) * (q[{off + j + 1}] - ({cv}))"
                for j, cv in enumerate(cent)
            )
            encs.append(f"({terms}) * {k} + {ci}")
        code_exprs.append(
            f"least({', '.join(encs)}) % {k} AS code_{mi}"
        )
        lut = [
            sum((qq[off + j] - cv) ** 2 for j, cv in enumerate(cent))
            for cent in book
        ]
        lut_sql = "[" + ", ".join(str(v) for v in lut) + "]"
        adc_terms.append(f"{lut_sql}[CAST(code_{mi} AS INT) + 1]")
    codes = ",\n             ".join(code_exprs)
    adc = "\n             + ".join(adc_terms)
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {quant}, 0) AS BIGINT)) AS q
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    codes AS (
      SELECT vec_id,
             {codes}
      FROM qv
    )
    SELECT vec_id,
           CAST({adc} AS BIGINT) AS adc_dist
    FROM codes
    ORDER BY adc_dist, vec_id
    LIMIT {topk}
    """


# IVF-PQ asymmetric-distance search (round 11; VERDICT r10 item 5):
# product-quantization encode (8 subspaces x 4 centroids over the
# 64-dim embeddings) + ADC top-10 from a driver-side integer lookup
# table. int8 (sim_quantize_int8 family) is the entry-level
# compression; PQ is the standard 100 TB-embedding memory story
# (codes are m*log2(k) bits/vector). The codebook here is the
# deterministic fixture so scores are bit-exact cross-engine; codebook
# TRAINING (per-subspace k-means, kmeans_centroids reuse) ships as
# train_pq_codebooks with its own recall tests.
@q("sim_ivf_pq_adc", _pq_adc_oracle(_pq_fixture_codebooks(), _PQ_QUERY_VEC))
def sim_ivf_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipelines.similarity import pq_adc_topk

    emb = tables.load(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb, _PQ_QUERY_VEC, _pq_fixture_codebooks(), topk=10
    )


# Unigram-LM tokenizer trainer (round 11; VERDICT r10 item 4): the
# pruning half of real tokenizer training, sibling of
# text_bpe_train_merges. Hard-EM (Viterbi E-step) with exact-integer
# reciprocal-likelihood costs — every DP cell is cost*32+start in
# BIGINT, so both engines pick identical segmentations and the final
# vocabulary hash-matches. Two EM iterations unrolled in the oracle.
@q("text_unigram_lm_train", _unigram_oracle())
def text_unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipelines.textstats import unigram_lm_train

    d = tables.load(spark, sf_dir, "documents")
    return unigram_lm_train(
        d, "text", n_iters=2, max_piece_len=3, max_word_len=8, topk=30
    )


# Span-VERIFIED duplicate removal (round 11; VERDICT r10 item 7): the
# maximal-repeat precision arm of the span-dedup family. Same fixture
# as dedup_remove_duplicate_spans (disclaimer injected into doc_id%5==0
# docs, offset by 0-2 pad tokens so extents vary); the verified arm
# coalesces flagged windows into candidate spans (gaps-and-islands),
# re-verifies each span's FULL token string corpus-wide at equal
# extent, and removes only verified spans — whole, with exact
# boundaries and a per-doc span count. Duplicates LONGER than
# window_tokens come out as ONE span (pinned by the long-repeat unit
# test); chained-but-never-co-occurring window repeats are KEPT.
@q(
    "dedup_remove_duplicate_spans_maximal",
    r"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN
               text || ' ' || repeat('pad ', CAST(doc_id % 3 AS INT)) ||
               'this content is provided as is without warranty of any"""
    r""" kind whatsoever'
             ELSE text END AS text
      FROM documents
    ),
    p AS (
      SELECT doc_id, text,
             string_split(regexp_replace(text, '([a-zA-Z0-9]+)',
                          chr(1) || '\1' || chr(1), 'g'), chr(1)) AS pc,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM aug
    ),
    w AS (
      SELECT doc_id, g.s AS s,
             array_to_string(array_slice(toks, g.s + 1, g.s + 8), ' ') AS k
      FROM p, LATERAL (SELECT UNNEST(generate_series(0, len(toks) - 8))
                       AS s) g
      WHERE len(toks) >= 8
    ),
    c AS (SELECT k, COUNT(*) AS cnt FROM w GROUP BY k),
    fl AS (SELECT w.doc_id, w.s FROM w JOIN c USING (k) WHERE c.cnt > 2),
    cov AS (SELECT DISTINCT fl.doc_id, g.t
            FROM fl, LATERAL (SELECT UNNEST(generate_series(s, s + 7))
                              AS t) g),
    isl AS (
      SELECT doc_id, t,
             t - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY t) AS grp
      FROM cov
    ),
    spans AS (
      SELECT doc_id, MIN(t) AS t0, MAX(t) AS t1
      FROM isl GROUP BY doc_id, grp
    ),
    skey AS (
      SELECT s.doc_id, s.t0, s.t1,
             array_to_string(array_slice(p.toks, s.t0 + 1, s.t1 + 1), ' ')
               AS sk
      FROM spans s JOIN p USING (doc_id)
    ),
    vk AS (
      SELECT sk FROM (SELECT sk, COUNT(*) AS c FROM skey GROUP BY sk)
      WHERE c > 2
    ),
    vspan AS (
      SELECT skey.doc_id, skey.t0, skey.t1 FROM skey JOIN vk USING (sk)
    ),
    vcov AS (SELECT DISTINCT doc_id, g.t
             FROM vspan, LATERAL (SELECT UNNEST(generate_series(t0, t1))
                                  AS t) g),
    nsp AS (SELECT doc_id, COUNT(*) AS n_spans FROM vspan GROUP BY doc_id),
    affected AS (SELECT DISTINCT doc_id FROM vspan),
    tok AS (
      SELECT p.doc_id, g.t,
             pc[2 * g.t + 2] || pc[2 * g.t + 3] AS tok_bytes
      FROM p JOIN affected USING (doc_id),
           LATERAL (SELECT UNNEST(generate_series(0, len(toks) - 1))
                    AS t) g
      WHERE len(toks) > 0
    ),
    re AS (
      SELECT tok.doc_id,
             string_agg(tok.tok_bytes, '' ORDER BY tok.t) AS kept_bytes,
             COUNT(*) AS n_kept
      FROM tok LEFT JOIN vcov ON tok.doc_id = vcov.doc_id AND tok.t = vcov.t
      WHERE vcov.t IS NULL
      GROUP BY tok.doc_id
    )
    SELECT p.doc_id,
           CASE WHEN a.doc_id IS NULL THEN p.text
                ELSE p.pc[1] || COALESCE(re.kept_bytes, '') END
             AS cleaned_text,
           CAST(len(p.toks) AS BIGINT) AS n_tokens,
           CAST(CASE WHEN a.doc_id IS NULL THEN 0
                     ELSE len(p.toks) - COALESCE(re.n_kept, 0) END
                AS BIGINT) AS n_removed_tokens,
           CAST(COALESCE(nsp.n_spans, 0) AS BIGINT) AS n_spans_removed
    FROM p LEFT JOIN affected a USING (doc_id)
    LEFT JOIN re USING (doc_id)
    LEFT JOIN nsp USING (doc_id)
    """,
)
def dedup_remove_duplicate_spans_maximal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .pipelines.dedup import remove_duplicate_spans_maximal

    d = tables.load(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.repeat(
                    F.lit("pad "), (F.col("doc_id") % 3).cast("int")
                ),
                F.lit(_DISC),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return remove_duplicate_spans_maximal(
        aug, "text", "doc_id", window_tokens=8, stride=1, max_occurrences=2
    )


# Unigram ENCODE arm (round 11): train the 2-iteration
# unigram vocabulary on the corpus, then Viterbi-price every document
# in pieces via the (word -> piece-count) join. Long words and
# vocab-unseen characters take the single-char coverage fallback.
@q("text_unigram_encode", _unigram_oracle(encode=True))
def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipelines.textstats import unigram_encode, unigram_lm_train

    d = tables.load(spark, sf_dir, "documents")
    vocab = unigram_lm_train(
        d, "text", n_iters=2, max_piece_len=3, max_word_len=8
    )
    return unigram_encode(
        d, "text", "doc_id", vocab, max_piece_len=3, max_word_len=8
    )


# Unicode tokenization pre-scrub (round 11): the corpus-ingest operator
# that DISCHARGES the documented token_pieces/tokens divergence (ADVICE
# r10) and the \x01-sentinel caveat, instead of just documenting them.
# The fixture injects the divergent codepoints (U+212A KELVIN, U+0130
# dotted I) and C0 controls into 1/7 of docs; the entry
# asserts-by-construction that the two tokenizations AGREE on the
# scrubbed text (the tokenizations_agree column must be uniformly true —
# a regression in either tokenizer shows as a hash mismatch).
@q(
    "text_unicode_scrub",
    r"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN
               text || ' mar' || chr(8490) || 'ed ' || chr(304)
                    || 'stanbul' || chr(1) || 'ctl' || chr(7) || 'x'
             ELSE text END AS text
      FROM documents
    ),
    sc AS (
      SELECT doc_id, text,
             regexp_replace(
               translate(text, chr(8490) || chr(304), 'KI'),
               '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g') AS cleaned
      FROM aug
    ),
    tk AS (
      SELECT doc_id, text, cleaned,
             list_filter(regexp_split_to_array(lower(cleaned),
                                               '[^a-z0-9]+'),
                         x -> x <> '') AS toks,
             list_transform(
               list_filter(
                 string_split(regexp_replace(cleaned, '([a-zA-Z0-9]+)',
                              chr(1) || '\1' || chr(1), 'g'), chr(1)),
                 x -> x ~ '^[a-zA-Z0-9]+$'),
               x -> lower(x)) AS ptoks
      FROM sc
    )
    SELECT doc_id,
           (text <> cleaned) AS changed,
           md5(cleaned) AS cleaned_hash,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           (toks = ptoks) AS tokenizations_agree
    FROM tk
    """,
)
def text_unicode_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipelines.dedup import pieces_tokens, pre_scrub, token_pieces, tokens

    d = tables.load(spark, sf_dir, "documents")
    exotic = " marKed İstanbul\x01ctl\x07x"
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(exotic))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    cleaned = pre_scrub(F.col("text"))
    base = aug.select("doc_id", "text", cleaned.alias("cleaned")).select(
        "doc_id",
        "text",
        "cleaned",
        tokens(F.col("cleaned")).alias("_t1"),
        pieces_tokens(token_pieces(F.col("cleaned"))).alias("_t2"),
    )
    return base.select(
        "doc_id",
        (~(F.col("text") == F.col("cleaned"))).alias("changed"),
        F.md5("cleaned").alias("cleaned_hash"),
        F.size("_t1").cast("long").alias("n_tokens"),
        (F.col("_t1") == F.col("_t2")).alias("tokenizations_agree"),
    )


# Incremental BM25 index maintenance (round 11): the
# update_minhash_index anti-join-and-append pattern on the posting
# table. The fixture re-ingests 1/3 of the corpus: the base index is
# built with STALE text for those docs (an appended marker), then
# bm25_index_merge folds the current versions in. The oracle derives
# per-doc stats DIRECTLY from the current corpus — the merge must equal
# a fresh rebuild, stale rows gone, no doc dropped.
@q(
    "search_bm25_index_incremental",
    f"""
    WITH {_TOKS_CTE.strip()},
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
def search_bm25_index_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .pipelines.search import bm25_index, bm25_index_merge

    d = tables.load(spark, sf_dir, "documents")
    reingest = F.col("doc_id") % 3 == 0
    stale = d.select(
        "doc_id",
        F.when(
            reingest, F.concat(F.col("text"), F.lit(" stale marker row"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    postings, doclens = bm25_index(stale, "text", "doc_id")
    delta = d.filter(reingest).select("doc_id", "text")
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


def _ivf_fixture_cells(n_cells: int = 4, dim: int = 64, spread: int = 200):
    """Deterministic integer coarse centroids at the quant=1000 scale."""
    return [
        [((5 * ci + j) % 9 - 4) * spread for j in range(dim)]
        for ci in range(n_cells)
    ]


def _ivfpq_oracle(
    coarse: list[list[int]],
    books: list[list[list[int]]],
    query_vec: list[float],
    *,
    nprobe: int = 2,
    quant: int = 1000,
    topk: int = 10,
) -> str:
    """Oracle for ivfpq_topk: the same integer arithmetic with the
    residual folded into the codebook constants — (r[i] − cent)² =
    (q[i] − (cc[i] + cent))², so each probed cell's code expressions
    shift the codebook by its centroid and the per-cell LUT is
    computed here in Python (identical literals on both sides)."""
    sub_d = len(books[0][0])
    k = len(books[0])
    ncell = len(coarse)
    qq = [int(round(x * quant)) for x in query_vec]
    cell_d = [
        (sum((qq[j] - cv) ** 2 for j, cv in enumerate(cc)), ci)
        for ci, cc in enumerate(coarse)
    ]
    probed = [ci for _, ci in sorted(cell_d)[:nprobe]]
    cell_encs = []
    for ci, cc in enumerate(coarse):
        terms = " + ".join(
            f"(q[{j + 1}] - ({cv})) * (q[{j + 1}] - ({cv}))"
            for j, cv in enumerate(cc)
        )
        cell_encs.append(f"({terms}) * {ncell} + {ci}")
    cell_expr = f"least({', '.join(cell_encs)}) % {ncell}"
    arms = []
    for ci in probed:
        cc = coarse[ci]
        rq = [qq[j] - cc[j] for j in range(len(cc))]
        code_exprs = []
        adc_terms = []
        for mi, book in enumerate(books):
            off = mi * sub_d
            encs = []
            for cj, cent in enumerate(book):
                terms = " + ".join(
                    f"(q[{off + j + 1}] - ({cc[off + j] + cv}))"
                    f" * (q[{off + j + 1}] - ({cc[off + j] + cv}))"
                    for j, cv in enumerate(cent)
                )
                encs.append(f"({terms}) * {k} + {cj}")
            code_exprs.append(f"least({', '.join(encs)}) % {k} AS code_{mi}")
            lut = [
                sum((rq[off + j] - cv) ** 2 for j, cv in enumerate(cent))
                for cent in book
            ]
            lut_sql = "[" + ", ".join(str(v) for v in lut) + "]"
            adc_terms.append(f"{lut_sql}[CAST(code_{mi} AS INT) + 1]")
        codes = ",\n               ".join(code_exprs)
        adc = "\n               + ".join(adc_terms)
        arms.append(f"""SELECT vec_id, {ci} AS cell,
               CAST({adc} AS BIGINT) AS adc_dist
        FROM (
          SELECT vec_id,
               {codes}
          FROM qv WHERE cell = {ci}
        )""")
    arm_sql = "\n        UNION ALL\n        ".join(arms)
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {quant}, 0) AS BIGINT)) AS q
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    qc AS (SELECT vec_id, q, {cell_expr} AS cell FROM qv)
    SELECT vec_id, CAST(cell AS INT) AS cell, adc_dist FROM (
        {arm_sql.replace("FROM qv WHERE", "FROM qc WHERE")}
    )
    ORDER BY adc_dist, vec_id
    LIMIT {topk}
    """


# Composed IVF-PQ search (round 11): the
# full coarse-prune + per-cell residual-ADC pipeline over the fixture
# models. The Spark plan is the 100 TB partition-pruning story (probe
# nprobe of n_cells partitions, read codes not vectors); the oracle
# folds each cell's centroid into the codebook constants so both
# engines compute identical integer scores.
@q(
    "sim_ivfpq_search",
    _ivfpq_oracle(
        _ivf_fixture_cells(), _pq_fixture_codebooks(), _PQ_QUERY_VEC
    ),
)
def sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipelines.similarity import ivfpq_topk

    emb = tables.load(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb,
        _PQ_QUERY_VEC,
        _ivf_fixture_cells(),
        _pq_fixture_codebooks(),
        nprobe=2,
        topk=10,
    )


# Gopher quality-filter rules (round 11):
# the Rae et al. §A1.1 rule set with integer-quantized ratios, the
# published starting point of MassiveText-style curation. The fixture
# injects rule-triggering content (bullet lines, ellipsis line-ends,
# '#'/'...' symbols) into 1/11 of docs so every rule's bit actually
# fires; output carries each measurement + fail_mask for audit.
@q(
    "text_gopher_quality_gate",
    r"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN
               '- bullet one' || chr(10) || '- bullet two' || chr(10)
               || 'trailing thought...' || chr(10) || text || ' ###...'
             ELSE text END AS text
      FROM documents
    ),
    w AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '\s+'),
                         x -> x <> '') AS words,
             list_filter(string_split(text, chr(10)),
                         x -> ltrim(x) <> '') AS lines
      FROM aug
    ),
    m AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CASE WHEN len(words) > 0 THEN
               (list_sum(list_transform(words, x -> length(x))) * 100)
                 // len(words) ELSE 0 END AS mean_word_len_x100,
             CASE WHEN len(words) > 0 THEN
               (((length(text) - length(replace(text, '#', '')))
                 + (length(text) - length(replace(text, '...', ''))) // 3)
                * 1000) // len(words) ELSE 0 END AS symbol_to_word_x1000,
             CASE WHEN len(words) > 0 THEN
               (len(list_filter(words,
                                x -> regexp_matches(x, '[A-Za-z]')))
                * 1000) // len(words) ELSE 0 END AS alpha_word_x1000,
             CAST(len(list_intersect(
               list_distinct(list_transform(words, x -> lower(x))),
               ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
               AS BIGINT) AS n_stop_hits,
             CASE WHEN len(lines) > 0 THEN
               (len(list_filter(lines,
                   x -> regexp_matches(ltrim(x), '^[-*•]'))) * 1000)
                 // len(lines) ELSE 0 END AS bullet_line_x1000,
             CASE WHEN len(lines) > 0 THEN
               (len(list_filter(lines,
                   x -> regexp_matches(x, '\.\.\.\s*$'))) * 1000)
                 // len(lines) ELSE 0 END AS ellipsis_line_x1000
      FROM w
    ),
    f AS (
      SELECT *,
             (CASE WHEN n_words < 50 OR n_words > 100000 THEN 1 ELSE 0 END
              + CASE WHEN mean_word_len_x100 < 300
                       OR mean_word_len_x100 > 1000 THEN 2 ELSE 0 END
              + CASE WHEN symbol_to_word_x1000 > 100 THEN 4 ELSE 0 END
              + CASE WHEN alpha_word_x1000 < 800 THEN 8 ELSE 0 END
              + CASE WHEN n_stop_hits < 2 THEN 16 ELSE 0 END
              + CASE WHEN bullet_line_x1000 > 900 THEN 32 ELSE 0 END
              + CASE WHEN ellipsis_line_x1000 > 300 THEN 64 ELSE 0 END
             ) AS fm
      FROM m
    )
    SELECT doc_id, n_words,
           CAST(mean_word_len_x100 AS BIGINT) AS mean_word_len_x100,
           CAST(symbol_to_word_x1000 AS BIGINT) AS symbol_to_word_x1000,
           CAST(alpha_word_x1000 AS BIGINT) AS alpha_word_x1000,
           n_stop_hits,
           CAST(bullet_line_x1000 AS BIGINT) AS bullet_line_x1000,
           CAST(ellipsis_line_x1000 AS BIGINT) AS ellipsis_line_x1000,
           CAST(fm AS BIGINT) AS fail_mask,
           (fm = 0) AS passes
    FROM f
    """,
)
def text_gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipelines.textstats import gopher_quality_gate

    d = tables.load(spark, sf_dir, "documents")
    inject = (
        "- bullet one\n- bullet two\ntrailing thought...\n"
    )
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit(inject), F.col("text"), F.lit(" ###...")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return gopher_quality_gate(aug, "text", "doc_id")


# CCNet perplexity bucketing (round 11):
# head/middle/tail at exact 30/35/35 score quantiles of the integer
# char-LM score — the Wenzek et al. conditioning signal. The oracle
# WRAPS the existing text_lm_quality_score oracle verbatim (imported
# from the split-out ORACLES dict) and applies the same ROUND(4)
# quantile_cont thresholds, so the two entries can never drift apart.
def _ccnet_oracle() -> str:
    from .queries_oracle_sql import ORACLES

    lm = ORACLES["text_lm_quality_score"]
    return f"""
    WITH base AS (SELECT * FROM ({lm}) q),
    thr AS (
      SELECT ROUND(quantile_cont(CAST(avg_q AS DOUBLE), 0.70), 4)
               AS thr_head,
             ROUND(quantile_cont(CAST(avg_q AS DOUBLE), 0.35), 4)
               AS thr_mid
      FROM base
    )
    SELECT b.doc_id, b.n_grams, b.avg_q, thr.thr_head, thr.thr_mid,
           CASE WHEN CAST(b.avg_q AS DOUBLE) >= thr.thr_head THEN 'head'
                WHEN CAST(b.avg_q AS DOUBLE) >= thr.thr_mid THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM base b, thr
    """


@q("pipeline_ccnet_buckets", _ccnet_oracle())
def pipeline_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipelines.textstats import ccnet_buckets

    d = tables.load(spark, sf_dir, "documents")
    return ccnet_buckets(d, "text", "doc_id")


# Per-benchmark contamination report (round 11): the breakdown curation
# teams publish next to the aggregate decontaminate stats — per
# benchmark (source here): its distinct-gram count, training docs
# sharing >= 1 gram, and distinct (doc, gram) overlap pairs. Benchmarks
# with zero hits keep their row.
@q(
    "training_contamination_report",
    """
    WITH bt AS (
      SELECT source AS benchmark,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents WHERE doc_id % 19 = 0
    ),
    bg AS (
      SELECT DISTINCT benchmark,
             md5(array_to_string(toks[i:i+2], ' ')) AS gh
      FROM bt, LATERAL (SELECT UNNEST(generate_series(1, len(toks) - 2))
                        AS i) g
      WHERE len(toks) >= 3
    ),
    sizes AS (
      SELECT benchmark, COUNT(*) AS n_bench_grams FROM bg GROUP BY benchmark
    ),
    tt AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM documents WHERE doc_id % 19 <> 0
    ),
    tg AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(toks[i:i+2], ' ')) AS gh
      FROM tt, LATERAL (SELECT UNNEST(generate_series(1, len(toks) - 2))
                        AS i) g
      WHERE len(toks) >= 3
    ),
    hits AS (SELECT tg.doc_id, bg.benchmark FROM tg JOIN bg USING (gh)),
    agg AS (
      SELECT benchmark, COUNT(DISTINCT doc_id) AS n_docs_hit,
             COUNT(*) AS n_gram_hits
      FROM hits GROUP BY benchmark
    )
    SELECT s.benchmark,
           CAST(s.n_bench_grams AS BIGINT) AS n_bench_grams,
           CAST(COALESCE(a.n_docs_hit, 0) AS BIGINT) AS n_docs_hit,
           CAST(COALESCE(a.n_gram_hits, 0) AS BIGINT) AS n_gram_hits
    FROM sizes s LEFT JOIN agg a USING (benchmark)
    """,
)
def training_contamination_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .pipelines.training import contamination_report

    d = tables.load(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 19 == 0)
    train = d.filter(F.col("doc_id") % 19 != 0)
    return contamination_report(
        train, bench, "text", "doc_id", "source", n=3
    )


# Perceptual image near-dup via dHash (round 11): image dedup joined to
# the text-dedup playbook — codec-free dHash signatures over constructed
# 16x16 PPMs (pixel gray is pure event arithmetic, 5 image classes),
# distinct-hash pre-collapse, Hamming-LSH band candidates, exact
# bit_count(xor) verify. The oracle re-derives each class's dhash
# arithmetically (grid sample = index math) and MIRRORS the banded
# candidate rule (shared-band OR-chain), so the documented banding
# recall trade can never split the engines.
@q(
    "multimodal_dhash_near_dup",
    """
    WITH e AS (SELECT event_id, event_id % 5 AS cls FROM events),
    cl AS (SELECT DISTINCT cls FROM e),
    d AS (
      SELECT cls,
             SUM(CASE WHEN ((2 * (x + 1)) * 7 + (2 * y) * 13 + cls * 31)
                        % 256
                      > ((2 * x) * 7 + (2 * y) * 13 + cls * 31) % 256
                 THEN (CAST(1 AS BIGINT) << (y * 7 + x))
                 ELSE 0 END) AS dhash
      FROM cl, range(0, 7) rx(x), range(0, 8) ry(y)
      GROUP BY cls
    ),
    sz AS (SELECT cls, COUNT(*) AS csz FROM e GROUP BY cls),
    pairs AS (
      SELECT a.cls AS ca, b.cls AS cb
      FROM d a JOIN d b ON a.cls <> b.cls
      WHERE ((a.dhash >> 0) & 16383) = ((b.dhash >> 0) & 16383)
         OR ((a.dhash >> 14) & 16383) = ((b.dhash >> 14) & 16383)
         OR ((a.dhash >> 28) & 16383) = ((b.dhash >> 28) & 16383)
         OR ((a.dhash >> 42) & 16383) = ((b.dhash >> 42) & 16383)
    ),
    vp AS (
      SELECT p.ca, p.cb FROM pairs p
      JOIN d a ON a.cls = p.ca JOIN d b ON b.cls = p.cb
      WHERE bit_count(xor(a.dhash, b.dhash)) <= 4
    ),
    crossm AS (
      SELECT vp.ca AS cls, SUM(sz.csz) AS crossmass
      FROM vp JOIN sz ON sz.cls = vp.cb GROUP BY vp.ca
    )
    SELECT e.event_id AS id, CAST(d.dhash AS BIGINT) AS dhash,
           CAST(sz.csz - 1 + COALESCE(c.crossmass, 0) AS BIGINT)
             AS n_near_dups
    FROM e JOIN d USING (cls) JOIN sz USING (cls)
    LEFT JOIN crossm c USING (cls)
    """,
)
def multimodal_dhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipelines.multimodal import dhash_images, dhash_near_dup_counts

    e = tables.load(spark, sf_dir, "events")
    header_hex = "P6\n16 16\n255\n".encode().hex().upper()
    content = F.unhex(
        F.concat(
            F.lit(header_hex),
            F.expr(
                """concat_ws('', transform(sequence(0, 255), i ->
                     repeat(lpad(hex(
                       ((i % 16) * 7 + (i div 16) * 13
                        + (event_id % 5) * 31) % 256), 2, '0'), 3)))"""
            ),
        )
    )
    media = e.select(F.col("event_id").alias("id"), content.alias("content"))
    hashes = dhash_images(media, target_partition_bytes=256 << 10)
    # bucket_cap: the 100 TB guard against a low-gradient hash pileup
    # in one band bucket (VERDICT r11) — far above this fixture's 5
    # distinct signatures, so the oracle is unaffected; ok=true filter
    # (the default) drops undecodable sentinels before banding.
    return dhash_near_dup_counts(hashes, max_hamming=4, bucket_cap=64)


# Audio near-dup via PCM energy fingerprints (round 11): the audio
# sibling of the dHash entry — 8-bit PCM WAVs with REAL payloads
# constructed from event arithmetic (4 waveform classes), decoded
# codec-free by the PCM kernel, fingerprinted as a 16-bit
# energy-envelope hash, then counted through the SAME Hamming-LSH
# machinery (dhash_near_dup_counts, 4-bit bands). The oracle re-derives
# each class's fingerprint from the window-energy arithmetic and mirrors
# the banded rule.
@q(
    "multimodal_audio_fingerprint",
    """
    WITH e AS (SELECT event_id, event_id % 4 AS cls FROM events),
    cl AS (SELECT DISTINCT cls FROM e),
    en AS (
      SELECT cls, w, SUM(abs(((i * (cls + 2)) % 32) - 16)) AS eng
      FROM cl, range(0, 17) rw(w), range(0, 256) ri(i)
      WHERE i >= (w * 256) // 17 AND i < ((w + 1) * 256) // 17
      GROUP BY cls, w
    ),
    d AS (
      SELECT a.cls,
             SUM(CASE WHEN b.eng > a.eng
                 THEN (CAST(1 AS BIGINT) << a.w) ELSE 0 END) AS afp
      FROM en a JOIN en b ON a.cls = b.cls AND b.w = a.w + 1
      WHERE a.w < 16
      GROUP BY a.cls
    ),
    sz AS (SELECT cls, COUNT(*) AS csz FROM e GROUP BY cls),
    pairs AS (
      SELECT a.cls AS ca, b.cls AS cb
      FROM d a JOIN d b ON a.cls <> b.cls
      WHERE ((a.afp >> 0) & 15) = ((b.afp >> 0) & 15)
         OR ((a.afp >> 4) & 15) = ((b.afp >> 4) & 15)
         OR ((a.afp >> 8) & 15) = ((b.afp >> 8) & 15)
         OR ((a.afp >> 12) & 15) = ((b.afp >> 12) & 15)
    ),
    vp AS (
      SELECT p.ca, p.cb FROM pairs p
      JOIN d a ON a.cls = p.ca JOIN d b ON b.cls = p.cb
      WHERE bit_count(xor(a.afp, b.afp)) <= 2
    ),
    crossm AS (
      SELECT vp.ca AS cls, SUM(sz.csz) AS crossmass
      FROM vp JOIN sz ON sz.cls = vp.cb GROUP BY vp.ca
    )
    SELECT e.event_id AS id, CAST(d.afp AS BIGINT) AS afp,
           CAST(sz.csz - 1 + COALESCE(c.crossmass, 0) AS BIGINT)
             AS n_near_dups
    FROM e JOIN d USING (cls) JOIN sz USING (cls)
    LEFT JOIN crossm c USING (cls)
    """,
)
def multimodal_audio_fingerprint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .pipelines.multimodal import audio_fingerprints, dhash_near_dup_counts

    e = tables.load(spark, sf_dir, "events")
    eid = F.col("event_id")
    one = F.lit(1).cast("long")
    wav_hex = F.concat(
        F.lit("52494646"),
        _le_hex(F.lit(36 + 256).cast("long"), 4),
        F.lit("57415645" "666D7420" "10000000" "0100"),
        _le_hex(one, 2),                       # channels = 1
        _le_hex(F.lit(8000).cast("long"), 4),  # rate
        _le_hex(F.lit(8000).cast("long"), 4),  # byte_rate
        _le_hex(one, 2),                       # block_align
        _le_hex(F.lit(8).cast("long"), 2),     # bits
        F.lit("64617461"),
        _le_hex(F.lit(256).cast("long"), 4),
        F.expr(
            """concat_ws('', transform(sequence(0, 255), i ->
                 lpad(hex(128 + ((i * ((event_id % 4) + 2)) % 32) - 16),
                      2, '0')))"""
        ),
    )
    media = e.select(eid.alias("id"), F.unhex(wav_hex).alias("content"))
    fps = audio_fingerprints(media, target_partition_bytes=256 << 10)
    # same cap + ok-filter rationale as multimodal_dhash_near_dup
    return dhash_near_dup_counts(
        fps, hash_col="afp", bits=16, n_bands=4, max_hamming=2,
        bucket_cap=64,
    )


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
    from .pipelines.training import pagerank_quantized

    e = tables.load(spark, sf_dir, "events")
    eid = F.col("event_id")
    edges = e.select(
        (eid % 97).cast("long").alias("src"),
        ((eid * 7 + 13) % 97).cast("long").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return pagerank_quantized(edges, "src", "dst", iters=2)


# Corpus snapshot diff (round 11): the
# per-ingest-cycle audit that produces the delta the incremental
# index-maintenance family consumes. Fixture: old = docs with 1/3
# carrying stale text and 1/7 missing; new = current docs with 1/5
# extra ids — every status arm populated.
@q(
    "pipeline_corpus_diff",
    """
    WITH old AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 3 = 0
                 THEN text || ' stale' ELSE text END) AS old_hash
      FROM documents WHERE doc_id % 7 <> 0
    ),
    new AS (
      SELECT doc_id, md5(text) AS new_hash FROM documents
      UNION ALL
      SELECT doc_id + 1000000, md5(text || ' v2') FROM documents
      WHERE doc_id % 5 = 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.old_hash = n.new_hash THEN 'unchanged'
                ELSE 'changed' END AS status,
           o.old_hash, n.new_hash
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    """,
)
def pipeline_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipelines.curation import corpus_diff

    d = tables.load(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" stale"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    new = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" v2")).alias("text"),
        )
    )
    return corpus_diff(old, new, "doc_id", "text")


# Intra-document repeated-line removal (round 11): the C4 within-page
# boilerplate cut, complementing the corpus-level passage/span family.
# Fixture injects duplicated lines (nav-row style) around the original
# text for 1/6 of docs.
@q(
    "curation_dedup_lines_within_doc",
    """
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 6 = 0 THEN
               'nav row' || chr(10) || text || chr(10) || 'nav row'
               || chr(10) || '  nav row ' || chr(10) || text
             ELSE text END AS text
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             string_split(text, chr(10)) AS ls,
             list_transform(string_split(text, chr(10)),
                            x -> trim(x)) AS norm
      FROM aug
    ),
    k AS (
      SELECT doc_id, ls, norm,
             list_filter(ls, (x, i) ->
               list_position(norm, norm[i]) = i) AS kept
      FROM s
    )
    SELECT doc_id,
           array_to_string(kept, chr(10)) AS cleaned_text,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(ls) - len(kept) AS BIGINT) AS n_removed_lines
    FROM k
    """,
)
def curation_dedup_lines_within_doc(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .pipelines.curation import dedup_lines_within_doc

    d = tables.load(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(
                F.lit("nav row\n"), F.col("text"), F.lit("\nnav row"),
                F.lit("\n  nav row \n"), F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dedup_lines_within_doc(aug, "text", "doc_id")


# T-layer incremental BM25 index, STREAMED (round 11): the
# bm25_index_merge deployment shape — micro-batches fold into lifetime
# (postings, doclens) state inside foreachBatch with the passage-counts
# checkpoint-release discipline. The fixture re-ingests 1/4 of docs in a
# second arbitrary batch with IDENTICAL text, so the result is
# micro-batch-ORDER independent while a stale-row leak (merge failing to
# anti-join the old rows out) doubles tf/n_terms and hash-mismatches.
# Oracle = per-doc stats of a fresh batch build over the distinct
# corpus.
@q(
    "stream_bm25_index_incremental",
    f"""
    WITH {_TOKS_CTE.strip()},
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
def stream_bm25_index_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    from .pipelines.search import bm25_index_merge

    d = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    reingested = d.filter(F.col("doc_id") % 4 == 0)
    src = tempfile.mkdtemp(prefix="stream_bm25_idx_src_")
    try:
        d.unionByName(reingested).repartition(4).write.mode(
            "overwrite"
        ).parquet(src)
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        state = {
            "postings": spark.createDataFrame(
                [], "doc_id long, token string, tf long"
            ),
            "doclens": spark.createDataFrame([], "doc_id long, dl int"),
        }

        def fold(batch_df, batch_id):
            from .pipelines.similarity import _free_local_checkpoint

            # one row per id per delta (the bm25_index_merge contract);
            # re-ingested twins are byte-identical so any survivor is
            # the same version
            delta = batch_df.dropDuplicates(["doc_id"])
            superseded = state.get("_ckpted")
            p, dl = bm25_index_merge(
                state["postings"], state["doclens"], delta, "text", "doc_id"
            )
            state["postings"] = p.localCheckpoint()
            state["doclens"] = dl.localCheckpoint()
            state["_ckpted"] = (state["postings"], state["doclens"])
            if superseded is not None:
                for f in superseded:
                    _free_local_checkpoint(f)

        qname = f"stream_bm25_idx_{uuid.uuid4().hex[:8]}"
        query = (
            stream.writeStream.foreachBatch(fold)
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        stats = state["postings"].groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.max("tf").cast("long").alias("max_tf"),
        )
        return state["doclens"].join(stats, "doc_id").select(
            "doc_id",
            F.col("dl").cast("long").alias("dl"),
            "n_terms",
            "max_tf",
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)


# Half-life-decayed trending (round 11):
# the cliff-free sibling of the max-anchored trendingFeed window —
# per event-type engagement decays by 2^-(age/half_life) from the
# corpus max timestamp, all integer (cents-quantized values, shifted
# contributions), so ranks are bit-exact cross-engine.
@q(
    "feeds_decayed_trending",
    """
    WITH a AS (SELECT MAX(ts) AS mx FROM events),
    c AS (
      SELECT event_type,
             (CAST(ROUND(value * 100, 0) AS BIGINT) * 1000000)
               >> LEAST(CAST(FLOOR(date_diff('day', CAST(ts AS DATE),
                                             CAST(a.mx AS DATE)) / 7.0)
                             AS INT), 62) AS cq
      FROM events, a
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cq) AS BIGINT) AS score_q
    FROM c GROUP BY event_type
    """,
)
def feeds_decayed_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.feeds import decayed_trending

    e = tables.load(spark, sf_dir, "events")
    return decayed_trending(
        e, "ts", "event_type", value_col="value", half_life_days=7
    )
