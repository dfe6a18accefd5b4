"""Multimodal entries: PNG/WAV/MP4 header probes, dHash image near-dups
and audio fingerprints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..pipelines.multimodal import (
    audio_fingerprints,
    dhash_images,
    dhash_near_dup_counts,
    probe_av,
    probe_media,
)
from . import q


# The REAL multimodal dimension probe, oracle-checked: valid PNG
# headers (signature + IHDR with big-endian dims) are CONSTRUCTED from
# event arithmetic via unhex, shipped as a binary column through the
# Arrow mapInPandas stage, and parsed by the actual pure-header kernel
# (multimodal._header_dims — the same code a production media scan
# runs). The oracle needs no blobs at all: the expected dimensions are
# the same arithmetic, so a parser bug, an Arrow binary-threading bug,
# or a byte-order slip all surface as a hash mismatch. (The probe was
# previously pytest-only; the binary column comes from events because
# the driver testdata ships no media blobs.)
@q(
    "multimodal_png_probe",
    """
    SELECT event_id AS id,
           CAST(16 + event_id % 512 AS INTEGER) AS width,
           CAST(16 + event_id % 256 AS INTEGER) AS height,
           1 AS n_frames,
           24 AS n_bytes
    FROM events
    """,
)
def multimodal_png_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "events")
    eid = F.col("event_id")
    w = (eid % 512 + 16).cast("long")
    h = (eid % 256 + 16).cast("long")
    content = F.unhex(
        F.concat(
            # PNG signature + IHDR length(13) + 'IHDR'
            F.lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
            F.lpad(F.hex(w), 8, "0"),
            F.lpad(F.hex(h), 8, "0"),
        )
    )
    media = e.select(
        eid.alias("id"),
        content.alias("content"),
        F.lit("image/png").alias("mime"),
    )
    out = probe_media(media, target_partition_bytes=64 << 10)
    return out.select(
        "id",
        "width",
        "height",
        "n_frames",
        F.col("n_bytes").cast("int").alias("n_bytes"),
    )


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
