"""Multimodal catalog entries — the binary-column pipeline under the
driver's per-round gate.

Round 7 these were all rows-only (stub payloads from ``documents.text``
bytes, fake-path decode).  Round 8 converts two of them to FULL oracle
rows via the derived-invariant playbook (the same move that oracled the
HLL sketches): the query PLANTS genuine containers — a BMP header / a
RIFF-WAVE 16-bit PCM file — whose content is a deterministic
SQL-expressible function of the ``documents`` table, decodes them with
the real stdlib codecs (struct header parse / ``wave`` module) inside
the Arrow batch stage, and emits EXACT INTEGER decode invariants that
DuckDB re-derives from the same formulas without ever touching a byte.
A wrong container build, a wrong parse, or a wrong batch shape all
break the hash.  Round 9 closes the set: the video frame-sampler gets
the same treatment via planted RIFF/AVI containers walked by the
dependency-free demuxer in operators/multimodal.py:parse_avi — no
rows-only multimodal entries remain.

Byte-level identity is pinned too: both engines hash the canonical hex
of the payload (DuckDB's sha256 is VARCHAR-only, so the digest is over
``hex(payload)`` rather than the raw blob on both sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cumulus_etl_spark.operators import multimodal as M
from cumulus_etl_spark.plans.catalog import register
from cumulus_etl_spark.sources import table


def _le_hex(expr: str, nbytes: int) -> str:
    """SQL for the little-endian hex of an integer expression — identical
    text runs in Spark SQL and DuckDB (hex() is uppercase-minimal in
    both, lpad/substring agree)."""
    h = f"lpad(hex({expr}), {2 * nbytes}, '0')"
    pairs = ", ".join(
        f"substring({h}, {2 * i - 1}, 2)" for i in reversed(range(1, nbytes + 1))
    )
    return f"concat({pairs})"


# ---- image: planted BMP headers, real struct parse ----

_BMP_W = "16 + length(text) % 240"
_BMP_H = "16 + (length(text) * 7) % 180"
# 26 bytes: 'BM' + 12 don't-care file-header bytes + DIB header size 40
# + int32-LE width + int32-LE height — exactly the prefix
# parse_image_header() validates and reads.
_BMP_HEX = (
    f"concat('424D', repeat('00', 12), {_le_hex('40', 4)}, "
    f"{_le_hex(_BMP_W, 4)}, {_le_hex(_BMP_H, 4)})"
)

_IMAGE_ORACLE = f"""
WITH b AS (
  SELECT doc_id,
         CAST({_BMP_W} AS BIGINT) AS width,
         CAST({_BMP_H} AS BIGINT) AS height,
         unhex({_BMP_HEX}) AS payload
  FROM documents
)
SELECT doc_id, width, height,
       CAST(3 AS BIGINT) AS channels,
       CAST(octet_length(payload) AS BIGINT) AS byte_size,
       sha256(hex(payload)) AS payload_digest
FROM b
ORDER BY doc_id
"""


@register("multimodal_image_header_invariants", _IMAGE_ORACLE, tags=("multimodal",))
def multimodal_image_header_invariants(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Plant a real BMP container per document (dims are a deterministic
    function of the text length), run it through pack→decode, and emit
    the decoded dimensions + byte size + payload digest. The decode is
    the genuine dependency-free header parse inside mapInPandas
    (operators/multimodal.py parse_image_header); the oracle re-derives
    every value from the planting formulas — full hash row for what was
    a rows-only entry (round-7 verdict ask 2)."""
    d = table(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.expr(f"unhex({_BMP_HEX})").alias("payload"),
        F.lit("image/bmp").alias("ct"),
    )
    decoded = M.decode_images(M.pack_media(planted, "payload", "ct"))
    return decoded.select(
        "doc_id",
        F.col("image_info.width").cast("bigint").alias("width"),
        F.col("image_info.height").cast("bigint").alias("height"),
        F.col("image_info.channels").cast("bigint").alias("channels"),
        F.col("media_meta.byte_size").alias("byte_size"),
        F.sha2(F.hex("payload"), 256).alias("payload_digest"),
    ).orderBy("doc_id")


# ---- audio: planted 16-bit PCM WAV, real stdlib-wave decode ----

_WAV_N = "50 + length(text) % 100"
# two's-complement-unsigned sample value at 1-based index i
_WAV_U = "(31 * length(text) + 7919 * i) % 65536"
_WAV_SAMPLES_HEX = (
    f"concat_ws('', transform(sequence(1, {_WAV_N}), i -> "
    f"concat(substring(lpad(hex({_WAV_U}), 4, '0'), 3, 2), "
    f"substring(lpad(hex({_WAV_U}), 4, '0'), 1, 2))))"
)
# canonical RIFF/WAVE: PCM, mono, 8 kHz, 16-bit
_WAV_HEX = (
    f"concat('52494646', {_le_hex(f'36 + 2 * ({_WAV_N})', 4)}, "
    f"'57415645', '666D7420', {_le_hex('16', 4)}, {_le_hex('1', 2)}, "
    f"{_le_hex('1', 2)}, {_le_hex('8000', 4)}, {_le_hex('16000', 4)}, "
    f"{_le_hex('2', 2)}, {_le_hex('16', 2)}, '64617461', "
    f"{_le_hex(f'2 * ({_WAV_N})', 4)}, {_WAV_SAMPLES_HEX})"
)

_AUDIO_ORACLE = f"""
WITH d AS (
  SELECT doc_id, CAST(length(text) AS INTEGER) AS L,
         CAST({_WAV_N} AS INTEGER) AS n
  FROM documents
),
idx AS (SELECT doc_id, L, n, unnest(generate_series(1, n)) AS i FROM d),
u AS (SELECT doc_id, n, i, (31 * L + 7919 * i) % 65536 AS u FROM idx),
s AS (
  SELECT doc_id, n, i, u,
         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
  FROM u
),
lagged AS (
  SELECT doc_id, n, i, u, s,
         lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
  FROM s
),
agg AS (
  SELECT doc_id, any_value(n) AS n,
    string_agg(
      concat(substring(lpad(hex(u), 4, '0'), 3, 2),
             substring(lpad(hex(u), 4, '0'), 1, 2)), '' ORDER BY i
    ) AS shex,
    CAST(count(*) AS BIGINT) AS n_samples,
    CAST(sum(s * s) AS BIGINT) AS sum_sq,
    CAST(max(abs(s)) AS BIGINT) AS peak_abs,
    CAST(sum(CASE WHEN prev IS NOT NULL AND ((s < 0) != (prev < 0))
             THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
  FROM lagged GROUP BY doc_id
)
SELECT doc_id, n_samples, sum_sq, peak_abs, zero_crossings,
  sha256(hex(unhex(concat(
    '52494646', {_le_hex("36 + 2 * n", 4)}, '57415645', '666D7420',
    {_le_hex("16", 4)}, {_le_hex("1", 2)}, {_le_hex("1", 2)},
    {_le_hex("8000", 4)}, {_le_hex("16000", 4)}, {_le_hex("2", 2)},
    {_le_hex("16", 2)}, '64617461', {_le_hex("2 * n", 4)}, shex
  )))) AS payload_digest
FROM agg
ORDER BY doc_id
"""


@register("multimodal_audio_pcm_invariants", _AUDIO_ORACLE, tags=("multimodal",))
def multimodal_audio_pcm_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plant a genuine 16-bit mono RIFF/WAVE file per document (sample
    values are a deterministic integer recurrence in the text length),
    decode it with the stdlib ``wave`` codec inside mapInPandas, and
    emit exact-integer PCM invariants (count / Σs² / peak / sign
    changes) plus the payload digest. The oracle replays the sample
    formula and the container bytes without any codec — a wrong RIFF
    header, endianness slip, or dropped frame all break the hash."""
    d = table(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.expr(f"unhex({_WAV_HEX})").alias("payload"),
        F.lit("audio/wav").alias("ct"),
    )
    stats = M.audio_pcm_stats(M.pack_media(planted, "payload", "ct"))
    return stats.select(
        "doc_id",
        F.col("pcm_stats.n_samples").alias("n_samples"),
        F.col("pcm_stats.sum_sq").alias("sum_sq"),
        F.col("pcm_stats.peak_abs").alias("peak_abs"),
        F.col("pcm_stats.zero_crossings").alias("zero_crossings"),
        F.sha2(F.hex("payload"), 256).alias("payload_digest"),
    ).orderBy("doc_id")


# ---- video: planted RIFF/AVI, real dependency-free demux ----

# frames per video (3..8) and per-frame chunk sizes (8..32 bytes, even —
# no RIFF pad byte in the planted files; parse_avi handles padding anyway)
_AVI_N = "3 + length(text) % 6"
_AVI_W = "16 + length(text) % 304"
_AVI_H = "16 + (length(text) * 5) % 224"
_AVI_LEN_I = "8 * (1 + (length(text) + i) % 4)"
# Knuth-hash 32-bit word j of frame i
_AVI_WORD = "(2654435761 * (length(text) + 1000 * i + j)) % 4294967296"
# all movi sub-chunks: '00db' fourcc + LE size + data words
_AVI_FRAMES_HEX = (
    f"concat_ws('', transform(sequence(1, {_AVI_N}), i -> "
    f"concat('30306462', {_le_hex(_AVI_LEN_I, 4)}, "
    f"concat_ws('', transform(sequence(1, 2 * (1 + (length(text) + i) % 4)), "
    f"j -> {_le_hex(_AVI_WORD, 4)})))))"
)
_AVI_SUM_CHUNKS = (
    f"aggregate(sequence(1, {_AVI_N}), cast(0 as bigint), "
    f"(acc, i) -> acc + 8 + {_AVI_LEN_I})"
)
_AVI_MOVI_DATA = f"(4 + {_AVI_SUM_CHUNKS})"  # 'movi' tag + chunks
# 56-byte avih: usec/frame=33333 (30fps), totalframes, streams=1, W, H
_AVI_AVIH = (
    f"concat({_le_hex('33333', 4)}, {_le_hex('0', 4)}, {_le_hex('0', 4)}, "
    f"{_le_hex('0', 4)}, {_le_hex(_AVI_N, 4)}, {_le_hex('0', 4)}, "
    f"{_le_hex('1', 4)}, {_le_hex('0', 4)}, {_le_hex(_AVI_W, 4)}, "
    f"{_le_hex(_AVI_H, 4)}, repeat('00', 16))"
)
# RIFF('AVI ' + LIST hdrl(avih) + LIST movi(frames)); hdrl LIST data is
# 'hdrl'+avih chunk = 4+8+56 = 68 bytes, so movi's LIST header lands at
# byte 88 and the first frame's data at byte 108.
_AVI_HEX = (
    f"concat('52494646', {_le_hex(f'88 + {_AVI_MOVI_DATA}', 4)}, '41564920', "
    f"'4C495354', {_le_hex('68', 4)}, '6864726C', "
    f"'61766968', {_le_hex('56', 4)}, {_AVI_AVIH}, "
    f"'4C495354', {_le_hex(_AVI_MOVI_DATA, 4)}, '6D6F7669', {_AVI_FRAMES_HEX})"
)

_FRAME_ORACLE = f"""
WITH d AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
         CAST({_AVI_N} AS BIGINT) AS n
  FROM documents
),
f AS (SELECT doc_id, L, n, unnest(generate_series(1, n)) AS i FROM d),
fl AS (SELECT doc_id, L, n, i, 8 * (1 + (L + i) % 4) AS len FROM f),
off AS (
  SELECT doc_id, L, n, i, len,
         100 + COALESCE(SUM(8 + len) OVER (
           PARTITION BY doc_id ORDER BY i
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 8
         AS data_off
  FROM fl
),
words AS (
  SELECT doc_id, L, i, len, unnest(generate_series(1, len // 4)) AS j
  FROM fl
),
fh AS (
  SELECT doc_id, i,
         string_agg({_le_hex('(2654435761 * (L + 1000 * i + j)) % 4294967296', 4)},
                    '' ORDER BY j) AS hx
  FROM words GROUP BY doc_id, i
),
agg AS (
  SELECT o.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_frames,
         CAST(any_value(o.n) AS BIGINT) AS declared_frames,
         CAST(SUM(o.len) AS BIGINT) AS total_frame_bytes,
         CAST(MIN(o.data_off) AS BIGINT) AS first_frame_offset,
         CAST(MAX(o.data_off) AS BIGINT) AS last_frame_offset,
         string_agg(fh.hx, '' ORDER BY o.i) AS all_hex
  FROM off o JOIN fh ON o.doc_id = fh.doc_id AND o.i = fh.i
  GROUP BY o.doc_id
)
SELECT a.doc_id, a.n_frames, a.declared_frames,
       CAST(16 + d.L % 304 AS BIGINT) AS width,
       CAST(16 + (d.L * 5) % 224 AS BIGINT) AS height,
       a.total_frame_bytes, a.first_frame_offset, a.last_frame_offset,
       sha256(hex(unhex(a.all_hex))) AS frames_digest
FROM agg a JOIN d ON a.doc_id = d.doc_id
ORDER BY a.doc_id
"""


@register("multimodal_frame_sample", _FRAME_ORACLE, tags=("multimodal",))
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling with a REAL demux, fully oracled (round-8
    verdict ask 4 — the last rows-only multimodal entry): plant a genuine
    RIFF/AVI container per document ('hdrl' LIST with a 56-byte avih
    main header + 'movi' LIST with 3-8 '00db' frame chunks, every byte a
    deterministic function of the text length), demux it with the
    dependency-free container walk in operators/multimodal.py:parse_avi
    inside mapInPandas, and emit exact integer invariants per video:
    demuxed frame count vs the avih-declared count, avih dimensions,
    total frame bytes, the DEMUXER-DISCOVERED byte offsets of the first
    and last frames (the oracle recomputes them arithmetically from the
    RIFF layout — a wrong chunk walk, pad-byte slip, or header size
    error breaks the match), and a digest over the concatenated frame
    payloads in stream order. The per-doc collect_list is bounded at 8
    frames; the demux fan-out itself is the scale path (one Arrow batch
    row per frame, no driver involvement)."""
    d = table(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.expr(f"unhex({_AVI_HEX})").alias("payload"),
        F.lit("video/avi").alias("ct"),
    )
    frames = M.sample_video_frames(
        M.pack_media(planted, "payload", "ct"), every_n_seconds=0.0
    )
    per_video = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.min("video_info.declared_frames").cast("bigint").alias("declared_frames"),
        F.min("video_info.width").cast("bigint").alias("width"),
        F.min("video_info.height").cast("bigint").alias("height"),
        F.sum(F.length("frame_payload")).cast("bigint").alias("total_frame_bytes"),
        F.min("frame_offset").alias("first_frame_offset"),
        F.max("frame_offset").alias("last_frame_offset"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(frame_index AS i,"
            " hex(frame_payload) AS hx))), __x -> __x.hx), '')"
        ).alias("all_hex"),
    )
    return per_video.select(
        "doc_id", "n_frames", "declared_frames", "width", "height",
        "total_frame_bytes", "first_frame_offset", "last_frame_offset",
        F.sha2("all_hex", 256).alias("frames_digest"),
    ).orderBy("doc_id")
