"""Multimodal queries: REAL image decode inside Spark (SURVEY §7.7).

The payload column is a genuine binary PPM (P6) image synthesized
deterministically per document — netpbm header + a 192-byte raster of
chained sha256 blocks over the text — entirely with native Column
expressions, then decoded by the pure-Python codec
(``multimodal/codecs.py``) inside Arrow-batched ``mapInPandas``
stages (``multimodal/decode.py``).

``image_decode_stats`` is FULLY oracle-verified: DuckDB re-derives the
raster bytes from the sha256 hex strings (two hex chars per byte) and
recomputes the pixel mean — so the oracle checks that the Spark side
actually parsed the PPM header and raster correctly, byte for byte.
``image_resize_feature_pipeline`` (the full decode → resize → feature
chain) is oracle-verified too since round 11: the pipeline emits the
feature vector's EXACT INTEGER numerators (per-channel byte sum +
sum-of-squares over the resized raster, luminance histogram counts),
which determine the float vector bijectively — mean = S/(16*255),
std = sqrt(16*SS - S^2)/(16*255), histogram fraction = h/16 — so the
zero-float surface hash-verifies the whole chain while
tests/test_multimodal.py pins the float-vector equivalence.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ecom_churn_lakehouse_spark.registry import register
from ecom_churn_lakehouse_spark.sources import load_table
from ecom_churn_lakehouse_spark.streaming.replay import ranges, replay, write_once

#: 8x8 RGB → 192 raster bytes = 6 sha256 blocks of 32 bytes.
_W = _H = 8
_N_BLOCKS = 6
_PPM_HEADER = f"P6\n{_W} {_H}\n255\n".encode()


def _payload_col():
    """A real binary PPM payload: header + chained-sha raster."""
    blocks = [
        F.unhex(F.sha2(F.concat(F.col("text"), F.lit(str(i))), 256))
        for i in range(_N_BLOCKS)
    ]
    return F.concat(F.lit(_PPM_HEADER), *blocks)


def _payloads(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", _payload_col().alias("payload"))


_DECODE_SQL = f"""
WITH payload AS (
    SELECT doc_id,
           {" || ".join(f"sha256(text || '{i}')" for i in range(_N_BLOCKS))}
               AS hexr
    FROM documents
),
bytes AS (
    SELECT doc_id,
           CAST(('0x' || substr(hexr, i * 2 - 1, 2)) AS INTEGER) AS b
    FROM payload, unnest(range(1, {_W * _H * 3 + 1})) AS t(i)
)
SELECT doc_id,
       CAST({_W} AS INTEGER) AS width,
       CAST({_H} AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       ROUND(AVG(b) / 255.0, 6) AS mean_pixel
FROM bytes
GROUP BY doc_id
"""


@register(
    "image_decode_stats",
    _DECODE_SQL,
    doc="REAL image decode, oracle-verified: each doc carries a genuine "
    "binary PPM payload (header + 192-byte sha-derived raster built "
    "with native expressions); the pure-Python codec "
    "(multimodal/codecs.py::decode_ppm) parses header and raster "
    "inside Arrow-batched mapInPandas and emits dimensions + pixel "
    "mean. The DuckDB oracle re-derives the same bytes from sha256 "
    "hex pairs — a wrong header parse, offset, or channel count "
    "hash-mismatches. Scale: decode is map-only, embarrassingly "
    "parallel, payload bytes never leave the executors.",
)
def q_image_decode_stats(spark, sf_dir):
    from ecom_churn_lakehouse_spark.multimodal.decode import decode_images

    decoded = decode_images(_payloads(spark, sf_dir), decoder="image")
    return decoded.select(
        "doc_id", "width", "height", "n_channels", "mean_pixel"
    )


# ----------------------------------------- NN-resize, fully oracle-verified

#: Resize target and derived constants for the oracle twin. The
#: re-encoded 4x4 PPM payload is "P6\n4 4\n255\n" (11 bytes) + 48
#: raster bytes.
_RW = _RH = 4
_R_HDR_LEN = len(f"P6\n{_RW} {_RH}\n255\n".encode())
_R_BYTES = _RW * _RH * 3

#: DuckDB oracle: regenerate the source raster from the sha256 hex
#: blocks, then apply the SAME floor index mapping the codec uses —
#: output pixel (x, y) samples source pixel (x*w_in//w_out,
#: y*h_in//h_out) (codecs.py::resize_nearest), so source byte index
#: for output raster byte i is ((y*{_H}//{_RH})*{_W} + x*{_W}//{_RW})*3 + c
#: with y = i//{_RW * 3}, x = (i%{_RW * 3})//3, c = i%3.
_NN_RESIZE_SQL = f"""
WITH payload AS (
    SELECT doc_id,
           {" || ".join(f"sha256(text || '{i}')" for i in range(_N_BLOCKS))}
               AS hexr
    FROM documents
),
pix AS (
    SELECT doc_id, hexr, i,
           CAST(i // {_RW * 3} AS BIGINT) AS y,
           CAST((i % {_RW * 3}) // 3 AS BIGINT) AS x,
           CAST(i % 3 AS BIGINT) AS c
    FROM payload, unnest(range(0, {_R_BYTES})) AS t(i)
)
SELECT doc_id, y, x, c,
       CAST(('0x' || substr(hexr,
               ((y * {_H} // {_RH}) * {_W} + x * {_W} // {_RW}) * 6
                   + c * 2 + 1, 2)) AS INTEGER) AS v
FROM pix
ORDER BY doc_id, y, x, c
"""


@register(
    "image_nn_resize_pixels",
    _NN_RESIZE_SQL,
    doc="Nearest-neighbor image resize with a FULL hash-matching "
    "oracle (VERDICT r7 directive #5 — closing the repo's last "
    "rows-only batch entry class): the REAL codec path (PPM decode "
    f"-> resize_nearest to {_RW}x{_RH} -> PPM re-encode inside "
    "Arrow mapInPandas, multimodal/decode.py::resize_images) emits "
    "its resized raster one byte per row via native "
    "substring/hex/conv expressions, and DuckDB re-derives every "
    "byte from the sha256 source blocks with the identical integer "
    "floor mapping src_x = x*w_in//w_out — a wrong header offset, "
    "index order, or sampling grid hash-mismatches. The bilinear-"
    "free NN variant is exactly the resize a dedup/thumbnail "
    "pipeline wants reproducible across engines. Scale: map-only "
    "(decode+resize per payload, then a bounded 48-way Generate); "
    "bytes never leave the executors until the 48-rows/doc "
    "projection.",
)
def q_image_nn_resize_pixels(spark, sf_dir):
    from ecom_churn_lakehouse_spark.multimodal.decode import resize_images

    resized = resize_images(
        _payloads(spark, sf_dir),
        target_width=_RW,
        target_height=_RH,
        resizer="nearest",
    )
    exploded = resized.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_R_BYTES - 1))).alias("i"),
        "payload",
    )
    return (
        exploded.select(
            "doc_id",
            (F.col("i") / (_RW * 3)).cast("long").alias("y"),
            ((F.col("i") % (_RW * 3)) / 3).cast("long").alias("x"),
            (F.col("i") % 3).cast("long").alias("c"),
            F.expr(
                f"CAST(conv(hex(substring(payload, {_R_HDR_LEN} + 1 + i, 1)),"
                " 16, 10) AS INTEGER)"
            ).alias("v"),
        )
        .orderBy("doc_id", "y", "x", "c")
    )


# ------------------ full decode -> resize -> feature pipeline, oracled

#: Resized raster is 4x4 RGB = 16 pixels; the pixel feature vector
#: (codecs.py::pixel_features) has dim 14: 3 x (mean, std) + 8
#: luminance-histogram bins.
_N_RPX = _RW * _RH

#: DuckDB: channel byte of resized pixel p (0..15). Source pixel of
#: output (y, x) is (y*{_H}//{_RH}, x*{_W}//{_RW}) = (2y, 2x) at the
#: 8->4 shrink, so the source raster byte is ((2*(p//4))*{_W} +
#: 2*(p%4))*3 + c and the 1-based hex offset doubles it.
def _rpx_byte_sql(c: int) -> str:
    return (
        "CAST(('0x' || substr(hexr, "
        f"((p // {_RW} * 2) * {_W} + (p % {_RW}) * 2) * 6 + {c * 2} + 1, 2)) "
        "AS INTEGER)"
    )


_LUM_HIST_SQL = ",\n       ".join(
    f"CAST(SUM(CASE WHEN lum_bin = {k} THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS lum_h{k}"
    for k in range(8)
)


_RESIZE_FEATURES_SQL = f"""
WITH payload AS (
    SELECT doc_id,
           {" || ".join(f"sha256(text || '{i}')" for i in range(_N_BLOCKS))}
               AS hexr
    FROM documents
),
px AS (
    SELECT doc_id,
           {_rpx_byte_sql(0)} AS r,
           {_rpx_byte_sql(1)} AS g,
           {_rpx_byte_sql(2)} AS b
    FROM payload, unnest(range(0, {_N_RPX})) AS t(p)
),
binned AS (
    SELECT doc_id, r, g, b,
           LEAST((299 * r + 587 * g + 114 * b) // 1000 // 32, 7) AS lum_bin
    FROM px
)
SELECT doc_id,
       CAST(14 AS INTEGER) AS feature_dim,
       CAST(SUM(r) AS BIGINT) AS r_sum,
       CAST(SUM(r * r) AS BIGINT) AS r_sumsq,
       CAST(SUM(g) AS BIGINT) AS g_sum,
       CAST(SUM(g * g) AS BIGINT) AS g_sumsq,
       CAST(SUM(b) AS BIGINT) AS b_sum,
       CAST(SUM(b * b) AS BIGINT) AS b_sumsq,
       {_LUM_HIST_SQL}
FROM binned
GROUP BY doc_id
"""


@register(
    "image_resize_feature_pipeline",
    _RESIZE_FEATURES_SQL,
    doc="Full multimodal pipeline on real bytes, ORACLE-VERIFIED end "
    "to end (round 11 — closing the registry's last rows-only "
    "entry): PPM decode -> nearest-neighbor resize to 4x4 -> "
    "re-encode (the REAL codec path inside Arrow mapInPandas, "
    "multimodal/decode.py::resize_images) -> pixel-domain feature "
    "NUMERATORS extracted from the resized payload with native "
    "substring/hex/conv expressions. The emitted row is the exact "
    "integer skeleton of codecs.py::pixel_features' dim-14 float "
    "vector: per-channel byte sum + sum-of-squares over the 16 "
    "resized pixels (mean = S/(16*255), std = sqrt(16*SS - S^2)/"
    "(16*255)) and the 8-bin luminance histogram counts (fraction = "
    "h/16; bin = min((299R+587G+114B)//1000 >> 5, 7), exactly the "
    "codec's binning since trunc(n/1000.0) == n//1000 for n <= "
    "255000). The DuckDB oracle re-derives every resized byte from "
    "the sha256 source blocks with the identical floor sampling grid "
    "— a wrong resize mapping, header offset, channel interleave, "
    "luma weight, or bin edge hash-fails; "
    "tests/test_multimodal.py::test_resize_feature_numerators_match_"
    "pixel_features pins the integer-row -> float-vector equivalence. "
    "Scale: map-only decode+resize, one bounded 16-way Generate, one "
    "map-side-combinable agg; payload bytes never leave the "
    "executors.",
)
def q_image_resize_feature_pipeline(spark, sf_dir):
    from ecom_churn_lakehouse_spark.multimodal.decode import resize_images

    # r11 ADVICE: fail LOUDLY on a failed resize instead of silently
    # filtering — the oracle emits a row per document, so a dropped
    # row would only ever surface as an unexplained count/hash
    # mismatch. The check rides the payload expression itself (can't
    # be pruned), so a decode regression names its doc_id directly.
    resized = resize_images(
        _payloads(spark, sf_dir),
        target_width=_RW,
        target_height=_RH,
        resizer="nearest",
    ).withColumn(
        "payload",
        F.expr(
            "IF(resize_ok, payload, raise_error(concat("
            "'image_resize_feature_pipeline: resize failed for doc_id=', "
            "CAST(doc_id AS STRING))))"
        ),
    )
    px = resized.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_N_RPX - 1))).alias("p"),
        "payload",
    ).select(
        "doc_id",
        *[
            F.expr(
                f"CAST(conv(hex(substring(payload, "
                f"{_R_HDR_LEN} + 1 + p * 3 + {c}, 1)), 16, 10) AS BIGINT)"
            ).alias(ch)
            for c, ch in enumerate(("r", "g", "b"))
        ],
    )
    lum_bin = F.least(
        F.expr("(299 * r + 587 * g + 114 * b) DIV 1000 DIV 32"), F.lit(7)
    )
    aggs = []
    for ch in ("r", "g", "b"):
        aggs.append(F.sum(ch).cast("long").alias(f"{ch}_sum"))
        aggs.append(
            F.sum(F.col(ch) * F.col(ch)).cast("long").alias(f"{ch}_sumsq")
        )
    aggs.extend(
        F.sum(F.when(lum_bin == k, 1).otherwise(0))
        .cast("long")
        .alias(f"lum_h{k}")
        for k in range(8)
    )
    return px.groupBy("doc_id").agg(*aggs).select(
        "doc_id",
        F.lit(14).cast("int").alias("feature_dim"),
        *[
            c
            for ch in ("r", "g", "b")
            for c in (f"{ch}_sum", f"{ch}_sumsq")
        ],
        *[f"lum_h{k}" for k in range(8)],
    )


# ------------------------------------------------------------- audio

#: 64 mono 16-bit frames = 128 PCM bytes = 4 sha256 blocks.
_N_FRAMES = 64
_SAMPLE_RATE = 16000
_WAV_BLOCKS = 4


def _wav_header() -> bytes:
    import struct

    n_bytes = _N_FRAMES * 2
    fmt = struct.pack("<HHIIHH", 1, 1, _SAMPLE_RATE, _SAMPLE_RATE * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + n_bytes)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", n_bytes)
    )


def _wav_payloads(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    blocks = [
        F.unhex(F.sha2(F.concat(F.col("text"), F.lit(f"wav{i}")), 256))
        for i in range(_WAV_BLOCKS)
    ]
    return docs.select(
        "doc_id", F.concat(F.lit(_wav_header()), *blocks).alias("payload")
    )


_AUDIO_SQL = f"""
WITH payload AS (
    SELECT doc_id,
           {" || ".join(f"sha256(text || 'wav{i}')" for i in range(_WAV_BLOCKS))}
               AS hexr
    FROM documents
),
samples AS (
    SELECT doc_id,
           CAST(('0x' || substr(hexr, i * 4 - 3, 2)) AS INTEGER)
           + 256 * CAST(('0x' || substr(hexr, i * 4 - 1, 2)) AS INTEGER) AS u
    FROM payload, unnest(range(1, {_N_FRAMES + 1})) AS t(i)
),
signed AS (
    SELECT doc_id, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
    FROM samples
)
SELECT doc_id,
       CAST({_N_FRAMES} AS INTEGER) AS n_frames,
       CAST({_SAMPLE_RATE} AS INTEGER) AS sample_rate,
       ROUND(AVG(s) / 32768.0, 6) AS mean_sample,
       ROUND(sqrt(AVG(CAST(s AS DOUBLE) * s)) / 32768.0, 6) AS rms
FROM signed
GROUP BY doc_id
"""


@register(
    "audio_decode_stats",
    _AUDIO_SQL,
    doc="REAL audio decode, oracle-verified: each doc carries a genuine "
    "16-bit PCM WAV payload (RIFF header + 128 sha-derived bytes, "
    "native expressions); the pure-Python codec "
    "(multimodal/codecs.py::decode_wav) walks the RIFF chunks and "
    "parses little-endian int16 samples inside mapInPandas, emitting "
    "frame count, rate, DC mean, and RMS. The DuckDB oracle re-derives "
    "the SAME samples from sha256 hex pairs (lo + 256*hi, two's "
    "complement), so a wrong chunk offset, endianness, or sign "
    "handling hash-mismatches. All sums are exact in float64 (64 "
    "samples, power-of-two divides), so ROUND(...,6) is bit-stable.",
)
def q_audio_decode_stats(spark, sf_dir):
    from ecom_churn_lakehouse_spark.multimodal.decode import decode_audio

    decoded = decode_audio(_wav_payloads(spark, sf_dir))
    return decoded.select(
        "doc_id", "n_frames", "sample_rate", "mean_sample", "rms"
    )


# ------------------------------------------------------------- video

#: 4 frames of 8x4 C444 YUV: 3 planes x 32 bytes = 3 sha blocks/frame.
_V_W, _V_H = 8, 4
_V_FRAMES = 4
_V_STRIDE = 2
_Y4M_HEADER = f"YUV4MPEG2 W{_V_W} H{_V_H} F25:1 Ip A1:1 C444\n".encode()


def _y4m_payloads(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    parts = [F.lit(_Y4M_HEADER)]
    for k in range(_V_FRAMES):
        parts.append(F.lit(b"FRAME\n"))
        for j in range(3):
            parts.append(
                F.unhex(
                    F.sha2(
                        F.concat(F.col("text"), F.lit(f"y4m{k * 3 + j}")), 256
                    )
                )
            )
    return docs.select("doc_id", F.concat(*parts).alias("payload"))


def _plane_mean_sql(block: int) -> str:
    """DuckDB: mean of the 32 bytes of sha256(text || 'y4m<block>')."""
    return (
        "(SELECT AVG(CAST(('0x' || substr(sha256(d.text || 'y4m"
        + str(block)
        + "'), i * 2 - 1, 2)) AS INTEGER)) FROM unnest(range(1, 33)) AS t(i))"
    )


_VIDEO_SQL = f"""
SELECT d.doc_id,
       CAST(f.frame_idx AS INTEGER) AS frame_idx,
       CAST({_V_FRAMES} AS INTEGER) AS n_frames,
       CAST({_V_W} AS INTEGER) AS width,
       CAST({_V_H} AS INTEGER) AS height,
       ROUND(CASE f.frame_idx
           {" ".join(f"WHEN {k} THEN {_plane_mean_sql(k * 3)}" for k in range(0, _V_FRAMES, _V_STRIDE))}
       END / 255.0, 6) AS mean_y,
       ROUND(CASE f.frame_idx
           {" ".join(f"WHEN {k} THEN {_plane_mean_sql(k * 3 + 1)}" for k in range(0, _V_FRAMES, _V_STRIDE))}
       END / 255.0, 6) AS mean_u,
       ROUND(CASE f.frame_idx
           {" ".join(f"WHEN {k} THEN {_plane_mean_sql(k * 3 + 2)}" for k in range(0, _V_FRAMES, _V_STRIDE))}
       END / 255.0, 6) AS mean_v
FROM documents d,
     (SELECT unnest(range(0, {_V_FRAMES}, {_V_STRIDE})) AS frame_idx) f
"""


@register(
    "video_frame_stats",
    _VIDEO_SQL,
    doc="REAL video decode + frame sampling, oracle-verified: each doc "
    "carries a genuine YUV4MPEG2 stream (ASCII header, FRAME markers, "
    "4 raw C444 frames of sha-derived bytes — built with native "
    "expressions); the pure-Python codec "
    "(multimodal/codecs.py::decode_y4m) parses the container inside "
    "mapInPandas and every 2nd frame is kept with per-plane means "
    "(decode-side frame sampling — the every-nth-frame step of a "
    "video training pipeline). The DuckDB oracle re-derives each "
    "sampled frame's plane bytes from sha256 hex pairs, so a wrong "
    "frame offset, plane order, or stride hash-mismatches. Plane "
    "sums are 32 exact ints (power-of-two divide) — bit-stable "
    "under ROUND.",
)
def q_video_frame_stats(spark, sf_dir):
    from ecom_churn_lakehouse_spark.multimodal.decode import decode_video_frames

    sampled = decode_video_frames(_y4m_payloads(spark, sf_dir), every_nth=_V_STRIDE)
    return sampled.select(
        "doc_id", "frame_idx", "n_frames", "width", "height",
        "mean_y", "mean_u", "mean_v",
    )


# --------------------------------------------------- video scene cuts

_CUT_THRESHOLD = 0.333333


def _luma_sad_sql(block_a: int, block_b: int) -> str:
    """DuckDB: mean |delta| of the 32 Y bytes between two sha blocks."""
    byte = (
        "CAST(('0x' || substr(sha256(d.text || 'y4m{b}'), i * 2 - 1, 2)) "
        "AS INTEGER)"
    )
    return (
        "(SELECT SUM(ABS("
        + byte.format(b=block_b)
        + " - "
        + byte.format(b=block_a)
        + f")) FROM unnest(range(1, 33)) AS t(i)) / {_V_W * _V_H * 255}.0"
    )


_SCENE_CUT_SQL = f"""
SELECT d.doc_id,
       CAST(f.frame_idx AS INTEGER) AS frame_idx,
       ROUND(CASE f.frame_idx
           {" ".join(f"WHEN {k} THEN {_luma_sad_sql((k - 1) * 3, k * 3)}" for k in range(1, _V_FRAMES))}
       END, 6) AS delta_y,
       ROUND(CASE f.frame_idx
           {" ".join(f"WHEN {k} THEN {_luma_sad_sql((k - 1) * 3, k * 3)}" for k in range(1, _V_FRAMES))}
       END, 6) >= {_CUT_THRESHOLD} AS is_cut,
       TRUE AS decode_ok
FROM documents d,
     (SELECT unnest(range(1, {_V_FRAMES})) AS frame_idx) f
"""


@register(
    "video_scene_cuts",
    _SCENE_CUT_SQL,
    doc="REAL video temporal analysis, oracle-verified: scene-cut "
    "detection over the Y4M streams — mean absolute luma delta "
    "between consecutive decoded frames (integer byte sums, one "
    "rounded division), thresholded into shot boundaries. The shot "
    "structure gates keyframe selection in a video training "
    "pipeline; spatial twin: video_frame_stats. The DuckDB oracle "
    "re-derives both frames' Y planes from sha256 hex and recomputes "
    "the same SAD, so a wrong frame pairing, plane offset, or "
    "normalization hash-fails (multimodal/decode.py::"
    "video_scene_cuts, codecs.py::decode_y4m).",
)
def q_video_scene_cuts(spark, sf_dir):
    from ecom_churn_lakehouse_spark.multimodal.decode import video_scene_cuts

    return video_scene_cuts(
        _y4m_payloads(spark, sf_dir), threshold=_CUT_THRESHOLD
    ).select("doc_id", "frame_idx", "delta_y", "is_cut", "decode_ok")


# ------------------------------------------------ audio activity (VAD)

_VAD_WINDOW = 8
_VAD_THRESHOLD = 0.577  # ~RMS of uniform noise: splits windows both ways


_VAD_SQL = f"""
WITH payload AS (
    SELECT doc_id,
           {" || ".join(f"sha256(text || 'wav{i}')" for i in range(_WAV_BLOCKS))}
               AS hexr
    FROM documents
),
samples AS (
    SELECT doc_id,
           (i - 1) // {_VAD_WINDOW} AS window_idx,
           CAST(('0x' || substr(hexr, i * 4 - 3, 2)) AS INTEGER)
           + 256 * CAST(('0x' || substr(hexr, i * 4 - 1, 2)) AS INTEGER) AS u
    FROM payload, unnest(range(1, {_N_FRAMES + 1})) AS t(i)
),
signed AS (
    SELECT doc_id, window_idx,
           CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
    FROM samples
),
win AS (
    SELECT doc_id, CAST(window_idx AS INTEGER) AS window_idx,
           ROUND(sqrt(AVG(CAST(s AS DOUBLE) * s)) / 32768.0, 6) AS window_rms
    FROM signed
    GROUP BY doc_id, window_idx
)
SELECT doc_id, window_idx, window_rms,
       window_rms >= {_VAD_THRESHOLD} AS is_active,
       TRUE AS decode_ok
FROM win
"""


@register(
    "audio_activity_windows",
    _VAD_SQL,
    doc="REAL audio temporal analysis, oracle-verified: fixed-size "
    "RMS-energy windows over the decoded PCM stream thresholded into "
    "active/silent — the voice-activity-detection step before "
    "transcription in an audio curation pipeline (whole-clip twin: "
    "audio_decode_stats; video twin: video_scene_cuts). The oracle "
    "re-derives the int16 samples from sha256 hex and recomputes "
    "per-window RMS; window sums are exact float64 and sqrt is IEEE "
    "correctly-rounded, so every score hash-matches "
    "(multimodal/decode.py::audio_activity_windows).",
)
def q_audio_activity_windows(spark, sf_dir):
    from ecom_churn_lakehouse_spark.multimodal.decode import (
        audio_activity_windows,
    )

    return audio_activity_windows(
        _wav_payloads(spark, sf_dir),
        window_frames=_VAD_WINDOW,
        threshold=_VAD_THRESHOLD,
    ).select("doc_id", "window_idx", "window_rms", "is_active", "decode_ok")


# ------------------------------------------------ image patch stats

_PATCH = 4


_PATCH_SQL = f"""
WITH payload AS (
    SELECT doc_id,
           {" || ".join(f"sha256(text || '{i}')" for i in range(_N_BLOCKS))}
               AS hexr
    FROM documents
),
bytes AS (
    SELECT doc_id,
           ((i // 3) // {_W}) // {_PATCH} * {_W // _PATCH}
           + ((i // 3) % {_W}) // {_PATCH} AS patch_idx,
           CAST(('0x' || substr(hexr, i * 2 + 1, 2)) AS INTEGER) AS b
    FROM payload, unnest(range(0, {_W * _H * 3})) AS t(i)
)
SELECT doc_id,
       CAST(patch_idx AS INTEGER) AS patch_idx,
       ROUND(AVG(b) / 255.0, 6) AS patch_mean,
       ROUND(sqrt(AVG(b * b) - AVG(b) * AVG(b)) / 255.0, 6) AS patch_std,
       TRUE AS decode_ok
FROM bytes
GROUP BY doc_id, patch_idx
"""


@register(
    "image_patch_stats",
    _PATCH_SQL,
    doc="REAL image patchify, oracle-verified: the decoded raster "
    "splits into the 4x4-pixel patch grid a vision transformer "
    "tokenizes, each patch scored by mean/std over its channel bytes "
    "— the cheapest per-patch signature for dedup and quality "
    "screens before embedding. The oracle re-derives every byte's "
    "patch assignment from sha256 hex with pure index arithmetic "
    "(row-major pixel -> (y//4, x//4) tile), so a wrong stride or "
    "tile mapping hash-fails. Stats are AVG-based with one division "
    "per aggregate and an IEEE sqrt, bit-stable cross-engine "
    "(multimodal/decode.py::image_patch_stats).",
)
def q_image_patch_stats(spark, sf_dir):
    from ecom_churn_lakehouse_spark.multimodal.decode import image_patch_stats

    return image_patch_stats(_payloads(spark, sf_dir), patch=_PATCH).select(
        "doc_id", "patch_idx", "patch_mean", "patch_std", "decode_ok"
    )


# --------------------------------------- per-channel intensity histogram

_HIST_BINS = 4

_CHANNEL_HIST_SQL = f"""
WITH payload AS (
    SELECT doc_id,
           {" || ".join(f"sha256(text || '{i}')" for i in range(_N_BLOCKS))}
               AS hexr
    FROM documents
),
bytes AS (
    SELECT doc_id,
           CAST((i - 1) % 3 AS INTEGER) AS channel,
           CAST(CAST(('0x' || substr(hexr, i * 2 - 1, 2)) AS INTEGER)
                // {256 // _HIST_BINS} AS INTEGER) AS bin
    FROM payload, unnest(range(1, {_W * _H * 3 + 1})) AS t(i)
),
grid AS (
    SELECT d.doc_id, c.channel, b.bin
    FROM (SELECT DISTINCT doc_id FROM documents) d,
         unnest(range(0, 3)) c(channel),
         unnest(range(0, {_HIST_BINS})) b(bin)
)
SELECT g.doc_id,
       CAST(g.channel AS INTEGER) AS channel,
       CAST(g.bin AS INTEGER) AS bin,
       CAST(COUNT(y.doc_id) AS BIGINT) AS n_pixels,
       TRUE AS decode_ok
FROM grid g
LEFT JOIN bytes y
  ON y.doc_id = g.doc_id AND y.channel = g.channel AND y.bin = g.bin
GROUP BY g.doc_id, g.channel, g.bin
"""


@register(
    "image_channel_histogram",
    _CHANNEL_HIST_SQL,
    doc="REAL per-channel intensity histograms, oracle-verified with a "
    "ZERO-float surface: the decoded PPM raster's R/G/B planes each "
    "bucket into 4 equal-width intensity bins (empty bins emitted as "
    "zero rows — a fixed 12-row shape per doc, stable for downstream "
    "pivots). The color-distribution signature behind cheap image "
    "dedup, exposure screens, and domain-shift monitoring in a "
    "vision curation pipeline. The DuckDB oracle re-derives the "
    "raster bytes from sha256 hex, buckets with integer floor "
    "division, and zero-fills via a doc x channel x bin grid — a "
    "wrong channel interleave, bin edge, or missing-bin convention "
    "all hash-fail (multimodal/decode.py::image_channel_histograms).",
)
def q_image_channel_histogram(spark, sf_dir):
    from ecom_churn_lakehouse_spark.multimodal.decode import (
        image_channel_histograms,
    )

    return image_channel_histograms(
        _payloads(spark, sf_dir), bins=_HIST_BINS
    ).select("doc_id", "channel", "bin", "n_pixels", "decode_ok")


# --------------------------------------------- perceptual hashes (r7)

_GRAY_PX_SQL = """
px AS (
    SELECT doc_id, CAST(i AS BIGINT) AS p,
           299 * CAST(('0x' || substr(hexr, i * 6 + 1, 2)) AS BIGINT)
         + 587 * CAST(('0x' || substr(hexr, i * 6 + 3, 2)) AS BIGINT)
         + 114 * CAST(('0x' || substr(hexr, i * 6 + 5, 2)) AS BIGINT) AS g
    FROM payload, unnest(range(0, 64)) t(i)
),
dh AS (
    SELECT a.doc_id,
           CAST(SUM(CASE WHEN a.g > b.g
                         THEN (CAST(1 AS BIGINT) << ((a.p // 8) * 7 + (a.p % 8)))
                         ELSE 0 END) AS BIGINT) AS dhash56
    FROM px a JOIN px b
      ON b.doc_id = a.doc_id AND b.p = a.p + 1 AND a.p % 8 < 7
    GROUP BY a.doc_id
)
"""

_PHASH_SQL = f"""
WITH payload AS (
    SELECT doc_id,
           {" || ".join(f"sha256(text || '{i}')" for i in range(_N_BLOCKS))}
               AS hexr
    FROM documents
),
{_GRAY_PX_SQL},
tot AS (
    SELECT doc_id, SUM(g) AS total FROM px GROUP BY doc_id
),
ah AS (
    SELECT px.doc_id,
           CAST(SUM(CASE WHEN g * 64 > total AND p >= 32
                         THEN (CAST(1 AS BIGINT) << (p - 32)) ELSE 0 END)
                AS BIGINT) AS ahash_hi,
           CAST(SUM(CASE WHEN g * 64 > total AND p < 32
                         THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
                AS BIGINT) AS ahash_lo
    FROM px JOIN tot USING (doc_id)
    GROUP BY px.doc_id
)
SELECT dh.doc_id, dh.dhash56, ah.ahash_hi, ah.ahash_lo, TRUE AS decode_ok
FROM dh JOIN ah USING (doc_id)
ORDER BY dh.doc_id
"""


@register(
    "image_perceptual_hashes",
    _PHASH_SQL,
    doc="REAL perceptual image hashes, oracle-verified bit-for-bit "
    "(VERDICT r6 #5): the decoded PPM raster collapses to the exact "
    "BT.601 luma numerator (299R+587G+114B, never divided), packed "
    "into a 56-bit dHash (row-wise adjacent-pixel comparisons) and a "
    "64-bit aHash (pixel*64 > sum comparisons) split into two 32-bit "
    "words so the sign bit is untouchable in either engine. The "
    "DuckDB oracle re-derives every bit from sha256 hex with integer "
    "arithmetic — a wrong luma weight, comparison direction, or bit "
    "order hash-fails (multimodal/decode.py::image_perceptual_hashes)."
    " Scale: map-only Arrow decode; 7 bytes/image leave the executor.",
)
def q_image_perceptual_hashes(spark, sf_dir):
    from ecom_churn_lakehouse_spark.multimodal.decode import (
        image_perceptual_hashes,
    )

    return image_perceptual_hashes(_payloads(spark, sf_dir)).select(
        "doc_id", "dhash56", "ahash_hi", "ahash_lo", "decode_ok"
    ).orderBy("doc_id")


# ----------------------------------- perceptual-hash near-dup pairing

#: Hamming threshold for dHash near-dup (56-bit codes).
_PHASH_T = 10
#: 4 bands x 14 bits: exact-band candidates. Band width is the LSH
#: knob that must grow with log2(N): 7-bit bands collide at 1/128 per
#: band (N^2/16 expected random candidates — measured quadratic-
#: dominated at the 10x probe), 14-bit bands at 1/16384 (N^2/4096).
#: Pigeonhole still covers any scattered damage <= 3 bits, and the
#: planted tail-block corruption (bits 46..55) sits entirely inside
#: band 3, so bands 0-2 stay exact and planted recall is
#: deterministic.
_PHASH_BANDS = 4
_PHASH_BAND_BITS = 14

_PHASH_PAIRS_SQL = f"""
WITH payload AS (
    SELECT doc_id,
           {" || ".join(f"sha256(text || '{i}')" for i in range(_N_BLOCKS))}
               AS hexr
    FROM documents
    UNION ALL
    SELECT doc_id + 500000 AS doc_id,
           {" || ".join(f"sha256(text || '{i}')" for i in range(_N_BLOCKS - 1))}
               || sha256(text || '5x') AS hexr
    FROM documents WHERE doc_id % 5 = 0
),
{_GRAY_PX_SQL},
bands AS (
    SELECT doc_id, dhash56, k,
           (dhash56 >> ({_PHASH_BAND_BITS} * CAST(k AS INTEGER)))
               & {(1 << _PHASH_BAND_BITS) - 1} AS bv
    FROM dh, unnest(range(0, {_PHASH_BANDS})) t(k)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(da.dhash56, db.dhash56)) AS INTEGER) AS hamming
FROM cand c
JOIN dh da ON da.doc_id = c.doc_a
JOIN dh db ON db.doc_id = c.doc_b
WHERE bit_count(xor(da.dhash56, db.dhash56)) <= {_PHASH_T}
ORDER BY c.doc_a, c.doc_b
"""


def _phash_corpus(spark, sf_dir):
    """Image corpus with planted near-duplicates: every 5th doc gains a
    copy whose LAST sha block is re-salted — the raster's final 32
    bytes change (pixels 53..63), the classic truncated-tail /
    re-encode corruption. dHash damage is localized to rows 6-7
    (bits 46..55, bands 6-7), so band-exact candidates catch every
    planted pair deterministically."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select("doc_id", _payload_col().alias("payload"))
    blocks = [
        F.unhex(F.sha2(F.concat(F.col("text"), F.lit(str(i))), 256))
        for i in range(_N_BLOCKS - 1)
    ]
    pert = F.concat(
        F.lit(_PPM_HEADER),
        *blocks,
        F.unhex(F.sha2(F.concat(F.col("text"), F.lit("5x")), 256)),
    )
    copies = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"), pert.alias("payload")
    )
    return base.unionByName(copies)


@register(
    "image_phash_neardup_pairs",
    _PHASH_PAIRS_SQL,
    doc=f"Perceptual-hash image near-dup (VERDICT r6 #5): dHash56 per "
    "REAL decoded image (Arrow mapInPandas, multimodal/decode.py::"
    f"image_perceptual_hashes), multi-index banding ({_PHASH_BANDS} x "
    f"{_PHASH_BAND_BITS}-bit bands, equi-join — the Hamming-bucketed machinery proven in "
    f"ann_hamming_mih_topk), exact bit_count(xor) <= {_PHASH_T} "
    "re-rank on candidates only. Near-dups are planted on both "
    "engines: every 5th doc gets a copy with a corrupted final raster "
    "block (pixels 53..63) — damage localized to dHash bands 6-7, so "
    "bands 0-5 match exactly and recall on the planted shape is "
    "deterministic (scattered damage is covered by pigeonhole up to "
    "Hamming 7). The oracle re-derives codes from sha256 hex and runs "
    "the SAME banded candidate generation, so both sides compute an "
    "identical relation. Scale: codes are 7 bytes/image; the band "
    "join is the standard banded-LSH shuffle, never all-pairs, and the "
    "14-bit band width is the log2(N) knob production re-tunes as the "
    "corpus grows (7-bit bands measured quadratic-dominated at the "
    "10x probe; 14-bit re-probed linear).",
)
def q_image_phash_neardup_pairs(spark, sf_dir):
    from ecom_churn_lakehouse_spark.multimodal.decode import (
        image_perceptual_hashes,
    )

    codes = (
        image_perceptual_hashes(_phash_corpus(spark, sf_dir))
        .filter(F.col("decode_ok"))
        .select("doc_id", "dhash56")
        .localCheckpoint(eager=False)
    )
    bands = codes.select(
        "doc_id",
        "dhash56",
        F.explode(F.sequence(F.lit(0), F.lit(_PHASH_BANDS - 1))).alias("k"),
    ).select(
        "doc_id",
        "dhash56",
        "k",
        F.expr(
            f"(dhash56 >> ({_PHASH_BAND_BITS} * k))"
            f" & {(1 << _PHASH_BAND_BITS) - 1}"
        ).alias("bv"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    da = codes.select(F.col("doc_id").alias("doc_a"), F.col("dhash56").alias("ha"))
    db = codes.select(F.col("doc_id").alias("doc_b"), F.col("dhash56").alias("hb"))
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(bit_count(ha ^ hb) AS INT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= _PHASH_T)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------- streaming phash dedup maintenance (r7)


@register(
    "stream_phash_dedup_maintenance",
    _PHASH_PAIRS_SQL,
    doc="Streaming twin of image_phash_neardup_pairs — incremental "
    "near-dup index maintenance: image payloads arrive in three "
    "micro-batches (foreachBatch, idempotent batch_id= partial "
    "writes, at-least-once safe); each batch decodes ONLY its own "
    "images (Arrow mapInPandas), appends their 7-byte dHash codes to "
    "the code index, and emits exactly the pairs that involve a NEW "
    "image — a band-bucketed join of new codes against (index-so-far "
    "UNION new), so per-batch work is proportional to the batch, "
    "never a corpus rescan. The accumulated pair table must equal the "
    "one-shot batch relation EXACTLY, which is the oracle (the batch "
    "entry's SQL verbatim). The maintenance identity: candidate pairs "
    "are monotone under banding — a pair's bands never change, so the "
    "first batch where both sides exist emits it exactly once "
    "(doc_a < doc_b dedups the direction).",
)
def q_stream_phash_dedup_maintenance(spark, sf_dir):
    import os

    from ecom_churn_lakehouse_spark.multimodal.decode import (
        image_perceptual_hashes,
    )
    from ecom_churn_lakehouse_spark.scratch import scratch_dir

    corpus = _phash_corpus(spark, sf_dir)
    base = scratch_dir(prefix="stream_phash_")

    def _bands(codes):
        b = codes.select(
            "doc_id",
            "dhash56",
            F.explode(F.sequence(F.lit(0), F.lit(_PHASH_BANDS - 1))).alias("k"),
        )
        return b.select(
            "doc_id",
            "dhash56",
            "k",
            F.expr(
                f"(dhash56 >> ({_PHASH_BAND_BITS} * k))"
                f" & {(1 << _PHASH_BAND_BITS) - 1}"
            ).alias("bv"),
        )

    def _apply(batch_df, batch_id):
        new_codes = (
            image_perceptual_hashes(batch_df)
            .filter(F.col("decode_ok"))
            .select("doc_id", "dhash56")
            .localCheckpoint(eager=False)
        )
        sess = batch_df.sparkSession
        if os.path.exists(f"{base}/codes"):
            index = sess.read.parquet(f"{base}/codes").select(
                "doc_id", "dhash56"
            )
            universe = index.unionByName(new_codes)
        else:
            universe = new_codes
        nb = _bands(new_codes)
        ub = _bands(universe)
        # pairs touching a new image: (new, universe) both directions,
        # normalized to doc_a < doc_b; pairs between two OLD images
        # were emitted by an earlier batch (bands are immutable)
        cand = (
            nb.alias("a")
            .join(
                ub.alias("b"),
                (F.col("a.k") == F.col("b.k"))
                & (F.col("a.bv") == F.col("b.bv"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
                F.when(
                    F.col("a.doc_id") < F.col("b.doc_id"), F.col("a.dhash56")
                )
                .otherwise(F.col("b.dhash56"))
                .alias("ha"),
                F.when(
                    F.col("a.doc_id") < F.col("b.doc_id"), F.col("b.dhash56")
                )
                .otherwise(F.col("a.dhash56"))
                .alias("hb"),
            )
            .distinct()
        )
        pairs = cand.select(
            "doc_a",
            "doc_b",
            F.expr("CAST(bit_count(ha ^ hb) AS INT)").alias("hamming"),
        ).filter(F.col("hamming") <= _PHASH_T)
        write_once(pairs, f"{base}/pairs/batch_id={batch_id}")
        write_once(new_codes, f"{base}/codes/batch_id={batch_id}")

    # three deterministic doc_id ranges -> three micro-batches
    replay(corpus, ranges("doc_id", 200, 500000), _apply, base)
    return (
        spark.read.parquet(f"{base}/pairs")
        .select("doc_a", "doc_b", "hamming")
        .distinct()  # a pair seen via several batches' partials collapses
        .orderBy("doc_a", "doc_b")
    )
