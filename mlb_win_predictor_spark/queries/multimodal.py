"""Multimodal-column catalog entries (SURVEY §2.10).

``multimodal_metadata_stats`` is fully native (binary encode, octet_length,
md5) and oracle-checked. Every decode/resize/embed/frame-sample entry runs
a REAL pure-Python+numpy codec (PNG incl. palette/16-bit/Adam7, JPEG
baseline AND progressive, RIFF/WAVE, animated GIF89a incl. interlace)
through Arrow-batched map-only mapInPandas (``operators.multimodal``).
Each of those entries builds its synthetic corpus with
``_synthetic_media`` from a ``(doc_id, text) -> bytes`` payload function
nested in the entry, so it ships by value (the by-value rule in
``operators.multimodal``'s docstring).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import stable_round
from ..operators.multimodal import to_media_column
from ..session import fan_out, load_table
from .base import QueryDef


def multimodal_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata aggregation over the binary payload column: per-mime
    count, total/max payload bytes, distinct digests."""
    media = to_media_column(load_table(spark, sf_dir, "documents"))
    return media.groupBy("mime").agg(
        F.count(F.lit(1)).alias("n_objects"),
        F.sum("n_bytes").alias("total_bytes"),
        F.max("n_bytes").alias("max_bytes"),
        F.countDistinct("digest").alias("n_distinct_payloads"),
    )


MULTIMODAL_METADATA_SQL = """
WITH media AS (
  SELECT doc_id,
         CASE WHEN source IN ('src0','src1') THEN 'image/png'
              WHEN source = 'src2' THEN 'audio/wav'
              ELSE 'video/mp4' END AS mime,
         octet_length(encode(text)) AS n_bytes,
         md5(text) AS digest
  FROM documents
)
SELECT mime, COUNT(*) AS n_objects,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       MAX(n_bytes) AS max_bytes,
       COUNT(DISTINCT digest) AS n_distinct_payloads
FROM media GROUP BY mime
"""


def _make_text_tiler():
    """Build ``tile_text(text, need)``: the document's UTF-8 bytes (a
    null or empty text counts as one space) repeated end to end and cut
    to ``need`` bytes, as a uint8 array. It is the pixel/sample source
    of every text-derived payload, and the SQL duals re-derive it byte
    for byte. A factory so it ships by value."""

    def tile_text(text, need: int):
        b = np.frombuffer((text or " ").encode("utf-8"), dtype=np.uint8)
        return np.tile(b, need // max(b.size, 1) + 1)[:need]

    return tile_text


_tile_text = _make_text_tiler()


def _synthetic_media(spark: SparkSession, sf_dir: str, mime: str, payload) -> DataFrame:
    """One synthetic ``mime`` payload per document, as
    ``doc_id long, mime string, payload binary``: ``payload(doc_id, text)``
    returns the row's bytes and must be a function nested in the calling
    entry (it runs on the executors).

    The Python codec dominates per-row cost and documents.parquet is a
    single row-group at test SFs (1-2 scan splits): fan the scan out or
    the whole encode/decode pipeline runs on 1-2 cores (measured: 27x for
    10x data in a full-catalog sweep; fan_out restores ~linear scaling
    and is a no-op on an already-split scan)."""
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))

    def encode_batches(batches):
        import pandas as _pd

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": [mime] * len(pdf),
                    "payload": [
                        payload(int(i), text) for i, text in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    return docs.mapInPandas(encode_batches, schema="doc_id long, mime string, payload binary")


def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode path over a MIXED corpus: each
    document's text bytes become a deterministic small image whose PNG
    class cycles with doc_id over the five real-corpus variants — 8-bit
    gray, 8-bit RGB (filters 0-4 cycling), indexed-color (PLTE, sub-byte
    bit-packed scanlines), indexed-color + tRNS (decodes to RGBA), and
    16-bit grayscale — then decoded back by the full parser
    (``operators.multimodal.png_decode``: CRC verify, inflate, unfilter,
    palette map, bit-unpack). ZERO NotImplementedError rows: palette
    PNGs are the most common real-corpus class, and with Adam7
    interlace decode the PNG codec has no scope gate left. Both stages
    are Arrow-batched map-only mapInPandas.

    FULL DuckDB oracle (``DECODE_PNG_SQL``: every variant
    tiles the text bytes, so each image's pixel mean is an exact
    integer ratio derivable from per-byte moments — the hash compare
    exercises filters 0-4, palette packing, tRNS→RGBA and 16-bit
    samples end to end); pixel-exact round-trip, spec-literal
    palette/16-bit vectors, and the real-file ``read_binary_files``
    path are pinned in tests/test_operators.py."""
    from ..operators.multimodal import (
        decode_png_media,
        png_encode,
        png_encode_palette,
    )

    enc, enc_pal = png_encode, png_encode_palette

    def payload(i, text):
        w = 4 + i % 13
        h = 4 + i % 11
        variant = i % 5
        if variant == 0:  # 8-bit grayscale, every filter type
            return enc(_tile_text(text, w * h).reshape(h, w), filters=range(5))
        if variant == 1:  # 8-bit RGB, every filter type
            return enc(_tile_text(text, w * h * 3).reshape(h, w, 3), filters=range(5))
        if variant == 2:  # indexed-color: <=16 colors, 4-bit packed
            idx = _tile_text(text, w * h).reshape(h, w) % 16
            colors = np.stack(
                [np.arange(16) * 16, np.arange(16) * 8, np.arange(16)], axis=1
            ).astype(np.uint8)
            return enc_pal(colors[idx])
        if variant == 3:  # indexed + tRNS -> RGBA decode path
            idx = _tile_text(text, w * h).reshape(h, w) % 4
            colors = np.array(
                [[0, 0, 0], [80, 90, 100], [160, 10, 20], [240, 250, 5]],
                dtype=np.uint8,
            )
            # EXPLICIT palette: np.unique-derived PLTE order re-aligns
            # the positional tRNS table whenever a doc's bytes happen to
            # omit a residue class, silently breaking the residue→alpha
            # map the analytic dual assumes (and crashing below 3
            # distinct residues). Pinning the palette keeps
            # index == byte%4 for every document.
            return enc_pal(colors[idx], trns=[0, 255, 128], palette=colors)
        # 16-bit grayscale
        px16 = _tile_text(text, w * h).astype(np.uint16).reshape(h, w) * 257
        return enc(px16, filters=range(5))

    decoded = decode_png_media(_synthetic_media(spark, sf_dir, "image/png", payload))
    return decoded.groupBy("n_channels").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("width").cast("long").alias("sum_width"),
        F.sum("height").cast("long").alias("sum_height"),
        stable_round(F.avg("mean_px"), 3).alias("avg_mean_px"),
    )


# Analytic dual: all five PNG variants tile the document's text
# bytes, so each decoded image's pixel mean is an exact integer ratio
# derivable from three per-byte functions — the byte itself (gray/RGB/
# 16-bit), byte%16 mapped through the arithmetic palette (channel sum
# 25·idx), and byte%4 mapped through the tRNS palette (RGB sum + alpha:
# 0/525/318/750). Every sum is exact BIGINT (numpy's pairwise mean over
# integers is exact too); the only float ops are one division per doc
# and the final group average. Hash-matching verifies the complete PNG
# round-trip — filters 0-4, 4-bit palette packing, tRNS→RGBA expansion,
# 16-bit samples, CRC/inflate/unfilter — against first principles.
DECODE_PNG_SQL = """
WITH d AS (
  SELECT doc_id AS i, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h,
         doc_id % 5 AS v,
         CASE WHEN text IS NULL OR text = '' THEN ' ' ELSE text END AS t
  FROM documents
), geo AS (
  SELECT *, CASE WHEN v = 1 THEN w * h * 3 ELSE w * h END AS need FROM d
), bb AS (
  SELECT i, generate_subscripts(cs, 1) AS pos, UNNEST(cs) AS ch
  FROM (SELECT i, string_split(t, '') AS cs FROM d)
), f AS (
  SELECT i, pos,
         CAST(unicode(ch) AS BIGINT) AS g,
         CAST(unicode(ch) % 16 AS BIGINT) AS m16,
         CAST(CASE unicode(ch) % 4 WHEN 0 THEN 0 WHEN 1 THEN 525
                                   WHEN 2 THEN 318 ELSE 750 END AS BIGINT) AS t4
  FROM bb
), agg AS (
  SELECT i, COUNT(*) AS len_b, SUM(g) AS sg, SUM(m16) AS sm, SUM(t4) AS st
  FROM f GROUP BY 1
), pre AS (
  SELECT f.i, SUM(f.g) AS pg, SUM(f.m16) AS pm, SUM(f.t4) AS pt
  FROM f
  JOIN (SELECT geo.i, geo.need % agg.len_b AS r
        FROM geo JOIN agg USING (i)) rr
    ON f.i = rr.i AND f.pos <= rr.r
  GROUP BY 1
), per AS (
  SELECT geo.i, geo.v, geo.w, geo.h, geo.need, geo.need // agg.len_b AS q,
         agg.sg, agg.sm, agg.st,
         COALESCE(pre.pg, 0) AS pg, COALESCE(pre.pm, 0) AS pm,
         COALESCE(pre.pt, 0) AS pt
  FROM geo JOIN agg USING (i) LEFT JOIN pre USING (i)
), m AS (
  SELECT i, w, h,
         CASE v WHEN 0 THEN 1 WHEN 4 THEN 1 WHEN 3 THEN 4 ELSE 3 END
           AS n_channels,
         CASE v
           WHEN 0 THEN CAST(q * sg + pg AS DOUBLE) / need
           WHEN 1 THEN CAST(q * sg + pg AS DOUBLE) / need
           WHEN 2 THEN CAST(25 * (q * sm + pm) AS DOUBLE) / (3 * need)
           WHEN 3 THEN CAST(q * st + pt AS DOUBLE) / (4 * need)
           ELSE CAST(257 * (q * sg + pg) AS DOUBLE) / need
         END AS mean_px
  FROM per
)
SELECT CAST(n_channels AS INTEGER) AS n_channels,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       CAST(SUM(w) AS BIGINT) AS sum_width,
       CAST(SUM(h) AS BIGINT) AS sum_height,
       ROUND(AVG(mean_px) * 1e3) / 1e3 AS avg_mean_px
FROM m GROUP BY 1
"""


def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV decode path (the audio sibling of
    ``multimodal_decode_png``): each document's text bytes become a
    deterministic PCM16 signal (rate cycling 8/16/44.1 kHz, mono/stereo
    alternating), encoded to REAL RIFF/WAVE bytes and decoded back by
    the full parser (``operators.multimodal.wav_decode``: chunk walk,
    fmt validation, frame alignment). Both stages Arrow-batched map-only
    mapInPandas. FULL DuckDB oracle
    (``DECODE_WAV_SQL``: the signal is the text bytes tiled, so every
    digest value — counts, durations, per-group RMS — is analytically
    derivable with exact-integer moment sums); sample-exact round-trip,
    spec gating, and the ``binaryFile`` real-file path are pinned in
    tests/test_operators.py."""
    from ..operators.multimodal import decode_wav_media, wav_encode

    enc = wav_encode
    rates = (8000, 16000, 44100)

    def payload(i, text):
        c = 1 if i % 2 else 2
        n = (64 + i % 101) * c
        sig = ((_tile_text(text, n).astype(np.int16) - 128) * 256).reshape(-1, c)
        return enc(sig, sample_rate=rates[i % 3])

    decoded = decode_wav_media(_synthetic_media(spark, sf_dir, "audio/wav", payload))
    # total duration = sum(frames)/rate, ONE exact-integer division per
    # group rather than a float fold of per-clip frames/rate terms: the
    # fold lands exactly on a 4dp half-way point whenever sum(frames)
    # divides the rate that way (sf0.001 hits 9526/8000 = 1.19075), and
    # then partial-sum order decides the round — the same small-
    # denominator-rational trap stable_round exists for.
    g = decoded.groupBy("sample_rate", "n_channels").agg(
        F.count(F.lit(1)).alias("n_audio"),
        F.sum("n_samples").cast("long").alias("sum_samples"),
        stable_round(F.avg("rms"), 3).alias("avg_rms"),
    )
    return g.select(
        "sample_rate",
        "n_channels",
        "n_audio",
        "sum_samples",
        stable_round(
            F.col("sum_samples").cast("double") / F.col("sample_rate"), 4
        ).alias("total_duration_s"),
        "avg_rms",
    )


# Analytic dual (the sniff_headers derivation extended to SIGNAL VALUES):
# the PCM signal is the document's text bytes tiled to
# (64 + id%101)·c samples, shifted/scaled to ((b−128)·256)², so every
# digest column is derivable from (doc_id, text) alone — per-doc
# sum-of-squares is an exact BIGINT (≤ 328·16384·65536 < 2^53: no float
# fold anywhere before the final division + sqrt, which are identical
# IEEE ops on both engines; numpy's pairwise mean over integers is
# exact for the same reason). Hash-matching this derivation verifies
# the REAL RIFF encode → chunk-walk decode round-trip end to end: any
# byte the encoder or parser mishandled shifts a count, a duration or
# an RMS. The corpus is ASCII (checked: octet_length == length), so
# unicode(char) == utf-8 byte.
DECODE_WAV_SQL = """
WITH d AS (
  SELECT doc_id AS i,
         CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS c,
         64 + doc_id % 101 AS frames,
         CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS rate,
         CASE WHEN text IS NULL OR text = '' THEN ' ' ELSE text END AS t
  FROM documents
), bb AS (
  SELECT i, generate_subscripts(cs, 1) AS pos, UNNEST(cs) AS ch
  FROM (SELECT i, string_split(t, '') AS cs FROM d)
), sq AS (
  SELECT i, pos,
         CAST((unicode(ch) - 128) * (unicode(ch) - 128) AS BIGINT) AS sq
  FROM bb
), agg AS (
  SELECT i, COUNT(*) AS len_b, SUM(sq) AS s_all FROM sq GROUP BY 1
), pre AS (
  SELECT sq.i, SUM(sq.sq) AS p_r
  FROM sq
  JOIN (SELECT d.i, (d.frames * d.c) % agg.len_b AS r
        FROM d JOIN agg ON d.i = agg.i) rr
    ON sq.i = rr.i AND sq.pos <= rr.r
  GROUP BY 1
), per AS (
  SELECT d.i, d.rate, d.c, d.frames,
         SQRT(
           (((d.frames * d.c) // agg.len_b) * agg.s_all + COALESCE(pre.p_r, 0))
           * 65536.0 / (d.frames * d.c)
         ) AS rms
  FROM d JOIN agg ON d.i = agg.i LEFT JOIN pre ON d.i = pre.i
)
SELECT CAST(rate AS INTEGER) AS sample_rate,
       CAST(c AS INTEGER) AS n_channels,
       CAST(COUNT(*) AS BIGINT) AS n_audio,
       CAST(SUM(frames) AS BIGINT) AS sum_samples,
       -- one exact-integer division per group (see the Spark side)
       ROUND(CAST(SUM(frames) AS DOUBLE) / rate * 1e4) / 1e4 AS total_duration_s,
       ROUND(AVG(rms) * 1e3) / 1e3 AS avg_rms
FROM per GROUP BY rate, c
"""


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction (the feature-extract stage):
    each document becomes a deterministic pure-tone WAV clip (frequency
    keyed by doc_id, PCM16 via the real encoder), and
    ``operators.multimodal.audio_features_media`` extracts RMS,
    zero-crossing rate, spectral centroid/bandwidth and peak frequency
    from the decoded signal (one numpy rfft per clip). For a pure tone
    these features are analytically known — peak ≈ tone frequency,
    ZCR ≈ 2·f — which is exactly what tests/test_operators.py pins.
    Digest: per peak-frequency band, clip count + mean centroid + mean
    ZCR. Rows-only (binary payloads + FFT are not SQL-expressible).
    Both stages Arrow-batched map-only mapInPandas."""
    from ..operators.multimodal import audio_features_media, wav_encode

    enc = wav_encode
    rate = 16000

    def payload(i, _text):
        f = 200.0 + (i % 20) * 100.0  # 200..2100 Hz
        t = np.arange(1024) / rate
        return enc((np.sin(2 * np.pi * f * t) * 12000).astype(np.int16), sample_rate=rate)

    feats = audio_features_media(_synthetic_media(spark, sf_dir, "audio/wav", payload))
    band = (F.floor(F.col("peak_freq_hz") / 500) * 500).cast("int").alias("peak_band_hz")
    return (
        feats.groupBy(band)
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.round(F.avg("spectral_centroid_hz"), 1).alias("avg_centroid_hz"),
            F.round(F.avg("zero_crossing_rate"), 1).alias("avg_zcr"),
        )
        .orderBy("peak_band_hz")
    )


def multimodal_sniff_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only media triage (``operators.multimodal.sniff_media``):
    each document becomes one of five payload kinds — REAL PNG (full
    encoder), REAL WAV (full encoder), a spec-correct GIF logical screen
    descriptor, a spec-correct JPEG SOI→APP0→SOF0 marker sequence, or
    plain text bytes — and the sniffer classifies + extracts
    dims/rate from the first 4 KiB WITHOUT decoding. The per-format
    routing report (counts + dimension sums) is what a media lake
    consults before spending decode cycles. Map-only; the sniffer reads
    no mime, so the mixed corpus is labelled application/octet-stream.

    FULL DuckDB oracle: every header field the sniffer
    must extract is an analytically-known function of doc_id (the
    payload generator keys kind/dims/rate on ``doc_id`` alone —
    ``w = 2 + id%9``, ``h = 3 + id%7``, rate 8000/16000 by parity), so
    ``SNIFF_HEADERS_SQL`` derives the expected routing report from
    first principles and the hash compare verifies the REAL
    encode→sniff loop (PNG IHDR, JPEG SOF walk, GIF screen descriptor,
    RIFF fmt chunk) recovers exactly those values. Truncation totality
    stays pinned in tests/test_operators.py."""
    import struct

    from ..operators.multimodal import png_encode, sniff_media, wav_encode

    enc_png, enc_wav = png_encode, wav_encode
    pack = struct.pack

    def gif(w, h):
        return b"GIF89a" + pack("<HH", w, h) + b"\x00\x00\x00"

    def jpeg(w, h, c):
        sof = b"\xff\xc0" + pack(">H", 8 + 3 * c) + b"\x08" + pack(">HH", h, w) + bytes([c])
        return b"\xff\xd8" + b"\xff\xe0" + pack(">H", 4) + b"\x00\x00" + sof + b"\xff\xd9"

    def payload(i, text):
        w, h, c = 2 + i % 9, 3 + i % 7, (1, 3)[i % 2]
        kind = i % 5
        if kind == 0:
            return enc_png(_tile_text(text, w * h * c).reshape(h, w, c))
        if kind == 1:
            sig = (np.arange(32 * c, dtype=np.int16) * 100).reshape(-1, c)
            return enc_wav(sig, sample_rate=(8000, 16000)[i % 2])
        if kind == 2:
            return gif(w, h)
        if kind == 3:
            return jpeg(w, h, c)
        return (text or " ").encode("utf-8")

    sniffed = sniff_media(
        _synthetic_media(spark, sf_dir, "application/octet-stream", payload)
    )
    return sniffed.groupBy("detected").agg(
        F.count(F.lit(1)).alias("n_objects"),
        F.sum("width").cast("long").alias("sum_width"),
        F.sum("height").cast("long").alias("sum_height"),
        F.countDistinct("sample_rate").alias("n_rates"),
    )


# Analytic dual: the payload generator above keys every sniffable
# field on doc_id alone — kind = id%5 (png/wav/gif/jpeg/text), w=2+id%9,
# h=3+id%7, WAV rate 8000/16000 by id parity; the sniffer reports dims
# for the three image formats, rate for WAV, and 'unknown' for text
# (no magic-byte prefix). Hash-matching this derivation verifies the
# real binary encoders and the header walk end-to-end: any IHDR/SOF/
# screen-descriptor/fmt-chunk byte the encoder or sniffer got wrong
# breaks the counts or the dimension sums.
SNIFF_HEADERS_SQL = """
WITH k AS (
  SELECT doc_id % 5 AS kind,
         2 + doc_id % 9 AS w,
         3 + doc_id % 7 AS h,
         CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS rate
  FROM documents
), s AS (
  SELECT CASE kind WHEN 0 THEN 'png' WHEN 1 THEN 'wav' WHEN 2 THEN 'gif'
                   WHEN 3 THEN 'jpeg' ELSE 'unknown' END AS detected,
         CASE WHEN kind IN (0, 2, 3) THEN w END AS width,
         CASE WHEN kind IN (0, 2, 3) THEN h END AS height,
         CASE WHEN kind = 1 THEN rate END AS sample_rate
  FROM k
)
SELECT detected,
       CAST(COUNT(*) AS BIGINT) AS n_objects,
       CAST(SUM(width) AS BIGINT) AS sum_width,
       CAST(SUM(height) AS BIGINT) AS sum_height,
       CAST(COUNT(DISTINCT sample_rate) AS BIGINT) AS n_rates
FROM s GROUP BY 1
"""


def multimodal_frame_sample_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 1:N frame sampling: each document becomes a deterministic
    ANIMATED GIF — 2-6
    solid-color frames keyed by doc_id, encoded by the full GIF89a
    encoder (palette build, variable-width LZW, GCE/descriptor blocks) —
    and ``operators.multimodal.sample_gif_frames`` decodes (LZW inflate,
    palette lookup, disposal compositing) and emits every 2nd composited
    frame as its own row. Digest: per frame-count, clips + sampled rows
    + mean decoded red channel (analytically known for solid frames —
    pinned exactly in tests/test_operators.py). FULL DuckDB oracle:
    that same analytic knowledge IS the dual
    (``FRAME_SAMPLE_GIF_SQL`` derives the digest from doc_id alone, so
    the hash compare exercises the whole GIF89a round-trip). Both
    stages Arrow-batched map-only mapInPandas."""
    from ..operators.multimodal import gif_encode, sample_gif_frames

    enc = gif_encode

    def payload(i, _text):
        n_frames = 2 + i % 5
        w, h = 4 + i % 9, 3 + i % 7
        frames = [
            np.full(
                (h, w, 3),
                [(i + 37 * k) % 256, (2 * i + k) % 256, (3 * i + 11 * k) % 256],
                np.uint8,
            )
            for k in range(n_frames)
        ]
        # every other clip is INTERLACED (spec §20 row order) — the
        # decoder must composite both classes identically
        return enc(frames, delay_cs=4 + i % 3, interlace=i % 2 == 0)

    media = _synthetic_media(spark, sf_dir, "image/gif", payload)
    frames = sample_gif_frames(media, every_n=2, max_frames=8)
    return (
        frames.groupBy("n_frames")
        .agg(
            F.countDistinct("doc_id").alias("n_clips"),
            F.count(F.lit(1)).alias("n_sampled_frames"),
            stable_round(F.avg("mean_r"), 3).alias("avg_mean_r"),
            stable_round(F.avg("delay_cs"), 3).alias("avg_delay_cs"),
        )
        .orderBy("n_frames")
    )


# Analytic dual: clips are doc_id-keyed solid-frame GIFs —
# n_frames = 2 + id%5, frame k's composited red channel is exactly
# (id + 37k) % 256 (solid fill, full-frame disposal), every frame's
# delay is 4 + id%3, and the 1:2 sampler emits frames {0,2,4}∩range
# (the max_frames=8 cap never binds at ≤6 frames). All averaged values
# are integer-valued doubles, so the group sums are EXACT on both
# engines and the only float op is one final division. Hash-matching
# verifies the whole GIF89a round-trip — palette build, variable-width
# LZW, GCE delays, interlace row ordering (every even doc), disposal
# compositing, the sampler's stride — against first principles.
FRAME_SAMPLE_GIF_SQL = """
WITH d AS (
  SELECT doc_id AS i, 2 + doc_id % 5 AS n_frames, 4 + doc_id % 3 AS delay
  FROM documents
), s AS (
  SELECT i, n_frames, delay, UNNEST(range(0, n_frames, 2)) AS fk
  FROM d
)
SELECT CAST(n_frames AS INTEGER) AS n_frames,
       CAST(COUNT(DISTINCT i) AS BIGINT) AS n_clips,
       CAST(COUNT(*) AS BIGINT) AS n_sampled_frames,
       ROUND(AVG(CAST((i + 37 * fk) % 256 AS DOUBLE)) * 1e3) / 1e3 AS avg_mean_r,
       ROUND(AVG(CAST(delay AS DOUBLE)) * 1e3) / 1e3 AS avg_delay_cs
FROM s GROUP BY 1
"""


def multimodal_resize_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: documents
    become real PNGs (tiled text bytes, like
    ``multimodal_decode_png``), are decoded + nearest-neighbor resampled
    to 16x12 + RE-ENCODED as real PNGs by
    ``operators.multimodal.resize_png_media``, and the digest re-decodes
    the new payloads with the full parser — proving the resized bytes
    are themselves valid PNGs of exactly the target dims. FULL DuckDB
    oracle (``RESIZE_PNG_SQL``): nearest-neighbor is a pure
    integer index map over the tiled text bytes, so the dual re-derives
    every resized pixel from (doc_id, text) and the hash compare
    witnesses the decode → resample → re-encode → re-decode loop
    end to end. Three Arrow-batched map-only stages, zero shuffle until
    the final digest agg."""
    from ..operators.multimodal import decode_png_media, png_encode, resize_png_media

    enc = png_encode

    def payload(i, text):
        w, h, c = 4 + i % 13, 4 + i % 11, 1 if i % 2 else 3
        return enc(_tile_text(text, w * h * c).reshape(h, w, c))

    media = _synthetic_media(spark, sf_dir, "image/png", payload)
    resized = resize_png_media(media, width=16, height=12)
    redecoded = decode_png_media(resized.select("doc_id", "mime", "payload"))
    return redecoded.groupBy("width", "height", "n_channels").agg(
        F.count(F.lit(1)).alias("n_images"),
        stable_round(F.avg("mean_px"), 3).alias("avg_mean_px"),
        stable_round(F.avg("std_px"), 3).alias("avg_std_px"),
    )


# Analytic dual: nearest-neighbor resize is a pure INDEX map —
# target pixel (y', x', ch) reads source flat offset
# ((y'·h)//12·w + (x'·w)//16)·c + ch of the tiled byte array, so the
# resized image's pixel multiset is derivable from (doc_id, text)
# without any codec: 192·c cells per doc join back to the doc's byte
# at (flat mod len). S and SS are exact BIGINTs; mean/std use the
# moment identity in the SAME IEEE op order as decode_png_media
# (S/n; sqrt(max(SS/n − (S/n)·(S/n), 0))). Hash-matching proves the
# full decode → resample → RE-ENCODE → re-decode loop is lossless and
# lands exactly on the index map's bytes.
RESIZE_PNG_SQL = """
WITH d AS (
  SELECT doc_id AS i, 4 + doc_id % 13 AS w, 4 + doc_id % 11 AS h,
         CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 3 END AS c,
         CASE WHEN text IS NULL OR text = '' THEN ' ' ELSE text END AS t
  FROM documents
), b AS (
  SELECT i, pos - 1 AS pos0, CAST(unicode(ch) AS BIGINT) AS byte
  FROM (SELECT i, generate_subscripts(cs, 1) AS pos, UNNEST(cs) AS ch
        FROM (SELECT i, string_split(t, '') AS cs FROM d))
), len AS (
  SELECT i, COUNT(*) AS len_b FROM b GROUP BY 1
), cells AS (
  SELECT d.i, d.c,
         (((yy.y * d.h) // 12) * d.w + ((xx.x * d.w) // 16)) * d.c + cc.ch
           AS flat
  FROM d
  CROSS JOIN range(0, 12) yy(y)
  CROSS JOIN range(0, 16) xx(x)
  CROSS JOIN range(0, 3) cc(ch)
  WHERE cc.ch < d.c
), stats AS (
  SELECT cells.i, cells.c, COUNT(*) AS n,
         SUM(b.byte) AS s, SUM(b.byte * b.byte) AS ss
  FROM cells
  JOIN len USING (i)
  JOIN b ON b.i = cells.i AND b.pos0 = cells.flat % len.len_b
  GROUP BY 1, 2
), doc AS (
  SELECT i, c,
         CAST(s AS DOUBLE) / n AS mean_px,
         SQRT(GREATEST(
           CAST(ss AS DOUBLE) / n
             - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
           0.0)) AS std_px
  FROM stats
)
SELECT CAST(16 AS INTEGER) AS width, CAST(12 AS INTEGER) AS height,
       CAST(c AS INTEGER) AS n_channels,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       ROUND(AVG(mean_px) * 1e3) / 1e3 AS avg_mean_px,
       ROUND(AVG(std_px) * 1e3) / 1e3 AS avg_std_px
FROM doc GROUP BY 3
"""


def multimodal_image_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image feature extraction: real PNGs →
    ``operators.multimodal.image_features_media``
    (decode, per-mille integer BT.601 luma, 8x8 patch resample,
    mean-centered unit-normalized 64-dim embedding) — the content
    signature that feeds ``operators.similarity`` unchanged. Digest
    consumes the embedding with NATIVE array expressions (L2 norm via
    F.aggregate — must be 1.0 for any non-constant image) per luma
    decile. FULL DuckDB oracle (``IMAGE_EMBED_SQL``): the
    integer-moment luma discipline makes the entire chain — decode,
    index-map resample, centering, normalization, float32 embedding,
    left-fold l2 — replayable from (doc_id, text) op for op. Map-only
    until the digest agg."""
    from ..operators.multimodal import image_features_media, png_encode

    enc = png_encode

    def payload(i, text):
        w, h = 6 + i % 17, 5 + i % 13
        return enc(_tile_text(text, w * h * 3).reshape(h, w, 3))

    media = _synthetic_media(spark, sf_dir, "image/png", payload)
    emb = image_features_media(media, grid=8)
    l2 = F.sqrt(
        F.aggregate(
            "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    decile = (F.floor(F.col("mean_luma") / 32) * 32).cast("int").alias("luma_band")
    return (
        emb.select(decile, l2.alias("l2"), "std_luma")
        .groupBy("luma_band")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            stable_round(F.avg("l2"), 6).alias("avg_l2"),
            stable_round(F.avg("std_luma"), 3).alias("avg_std_luma"),
        )
        .orderBy("luma_band")
    )


# Analytic dual: the embed pipeline is lossless-PNG round-trip →
# per-mille integer luma (299R+587G+114B, an exact BIGINT per pixel) →
# nearest-neighbor 8×8 index map → moment-identity centering/
# normalization → float32 embedding. Every sum the statistics need
# (S, SS over the full image; S64, SS64 over the 64 grid cells) is an
# exact integer derivable from (doc_id, text), and the remaining float
# chain (one division per value, sqrt(GREATEST(...)) norms, the
# centered/scaled/REAL-cast embedding values, the left-fold l2) is
# replayed op for op. l2 ≈ 1.0 for every non-constant image — the dual
# PROVES it from first principles rather than asserting it.
IMAGE_EMBED_SQL = """
WITH d AS (
  SELECT doc_id AS i, 6 + doc_id % 17 AS w, 5 + doc_id % 13 AS h,
         CASE WHEN text IS NULL OR text = '' THEN ' ' ELSE text END AS t
  FROM documents
), b AS (
  SELECT i, pos - 1 AS pos0, CAST(unicode(ch) AS BIGINT) AS byte
  FROM (SELECT i, generate_subscripts(cs, 1) AS pos, UNNEST(cs) AS ch
        FROM (SELECT i, string_split(t, '') AS cs FROM d))
), len AS (
  SELECT i, COUNT(*) AS len_b FROM b GROUP BY 1
), pix AS (
  -- per-mille luma numerator of every full-image pixel j
  SELECT d.i, jj.j,
         CAST(SUM(CASE kk.k WHEN 0 THEN 299 WHEN 1 THEN 587 ELSE 114 END
                  * b.byte) AS BIGINT) AS m
  FROM d
  JOIN len ON len.i = d.i
  CROSS JOIN range(0, 400) jj(j)
  CROSS JOIN range(0, 3) kk(k)
  JOIN b ON b.i = d.i AND b.pos0 = (3 * jj.j + kk.k) % len.len_b
  WHERE jj.j < d.w * d.h
  GROUP BY 1, 2
), fullstats AS (
  SELECT i, COUNT(*) AS n_px, SUM(m) AS s, SUM(m * m) AS ss
  FROM pix GROUP BY 1
), cells AS (
  -- 8x8 nearest-neighbor grid; dim = gy*8 + gx matches reshape(-1)
  SELECT d.i, gg.gy * 8 + gx.gx AS dim,
         ((gg.gy * d.h) // 8) * d.w + ((gx.gx * d.w) // 8) AS j
  FROM d
  CROSS JOIN range(0, 8) gg(gy)
  CROSS JOIN range(0, 8) gx(gx)
), gridstats AS (
  SELECT cells.i, SUM(pix.m) AS s64, SUM(pix.m * pix.m) AS ss64
  FROM cells JOIN pix ON pix.i = cells.i AND pix.j = cells.j
  GROUP BY 1
), norms AS (
  SELECT i, s64,
         SQRT(GREATEST(
           CAST(ss64 AS DOUBLE) / 1e6
             - (CAST(s64 AS DOUBLE) / 1000.0)
               * (CAST(s64 AS DOUBLE) / 1000.0) / 64,
           0.0)) AS nrm
  FROM gridstats
), emb AS (
  SELECT cells.i, cells.dim,
         CAST(CASE WHEN norms.nrm > 0
              THEN ((CAST(pix.m AS DOUBLE) / 1000.0
                     - CAST(norms.s64 AS DOUBLE) / 64000.0) / norms.nrm)
              ELSE 0.0 END AS REAL) AS ef
  FROM cells
  JOIN pix ON pix.i = cells.i AND pix.j = cells.j
  JOIN norms ON norms.i = cells.i
), l2 AS (
  SELECT i, SQRT(list_reduce(
           list(CAST(ef AS DOUBLE) * CAST(ef AS DOUBLE) ORDER BY dim),
           (a, x) -> a + x)) AS l2
  FROM emb GROUP BY i
), docstats AS (
  SELECT f.i,
         CAST(f.s AS DOUBLE) / (f.n_px * 1000.0) AS mean_luma,
         SQRT(GREATEST(
           CAST(f.ss AS DOUBLE) / (f.n_px * 1000000.0)
             - (CAST(f.s AS DOUBLE) / (f.n_px * 1000.0))
               * (CAST(f.s AS DOUBLE) / (f.n_px * 1000.0)),
           0.0)) AS std_luma,
         l2.l2
  FROM fullstats f JOIN l2 ON l2.i = f.i
)
SELECT CAST(FLOOR(mean_luma / 32) * 32 AS INTEGER) AS luma_band,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       ROUND(AVG(l2) * 1e6) / 1e6 AS avg_l2,
       ROUND(AVG(std_luma) * 1e3) / 1e3 AS avg_std_luma
FROM docstats
GROUP BY 1
"""


def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode path (the dominant real-corpus image
    format): each document's text bytes
    become a deterministic image whose JPEG class cycles with doc_id over
    the five real-corpus variants — grayscale, 4:4:4 color, 4:2:0
    chroma-subsampled, 4:4:4 with restart intervals (DRI + RSTn markers,
    predictor resets), and PROGRESSIVE (SOF2: spectral-selection scan
    script with successive-approximation refinement, T.81 annex G) —
    encoded by the full T.81 encoder (quality-scaled Annex-K
    quantization, standard Huffman tables) and decoded back by the full
    parser (marker walk, canonical Huffman multi-scan assembly,
    dequantize + vectorized IDCT, chroma upsample, YCbCr→RGB).
    Digest: per (variant, n_channels) image count, dims, mean pixel —
    deterministic because the whole codec is (fixed tables, integer
    quantization). Rows-only (a lossy codec round-trip has no SQL dual);
    round-trip error bounds, solid-block exactness, restart-equivalence,
    and the independent header-sniffer dims cross-check are pinned in
    tests/test_operators.py. Both stages Arrow-batched map-only
    mapInPandas."""
    from ..operators.multimodal import decode_jpeg_media, jpeg_encode

    enc = jpeg_encode

    def payload(i, text):
        w = 8 + i % 17
        h = 8 + i % 13
        variant = i % 5
        if variant == 0:  # grayscale
            return enc(_tile_text(text, w * h).reshape(h, w), quality=90)
        px = _tile_text(text, w * h * 3).reshape(h, w, 3)
        if variant == 1:  # 4:4:4
            return enc(px, quality=90)
        if variant == 2:  # 4:2:0
            return enc(px, quality=90, subsample=True)
        if variant == 3:  # restart intervals
            return enc(px, quality=90, restart_interval=2)
        return enc(px, quality=90, progressive=True)  # progressive (SOF2, annex-G refinement)

    decoded = decode_jpeg_media(_synthetic_media(spark, sf_dir, "image/jpeg", payload))
    variant = (F.col("doc_id") % 5).cast("int").alias("variant")
    return (
        decoded.select(variant, "width", "height", "n_channels", "mean_px")
        .groupBy("variant", "n_channels")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("width").cast("long").alias("sum_width"),
            F.sum("height").cast("long").alias("sum_height"),
            F.round(F.avg("mean_px"), 3).alias("avg_mean_px"),
        )
        .orderBy("variant")
    )


QUERIES: dict[str, QueryDef] = {
    "multimodal_decode_jpeg": QueryDef(
        multimodal_decode_jpeg,
        None,
        "multimodal: REAL baseline JPEG decode (gray/444/420/restart mixed corpus)",
    ),
    "multimodal_metadata_stats": QueryDef(
        multimodal_metadata_stats, MULTIMODAL_METADATA_SQL, "multimodal: metadata agg"
    ),
    "multimodal_sniff_headers": QueryDef(
        multimodal_sniff_headers,
        SNIFF_HEADERS_SQL,
        "multimodal: header-only format triage (PNG/JPEG/GIF/WAV sniff, no decode)",
    ),
    "multimodal_decode_wav": QueryDef(
        multimodal_decode_wav,
        DECODE_WAV_SQL,
        "multimodal: REAL WAV encode->decode round-trip (RIFF/PCM16 parser, signal stats)",
    ),
    "multimodal_audio_features": QueryDef(
        multimodal_audio_features,
        None,
        "multimodal: REAL audio feature extraction (rfft spectral centroid/bandwidth, ZCR, peak)",
    ),
    "multimodal_decode_png": QueryDef(
        multimodal_decode_png,
        DECODE_PNG_SQL,
        "multimodal: REAL PNG encode->decode round-trip (pure-Python codec, CRC+inflate+unfilter)",
    ),
    "multimodal_frame_sample_gif": QueryDef(
        multimodal_frame_sample_gif,
        FRAME_SAMPLE_GIF_SQL,
        "multimodal: REAL animated-GIF 1:N frame sampling (LZW codec, disposal compositing)",
    ),
    "multimodal_resize_png": QueryDef(
        multimodal_resize_png,
        RESIZE_PNG_SQL,
        "multimodal: REAL image resize (decode -> nearest-neighbor -> re-encode, re-decoded proof)",
    ),
    "multimodal_image_embed": QueryDef(
        multimodal_image_embed,
        IMAGE_EMBED_SQL,
        "multimodal: REAL image feature extraction (luma patch embedding, unit-norm pinned)",
    ),
}
