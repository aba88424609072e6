"""Multimodal column plumbing: images/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas UDFs.

The container has no image/audio codecs, so the *decode kernels* are
deterministic fakes clearly marked below (`_fake_decode_*`) — but the
Spark-side contract is real and tested: schemas, ``mapInPandas`` batch
shape (Arrow RecordBatch → pandas, binary as bytes objects), partition
sizing, and the metadata pushdown story.

Swap-in points for production:
  - ``decode_image``: replace ``_fake_decode_image`` with PIL/cv2.
  - ``extract_audio_features``: replace with torchaudio/librosa.
  - ``sample_video_frames``: replace with pyav frame iteration.

Scale notes (100 TB of media):
  - Binary payloads dominate partition size → size partitions by
    ``spark.sql.files.maxPartitionBytes`` (128 MB) and NEVER shuffle the
    binary column: all kernels are map-side (``mapInPandas``), and joins
    against metadata happen on the extracted (small) feature columns.
  - Feature extraction is CPU-bound per byte → Arrow batch transfer
    amortizes serialization; ``spark.sql.execution.arrow.maxRecordsPerBatch``
    tuned down (e.g. 64) for multi-MB blobs to bound executor memory.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

IMAGE_META_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("format", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("sha1", StringType(), True),
])

AUDIO_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("duration_s", DoubleType(), True),
    StructField("rms", DoubleType(), True),
])

FRAME_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_idx", IntegerType(), False),
    StructField("frame", BinaryType(), True),
])


def docs_as_media(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Adapter for the sandbox: materialize an opaque ``blob: binary``
    column (utf-8 bytes of text — a stand-in for image/audio payloads)
    plus a ``media_type`` tag.  In production this column comes straight
    from the source (WARC payload, tar shard member, …)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("blob"),
        F.element_at(
            F.array(F.lit("image/png"), F.lit("audio/mpeg"), F.lit("video/mp4")),
            (F.col(id_col) % 3 + 1).cast("int"),
        ).alias("media_type"),
    )


def _fake_decode_image(blob: bytes):
    """DETERMINISTIC FAKE (no codecs in container): derives pseudo
    width/height/format from the bytes.  Replace with PIL in production."""
    n = len(blob)
    return ("png" if n % 2 == 0 else "jpeg", 64 + n % 512, 64 + (n // 7) % 512)


def decode_image(media: DataFrame) -> DataFrame:
    """Image decode → typed metadata, via ``mapInPandas`` (map-side only;
    the blob never shuffles).  Output: IMAGE_META_SCHEMA."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                b = bytes(blob)
                fmt, w, h = _fake_decode_image(b)
                rows.append(
                    (int(mid), len(b), fmt, w, h, hashlib.sha1(b).hexdigest())
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in IMAGE_META_SCHEMA.fields]
            )

    return media.select("media_id", "blob").mapInPandas(
        _run, schema=IMAGE_META_SCHEMA
    )


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Audio feature extraction (duration + RMS).  DETERMINISTIC FAKE
    kernel: treats bytes as int8 PCM @16kHz.  Replace with torchaudio."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                b = np.frombuffer(bytes(blob), dtype=np.int8).astype(np.float64)
                # duration is one IEEE division — bit-identical across
                # engines, so no rounding (decimal round-half rules differ
                # between numpy/banker's and SQL half-away); rms rounds to
                # 6 dp on both sides
                rows.append((
                    int(mid),
                    len(b),
                    len(b) / 16000.0,
                    round(float(np.sqrt(np.mean(b * b))) if len(b) else 0.0, 6),
                ))
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields]
            )

    return media.select("media_id", "blob").mapInPandas(
        _run, schema=AUDIO_FEATURES_SCHEMA
    )


RESIZE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("resized", BinaryType(), False),
])


def resize_image(media: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Image resize → fixed-size pixel buffer, via ``mapInPandas``
    (map-side; neither source nor resized blob ever shuffles).
    DETERMINISTIC FAKE kernel (no codecs in container): the "resized
    pixels" are the source bytes cycled/truncated to width·height
    (``np.resize`` semantics — repeat then cut), so output size AND
    content are exact functions of the input bytes that an oracle can
    recompute.  Replace with PIL ``Image.resize`` in production — the
    schema, batch shape, and partitioning contract stay identical."""
    npix = width * height

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                src = np.frombuffer(bytes(blob), dtype=np.uint8)
                out = np.resize(src, npix) if len(src) else np.zeros(npix, np.uint8)
                rows.append((int(mid), width, height, out.tobytes()))
            yield pd.DataFrame(
                rows, columns=[f.name for f in RESIZE_SCHEMA.fields]
            )

    return media.select("media_id", "blob").mapInPandas(_run, schema=RESIZE_SCHEMA)


def sample_video_frames(media: DataFrame, every_n_bytes: int = 1024,
                        max_frames: int = 4) -> DataFrame:
    """Frame sampling: one row per sampled frame (UDTF-shaped: input row →
    N output rows).  DETERMINISTIC FAKE: a "frame" is a 16-byte slice at
    each stride.  Replace with pyav keyframe extraction."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                b = bytes(blob)
                for i in range(min(max_frames, max(1, len(b) // every_n_bytes))):
                    off = i * every_n_bytes
                    rows.append((int(mid), i, b[off:off + 16]))
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])

    return media.select("media_id", "blob").mapInPandas(_run, schema=FRAME_SCHEMA)


# WHATWG-ish magic table: hex prefix -> MIME.  Ordered longest-prefix
# first so PNG (8 bytes) wins before shorter patterns get a look.
_MAGIC = [
    ("89504E470D0A1A0A", "image/png"),
    ("474946383761", "image/gif"),
    ("474946383961", "image/gif"),
    ("255044462D", "application/pdf"),
    ("504B0304", "application/zip"),
    ("4F676753", "application/ogg"),
    ("FFD8FF", "image/jpeg"),
    ("1F8B", "application/gzip"),
]
_BOM = [
    ("EFBBBF", "utf-8"),
    ("FEFF", "utf-16be"),
    ("FFFE", "utf-16le"),
]


def sniff_content(
    df: DataFrame,
    bytes_col: str = "payload",
    id_col: str = "media_id",
    head_bytes: int = 1024,
) -> DataFrame:
    """Content sniffing over opaque crawl payloads — ``(id, mime,
    bom_charset, meta_charset, charset)``: the server's Content-Type
    header lies often enough that every real crawler re-derives type
    and charset from leading bytes (the WHATWG MIME-sniffing rules;
    podcast reality: enclosure URLs labeled text/html serving MP3s and
    vice versa — the reference trusts the label, `rss_parser` enclosure
    handling, which is exactly the production bug this closes).

    Rules, smallest useful subset, deterministic:
      - magic-byte MIME (PNG/GIF/PDF/ZIP/OGG/JPEG/GZIP, longest prefix
        first); else BOM/whitespace-tolerant ``<!doctype html`` /
        ``<html`` / ``<?xml`` probes => text/html | text/xml; else
        text/plain.
      - charset: BOM (utf-8 / utf-16be / utf-16le — FEFF checked
        before FFFE so utf-16be isn't shadowed) else, for text/html
        only, the ``<meta charset=...>`` value in the first
        *head_bytes* bytes, lowercased; ``charset`` is the coalesce.

    Scale shape: pure map-side whole-stage-codegen — the payload never
    shuffles, and only ``hex(substring(payload, 1, 8))`` plus a bounded
    lossy decode of the head ever touch the blob.  No UDF.
    """
    b = F.col(bytes_col)
    hx = F.upper(F.hex(F.substring(b, 1, 8)))
    # text probes run on a lossy-decoded, BOM/whitespace-stripped head.
    # cast(binary as string) wraps the bytes without validation (unlike
    # decode(), which raises MALFORMED_CHARACTER_CODING on arbitrary
    # binary payloads in ANSI mode) — malformed sequences pass through
    # and simply fail the ASCII probes, which is the sniffing semantics
    # we want.
    head = F.substring(b, 1, head_bytes).cast("string")
    head_clean = F.lower(
        F.ltrim(F.regexp_replace(head, "^﻿", ""))
    )
    text_mime = (
        F.when(
            head_clean.startswith("<!doctype html")
            | head_clean.startswith("<html"),
            F.lit("text/html"),
        )
        .when(head_clean.startswith("<?xml"), F.lit("text/xml"))
        .otherwise(F.lit("text/plain"))
    )
    # reversed iteration nests _MAGIC[0] outermost -> longest-prefix
    # patterns (PNG's 8 bytes) are checked before shorter ones
    mime = text_mime
    for prefix, mt in reversed(_MAGIC):
        mime = F.when(hx.startswith(prefix), F.lit(mt)).otherwise(mime)
    bom = F.lit(None).cast("string")
    for prefix, cs in reversed(_BOM):
        bom = F.when(hx.startswith(prefix), F.lit(cs)).otherwise(bom)
    meta = F.when(
        mime == "text/html",
        F.nullif(
            F.regexp_extract(head_clean, 'charset="?([a-z0-9_-]+)', 1),
            F.lit(""),
        ),
    )
    return df.select(
        F.col(id_col).alias("id"),
        mime.alias("mime"),
        bom.alias("bom_charset"),
        meta.alias("meta_charset"),
        F.coalesce(bom, meta).alias("charset"),
    )


AUDIO_SEGMENTS_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("n_frames", LongType(), False),
    StructField("n_speech", LongType(), False),
    StructField("n_segments", LongType(), False),
    StructField("longest_run", LongType(), False),
    StructField("first_speech_frame", LongType(), False),
])


def segment_audio(
    media: DataFrame,
    frame_samples: int = 64,
    energy_threshold: int = 5000,
) -> DataFrame:
    """Energy-based speech/silence segmentation (the VAD pre-pass every
    audio training pipeline runs before transcription — podcast audio
    is the reference's own payload domain).  DETERMINISTIC FAKE kernel
    like :func:`extract_audio_features`: bytes as int8 PCM, per-frame
    energy = ``sum(sample²) div len(frame)`` (EXACT integer — the
    clipped tail frame divides by its real length), speech = energy ≥
    threshold, segments = maximal speech runs.

    Output per media: ``(media_id, n_frames, n_speech, n_segments,
    longest_run, first_speech_frame)`` (−1 when all-silence).  All
    integers, so the DuckDB oracle replays the whole chain — framing,
    integer energies, run-length — bit-for-bit.

    ``mapInPandas`` map-side only (blobs never shuffle), numpy
    vectorized per batch; swap the kernel for a real VAD (silero,
    webrtcvad) in production — the Spark plumbing (schema, batching,
    zero-shuffle shape) is the part that carries.
    """

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                b = np.frombuffer(bytes(blob), dtype=np.int8).astype(
                    np.int64
                )
                n = len(b)
                if n == 0:
                    rows.append((int(mid), 0, 0, 0, 0, -1))
                    continue
                n_frames = (n + frame_samples - 1) // frame_samples
                speech = []
                for i in range(n_frames):
                    f = b[i * frame_samples:(i + 1) * frame_samples]
                    energy = int((f * f).sum()) // len(f)
                    speech.append(energy >= energy_threshold)
                n_speech = sum(speech)
                n_segments = longest = run = 0
                first = -1
                for i, s in enumerate(speech):
                    if s:
                        if first < 0:
                            first = i
                        run += 1
                        if run == 1:
                            n_segments += 1
                        longest = max(longest, run)
                    else:
                        run = 0
                rows.append((
                    int(mid), n_frames, int(n_speech), n_segments,
                    longest, first,
                ))
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_SEGMENTS_SCHEMA.fields]
            )

    return media.select("media_id", "blob").mapInPandas(
        _run, schema=AUDIO_SEGMENTS_SCHEMA
    )


def segments_oracle_sql(
    docs_sql: str,
    frame_samples: int = 64,
    energy_threshold: int = 5000,
) -> str:
    """DuckDB replay of :func:`segment_audio` over (media_id, text)
    rows whose utf-8 bytes ARE the PCM (the ASCII corpus makes
    ``unicode(char) = byte``, the :func:`extract_audio_features`
    oracle precedent).  Framing, exact integer energies, and the
    run-length (gaps-and-islands) segmentation are all replayed."""
    return f"""
        WITH c AS (
            SELECT media_id,
                   list_transform(string_split_regex(text, ''),
                                  x -> unicode(x)) AS codes
            FROM ({docs_sql}) d
        ),
        s AS (
            SELECT media_id,
                   unnest(codes) AS code,
                   generate_subscripts(codes, 1) - 1 AS i
            FROM c WHERE len(codes) > 0
        ),
        fr AS (
            SELECT media_id, i // {frame_samples} AS frame,
                   SUM(code * code) // COUNT(*) >= {energy_threshold}
                       AS speech
            FROM s GROUP BY media_id, i // {frame_samples}
        ),
        runs AS (
            SELECT media_id, frame, speech,
                   frame - ROW_NUMBER() OVER (
                       PARTITION BY media_id, speech ORDER BY frame
                   ) AS grp
            FROM fr
        ),
        seg AS (
            SELECT media_id, grp, COUNT(*) AS run_len
            FROM runs WHERE speech GROUP BY media_id, grp
        ),
        agg AS (
            SELECT media_id,
                   COUNT(*) AS n_frames,
                   SUM(speech::int)::BIGINT AS n_speech,
                   COALESCE(MIN(CASE WHEN speech THEN frame END), -1)
                       AS first_speech_frame
            FROM fr GROUP BY media_id
        ),
        sg AS (
            SELECT media_id, COUNT(*) AS n_segments,
                   MAX(run_len) AS longest_run
            FROM seg GROUP BY media_id
        )
        SELECT a.media_id, a.n_frames, a.n_speech,
               COALESCE(sg.n_segments, 0)::BIGINT AS n_segments,
               COALESCE(sg.longest_run, 0)::BIGINT AS longest_run,
               a.first_speech_frame::BIGINT AS first_speech_frame
        FROM agg a LEFT JOIN sg ON a.media_id = sg.media_id
    """


AHASH_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("ahash", StringType(), False),
    StructField("n_set", LongType(), False),
])


def image_ahash(media: DataFrame, hash_pixels: int = 64) -> DataFrame:
    """Average-hash (aHash) perceptual image fingerprint: downsample to
    *hash_pixels* grayscale pixels, threshold each at the integer mean,
    emit the bit pattern — the cheap perceptual key for exact-group
    image dedup (identical re-encodes, thumbnails of the same asset).
    DETERMINISTIC FAKE downsample like :func:`resize_image`
    (``np.resize`` tiling — swap for PIL in production; the Spark shape
    is the deliverable): the first *hash_pixels* of the tiled payload.

    Output: ``(media_id, ahash, n_set)`` with ``ahash`` the bit string
    (msb = pixel 0) — group by it for dup clusters exactly like
    ``dedup.exact_dups`` groups text digests.  Integer mean
    (``sum div n``), so the DuckDB oracle replays every bit.

    ``mapInPandas`` map-side only; blobs never shuffle — only the
    64-char key does.
    """

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                src = np.frombuffer(bytes(blob), dtype=np.uint8)
                if len(src) == 0:
                    continue
                px = np.resize(src, hash_pixels).astype(np.int64)
                mean = int(px.sum()) // hash_pixels
                bits = (px > mean).astype(np.int64)
                rows.append((
                    int(mid),
                    "".join("1" if b else "0" for b in bits),
                    int(bits.sum()),
                ))
            yield pd.DataFrame(
                rows, columns=[f.name for f in AHASH_SCHEMA.fields]
            )

    return media.select("media_id", "blob").mapInPandas(
        _run, schema=AHASH_SCHEMA
    )


def ahash_oracle_sql(docs_sql: str, hash_pixels: int = 64) -> str:
    """DuckDB replay of :func:`image_ahash` over (media_id, text) whose
    utf-8 bytes stand in for the image payload (ASCII corpus ⇒
    ``unicode(char) = byte``, the audio-oracle precedent); the tiling
    downsample is ``codes[(i % n) + 1]``."""
    return f"""
        WITH c AS (
            SELECT media_id,
                   list_transform(string_split_regex(text, ''),
                                  x -> unicode(x)) AS codes
            FROM ({docs_sql}) d
        ),
        p AS (
            SELECT media_id,
                   list_transform(range({hash_pixels}),
                                  i -> codes[(i % len(codes)) + 1]) AS px
            FROM c WHERE len(codes) > 0
        ),
        m AS (
            SELECT media_id, px,
                   list_sum(px) // {hash_pixels} AS mean
            FROM p
        )
        SELECT media_id,
               array_to_string(
                   list_transform(px, x -> CASE WHEN x > mean
                                                THEN '1' ELSE '0' END),
                   '') AS ahash,
               list_sum(list_transform(px, x -> (x > mean)::int))::BIGINT
                   AS n_set
        FROM m
    """
