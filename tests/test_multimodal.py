"""Multimodal plumbing tests: binary columns through Arrow-batched
mapInPandas — schemas, batch shapes, deterministic stub kernels."""

import hashlib

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    from podcast_crawler_spark.operators.multimodal import docs_as_media

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return docs_as_media(docs).cache()


def test_media_schema(media):
    types = dict(media.dtypes)
    assert types == {"media_id": "bigint", "blob": "binary", "media_type": "string"}


def _image_meta_columns(media):
    """The deterministic slice of ``decode_image`` (n_bytes, format,
    width, height are functions of the byte length) as pure column ops."""
    from pyspark.sql import functions as F

    n = F.length(F.col("blob")).cast("long")
    return media.select(
        F.col("media_id"),
        n.alias("n_bytes"),
        F.when(n % 2 == 0, F.lit("png")).otherwise(F.lit("jpeg")).alias("format"),
        (64 + n % 512).cast("int").alias("width"),
        (64 + F.floor(n / 7) % 512).cast("int").alias("height"),
    )


def test_decode_image_matches_sql_equivalent(media):
    """The UDF path and the pure-column path must agree — pins the Arrow
    round-trip (bytes in pandas == bytes in JVM)."""
    from podcast_crawler_spark.operators.multimodal import decode_image

    udf_rows = {
        r.media_id: (r.n_bytes, r.format, r.width, r.height)
        for r in decode_image(media).collect()
    }
    col_rows = {
        r.media_id: (r.n_bytes, r.format, r.width, r.height)
        for r in _image_meta_columns(media).collect()
    }
    assert udf_rows == col_rows


def test_decode_image_sha1(spark, media):
    from podcast_crawler_spark.operators.multimodal import decode_image

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(5).collect()
    got = {r.media_id: r.sha1 for r in decode_image(media).collect()}
    for d in docs:
        assert got[d.doc_id] == hashlib.sha1(d.text.encode()).hexdigest()


def test_audio_features_deterministic(media):
    from podcast_crawler_spark.operators.multimodal import extract_audio_features

    rows = extract_audio_features(media).collect()
    assert len(rows) == media.count()
    for r in rows[:10]:
        assert r.duration_s == r.n_bytes / 16000.0
        assert r.rms >= 0.0


def test_video_frames_udtf_shape(media):
    from podcast_crawler_spark.operators.multimodal import sample_video_frames

    frames = sample_video_frames(media)
    rows = frames.collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    blob_len = {r.media_id: len(bytes(r.blob)) for r in media.collect()}
    for mid, frs in by_media.items():
        n = blob_len[mid]
        assert len(frs) == min(4, max(1, n // 1024))
        idxs = sorted(f.frame_idx for f in frs)
        assert idxs == list(range(len(frs)))
        for f in frs:
            off = f.frame_idx * 1024
            assert len(bytes(f.frame)) == min(16, max(n - off, 0))


def test_resize_image_cycle_semantics(spark):
    """Fake resize kernel: output is exactly np.resize (cycle/truncate)
    of the source bytes at 64x64."""
    import numpy as np

    from podcast_crawler_spark.operators.multimodal import docs_as_media, resize_image

    rows = [(1, "abc"), (2, "x" * 5000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.media_id: bytes(r.resized)
        for r in resize_image(docs_as_media(df)).collect()
    }
    for i, text in rows:
        want = np.resize(
            np.frombuffer(text.encode(), dtype=np.uint8), 64 * 64
        ).tobytes()
        assert got[i] == want and len(got[i]) == 4096


def test_sniff_content_magic_and_charset(spark):
    from podcast_crawler_spark.operators.multimodal import sniff_content

    rows = [
        (1, bytes.fromhex("89504E470D0A1A0A") + b"xxx"),
        (2, bytes.fromhex("FFD8FFE0") + b"jfif"),
        (3, bytes.fromhex("1F8B08") + b"gz"),
        (4, b"%PDF-1.7 body"),
        (5, b'  <!DOCTYPE HTML><meta charset="Windows-1251">ok'),
        (6, b"\xef\xbb\xbfplain text here"),
        (7, b"\xef\xbb\xbf<html><meta charset=utf-8>"),
        (8, b"<?xml version='1.0'?><rss/>"),
        (9, b"just words"),
        (10, bytes.fromhex("474946383961") + b"gif"),
        (11, bytes.fromhex("FEFF") + b"\x00h"),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.id: r for r in sniff_content(df).collect()}
    assert out[1].mime == "image/png"
    assert out[2].mime == "image/jpeg"
    assert out[3].mime == "application/gzip"
    assert out[4].mime == "application/pdf"
    assert out[5].mime == "text/html" and out[5].meta_charset == "windows-1251"
    assert out[5].charset == "windows-1251" and out[5].bom_charset is None
    assert out[6].mime == "text/plain" and out[6].bom_charset == "utf-8"
    # BOM wins over meta when both present
    assert out[7].mime == "text/html" and out[7].charset == "utf-8"
    assert out[7].meta_charset == "utf-8"
    assert out[8].mime == "text/xml"
    assert out[9].mime == "text/plain" and out[9].charset is None
    assert out[10].mime == "image/gif"
    assert out[11].bom_charset == "utf-16be"


def test_sniff_content_map_side_codegen(spark):
    """No UDF, no exchange — the blob never leaves its scan task."""
    from podcast_crawler_spark.operators.multimodal import sniff_content

    df = spark.createDataFrame([(1, b"x")], "media_id long, payload binary")
    plan = sniff_content(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan, plan


def test_segment_audio_run_length(spark):
    """Framing, exact integer energies and run-length segmentation on a
    pinned byte pattern: loud-silence-loud yields two segments; an
    all-silent blob yields none with first = -1; the clipped tail frame
    divides by its real length."""
    from pyspark.sql import functions as F

    from podcast_crawler_spark.operators.multimodal import segment_audio

    loud = "z" * 64          # 122^2 = 14884 per sample
    quiet = " " * 64         # 32^2 = 1024
    rows = [
        (1, loud + quiet + quiet + loud + loud),  # segs at frames 0, 3-4
        (2, quiet * 3),
        (3, loud + "z" * 10),  # tail frame of 10 samples, still loud
    ]
    df = spark.createDataFrame(rows, "media_id long, text string").select(
        "media_id", F.encode("text", "UTF-8").alias("blob")
    )
    out = {r.media_id: r for r in segment_audio(df).collect()}
    a = out[1]
    assert (a.n_frames, a.n_speech, a.n_segments, a.longest_run) == (
        5, 3, 2, 2
    )
    assert a.first_speech_frame == 0
    assert out[2].n_segments == 0 and out[2].first_speech_frame == -1
    assert out[3].n_frames == 2 and out[3].n_speech == 2
    assert out[3].n_segments == 1 and out[3].longest_run == 2


def test_image_ahash_bits_and_grouping(spark):
    """Pinned payload: bits are the exact integer-mean thresholds;
    identical payloads share a hash, distinct ones don't; empty blobs
    vanish."""
    from pyspark.sql import functions as F

    from podcast_crawler_spark.operators.multimodal import image_ahash

    rows = [(1, "abab"), (2, "abab"), (3, "zzzz"), (4, "")]
    df = spark.createDataFrame(rows, "media_id long, text string").select(
        "media_id", F.encode("text", "UTF-8").alias("blob")
    )
    out = {r.media_id: r for r in image_ahash(df, hash_pixels=8).collect()}
    assert set(out) == {1, 2, 3}
    # "abab" tiled to 8 = a b a b a b a b; mean = (97+98)//2 = 97
    # bit = px > 97 -> b's only
    assert out[1].ahash == "01010101" and out[1].n_set == 4
    assert out[1].ahash == out[2].ahash
    # all-equal pixels: nothing exceeds the mean
    assert out[3].ahash == "00000000" and out[3].n_set == 0
