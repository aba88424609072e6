"""Spark parse stage ≡ pandas oracle; byte-identical extracted text per url
(the BASELINE.json per-row invariant) on the synthetic corpus and the
reference fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from test_feedparse_goldens import _fixture

from podcast_crawler_spark.feedparse.rssparse import parse_feed_result
from podcast_crawler_spark.functions.schemas import PAGES_SCHEMA
from podcast_crawler_spark.functions.udfs import (
    explode_episodes,
    parse_pages,
)
from podcast_crawler_spark.sources.pagesgen import (
    EPOCH0,
    FAIL_BAD_ENCLOSURE,
    FAIL_BAD_ENTITY,
    FAIL_MISSING_TITLE,
    gen_pages,
)

N_FEEDS = 120


def _reference_fixture_pages(spark):
    """The three reference fixture feeds as pages rows, read from the
    reference checkout (the test skips without it)."""
    rows = []
    for url, fname, lang in [
        ("https://www.ximalaya.com/album/20527677.xml", "ximalaya.xml", "zh-cn"),
        ("https://techblog.example/feed1", "complex_feed.xml", "en-us"),
        ("https://xyz.example/feed2", "xiaoyuzhou.xml", "zh-cn"),
    ]:
        html = _fixture(fname)
        rows.append((url, EPOCH0, html, parse_feed_result(html, url)["text"], lang))
    return spark.createDataFrame(rows, schema=PAGES_SCHEMA)


def test_extracted_text_byte_identity(spark):
    pages = gen_pages(spark, N_FEEDS, partitions=4).cache()
    parsed = parse_pages(pages, passthrough=["url", "text"])
    rows = parsed.collect()
    assert len(rows) == pages.count()
    n_ok = 0
    for r in rows:
        if r.parse_error_kind is None:
            assert r.extracted_text is not None
            assert r.extracted_text == r.text, f"text mismatch for {r.url}"
            n_ok += 1
        else:
            assert r.text is None, f"golden text present for failing {r.url}"
    assert n_ok > 100  # most feeds parse


def test_parse_error_taxonomy(spark):
    pages = gen_pages(spark, 120, partitions=4)
    parsed = parse_pages(pages).select("url", "parse_error_kind")
    by_url = {r.url: r.parse_error_kind for r in parsed.collect()}
    from podcast_crawler_spark.sources.pagesgen import feed_url

    assert by_url[feed_url(FAIL_MISSING_TITLE)] == "missing_field"
    assert by_url[feed_url(FAIL_BAD_ENTITY)] == "invalid_xml"
    assert by_url[feed_url(FAIL_BAD_ENCLOSURE)] == "missing_field"


def test_bad_character_reference_fails_only_its_feed(spark):
    """Numeric references to no character (past U+10FFFF, a surrogate)
    fail their own feed as invalid_xml; the stage itself completes."""
    feed = "<rss><channel><title>T{}</title></channel></rss>"
    pages = spark.createDataFrame(
        [
            (f"http://e/{i}", bytearray(feed.format(ref).encode()))
            for i, ref in enumerate(["", " &#1114112;", " &#xD800;"])
        ],
        "url string, html binary",
    )
    kinds = {r.url: r.parse_error_kind for r in parse_pages(pages).collect()}
    assert kinds == {
        "http://e/0": None, "http://e/1": "invalid_xml", "http://e/2": "invalid_xml"
    }


def test_reference_fixtures_through_spark(spark):
    pages = _reference_fixture_pages(spark)
    parsed = parse_pages(pages, passthrough=["url", "text"]).collect()
    assert len(parsed) == 3
    titles = {r.podcast.title for r in parsed}
    assert titles == {"能量棒", "Tech Talks Daily Podcast", "其他垃圾"}
    for r in parsed:
        assert r.parse_error_kind is None
        assert r.extracted_text == r.text


def test_explode_episodes_inherits_podcast_id(spark):
    pages = gen_pages(spark, 50, partitions=2)
    parsed = parse_pages(pages)
    eps = explode_episodes(parsed)
    joined = (
        eps.select("rss_feed_url", "podcast_id")
        .withColumn("expected", F.xxhash64("rss_feed_url"))
        .filter(F.col("podcast_id") != F.col("expected"))
    )
    assert joined.count() == 0
    assert eps.filter(F.col("guid").isNull()).count() == 0
    assert eps.count() > 50
