"""Golden tests ported from the reference test suite.

Sources (asserted values are data, not code):
* ``/root/reference/tests/rss_parser_test.rs`` — inline feed, ximalaya
  fixture, CDATA feed, scalar functions.
* ``/root/reference/tests/crawler_test.rs:95-153`` — complex_feed +
  xiaoyuzhou titles and first-episode enclosure url/type/length.

Per SURVEY.md §5 the stale asserts at ``rss_parser_test.rs:49-50``
(episode.link / explicit for an item that contains neither tag) and the
network-dependent ``test_parse_larger_rss`` are excluded.

Fixture XML files are read from the read-only reference checkout at test
time (never copied into this repo); tests skip if that path is absent.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest

from podcast_crawler_spark.feedparse import (
    FeedParseError,
    clean_html,
    extract_text,
    parse_bool,
    parse_date,
    parse_feed,
    parse_feed_result,
    validate_url,
)

REF_DATA = "/root/reference/tests/data"

INLINE_RSS = b"""<?xml version="1.0" encoding="UTF-8"?>
        <rss version="2.0">
            <channel>
                <title>Test Podcast</title>
                <description>Test Description</description>
                <link>https://example.com</link>
                <item>
                    <title>Test Episode</title>
                    <description>Episode Description</description>
                    <pubDate>Wed, 04 Dec 2024 10:06:00 GMT</pubDate>
                    <enclosure length="58495109" type="audio/x-m4a" url="https://jt.ximalaya.com/GKwRIRwLJTZJAVQGqQM6aIx4.m4a?channel=rss&amp;album_id=20527677&amp;track_id=780798209&amp;uid=139127380&amp;jt=https://aod.cos.tx.xmcdn.com/storages/96a7-audiofreehighqps/89/D2/GKwRIRwLJTZJAVQGqQM6aIx4.m4a" />
                </item>
            </channel>
        </rss>"""

CDATA_RSS = b"""<?xml version="1.0" encoding="UTF-8"?>
        <rss version="2.0">
            <channel>
                <title>Test Podcast</title>
                <description><![CDATA[This is a <b>description</b> with CDATA]]></description>
                <link>https://example.com</link>
                <item>
                    <title>Test Episode</title>
                    <description><![CDATA[Episode <strong>description</strong> with CDATA]]></description>
                    <enclosure url="http://example.com/audio.mp3" type="audio/mpeg" length="1234"/>
                </item>
            </channel>
        </rss>"""


def _fixture(name: str) -> bytes:
    path = os.path.join(REF_DATA, name)
    if not os.path.exists(path):
        pytest.skip(f"reference fixture {name} not available")
    with open(path, "rb") as fh:
        return fh.read()


def test_parse_inline_rss():
    podcast, episodes = parse_feed(INLINE_RSS, "https://example.com/feed.xml")
    assert podcast["title"] == "Test Podcast"
    assert podcast["description"] == "Test Description"
    assert podcast["link"] == "https://example.com"
    assert podcast["rss_feed_url"] == "https://example.com/feed.xml"
    ep = episodes[0]
    assert ep["title"] == "Test Episode"
    assert ep["description"] == "Episode Description"
    # enclosure &amp; decoded, https URL otherwise untouched (rss.rs:456-470)
    assert ep["enclosure_url"] == (
        "https://jt.ximalaya.com/GKwRIRwLJTZJAVQGqQM6aIx4.m4a?channel=rss"
        "&album_id=20527677&track_id=780798209&uid=139127380"
        "&jt=https://aod.cos.tx.xmcdn.com/storages/96a7-audiofreehighqps"
        "/89/D2/GKwRIRwLJTZJAVQGqQM6aIx4.m4a"
    )
    assert ep["enclosure_type"] == "audio/x-m4a"
    assert ep["enclosure_length"] == 58495109
    assert ep["pub_date"] == datetime(2024, 12, 4, 10, 6, tzinfo=timezone.utc)
    # stale reference asserts excluded: item has no <link>/<itunes:explicit>
    assert ep["link"] is None
    assert ep["explicit"] is None


def test_parse_ximalaya():
    content = _fixture("ximalaya.xml")
    podcast, episodes = parse_feed(
        content, "https://www.ximalaya.com/album/20527677.xml"
    )
    assert podcast["title"] == "能量棒"
    assert podcast["link"] == "https://www.ximalaya.com/album/20527677"
    assert podcast["language"] == "zh-cn"
    assert podcast["author"] == "雨荷能量棒"
    assert podcast["owner_name"] == "雨荷能量棒"
    assert podcast["owner_email"] == "xzsydney@hotmail.com"
    assert podcast["image_url"] == (
        "https://fdfs.xmcdn.com/storages/0a92-audiofreehighqps/4E/FC/"
        "GMCoOSQG2hUGAAKA8AGWNFf8.jpeg"
    )
    assert podcast["explicit"] is False
    # raw attribute values: bare '&' kept literally (P12), nested categories
    assert podcast["category"] == [
        "Society & Culture",
        "Relationships",
        "Health & Fitness",
        "Mental Health",
        "Education",
        "Self-Improvement",
    ]

    assert len(episodes) == 1
    ep = episodes[0]
    assert ep["title"] == "68. 你的职业面具是什么颜色？上班穿西装还是防弹背心？"
    assert "上班累吗？" in ep["description"]
    # the <p style=...> and data-flag attrs are stripped, <p> kept
    assert ep["description"].startswith("<p>上班累吗？")
    # bare '&' in enclosure url kept; '//' preserved for http(s) URLs
    assert ep["enclosure_url"] == (
        "https://jt.ximalaya.com//GKwRIRwLJTZJAVQGqQM6aIx4.m4a?channel=rss"
        "&album_id=20527677&track_id=780798209&uid=139127380"
        "&jt=https://aod.cos.tx.xmcdn.com/storages/96a7-audiofreehighqps"
        "/89/D2/GKwRIRwLJTZJAVQGqQM6aIx4.m4a"
    )
    assert ep["enclosure_type"] == "audio/x-m4a"
    assert ep["enclosure_length"] == 58495109
    assert ep["link"] == "https://www.ximalaya.com/sound/780798209"
    assert ep["explicit"] is False
    assert ep["episode_image_url"] == (
        "https://fdfs.xmcdn.com/storages/49d2-audiofreehighqps/2B/DD/"
        "GKwRIJEG2hRIAAEQKQGWM_Kd.jpeg"
    )
    assert ep["pub_date"] == datetime(2024, 12, 4, 10, 6, tzinfo=timezone.utc)
    assert ep["guid"] == "xmly_track_780798209"
    assert ep["duration"] == "1:00:55"


def test_parse_cdata_rss():
    podcast, episodes = parse_feed(CDATA_RSS, "http://example.com/feed.xml")
    assert podcast["title"] == "Test Podcast"
    assert podcast["description"] == "This is a <b>description</b> with CDATA"
    ep = episodes[0]
    assert ep["title"] == "Test Episode"
    assert ep["description"] == "Episode <strong>description</strong> with CDATA"
    assert ep["enclosure_url"] == "http://example.com/audio.mp3"
    assert ep["enclosure_type"] == "audio/mpeg"
    assert ep["enclosure_length"] == 1234


def test_parse_complex_feed():
    content = _fixture("complex_feed.xml")
    podcast, episodes = parse_feed(content, "http://mock/feed1")
    assert podcast["title"] == "Tech Talks Daily Podcast"
    assert podcast["owner_name"] == "Neil C. Hughes"
    assert podcast["owner_email"] == "neil@techtalks.com"
    assert podcast["category"] == ["Technology", "Tech News"]
    assert podcast["keywords"] == [
        "technology,ai,digital transformation,tech news,interviews"
    ]
    assert podcast["explicit"] is False
    ep = episodes[0]
    assert ep["title"] == "The Future of AI in 2024"
    assert ep["enclosure_url"] == (
        "https://media.example.com/episodes/future-ai-2024.mp3"
    )
    assert ep["enclosure_type"] == "audio/mpeg"
    assert ep["enclosure_length"] == 58725344
    assert ep["guid"] == "tt-2024-11-18"
    # episode keywords never populated (rss.rs:416-438 has no keywords arm)
    assert ep["keywords"] is None
    assert ep["duration"] == "01:01:10"


def test_parse_xiaoyuzhou():
    content = _fixture("xiaoyuzhou.xml")
    podcast, episodes = parse_feed(content, "http://mock/feed2")
    assert podcast["title"] == "其他垃圾"
    # escaped entity in attribute stays literal (P12)
    assert podcast["category"] == ["Society &amp; Culture"]
    ep = episodes[0]
    assert ep["enclosure_url"] == (
        "https://dts-api.xiaoyuzhoufm.com/track/640599e78966402d7e9c6dbb/"
        "67371bf343dc3a4387e3094e/media.xyzcdn.net/"
        "ltdtG7FLOUAvMDMn5d9wouIDgvFR.m4a"
    )
    assert ep["enclosure_type"] == "audio/mp4"
    assert ep["enclosure_length"] == 73940105
    assert ep["description"] == (
        "<p>看完最新一期《再见爱人》，我们连夜制作了这期节目。</p>"
        "<p>每周四晚的情感负荷太大了，我们不得不怀疑这是中年夫妻在和全世界做恨。</p>"
    )


def test_missing_podcast_title_fails():
    rss = b"<rss><channel><description>x</description></channel></rss>"
    with pytest.raises(FeedParseError) as exc:
        parse_feed(rss, "http://e/f")
    assert exc.value.kind == "missing_field"


def test_missing_episode_title_fails():
    rss = (
        b"<rss><channel><title>T</title>"
        b"<item><description>d</description></item></channel></rss>"
    )
    with pytest.raises(FeedParseError) as exc:
        parse_feed(rss, "http://e/f")
    assert "episode title" in exc.value.message


def test_enclosure_without_url_fails_strict():
    rss = (
        b"<rss><channel><title>T</title><item><title>E</title>"
        b'<enclosure type="audio/mpeg" length="1"/></item></channel></rss>'
    )
    with pytest.raises(FeedParseError) as exc:
        parse_feed(rss, "http://e/f")
    assert "url not found" in exc.value.message


def test_bad_enclosure_length_fails_strict():
    rss = (
        b"<rss><channel><title>T</title><item><title>E</title>"
        b'<enclosure url="http://a.com/x.mp3" length="NaN"/></item></channel></rss>'
    )
    with pytest.raises(FeedParseError) as exc:
        parse_feed(rss, "http://e/f")
    assert "Invalid enclosure length" in exc.value.message


def test_invalid_link_fails():
    rss = (
        b"<rss><channel><title>T</title><link>not a url</link></channel></rss>"
    )
    with pytest.raises(FeedParseError) as exc:
        parse_feed(rss, "http://e/f")
    assert exc.value.kind == "invalid_format"


def test_unknown_entity_fails():
    rss = b"<rss><channel><title>T &nbsp; X</title></channel></rss>"
    with pytest.raises(FeedParseError) as exc:
        parse_feed(rss, "http://e/f")
    assert exc.value.kind == "invalid_xml"


@pytest.mark.parametrize("ref", ["&#1114112;", "&#x110000;", "&#xD800;", "&#57343;"])
def test_bad_character_reference_fails_feed(ref):
    """A numeric reference past U+10FFFF or to a surrogate is no
    character: the feed fails as invalid_xml instead of the parse raising."""
    rss = f"<rss><channel><title>T {ref}</title></channel></rss>".encode()
    res = parse_feed_result(rss, "http://e/f")
    assert res["error_kind"] == "invalid_xml"
    assert res["podcast"] is None


def test_mismatched_end_tag_fails():
    rss = b"<rss><channel><title>T</wrong></channel></rss>"
    with pytest.raises(FeedParseError) as exc:
        parse_feed(rss, "http://e/f")
    assert exc.value.kind == "invalid_xml"


def test_sticky_tag_owner_block():
    # nested itunes:owner works because current_tag is sticky (P11)
    rss = (
        b"<rss><channel><title>T</title><itunes:owner>"
        b"<itunes:name>Alice</itunes:name><itunes:email>a@b.c</itunes:email>"
        b"</itunes:owner></channel></rss>"
    )
    podcast, _ = parse_feed(rss, "http://e/f")
    assert podcast["owner_name"] == "Alice"
    assert podcast["owner_email"] == "a@b.c"


def test_last_text_event_wins():
    rss = (
        b"<rss><channel><title>First</title><title>Second</title>"
        b"</channel></rss>"
    )
    podcast, _ = parse_feed(rss, "http://e/f")
    assert podcast["title"] == "Second"


# ---- scalar goldens (rss_parser_test.rs:199-252) ----


def test_parse_bool():
    assert parse_bool("true") is True
    assert parse_bool("yes") is True
    assert parse_bool("1") is True
    assert parse_bool("false") is False
    assert parse_bool("no") is False
    assert parse_bool("0") is False
    assert parse_bool("invalid") is None
    assert parse_bool("TRUE") is True
    assert parse_bool("No") is False


def test_parse_date():
    d = parse_date("Wed, 04 Dec 2024 10:06:00 GMT")
    assert (d.year, d.month, d.day) == (2024, 12, 4)
    assert d.tzinfo == timezone.utc
    d = parse_date("2024-12-04T10:06:00Z")
    assert (d.year, d.month, d.day) == (2024, 12, 4)
    d = parse_date("2024-12-04 10:06:00")
    assert (d.year, d.month, d.day) == (2024, 12, 4)
    d = parse_date("2024-12-04")
    assert (d.hour, d.minute) == (0, 0)
    d = parse_date("2024-12-04T10:06:00+08:00")
    assert d == datetime(2024, 12, 4, 2, 6, tzinfo=timezone.utc)
    assert parse_date("invalid date") is None


def test_clean_html():
    html = (
        '<p>Hello <script>alert(\'xss\')</script>'
        '<a href="http://example.com">world</a>!</p>'
    )
    cleaned = clean_html(html)
    assert "script" not in cleaned
    assert "alert" not in cleaned  # clean_content_tags strips content too
    assert "Hello" in cleaned
    assert "world" in cleaned
    assert "href" in cleaned
    assert 'rel="noopener noreferrer"' in cleaned


def test_clean_html_escapes_and_strips():
    assert clean_html("Tom & Jerry") == "Tom &amp; Jerry"
    assert clean_html("a &amp; b") == "a &amp; b"
    assert clean_html('<p style="color:red" data-flag="x">hi</p>') == "<p>hi</p>"
    assert clean_html('<a href="javascript:alert(1)">x</a>') == (
        '<a rel="noopener noreferrer">x</a>'
    )
    assert clean_html("<unknown>kept</unknown>") == "kept"
    assert clean_html("<!-- c -->text") == "text"


def test_validate_url():
    assert validate_url("https://example.com")
    assert validate_url("http://example.com/feed.xml")
    assert not validate_url("not a url")
    assert not validate_url("a:////invalid")
    assert not validate_url("ftp://example.com/feed.xml")
    assert not validate_url("https:///nohost")


def test_extract_text_deterministic():
    podcast, episodes = parse_feed(INLINE_RSS, "https://example.com/feed.xml")
    text = extract_text(podcast, episodes)
    assert text == "Test Podcast\nTest Description\nTest Episode\nEpisode Description"
