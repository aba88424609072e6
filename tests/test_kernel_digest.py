"""One digest over everything the feedparse kernel can be seen to produce.

The parse kernel (``feedparse.xmlscan``, ``sanitize``, ``rssparse``,
``atomparse`` and the sitemap grammar that shares the scanner) may be
rewritten for speed, but never change what it returns.  No other test
compares a rewritten kernel with the old one: ``pages.text`` in the
synthetic corpus is computed by the kernel itself, and the reference
fixtures are not always present.  So this test hashes a canonical
rendering of

* ``parse_feed_result`` for pagesgen feeds 0-999 (every failure residue,
  the CDATA + ``<script>`` descriptions, all three date formats);
* the inline documents of ``tests/test_feedparse_goldens.py``, also under
  the non-default ``ParserConfig`` switches;
* ``scan()`` events and error messages/positions over an adversarial list
  of malformed and unusual documents, plus ``xml_unescape`` and
  ``clean_text`` over adversarial strings;
* the atom and sitemap parse of a few documents,

and compares it with a digest recorded from the kernel before any
rewrite.  The rendering is ``repr`` of plain tuples, so it depends on
values only, not on object identity or on the event class.
"""

from __future__ import annotations

import hashlib
import re

from test_feedparse_goldens import CDATA_RSS, INLINE_RSS

from podcast_crawler_spark.feedparse.atomparse import parse_atom_feed
from podcast_crawler_spark.feedparse.rssparse import (
    FeedParseError,
    ParserConfig,
    parse_feed,
    parse_feed_result,
)
from podcast_crawler_spark.feedparse.sanitize import clean_html, clean_text
from podcast_crawler_spark.feedparse.xmlscan import (
    XmlEscapeError,
    XmlScanError,
    scan,
    xml_unescape,
)
from podcast_crawler_spark.operators.sitemap import parse_sitemap
from podcast_crawler_spark.sources.pagesgen import (
    FAIL_BAD_ENCLOSURE,
    FAIL_BAD_ENTITY,
    FAIL_MISSING_TITLE,
    feed_url,
    feed_xml,
)

KERNEL_DIGEST = "75038d99118686609fea4c5c356f7b2000d7592e7a22383155ea812201723bd7"

N_FEEDS = 1000

# the function-local documents of tests/test_feedparse_goldens.py
GOLDEN_INLINE = [
    INLINE_RSS,
    CDATA_RSS,
    b"<rss><channel><description>x</description></channel></rss>",
    b"<rss><channel><title>T</title>"
    b"<item><description>d</description></item></channel></rss>",
    b"<rss><channel><title>T</title><item><title>E</title>"
    b'<enclosure type="audio/mpeg" length="1"/></item></channel></rss>',
    b"<rss><channel><title>T</title><item><title>E</title>"
    b'<enclosure url="http://a.com/x.mp3" length="NaN"/></item></channel></rss>',
    b"<rss><channel><title>T</title><link>not a url</link></channel></rss>",
    b"<rss><channel><title>T &nbsp; X</title></channel></rss>",
    b"<rss><channel><title>T</wrong></channel></rss>",
    b"<rss><channel><title>T</title><itunes:owner>"
    b"<itunes:name>Alice</itunes:name><itunes:email>a@b.c</itunes:email>"
    b"</itunes:owner></channel></rss>",
    b"<rss><channel><title>First</title><title>Second</title>"
    b"</channel></rss>",
]

# state changes outside <channel>, nested items, attribute-only start tags
NESTED_RSS = (
    b"<rss>&amp;<item><title>Early</title></item><channel><title>T</title>"
    b"<wat>x &amp; y</wat><link href='https://e.com/h'/>"
    b"<itunes:image href='https://e.com/c'/><itunes:category text='A'>"
    b"<itunes:category text='B'/></itunes:category><item><title>A</title>"
    b"<item><title>B</title><itunes:image/><itunes:image href='https://e.com/i'/>"
    b"</item></item></channel></rss>"
)

# feeds whose whitespace, \xa0 and entity handling differs by ParserConfig
EXTRA_RSS = [
    b"<rss><channel><title>  \n\t </title><title>T</title>"
    b"<description> \xc2\xa0 </description><language>\n</language>"
    b"<item><title>E &amp; F</title><description><![CDATA[ ]]></description>"
    b"<pubDate>2024-12-04</pubDate><guid> g </guid></item></channel></rss>",
    b"<rss><channel><title>A &lt;b&gt; &#65;&#x42;</title>"
    b"<description>x > y &amp; a &lt; b <!-- c --></description>"
    b"<itunes:category text='Arts &amp; Crafts'/>"
    b"<item><title><![CDATA[<i>E</i> \xc2\xa0&nbsp;]]></title>"
    b"<itunes:explicit>Yes</itunes:explicit></item></channel></rss>trailing",
    b"<rss><channel><title>T</title><item><title>E</title>"
    b"<enclosure url='a//b&amp;c'/></item></channel></rss>",
    b"<rss><channel><title>T</title><item><title>E</title><enclosure/>"
    b"</item></channel></rss>",
    NESTED_RSS,
    NESTED_RSS.replace(b"</rss>", b"<junk>&bad;</junk></rss>"),
    NESTED_RSS.replace(b"https://e.com/h", b"nope"),
]

CONFIGS = [
    ParserConfig(),
    ParserConfig(clean_html=False),
    ParserConfig(allow_empty_required=True),
    ParserConfig(strict_mode=False, validate_urls=False),
]

ADVERSARIAL_SCAN = [
    "<a><!-- never closed",
    "<a><![CDATA[ never closed",
    '<?xml version="1.0"',
    "<!DOCTYPE never closed",
    '<a href="x"',
    "<a x",
    "<a x=1>",
    '<a x="1>',
    "<a / >",
    "<a =x>",
    "< a>",
    "<>",
    "abc<",
    '<abc="1">',
    "</a",
    "</a>",
    "</>",
    "<a></b>",
    "<a><b></a></b>",
    '<a x="1" x="2"/>',
    "<a x='1' y='2' x='3'>",
    "<a x='single' y=\"double\" z='has \"dq\"'/>",
    '<a t="1 > 0" u="&bare & amp; &#1;" v="<">text</a>',
    "<a<b>x</a<b>",
    '<a/><b /><c x="1"/><d x="1" />',
    '<a x="1"y="2"></a>',
    '<a\tx = "1"\r\ny\n=\n\'2\'\t>\n</a\t >',
    "<r><!----><!-- - -- --><!DOCTYPE rss><?pi x?><?>?></r>",
    "<t>&#65;&#x42;&#X43;</t>",
    "<t>&unknown;</t>",
    "<t>\xa0 nb\xa0sp</t>",
    "<t>  \n\t </t>",
    "<r>x</r>trailing text",
    "<r><![CDATA[]]><![CDATA[<p>&amp;</p>]]></r>",
    "no markup at all",
    "",
    "<r>a\x00b</r>\x00",
    "<r><a></a><b>x</b><c >y</c><d>z</d ><e>&amp;<f/></e><g>1</h></r>",
]

UNESCAPE = [
    "", "plain", "a &amp; b", "&lt;&gt;&quot;&apos;", "&#65;&#x42;",
    "&#X43;", "&nbsp;", "bare & amp", "&", "&amp", "tail &#", "&#x1F600;",
    "&#;", "&a1;", "&1a;", "x&amp;&amp;y",
]

CLEAN = [
    "", "plain", "  padded  ", "a & b", "a &amp; b", "<b>x</b>", "x > y",
    "x < y", "\xa0", " nb\xa0sp ", "&nbsp;", "<!-- c -->t", "<!-- open",
    "<script>a</script>b", "<style>s</style>", "<p style='x'>q</p>",
    "<a href='javascript:x'>l</a>", "<a href=\"http://e.com/?a=1&amp;b\">l</a>",
    "<img src=x.png alt='a\xa0b'/>", "<br/>x<hr>", "\u2003", "<UNKNOWN>k</UNKNOWN>",
    "1 < 2 > 0", "&lt;tag&gt;", "<p>unclosed", "</p>stray",
]

ATOM = [
    b"""<?xml version="1.0"?>
<feed xmlns="http://www.w3.org/2005/Atom">
  <title>Atom &amp; Show</title><subtitle>sub</subtitle>
  <rights>cc</rights><author><name>Ann</name></author>
  <icon>https://e.com/i.png</icon><logo>https://e.com/l.png</logo>
  <link href="https://e.com/"/><link rel="self" href="https://e.com/f"/>
  <entry><title>One</title><id>urn:1</id>
    <updated>2024-12-04T10:06:00Z</updated>
    <published>2024-12-03T10:06:00+02:00</published>
    <summary>s &lt;1&gt;</summary><content><![CDATA[<b>c</b>]]></content>
    <link rel="enclosure" href="https://m.e.com/a.mp3?x=1&amp;y=2"
          type="audio/mpeg" length="12"/>
    <link href="https://e.com/1"/></entry>
  <entry><title>Two</title><updated>Wed, 04 Dec 2024 10:06:00 GMT</updated>
    <link rel="enclosure" href="//m.e.com/b.mp3" length="x"/></entry>
</feed>""",
    b"<feed><title>T</title><entry><id>x</id></entry></feed>",
    b"<feed><title>T &bogus;</title></feed>",
    b"<feed><title>T</titl></feed>",
    b"<rss><channel><title>not atom</title></channel></rss>",
]

SITEMAP = [
    """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>https://example.com/a?x=1&amp;y=2</loc>
    <lastmod>2025-01-05</lastmod><changefreq>daily</changefreq>
    <priority>0.8</priority></url>
  <url><loc><![CDATA[https://example.com/cdata&raw]]></loc></url>
  <url><loc>bad &entity; kept</loc></url>
  <url><lastmod>2024-12-31</lastmod></url>
</urlset>""",
    "<sm:sitemapindex><sm:sitemap><sm:loc> https://e.com/s1.xml "
    "</sm:loc></sm:sitemap><sitemap></sitemap></sm:sitemapindex>",
    "<urlset><url><loc>x</wrong></url></urlset>",
]


def _scan_events(doc):
    out = []
    try:
        for ev in scan(doc):
            out.append((ev.kind, ev.name, tuple(map(tuple, ev.attrs)), ev.text))
    except XmlScanError as exc:
        out.append(("XmlScanError", str(exc), exc.message, exc.pos))
    return out


def _call(fn, *args):
    try:
        return ("ok", fn(*args))
    except (FeedParseError, XmlScanError, XmlEscapeError) as exc:
        return (type(exc).__name__, str(exc), getattr(exc, "kind", None))


def _parts():
    for fid in range(N_FEEDS):
        url = feed_url(fid)
        yield ("pagesgen", fid, parse_feed_result(feed_xml(fid).encode(), url))
    for i, doc in enumerate(GOLDEN_INLINE + EXTRA_RSS):
        yield ("result", i, parse_feed_result(doc, f"https://e.com/{i}.xml"))
        for j, cfg in enumerate(CONFIGS):
            yield ("config", i, j, _call(parse_feed, doc, "http://e/f", cfg))
    for i, doc in enumerate(ADVERSARIAL_SCAN):
        yield ("scan", i, _scan_events(doc))
    for s in UNESCAPE:
        yield ("unescape", s, _call(xml_unescape, s))
    for s in CLEAN:
        yield ("clean", s, clean_html(s), clean_text(s))
    for i, doc in enumerate(ATOM):
        yield ("atom", i, _call(parse_atom_feed, doc, "https://e.com/atom"))
    for i, doc in enumerate(SITEMAP):
        yield ("sitemap", i, _call(parse_sitemap, doc))


def kernel_digest() -> str:
    h = hashlib.sha256()
    for part in _parts():
        h.update(repr(part).encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def test_sample_covers_failures_cdata_and_date_formats():
    residues = {fid % 97 for fid in range(N_FEEDS)}
    assert {FAIL_MISSING_TITLE, FAIL_BAD_ENTITY, FAIL_BAD_ENCLOSURE} <= residues
    xml = "".join(feed_xml(fid) for fid in range(200))
    assert "<![CDATA[<p>" in xml and "<script>" in xml
    dates = re.findall(r"<pubDate>(.*?)</pubDate>", xml)
    assert any(d.endswith("GMT") for d in dates)
    assert any(d.endswith("Z") for d in dates)
    assert any(re.fullmatch(r"\d{4}-\d\d-\d\d \d\d:\d\d:\d\d", d) for d in dates)


def test_kernel_output_digest_unchanged():
    assert kernel_digest() == KERNEL_DIGEST
