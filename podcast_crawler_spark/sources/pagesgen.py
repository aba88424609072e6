"""Deterministic synthetic corpus generator: pages / seeds / robots.

Shapes per FIXTURES.md: ``pages`` is the Common-Crawl-style table from
BASELINE.json's input_hint ``(url, warc_ts, html, text, lang)``; ``seeds``
mirrors ``podcast_rank`` (``/root/reference/src/schema.rs:54-75``) with a
``links`` array containing the RSS url plus negative entries
(non-rss / empty url, exercising the S1 seed-scan filters at
``podcast_rank_repository.rs:77-93``); ``robots`` is the north-rule
politeness table.

Everything is keyed on ``(SEED, feed_id)`` so generation is deterministic
regardless of partitioning, and generation itself is **distributed**
(``spark.range(n).mapInPandas``) so a 10^6-feed bench corpus never passes
through the driver.  The golden ``text`` column is computed by the same
pure-Python feedparse oracle the engine must reproduce byte-identically.

Skew: hosts follow a deliberate hot-host distribution (a few "podcast
network" CDNs own ~30% of feeds — SURVEY.md §2.8 X6) to exercise salting.
Failure modes (deterministic by feed_id): missing podcast title, invalid
XML entity, bad enclosure length, and seeds whose URL has **no page row**
(fetch-failure/retry path), plus robots-disallowed paths.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone
from typing import Iterator, List, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..feedparse.rssparse import parse_feed_result
from ..functions.schemas import PAGES_SCHEMA, ROBOTS_SCHEMA, SEEDS_SCHEMA

SEED = 42
EPOCH0 = datetime(2025, 1, 1, tzinfo=timezone.utc)

# hot "podcast network" hosts (own ~30% of feeds) + long per-feed tail
_NETWORK_HOSTS = [
    "feeds.meganetwork.example",
    "cdn.podgiant.example",
    "rss.audiohub.example",
]
_GENRES = ["Technology", "Society & Culture", "News", "Comedy", "Education"]
_LANGS = ["en-us", "zh-cn", "en-gb", "de-de", "ja-jp"]
_WORDS = (
    "signal archive quartz harbor velvet ember cascade meridian atlas "
    "juniper cobalt prairie sonnet glacier marrow lantern orchid thistle "
    "saffron timber"
).split()

# deterministic failure-mode assignment (disjoint residues mod 97)
FAIL_MISSING_TITLE = 13  # parse failure: empty podcast title
FAIL_BAD_ENTITY = 29  # parse failure: unknown entity in text
FAIL_BAD_ENCLOSURE = 43  # parse failure: invalid enclosure length
FAIL_NO_PAGE = 61  # fetch failure: seed url absent from pages
ROBOTS_DENIED = 71  # scheduled-out by robots disallow prefix


def _rng(feed_id: int) -> random.Random:
    return random.Random((SEED << 32) ^ feed_id)


def feed_host(feed_id: int) -> str:
    r = feed_id % 10
    if r < 3:  # 30% on the 3 hot network hosts
        return _NETWORK_HOSTS[feed_id % 3]
    return f"podcast{feed_id}.example.org"


def feed_url(feed_id: int) -> str:
    path = "private" if feed_id % 97 == ROBOTS_DENIED else "feeds"
    return f"https://{feed_host(feed_id)}/{path}/show-{feed_id}.xml"


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _episode_xml(rng: random.Random, feed_id: int, i: int, bad_enclosure: bool) -> str:
    w1, w2 = rng.choice(_WORDS), rng.choice(_WORDS)
    title = f"Episode {i}: the {w1} {w2}"
    pub = EPOCH0 - timedelta(days=feed_id % 365, hours=i)
    fmt = rng.randrange(3)
    if fmt == 0:
        pub_s = pub.strftime("%a, %d %b %Y %H:%M:%S GMT")
    elif fmt == 1:
        pub_s = pub.strftime("%Y-%m-%dT%H:%M:%SZ")
    else:
        pub_s = pub.strftime("%Y-%m-%d %H:%M:%S")
    if rng.random() < 0.5:
        desc = (
            f"<description><![CDATA[<p>Notes on <b>{w1}</b> &amp; {w2}.</p>"
            f"<script>alert(1)</script>]]></description>"
        )
    else:
        desc = f"<description>Plain notes on {w1} &amp; {w2}.</description>"
    length = "oops" if bad_enclosure else str(10_000_000 + feed_id * 131 + i)
    media_host = f"media{feed_id % 17}.cdn.example"
    enc_url = (
        f"https://{media_host}/audio/{feed_id}/{i}.mp3"
        f"?sig={w1}&amp;track={feed_id * 1000 + i}"
    )
    return (
        "<item>"
        f"<title>{_xml_escape(title)}</title>"
        f"{desc}"
        f"<pubDate>{pub_s}</pubDate>"
        f"<guid>guid-{feed_id}-{i}</guid>"
        f'<enclosure url="{enc_url}" type="audio/mpeg" length="{length}"/>'
        f"<link>https://{feed_host(feed_id)}/ep/{feed_id}/{i}</link>"
        f"<itunes:duration>{rng.randrange(20, 90)}:00</itunes:duration>"
        f"<itunes:explicit>{rng.choice(['true', 'false', 'no', 'yes'])}</itunes:explicit>"
        "</item>"
    )


def feed_xml(feed_id: int) -> str:
    """Deterministic feed document for *feed_id* (template-generated; the
    reference fixtures are exercised separately by the golden tests)."""
    rng = _rng(feed_id)
    mode = feed_id % 97
    w = rng.choice(_WORDS)
    title = "" if mode == FAIL_MISSING_TITLE else f"The {w.title()} Show {feed_id}"
    lang = _LANGS[feed_id % len(_LANGS)]
    genre = _GENRES[feed_id % len(_GENRES)]
    n_eps = 1 + rng.randrange(4)
    desc_body = f"Stories about {w} &amp; friends, weekly."
    if mode == FAIL_BAD_ENTITY:
        desc_body = "Broken &nbsp; entity"
    episodes = [
        _episode_xml(rng, feed_id, i, bad_enclosure=(mode == FAIL_BAD_ENCLOSURE and i == 0))
        for i in range(n_eps)
    ]
    owner = rng.choice(["alice", "bob", "chen", "dana"])
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<rss xmlns:itunes="http://www.itunes.com/dtds/podcast-1.0.dtd" version="2.0">\n'
        "<channel>\n"
        f"<title>\n<![CDATA[ {title} ]]>\n</title>\n"
        f"<description>{desc_body}</description>\n"
        f"<link>https://{feed_host(feed_id)}/show/{feed_id}</link>\n"
        f"<language>{lang}</language>\n"
        f"<itunes:author>{owner.title()} Media</itunes:author>\n"
        "<itunes:owner>"
        f"<itunes:name>{owner.title()}</itunes:name>"
        f"<itunes:email>{owner}@example.com</itunes:email>"
        "</itunes:owner>\n"
        f'<itunes:image href="https://img{feed_id % 7}.cdn.example/cover/{feed_id}.jpg"/>\n'
        f'<itunes:category text="{genre}"><itunes:category text="Sub {genre}"/></itunes:category>\n'
        f"<itunes:explicit>{rng.choice(['false', 'no'])}</itunes:explicit>\n"
        f"<itunes:keywords>{w},podcast,weekly</itunes:keywords>\n"
        + "\n".join(episodes)
        + "\n</channel>\n</rss>\n"
    )


def page_row(feed_id: int) -> Optional[Tuple]:
    if feed_id % 97 == FAIL_NO_PAGE:
        return None
    url = feed_url(feed_id)
    xml = feed_xml(feed_id)
    html = xml.encode("utf-8")
    res = parse_feed_result(html, url)
    warc_ts = EPOCH0 - timedelta(hours=feed_id % 240)
    return (url, warc_ts, html, res["text"], _LANGS[feed_id % len(_LANGS)])


def seed_row(feed_id: int) -> Tuple:
    rng = _rng(feed_id)
    links: List[Tuple[str, str]] = [("rss", feed_url(feed_id))]
    if feed_id % 5 == 0:  # negative: non-rss link (S1 filter)
        links.insert(0, ("web", f"https://{feed_host(feed_id)}/show/{feed_id}"))
    if feed_id % 11 == 0:  # negative: empty url (S1 filter)
        links.append(("rss", ""))
    return (
        f"rank-{feed_id}",
        feed_id + 1,  # rank: seed order (podcast_rank_model.rs:85-89)
        f"The {rng.choice(_WORDS).title()} Show {feed_id}",
        _GENRES[feed_id % len(_GENRES)],
        links,
    )


def gen_pages(spark: SparkSession, n_feeds: int, partitions: int = 32) -> DataFrame:
    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [r for fid in pdf["id"] if (r := page_row(int(fid))) is not None]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return (
        spark.range(0, n_feeds, 1, partitions)
        .mapInPandas(_gen, schema=PAGES_SCHEMA)
    )


def gen_seeds(spark: SparkSession, n_feeds: int, partitions: int = 32) -> DataFrame:
    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [seed_row(int(fid)) for fid in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["id", "rank", "name", "primary_genre_name", "links"]
            )

    return (
        spark.range(0, n_feeds, 1, partitions)
        .mapInPandas(_gen, schema=SEEDS_SCHEMA)
    )


def robots_txt(host: str) -> str:
    """Deterministic raw robots.txt body for *host* — the rules match
    ``gen_robots`` exactly (Disallow /private/, network-host delay 2.0
    else 0.5) whichever group layout the host draws, so the parse
    operator (``operators/robots.parse_robots``) closes the loop from
    raw bytes to the same rules table.  Layout variety by host hash:
    star-group-only, star-group-first (exact-UA precedence exercised),
    star-group-last, plain — with comments and blank lines throughout."""
    import hashlib

    h = int(hashlib.md5(host.encode()).hexdigest()[:8], 16)
    delay = 2.0 if host in _NETWORK_HOSTS else 0.5
    ours = (
        "User-agent: PodcastCrawler/1.0\n"
        "Disallow: /private/  # members-only feeds\n"
        f"Crawl-delay: {delay}"
    )
    star_other = (
        "User-agent: *\nDisallow: /tmp/\nDisallow:\nCrawl-delay: 9.0"
    )
    star_std = (
        f"User-agent: *\nDisallow: /private/\nCrawl-delay: {delay}"
    )
    mode = h % 5
    parts = [f"# robots.txt for {host}", ""]
    if mode == 0:
        parts += [star_std]
    elif mode == 1:
        parts += [star_other, "", ours]
    elif mode == 2:
        parts += [ours, "", star_other]
    else:
        parts += [ours]
    return "\n".join(parts) + "\n"


def gen_robots(spark: SparkSession, n_feeds: int, partitions: int = 32) -> DataFrame:
    """One rule row per distinct host that has rules.  The hot network hosts
    get a tighter crawl delay; every host disallows ``/private/``.
    Generated distributed (the host list never passes through the driver)."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (
                    h,
                    "PodcastCrawler/1.0",  # reference UA (rss_fetcher.rs:20)
                    ["/private/"],
                    2.0 if h in _NETWORK_HOSTS else 0.5,
                )
                for h in (feed_host(int(fid)) for fid in pdf["id"])
            ]
            yield pd.DataFrame(
                rows,
                columns=["host", "user_agent", "disallow_prefixes", "crawl_delay_s"],
            )

    return (
        spark.range(0, n_feeds, 1, partitions)
        .mapInPandas(_gen, schema=ROBOTS_SCHEMA)
        .dropDuplicates(["host"])
    )
